"""Sinks: graph tables, buffered patch calls, completion + dead-letter
topics (reference R10/R12/R16/R17/R19/R20).

The reference's ``Storer`` (store/store.go:14-25) talks Gremlin/bolt; the
Spark-native sink is a property graph as two tables (nodes, edges) written
idempotently — the uniqueness constraint (R18) becomes dedup-on-write +
anti-join against what exists. A real graph/HTTP writer plugs in behind the
same functions via ``foreachPartition`` (buffered, one call per partition —
the reference's mongo-lock amortization, handler:269-271); here the HTTP
PATCH is a recording stub, the distributed buffering shape is real.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from dp_dimension_importer_spark.pipeline.models import EDGE_SCHEMA, NODE_SCHEMA


class ParquetGraphStore:
    """Nodes/edges as parquet tables (GraphFrames-compatible layout:
    vertices + edges), hive-partitioned by ``instance_id``. Idempotent
    append: re-delivered rows are dropped by a NULL-SAFE anti-join on the
    row identity before write (dimension_name/option are NULL for instance
    nodes and code_list_id/code may be NULL on edges, so plain ``=`` would
    never match a re-delivered row — eqNullSafe makes the sink idempotent
    standalone, not only behind the importer's upstream gate).

    Cost: ``nodes(ids)``/``edges(ids)`` and the writes' anti-join probe
    name the given instances' partition directories directly, so Spark
    lists and reads only those — O(batch instances), not O(accumulated
    history). ``nodes()``/``edges()`` with no id list read the whole table
    and so list every partition ever written."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.nodes_dir = os.path.join(base_dir, "nodes")
        self.edges_dir = os.path.join(base_dir, "edges")

    def _partitions(self, path: str, instance_ids) -> list[str]:
        """The existing partition directories of ``instance_ids``, named
        the way Spark names them when it writes: special characters are
        escaped (``a:b/c%`` → ``instance_id=a%3Ab%2Fc%25``) and NULL or ""
        map to ``__HIVE_DEFAULT_PARTITION__``. A hand-built
        ``instance_id=<id>`` path would miss such a partition, and the
        anti-join would re-append its rows on every delivery. Existence
        is asked of the table's Hadoop file system, so remote stores work
        as local ones do."""
        jvm = self.spark._jvm
        utils = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        hadoop_path = jvm.org.apache.hadoop.fs.Path
        fs = hadoop_path(path).getFileSystem(self.spark._jsc.hadoopConfiguration())
        dirs = {
            os.path.join(path, utils.getPartitionPathString("instance_id", i))
            for i in instance_ids
        }
        return sorted(d for d in dirs if fs.exists(hadoop_path(d)))

    def _scan(self, path: str, schema, dirs: list[str]) -> DataFrame:
        if not dirs:
            return self.spark.createDataFrame([], schema)
        reader = self.spark.read.schema(schema).option("basePath", path)
        return reader.parquet(*dirs).select([f.name for f in schema.fields])

    def _read(self, path: str, schema, instance_ids=None) -> DataFrame:
        if instance_ids is not None:
            return self._scan(path, schema, self._partitions(path, instance_ids))
        # No pre-walk of the table tree: a directory walk is driver-side
        # O(files ever written). Attempt the schema'd read and treat a
        # missing path as an empty table — an existing-but-empty dir
        # already yields an empty relation because the schema is explicit
        # (no file listing needed for inference).
        try:
            df = self.spark.read.schema(schema).parquet(path)
            return df.select([f.name for f in schema.fields])
        except AnalysisException as e:
            # ONLY a missing path (no write yet) means "empty store". Any
            # other analysis failure (corrupt/incompatible files, bad path
            # type, permissions) must stay loud: swallowing it would show
            # an empty graph to every reader, an idempotency gate too,
            # which would then re-import everything as new.
            cond = None
            for attr in ("getCondition", "getErrorClass"):
                fn = getattr(e, attr, None)
                if fn is not None:
                    try:
                        cond = fn()
                    except Exception:
                        cond = None
                    if cond:
                        break
            if (cond or "") != "PATH_NOT_FOUND" and "PATH_NOT_FOUND" not in str(e):
                raise
            return self.spark.createDataFrame([], schema)

    def nodes(self, instance_ids=None) -> DataFrame:
        """The node table, or only the nodes of ``instance_ids``."""
        return self._read(self.nodes_dir, NODE_SCHEMA, instance_ids)

    def edges(self, instance_ids=None) -> DataFrame:
        """The edge table, or only the edges of ``instance_ids``."""
        return self._read(self.edges_dir, EDGE_SCHEMA, instance_ids)

    def _append_fresh(self, batch: DataFrame, path: str, schema, key: list[str]) -> None:
        # The batch is read twice, for its ids and for the write: keep it
        # in memory rather than recompute its plan and source.
        batch.persist()
        try:
            # bounded collect: one row per instance in the micro-batch
            ids = [r[0] for r in batch.select("instance_id").distinct().collect()]
            dirs = self._partitions(path, ids)
            fresh = batch
            if dirs:  # only instances already in the table can hold duplicates
                existing = self._scan(path, schema, dirs)
                cond = [
                    batch[k].eqNullSafe(existing[k]) for k in key if k != "instance_id"
                ]
                # an instance_id written as "" is read back as NULL
                stored_id = F.nullif(batch.instance_id, F.lit(""))
                cond.append(stored_id.eqNullSafe(existing.instance_id))
                fresh = batch.join(existing, cond, "left_anti")
            fresh.write.mode("append").partitionBy("instance_id").parquet(path)
        finally:
            batch.unpersist()

    def write_nodes(self, nodes: DataFrame) -> None:
        key = ["node_kind", "instance_id", "dimension_name", "option"]
        self._append_fresh(nodes, self.nodes_dir, NODE_SCHEMA, key)

    def write_edges(self, edges: DataFrame) -> None:
        self._append_fresh(edges, self.edges_dir, EDGE_SCHEMA, list(edges.columns))


def patch_sink(
    patches: DataFrame,
    send: Callable[[str, list[dict]], None],
) -> None:
    """Buffered patch-back: repartition by instance, ONE ``send`` call per
    (partition, instance) — the Spark shape of 'one PATCH per batch so the
    mongo lock is paid once' (handler:269-278). ``send`` is the pluggable
    HTTP PATCH; per-partition session pooling happens inside it at
    deployment."""

    def _per_partition(rows: Iterator) -> Iterator:
        by_instance: dict[str, list[dict]] = {}
        for r in rows:
            d = r.asDict()
            by_instance.setdefault(d.pop("instance_id"), []).append(
                {k: v for k, v in d.items() if v is not None}
            )
        for instance_id, updates in by_instance.items():
            send(instance_id, updates)
        return iter(())

    patches.repartition("instance_id").foreachPartition(
        lambda rows: list(_per_partition(rows))
    )


def jsonl_event_sink(events: DataFrame, path: str) -> None:
    """Completion / dead-letter topic stand-in: JSON-lines files (the
    contract is to_json → producer; swap for writeStream.format('kafka')
    at deployment — R19/R20)."""
    events.write.mode("append").json(path)


def kafka_writer_options(brokers: list[str], topic: str) -> dict[str, str]:
    """Reference producer config → spark-sql-kafka writer options
    (config/config.go:45 DIMENSIONS_INSERTED_TOPIC; producer
    message/producer.go:26-34). Pure mapping, testable without a broker."""
    return {"kafka.bootstrap.servers": ",".join(brokers), "topic": topic}


def kafka_event_sink(
    events: DataFrame, brokers: list[str], topic: str = "dimensions-inserted"
) -> None:
    """R19 as one ``.format()`` swap for ``jsonl_event_sink``: completion
    events leave as Avro-binary ``value`` bytes — the reference's exact
    wire format (avro_codec encodes the InstanceCompleted schema,
    schema/schema.go:28-47). Requires spark-sql-kafka at deployment."""
    from dp_dimension_importer_spark.pipeline.avro_codec import encode_events_avro

    (
        encode_events_avro(events)
        .select("value")
        .write.format("kafka")
        .options(**kafka_writer_options(brokers, topic))
        .save()
    )


def read_jsonl_events(spark: SparkSession, path: str, schema) -> DataFrame:
    if not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(path)


class RecordingPatchSender:
    """Test double for the Dataset-API PATCH endpoint — driver-side
    recording via a local socketless accumulator file (foreachPartition
    runs on executors; in local mode a temp file is shared)."""

    def __init__(self, path: str):
        self.path = path

    def __call__(self, instance_id: str, updates: list[dict]) -> None:
        with open(self.path, "a", encoding="utf-8") as f:
            f.write(json.dumps({"instance_id": instance_id, "updates": updates}) + "\n")

    def calls(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path, encoding="utf-8") as f:
            return [json.loads(line) for line in f if line.strip()]
