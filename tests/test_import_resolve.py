"""The import batch is resolved once and probes only its own partitions.

* instance ids that Spark escapes in partition directory names (``a:b/c%``,
  ``x=y``), and the NULL and "" ids it writes to ``__HIVE_DEFAULT_PARTITION__``,
  are found again on redelivery, by the graph store alone and through
  ``import_batch``;
* ``import_batch`` stays within a fixed Spark-job budget on a store whose
  history is larger than Spark's parallel partition-discovery threshold
  (32 paths), so a probe that listed the whole store would show up as a
  "Listing leaf files" job; an all-redelivered batch runs only the
  resolve and dead-letter jobs and writes nothing else.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from dp_dimension_importer_spark.pipeline import sources
from dp_dimension_importer_spark.pipeline.models import (
    CODE_LIST_SCHEMA,
    DIMENSION_SCHEMA,
    EDGE_SCHEMA,
    INSTANCE_SCHEMA,
    NODE_SCHEMA,
)
from dp_dimension_importer_spark.pipeline.runner import import_batch
from dp_dimension_importer_spark.pipeline.sinks import (
    ParquetGraphStore,
    RecordingPatchSender,
)

ESCAPED_IDS = ["a:b/c%", "x=y"]
#: Above spark.sql.sources.parallelPartitionDiscovery.threshold (32).
HISTORY = 40
#: Jobs of one mixed batch (2 fresh ids, 4 redelivered, 2 dead letters):
#: 23 on Spark 4.1, plus a small margin for AQE re-planning.
MIXED_BATCH_JOBS = 26
#: The runner's id collect, the two resolve collects, the dead-letter write.
REDELIVERED_BATCH_JOBS = 4


class JobLog:
    """Spark jobs submitted inside a ``with`` block, with descriptions."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()

    def __enter__(self):
        self.first = self.sc.dagScheduler().nextJobId()
        return self

    def __exit__(self, *exc):
        self.last = self.sc.dagScheduler().nextJobId()
        self.sc.listenerBus().waitUntilEmpty(60_000)
        store = self.sc.statusStore()
        self.descriptions = []
        for jid in range(self.first, self.last):
            desc = store.job(jid).description()
            self.descriptions.append(desc.get() if desc.isDefined() else "")

    @property
    def count(self) -> int:
        return self.last - self.first

    def listings(self) -> list[str]:
        return [d for d in self.descriptions if d.startswith("Listing leaf files")]


def _files(path: str) -> set[str]:
    return {
        os.path.join(d, n)
        for d, _, names in os.walk(path)
        for n in names
        if not n.startswith(".")
    }


def _tables(spark, ids):
    instances = spark.createDataFrame([(i, ["h"]) for i in ids], INSTANCE_SCHEMA)
    dimensions = spark.createDataFrame(
        [(i, f"{i}_Geo", "England", "1", "cl") for i in ids]
        + [(i, "time", "2024", "", "tcl") for i in ids],
        DIMENSION_SCHEMA,
    )
    code_lists = spark.createDataFrame([("cl", "England", 7)], CODE_LIST_SCHEMA)
    return instances, dimensions, code_lists


def _payloads(ids, dead=True):
    out = [json.dumps({"file_url": f"/f/{i}", "instance_id": i}) for i in ids]
    if dead:
        out += ["not json", json.dumps({"file_url": "/f/x", "instance_id": ""})]
    return out


class Pipeline:
    def __init__(self, spark, base, ids):
        self.spark = spark
        self.base = str(base)
        self.store = ParquetGraphStore(spark, os.path.join(self.base, "graph"))
        self.sender = RecordingPatchSender(os.path.join(self.base, "patches.jsonl"))
        self.tables = _tables(spark, ids)

    def run(self, payloads):
        raw = sources.read_event_batch(self.spark, payloads)
        return import_batch(
            raw,
            *self.tables,
            self.store,
            self.sender,
            os.path.join(self.base, "completed"),
            os.path.join(self.base, "dead_letter"),
        )

    def completed(self) -> list[str]:
        path = os.path.join(self.base, "completed")
        return sorted(r.instance_id for r in self.spark.read.json(path).collect())


def test_store_finds_escaped_and_null_partitions(spark, tmp_path):
    """A redelivered row under an escaped partition name, or under the
    default partition, is matched by the store's own anti-join."""
    store = ParquetGraphStore(spark, str(tmp_path / "graph"))
    nodes = spark.createDataFrame(
        [("instance", i, None, None, ["h"]) for i in ESCAPED_IDS]
        + [("dimension", i, "Geo", "England", None) for i in ESCAPED_IDS],
        NODE_SCHEMA,
    )
    edges = spark.createDataFrame(
        [(i, "cl", "England") for i in ESCAPED_IDS], EDGE_SCHEMA
    )
    for _ in range(2):
        store.write_nodes(nodes)
        store.write_edges(edges)
    assert store.nodes().count() == 4
    assert store.edges().count() == 2
    assert store.nodes(ESCAPED_IDS).count() == 4
    assert {r.instance_id for r in store.edges(ESCAPED_IDS).collect()} == set(
        ESCAPED_IDS
    )
    assert sorted(
        d for d in os.listdir(store.nodes_dir) if d.startswith("instance_id=")
    ) == ["instance_id=a%3Ab%2Fc%25", "instance_id=x%3Dy"]

    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in NODE_SCHEMA.fields]
    )
    # NULL and "" both land in the default partition and read back as NULL
    orphans = spark.createDataFrame(
        [
            ("dimension", None, "Geo", "Wales", None),
            ("dimension", "", "Geo", "NI", None),
        ],
        nullable,
    )
    for _ in range(2):
        store.write_nodes(orphans)
    assert os.path.isdir(
        os.path.join(store.nodes_dir, "instance_id=__HIVE_DEFAULT_PARTITION__")
    )
    assert store.nodes().filter("instance_id IS NULL").count() == 2
    assert store.nodes([None]).count() == 2


def test_import_batch_redelivers_escaped_ids(spark, tmp_path):
    """Redelivering instances whose ids Spark escapes changes nothing: no
    duplicate node or edge, no second patch call, no second completion."""
    p = Pipeline(spark, tmp_path, ESCAPED_IDS)
    first = p.run(_payloads(ESCAPED_IDS))
    assert first.new_ids == sorted(ESCAPED_IDS)
    nodes, edges = p.store.nodes().count(), p.store.edges().count()
    assert (nodes, edges) == (6, 2)  # instance + 2 dimension nodes each
    calls = len(p.sender.calls())
    assert calls == 2

    again = p.run(_payloads(ESCAPED_IDS))
    assert again.new_ids == []
    assert [r.instance_id for r in again.skipped_instances.collect()] == sorted(
        ESCAPED_IDS
    )
    assert p.store.nodes().count() == nodes
    assert p.store.edges().count() == edges
    assert len(p.sender.calls()) == calls
    assert p.completed() == sorted(ESCAPED_IDS)


def test_import_batch_job_budget(spark, tmp_path):
    """Jobs per batch against a 40-instance history: bounded for a mixed
    batch, resolve + dead letters only for an all-redelivered one, and no
    job lists the store."""
    history = [f"h{k:02d}" for k in range(HISTORY)]
    fresh = ["n0", "n1"]
    p = Pipeline(spark, tmp_path, history + fresh)
    p.run(_payloads(history, dead=False))

    with JobLog(spark) as mixed:
        result = p.run(_payloads(fresh + history[:4]))
    assert result.new_ids == fresh
    assert mixed.listings() == []
    assert mixed.count <= MIXED_BATCH_JOBS, mixed.descriptions

    graph = os.path.join(p.base, "graph")
    before = _files(graph) | _files(os.path.join(p.base, "completed"))
    calls = len(p.sender.calls())
    with JobLog(spark) as redelivered:
        result = p.run(_payloads(history[10:16] + fresh))
    assert result.new_ids == []
    assert redelivered.listings() == []
    assert redelivered.count <= REDELIVERED_BATCH_JOBS, redelivered.descriptions
    assert _files(graph) | _files(os.path.join(p.base, "completed")) == before
    assert len(p.sender.calls()) == calls
    assert p.completed() == sorted(history + fresh)
