"""Core import transforms (reference handler, Spark-native).

Two execution shapes, same semantics:

* **Set-based (the scale path)** — ``run_import`` in two steps. *Resolve*
  decides which instances the batch imports with two small driver
  collects, both bounded by the batch's distinct instance ids: its valid
  ids, then which of those have an instance record and which already have
  a committed instance node. *Derive* builds every output (nodes, edges,
  patches, completion events) as a DataFrame filtered on the literal
  ``instance_id IN (new ids)``, so no output plan joins against the graph
  and each sink action evaluates only its own small plan. Code orders are
  a broadcast join (zero shuffles of the fact side); the remaining
  shuffles are the per-batch dedups.

* **Batched per-instance (`process_instance_batched`)** — faithful port of
  the reference's chunk loop (handler/incoming_instance_handler.go:140-212):
  dimensions processed in BatchSize chunks, one code-order lookup per
  code list per chunk, ONE patch call per chunk (mongo-lock amortization,
  :269-271 comment), fail-fast on first error (later stages never run —
  the tested contract at incoming_instance_handler_test.go:247-304). Used
  where an external API forces per-call semantics; per-instance dimension
  counts are API-paginated and small, so this is control flow, not data
  plane.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F


class ImportError_(Exception):
    """Validation / processing failure (maps to the reference's error
    reporter path, R20)."""


# --------------------------------------------------------------------------
# validation (R3, R6 — handler/incoming_instance_handler.go:100-133)
# --------------------------------------------------------------------------

def validate_events(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split NewInstance events into (valid, rejected): instance_id must be
    non-null and non-empty (client.ErrInstanceIDEmpty)."""
    ok = F.col("instance_id").isNotNull() & (F.col("instance_id") != "")
    return events.filter(ok), events.filter(~ok).withColumn(
        "reason", F.lit("validation error: instance id is required but was empty")
    )


def validate_dimensions(dimensions: DataFrame) -> DataFrame:
    """Reject rows with empty dimension_id (ValidateDimensions,
    handler:120-133). Emptiness of the whole set is checked per-instance in
    the batched path; set-wise, instances with zero dimensions simply
    produce no nodes."""
    return dimensions.filter(
        F.col("dimension_id").isNotNull() & (F.col("dimension_id") != "")
    )


# --------------------------------------------------------------------------
# idempotency gate (R9 — handler:305-320)
# --------------------------------------------------------------------------

@dataclass
class Resolution:
    """Which instances one batch imports, decided on the driver."""

    valid_events: DataFrame
    rejected_events: DataFrame
    new_ids: list[str]
    skipped_ids: list[str]


def resolve(
    events: DataFrame, instances: DataFrame, existing_nodes: DataFrame
) -> Resolution:
    """Split the batch's valid instance ids into new and skipped. An id
    is imported when it has an instance record and no instance node in
    ``existing_nodes`` yet, and skipped when it has both — the
    InstanceExists → skip-without-error contract (test :939-968). Ids
    without an instance record are neither. Two driver collects, each
    bounded by the batch: its valid ids, then the instance records and
    instance nodes of just those ids."""
    valid_events, rejected = validate_events(events)
    ids = sorted({r[0] for r in valid_events.select("instance_id").collect()})
    known, committed = set(), set()
    if ids:
        in_batch = F.col("instance_id").isin(ids)
        records = instances.filter(in_batch).select(
            "instance_id", F.lit(False).alias("committed")
        )
        commits = existing_nodes.filter(
            in_batch & (F.col("node_kind") == "instance")
        ).select("instance_id", F.lit(True).alias("committed"))
        for iid, is_commit in records.unionByName(commits).collect():
            (committed if is_commit else known).add(iid)
    return Resolution(
        valid_events,
        rejected,
        new_ids=sorted(known - committed),
        skipped_ids=sorted(known & committed),
    )


# --------------------------------------------------------------------------
# derivations (R7/R8/R10/R13 — model/models.go:20-52, handler:294-302)
# --------------------------------------------------------------------------

def _replace_up_to_n(col, token, n: int):
    """Go's strings.Replace(s, token, "", n): remove at most n occurrences,
    left to right. Spark's regexp_replace is replace-all, so apply n
    single-occurrence splices."""
    out = col
    for _ in range(n):
        pos = F.instr(out, token)
        out = F.when(
            pos > 0,
            F.concat(
                F.substring(out, 1, pos - 1),
                F.substr(out, pos + F.length(token)),
            ),
        ).otherwise(out)
    return out


def dimension_name(dimension_id, instance_id):
    """R8 (model/models.go:46-52): name = "_" + dimension_id with
    "_<instanceID>_" removed at most twice."""
    return _replace_up_to_n(
        F.concat(F.lit("_"), dimension_id),
        F.concat(F.lit("_"), instance_id, F.lit("_")),
        2,
    )


def build_instance_nodes(instances: DataFrame) -> DataFrame:
    """CreateInstance rows (store/store.go:16): instance node w/ csv_header."""
    return instances.select(
        F.lit("instance").alias("node_kind"),
        "instance_id",
        F.lit(None).cast("string").alias("dimension_name"),
        F.lit(None).cast("string").alias("option"),
        "csv_header",
    )


def build_dimension_nodes(dimensions: DataFrame) -> DataFrame:
    """InsertDimension rows, deduplicated (the reference's shared
    cache+mutex memoization across insert goroutines — store/store.go:20,
    handler:141-142 — collapses to dropDuplicates before write)."""
    return (
        dimensions.select(
            F.lit("dimension").alias("node_kind"),
            "instance_id",
            dimension_name(F.col("dimension_id"), F.col("instance_id")).alias(
                "dimension_name"
            ),
            "option",
            F.lit(None).cast("array<string>").alias("csv_header"),
        )
        .dropDuplicates(["instance_id", "dimension_name", "option"])
    )


def build_edges(dimensions: DataFrame) -> DataFrame:
    """CreateCodeRelationship rows — skipped for the 'time' dimension (the
    reference's explicit data hack, handler:295-302)."""
    return (
        dimensions.filter(F.col("dimension_id") != "time")
        .select(
            "instance_id",
            "code_list_id",
            F.col("option").alias("code"),
        )
        .dropDuplicates()
    )


# --------------------------------------------------------------------------
# enrichment + patch set (R14/R15/R16 — handler:217-280)
# --------------------------------------------------------------------------

def join_code_orders(dimensions: DataFrame, code_lists: DataFrame) -> DataFrame:
    """GetCodesOrder as a broadcast equi-join on (code_list_id, option=code).
    The reference groups codes by code list and round-trips the graph per
    code list (R14+R15); set-wise that whole loop is one join. code_lists
    is a dimension table → broadcast, zero shuffle of the fact side."""
    cl = F.broadcast(
        code_lists.select(
            F.col("code_list_id").alias("_cl_id"),
            F.col("code").alias("_code"),
            F.col("order").alias("order"),
        )
    )
    return dimensions.join(
        cl,
        (F.col("code_list_id") == F.col("_cl_id"))
        & (F.col("option") == F.col("_code")),
        "left",
    ).drop("_cl_id", "_code")


def build_patch_set(enriched: DataFrame, enable_patch_node_id: bool = True) -> DataFrame:
    """OptionUpdate rows (handler:243-267): Name=DimensionID, Option;
    node_id included when non-empty, order when non-null; rows with
    neither are omitted entirely (test :830-889)."""
    node_id = F.col("node_id") if enable_patch_node_id else F.lit("")
    has_node = node_id.isNotNull() & (node_id != "")
    has_order = F.col("order").isNotNull()
    return (
        enriched.filter(has_node | has_order)
        .select(
            "instance_id",
            F.col("dimension_id").alias("name"),
            "option",
            F.when(has_node, node_id).alias("node_id"),
            "order",
        )
    )


# --------------------------------------------------------------------------
# set-based end-to-end batch
# --------------------------------------------------------------------------

@dataclass
class ImportResult:
    new_ids: list[str]
    instance_nodes: DataFrame
    dimension_nodes: DataFrame
    edges: DataFrame
    patches: DataFrame
    completed: DataFrame
    rejected_events: DataFrame
    skipped_instances: DataFrame


def derive(
    resolution: Resolution,
    instances: DataFrame,
    dimensions: DataFrame,
    code_lists: DataFrame,
    enable_patch_node_id: bool = True,
) -> ImportResult:
    """Every output of a resolved batch, each a lazy DataFrame filtered on
    the literal new-id list. With no new ids every output is empty and
    needs no Spark job to say so."""
    is_new = F.col("instance_id").isin(resolution.new_ids)
    dims = validate_dimensions(dimensions).filter(is_new)
    enriched = join_code_orders(dims, code_lists)
    return ImportResult(
        new_ids=resolution.new_ids,
        instance_nodes=build_instance_nodes(instances.filter(is_new)),
        dimension_nodes=build_dimension_nodes(dims),
        edges=build_edges(dims),
        patches=build_patch_set(enriched, enable_patch_node_id),
        # InstanceCompleted per imported instance (R19) — the event echoes
        # the NewInstance fields (event/events.go:10-13)
        completed=resolution.valid_events.filter(is_new).select(
            "file_url", "instance_id"
        ),
        rejected_events=resolution.rejected_events,
        skipped_instances=instances.filter(
            F.col("instance_id").isin(resolution.skipped_ids)
        ),
    )


def run_import(
    events: DataFrame,
    instances: DataFrame,
    dimensions: DataFrame,
    code_lists: DataFrame,
    existing_nodes: DataFrame,
    enable_patch_node_id: bool = True,
) -> ImportResult:
    """The whole reference handler: resolve the batch on the driver, then
    derive its outputs. Every output is a lazy DataFrame; sinks decide
    materialization order."""
    return derive(
        resolve(events, instances, existing_nodes),
        instances,
        dimensions,
        code_lists,
        enable_patch_node_id,
    )


# --------------------------------------------------------------------------
# batched per-instance path (semantics parity with handler:140-212)
# --------------------------------------------------------------------------

@dataclass
class BatchedCalls:
    """Recorded side-effect calls, in order (what the reference's mocks
    assert on)."""

    inserted: list[dict] = field(default_factory=list)
    relationships: list[tuple[str, str, str]] = field(default_factory=list)
    order_lookups: list[tuple[str, list[str]]] = field(default_factory=list)
    patches: list[tuple[str, list[dict]]] = field(default_factory=list)
    added_dimensions: list[str] = field(default_factory=list)
    constraints: list[str] = field(default_factory=list)
    completed: list[str] = field(default_factory=list)


def process_instance_batched(
    instance_id: str,
    dimensions: Sequence[dict],
    batch_size: int,
    order_lookup: Callable[[str, list[str]], dict[str, int | None]],
    calls: BatchedCalls,
    enable_patch_node_id: bool = True,
) -> None:
    """Chunk loop port: full chunks then remainder (handler:186-204); per
    chunk — insert dimensions + conditional code relationship, then one
    code-order lookup per code list (:219-241) and ONE patch (:269-278);
    fail-fast: an error stops everything downstream (:144-161). Finishes
    with AddDimensions + constraint (:206-209, :322-328)."""
    if not dimensions:
        raise ImportError_("dimensions are required but empty")

    def process_chunk(chunk: Sequence[dict]) -> None:
        for d in chunk:  # parallel goroutines in the reference; order-free
            if not d.get("dimension_id"):
                raise ImportError_("dimension_id is required but was empty")
            calls.inserted.append(d)
            if d["dimension_id"] != "time":  # R13 hack (handler:295-302)
                calls.relationships.append(
                    (instance_id, d.get("code_list_id"), d.get("option"))
                )
        # group codes by code list, preserving first-seen order (:219-223)
        codes_by_cl: dict[str, list[str]] = {}
        for d in chunk:
            codes_by_cl.setdefault(d.get("code_list_id"), []).append(d.get("option"))
        order_by_code: dict[str, int | None] = {}
        for cl_id, codes in codes_by_cl.items():
            calls.order_lookups.append((cl_id, list(codes)))
            order_by_code.update(order_lookup(cl_id, codes))  # may raise → fail fast
        updates = []
        for d in chunk:
            node_id = d.get("node_id", "") if enable_patch_node_id else ""
            order = order_by_code.get(d.get("option"))
            if not node_id and order is None:
                continue  # omitted entirely (test :830-889)
            u = {"name": d["dimension_id"], "option": d.get("option")}
            if node_id:
                u["node_id"] = node_id
            if order is not None:
                u["order"] = order
            updates.append(u)
        calls.patches.append((instance_id, updates))  # ONE call per chunk

    n = len(dimensions)
    full, rem = divmod(n, batch_size)
    for i in range(full):
        process_chunk(dimensions[i * batch_size : (i + 1) * batch_size])
    if rem:
        process_chunk(dimensions[full * batch_size :])

    calls.added_dimensions.append(instance_id)
    calls.constraints.append(instance_id)
    calls.completed.append(instance_id)
