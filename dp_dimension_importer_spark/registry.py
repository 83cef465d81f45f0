"""Single source of truth: query name -> (PySpark callable, DuckDB oracle).

The driver contract (``__spark_entry__.py``) reads ``QUERIES`` and
``ORACLE_SQL`` from here. Operator modules register into their own local
dicts; this module merges them and guarantees name uniqueness.
"""

from __future__ import annotations

from dp_dimension_importer_spark.operators import (
    aggregates,
    arrays_json,
    joins,
    scans_filters,
    setops,
    windows,
)
from dp_dimension_importer_spark.operators.common import QueryFn

_MODULES = [
    scans_filters,
    joins,
    aggregates,
    windows,
    setops,
    arrays_json,
]

# Optional modules (added incrementally; keep imports explicit and fail loud
# once present).
from dp_dimension_importer_spark.operators import analytics  # noqa: E402
from dp_dimension_importer_spark.operators import dedup  # noqa: E402
from dp_dimension_importer_spark.operators import similarity  # noqa: E402
from dp_dimension_importer_spark.operators import text  # noqa: E402
from dp_dimension_importer_spark.operators import udfs  # noqa: E402
from dp_dimension_importer_spark.operators import multimodal  # noqa: E402
from dp_dimension_importer_spark.operators import sketches  # noqa: E402
from dp_dimension_importer_spark.operators import streaming_windows  # noqa: E402
from dp_dimension_importer_spark.operators import dataquality  # noqa: E402
from dp_dimension_importer_spark.operators import snapshots  # noqa: E402

_MODULES += [
    text, udfs, dedup, similarity, multimodal, streaming_windows, analytics,
    sketches, dataquality, snapshots,
]


def _merge() -> tuple[dict[str, QueryFn], dict[str, str]]:
    queries: dict[str, QueryFn] = {}
    oracle: dict[str, str] = {}
    for mod in _MODULES:
        for name, fn in mod.QUERIES.items():
            if name in queries:
                raise ValueError(f"duplicate query {name!r} ({mod.__name__})")
            queries[name] = fn
        oracle.update(mod.ORACLE)
    return queries, oracle


QUERIES, ORACLE_SQL = _merge()

# ---------------------------------------------------------------------------
# Driver-priority ordering — derived from the on-disk CORRECTNESS_r*.json
# evidence, never from a hand-maintained list.
#
# The driver verifies EXACTLY the first 50 entries of ``queries()`` in dict
# order (budgeted check; confirmed rounds 1-5 — every CORRECTNESS_rN.json is
# the head-50 of that round's ordering). Rounds 1-5 froze the rotation in a
# hand-curated ``_PRIORITY`` list, which the round-5 verdict flagged as
# stale-by-construction (VERDICT r5, "What's wrong" #2 and "Next round" #1/#6).
# This module now reads the CORRECTNESS files the driver itself writes and
# orders the budget mechanically:
#
#   tier 0  ``_REPRIORITIZE`` — oracled queries whose implementation changed
#           materially THIS session after their newest green row (hand list,
#           normally short or empty; the only remaining judgement call),
#   tier 1  oracled queries with NO driver row ever (zero evidence beats
#           stale-but-green), in registration order,
#   tier 2  oracled queries by ascending newest-green-round (stalest first),
#   tier 3  rows-only gated queries (no oracle by design — LSH/ANN/sketches;
#           a budget slot there re-buys no value-hash evidence, and their
#           recall/tolerance floors run locally in test_recall.py every
#           session) — never-touched first, then stalest.
#
# A query counts "gated" iff it has no ORACLE_SQL entry, so the set can
# never drift from the actual registration.
# ---------------------------------------------------------------------------

import json as _json
import re as _re
from pathlib import Path as _Path

_REPO_ROOT = _Path(__file__).resolve().parent.parent

# Oracled queries rewritten materially this session AFTER their newest green
# driver row was recorded; they jump the evidence queue so the changed code
# re-earns its row. Updated at round END (the r8 verdict's fix: r8 changed
# storage paths but left this empty, so the driver spent its slots on the
# stale cohort and re-checked none of the changed code).
#
# Round 11: the r10 verdict flagged that round 10 changed manifest-commit /
# vacuum / tag / publish / merge paths but left this list empty. Round 11
# additionally changed publish_snapshot (corrective commit), tag_snapshot
# (link claim), and registered the change feed — so the riders on those
# storage paths re-earn their driver rows, plus the new q90.
_REPRIORITIZE: list[str] = [
    # r14 changed these riders' shared storage paths AFTER their newest
    # green rows: upsert_delta_snapshot + the MOR paths of the row-level
    # DML verb (storage._row_dml, behind delete/update_where_snapshot)
    # route delta groups through the hive writer (partition tuples on
    # chains),
    # _commit_delta_group carries partition blocks, delete/update/merge
    # gained MOR partition_where dispatch, merge_into_snapshot gained
    # schema evolution + the delete-admitting rebase, compact_mor routes
    # partitioned folds, optimize_partitions dispatches to the MOR path,
    # partition_pruned_files was refactored through _partition_keep,
    # read_snapshot_partitioned gained the MOR dispatch, the change feed
    # admits MOR groups by tuple and restricts rewrite-diff chains, and
    # mv_refresh_changefeed reads day-0 from the v1 snapshot. The four
    # r14-new queries (q93c/q86f/q97b/q92b) have no evidence and order
    # first by the no-row rule regardless.
    #
    # r14 second arc additionally changed: the DML verbs' head load +
    # commit sink (_dml_head, then _commit_change or _commit_dml_manifest
    # — branch DML),
    # upsert_delta_snapshot (branch param + same sink),
    # _commit_delta_group (branch routing), fast_forward (txn
    # watermark per-app-max merge — q89b rides it), compact_mor
    # (cluster_by on major), the partition probe prune (now
    # _probe_files/_mor_probe over _partition_keep on the in-hand
    # manifest), and the MERGE verb's probe pruning (merge_into_snapshot,
    # CoW and MOR strategies) consults bloom sidecars when present.
    # Riders below already cover the DML/feed families; q89b joins for
    # the ff change; the r14b-new queries (q68b/q89c/q86g/q86h/q86i) have
    # no rows and order first regardless. _resolve_mor gained the
    # partial/aggregate branch (latest path untouched) and the
    # streaming sink folds batches by merge engine — the q86/q87
    # riders below cover both.
    "q89b_snapshot_branch",
    "q89_write_audit_publish",
    "q86_upsert_mor",
    "q86b_mor_schema_evolution",
    "q86c_mor_pruned_read",
    "q86d_mor_delete",
    "q86e_mor_merge",
    "q96c_mapped_mor",
    "q87_stream_mor_upsert",
    "q88_merge_delete_feed",
    "q88b_stream_cdc_apply",
    "q90_changefeed",
    "q90b_changefeed_mv_stream",
    "q90c_changefeed_partitioned",
    "q91_update_where",
    "q91b_update_dv",
    "q92_merge_into",
    "q78_snapshot_delete",
    "q78b_snapshot_delete_dv",
    "q93_partitioned_scan",
    "q93b_spec_evolution",
    "q97_optimize_partitions",
    "mv_refresh_changefeed",
]


def correctness_evidence(root: _Path | str | None = None) -> dict[str, int]:
    """Newest driver-evidence round per query, parsed from
    ``CORRECTNESS_r*.json`` files at the repo root.

    A row is evidence when it is fully green (rows+schema+hash match, no
    error) or when it is the driver's by-design rows-only record for a
    gated query (``err == 'no_oracle'`` with a row count). Failed rows are
    NOT evidence — a query whose only row is red orders as never-tested.
    """
    newest: dict[str, int] = {}
    base = _Path(root) if root is not None else _REPO_ROOT
    for path in sorted(base.glob("CORRECTNESS_r*.json")):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            rows = _json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = (
                row.get("err") is None
                and row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") is True
            )
            gated_green = (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            if green or gated_green:
                newest[name] = max(newest.get(name, -1), rnd)
    return newest


def driver_ordered_queries() -> dict[str, QueryFn]:
    """QUERIES reordered so the driver's budgeted check spends its 50 slots
    where they buy the most evidence (tier scheme documented above)."""
    newest = correctness_evidence()
    regpos = {n: i for i, n in enumerate(QUERIES)}
    gated = {n for n in QUERIES if n not in ORACLE_SQL}
    repri = {n: i for i, n in enumerate(_REPRIORITIZE)}

    def key(n: str) -> tuple[int, int, int]:
        if n in repri and n not in gated:
            return (0, repri[n], 0)
        if n not in gated:
            if n not in newest:
                return (1, 0, regpos[n])
            return (2, newest[n], regpos[n])
        if n not in newest:
            return (3, 0, regpos[n])
        return (4, newest[n], regpos[n])

    order = sorted(QUERIES, key=key)
    assert len(order) == len(QUERIES), "driver ordering dropped a query"
    return {n: QUERIES[n] for n in order}
