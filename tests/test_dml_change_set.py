"""Pins for the change-set commit shared by the snapshot layer's row-level
DML (DELETE/UPDATE in CoW, DV and MOR mode) and its subset-replacing
maintenance verbs (purge, small-file compaction, incremental and
partition-scoped OPTIMIZE):

* branch DML keeps the table's contract — CHECK constraints and
  generated columns — exactly as a main commit does;
* each maintenance verb rebases over a racing disjoint append (both
  writers' files live) and refuses a race that removed a file it
  rewrites;
* the Spark job count of each DELETE/UPDATE/MERGE write strategy and of
  the MOR upsert on a small table, so an extra driver round-trip fails
  deterministically;
* a ``txn``-tagged MERGE that writes nothing still records its
  watermark, so a redelivered batch is skipped;
* the delta-group rebase gates: a MOR MERGE refuses a racing minor
  compaction, a same-``txn`` race refuses, and an upsert rebases over a
  racing minor compaction.

Races reuse the deterministic ``os.link`` interposer of
``test_concurrency``.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import Row
from test_concurrency import _RaceOnce

from dp_dimension_importer_spark import storage


def _mkpath():
    scratch = tempfile.mkdtemp(prefix="chg_test_")
    return scratch, os.path.join(scratch, "t")


def _df(spark, rows, ddl="k bigint, v double"):
    return spark.createDataFrame([Row(*r) for r in rows], ddl)


def _keys(spark, path):
    return sorted(r["k"] for r in storage.read_snapshot(spark, path).collect())


def _files(path, version=None):
    v = storage.snapshot_versions(path)[-1] if version is None else version
    return set(storage._load_manifest(path, v)["files"])


# -- branch DML keeps the table contract ------------------------------------

_WIDE = "k bigint, v double, w double, seq bigint"
_CONTRACT = ({"v_pos": "v > 0"}, {"w": "v * 2"})


@pytest.mark.parametrize("table", ["cow", "dv", "mor"])
def test_branch_dml_keeps_table_contract(spark, table):
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark,
            _df(spark, [(k, float(k), 2.0 * k, 0) for k in range(1, 7)],
                _WIDE),
            path,
        )
        storage.add_check_constraint(spark, path, "v_pos", "v > 0")
        storage.add_generated_column(spark, path, "w", "v * 2")
        if table == "mor":
            storage.upsert_delta_snapshot(
                spark, path, _df(spark, [(6, 6.5, 13.0, 1)], _WIDE),
                ["k"], "seq",
            )
        storage.create_branch(path, "audit")
        mode = "dv" if table == "dv" else "cow"

        def head_contract():
            head = storage._branch_head_manifest(path, "audit")
            return head.get("constraints"), head.get("generated")

        r = storage.delete_where_snapshot(
            spark, path, "k = 1", mode=mode, branch="audit"
        )
        assert r["rows_deleted"] == 1
        assert head_contract() == _CONTRACT
        r = storage.update_where_snapshot(
            spark, path, {"v": "v + 10", "w": "(v + 10) * 2"}, "k = 2",
            mode=mode, branch="audit",
        )
        assert r["rows_updated"] == 1
        assert head_contract() == _CONTRACT
        # the contract still binds the branch's next writers
        with pytest.raises(ValueError, match="v_pos"):
            storage.update_where_snapshot(
                spark, path, {"v": "-5.0", "w": "-10.0"}, "k = 3",
                mode=mode, branch="audit",
            )
        with pytest.raises(ValueError, match="generated column"):
            storage.update_where_snapshot(
                spark, path, {"v": "v + 1"}, "k = 3", mode=mode,
                branch="audit",
            )
        if table == "cow":  # DV and MOR forks refuse branch appends
            with pytest.raises(ValueError, match="v_pos"):
                storage.write_snapshot_to_branch(
                    spark, _df(spark, [(9, -5.0, -10.0, 0)], _WIDE), path,
                    "audit", mode="append",
                )
        v = storage.fast_forward(path, "audit")
        man = storage._load_manifest(path, v)
        assert (man.get("constraints"), man.get("generated")) == _CONTRACT
        got = {
            r["k"]: (r["v"], r["w"])
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert 1 not in got and got[2] == (12.0, 24.0)
        assert all(v > 0 and w == 2 * v for v, w in got.values())
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# -- maintenance verbs under a racing commit --------------------------------


def _append(spark, path, rows):
    storage.write_snapshot(
        spark, _df(spark, rows).coalesce(1), path, mode="append"
    )


def _purge_setup(spark, path):
    """Two single-file commits; a DV on the first (the purge victim)."""
    storage.write_snapshot(
        spark, _df(spark, [(k, float(k)) for k in range(4)]).coalesce(1),
        path,
    )
    _append(spark, path, [(k, float(k)) for k in range(10, 14)])
    storage.delete_where_snapshot(spark, path, "k = 0", mode="dv")
    return list(storage._load_manifest(path, 3)["dv"])


def _compact_setup(spark, path):
    storage.write_snapshot(
        spark, _df(spark, [(0, 0.0), (1, 1.0)]).coalesce(1), path
    )
    _append(spark, path, [(10, 10.0), (11, 11.0)])
    _append(spark, path, [(20, 20.0), (21, 21.0)])
    return sorted(_files(path))


def _incremental_setup(spark, path):
    storage.write_snapshot(
        spark, _df(spark, [(k, float(k)) for k in range(4)]).coalesce(1),
        path,
    )
    _append(spark, path, [(k, float(k)) for k in range(10, 14)])
    return sorted(_files(path, 2) - _files(path, 1))


_PDDL = "k bigint, v double, p string"


def _partitions_setup(spark, path):
    for i in range(2):  # partition "a" (k < 100) gets two files
        storage.write_snapshot_partitioned(
            spark,
            _df(spark, [(i, 1.0, "a"), (100 + i, 1.0, "b")], _PDDL),
            path, [("identity", "p")], mode="append" if i else "overwrite",
        )
    man = storage._load_manifest(path, 2)
    return sorted(
        rel for rel, val in man["partition"]["values"].items()
        if val[1] == ["a"]
    )


_VERBS = {
    "purge": (
        _purge_setup, 4,
        lambda spark, path: storage.purge_deletion_vectors(spark, path),
        "k = 1",
    ),
    "compact": (
        _compact_setup, 4,
        lambda spark, path: storage.compact_small_files_snapshot(
            spark, path, min_file_bytes=1 << 20
        ),
        "k = 10",
    ),
    "incremental": (
        _incremental_setup, 3,
        lambda spark, path: storage.optimize_snapshot_incremental(
            spark, path, ["k"], since_version=1, n_shards=1
        ),
        "k = 11",
    ),
    "partitions": (
        _partitions_setup, 3,
        lambda spark, path: storage.optimize_partitions(
            spark, path, {"p": ("=", "a")}
        ),
        "k = 0",
    ),
}


@pytest.mark.parametrize("verb", sorted(_VERBS))
def test_maintenance_racing_disjoint_append_both_succeed(
    spark, monkeypatch, verb
):
    setup, contested, run, _ = _VERBS[verb]
    scratch, path = _mkpath()
    try:
        removed = setup(spark, path)
        assert removed
        before = _keys(spark, path)
        extra = [(500, 5.0, "b")] if verb == "partitions" else [(500, 5.0)]

        def competitor():
            if verb == "partitions":
                storage.write_snapshot_partitioned(
                    spark, _df(spark, extra, _PDDL), path,
                    [("identity", "p")], mode="append",
                )
            else:
                _append(spark, path, extra)

        _RaceOnce(monkeypatch, f"v{contested}.json", competitor)
        res = run(spark, path)
        assert res["version"] == contested + 1  # rebased past the append
        raced = _files(path, contested) - _files(path, contested - 1)
        ours = _files(path) - _files(path, contested)
        assert raced and ours
        assert raced | ours <= _files(path)  # both writers' files live
        assert not set(removed) & _files(path)
        assert _keys(spark, path) == sorted(before + [500])
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@pytest.mark.parametrize("verb", sorted(_VERBS))
def test_maintenance_racing_delete_on_removed_file_refuses(
    spark, monkeypatch, verb
):
    setup, contested, run, doomed = _VERBS[verb]
    scratch, path = _mkpath()
    try:
        setup(spark, path)

        def competitor():  # a CoW delete rewrites a file the verb removes
            storage.delete_where_snapshot(spark, path, doomed)

        _RaceOnce(monkeypatch, f"v{contested}.json", competitor)
        with pytest.raises(
            storage.ConcurrentCommitError, match="rewritten/removed"
        ):
            run(spark, path)
        # the head is the competitor's delete, untouched by the loser
        assert storage.snapshot_versions(path)[-1] == contested
        assert int(doomed.split()[-1]) not in _keys(spark, path)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# -- Spark job count of each row-level DML write strategy --------------------

#: jobs per call on the four-file table below; one more job means one more
#: driver round-trip on every commit of that verb
_JOBS = {
    ("cow", "delete"): 3,
    ("cow", "update"): 3,
    ("cow", "merge"): 11,
    ("dv", "delete"): 2,
    ("dv", "update"): 3,
    ("dv", "merge"): 13,
    ("mor", "delete"): 2,
    ("mor", "update"): 2,
    ("mor", "merge"): 9,
    ("mor", "upsert"): 1,
}

_SEQ_DDL = "k bigint, v double, seq bigint"


def _run_verb(spark, path, mode, verb):
    """Run ``verb`` on keys 10..12; returns the number of rows it changed
    (a MERGE updates 10 and 12 and inserts 99; an upsert writes 3)."""
    if verb == "delete":
        return storage.delete_where_snapshot(
            spark, path, "k >= 10 AND k < 13", mode=mode
        )["rows_deleted"]
    if verb == "update":
        return storage.update_where_snapshot(
            spark, path, {"v": "v + 1"}, "k >= 10 AND k < 13", mode=mode,
        )["rows_updated"]
    if verb == "merge":
        storage.merge_into_snapshot(
            spark, path,
            _df(spark, [(10, 5.0, 2), (12, 7.0, 2), (99, 9.0, 2)],
                _SEQ_DDL),
            ["k"], update_set={"v": "src_v", "seq": "src_seq"},
        )
    else:
        storage.upsert_delta_snapshot(
            spark, path,
            _df(spark, [(k, 1.0, 2) for k in (10, 11, 12)], _SEQ_DDL),
            ["k"], "seq",
        )
    return 3


@pytest.mark.parametrize("table,verb", sorted(_JOBS))
def test_row_dml_job_count(spark, table, verb):
    scratch, path = _mkpath()
    try:
        for i in range(4):  # four single-file commits, k ranges disjoint
            storage.write_snapshot(
                spark,
                _df(spark, [(10 * i + j, float(j), 0) for j in range(5)],
                    _SEQ_DDL).coalesce(1),
                path, mode="append" if i else "overwrite",
            )
        if table == "mor":
            storage.upsert_delta_snapshot(
                spark, path, _df(spark, [(31, 9.0, 1)], _SEQ_DDL), ["k"],
                "seq",
            )
        elif table == "dv" and verb == "merge":  # merge a DV-carrying file
            storage.delete_where_snapshot(spark, path, "k = 11", mode="dv")
        mode = "dv" if table == "dv" else "cow"
        head = storage.snapshot_versions(path)[-1]
        sc = spark.sparkContext._jsc.sc()
        first = sc.dagScheduler().nextJobId()
        rows = _run_verb(spark, path, mode, verb)
        jobs = sc.dagScheduler().nextJobId() - first
        assert rows == 3
        assert storage.snapshot_versions(path)[-1] == head + 1
        assert jobs == _JOBS[(table, verb)], jobs
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# -- MERGE txn watermark ----------------------------------------------------


@pytest.mark.parametrize("table", ["cow", "mor"])
def test_noop_merge_records_txn_watermark(spark, table):
    """A txn-tagged MERGE that matches and inserts nothing still commits
    its watermark (as an empty upsert does): a redelivery after another
    writer added the key is skipped, not re-applied."""
    scratch, path = _mkpath()
    try:
        storage.write_snapshot(
            spark, _df(spark, [(k, float(k), 0) for k in range(5)],
                       _SEQ_DDL), path,
        )
        if table == "mor":
            storage.upsert_delta_snapshot(
                spark, path, _df(spark, [(1, 1.5, 1)], _SEQ_DDL), ["k"],
                "seq",
            )
        src = _df(spark, [(50, 500.0, 9)], _SEQ_DDL)

        def merge():
            return storage.merge_into_snapshot(
                spark, path, src, ["k"], update_set={"v": "src_v"},
                insert=False, txn=("a", 1),
            )

        v = merge()  # no k=50 yet: matches nothing, inserts nothing
        assert storage._load_manifest(path, v).get("txn") == {"a": 1}
        assert _keys(spark, path) == [0, 1, 2, 3, 4]
        other = _df(spark, [(50, 5.0, 1)], _SEQ_DDL)
        if table == "mor":
            storage.upsert_delta_snapshot(spark, path, other, ["k"], "seq")
        else:
            storage.write_snapshot(spark, other, path, mode="append")
        head = storage.snapshot_versions(path)[-1]
        data = set(os.listdir(os.path.join(path, "data")))
        assert merge() == head  # the redelivered batch is skipped
        assert storage.snapshot_versions(path)[-1] == head
        assert set(os.listdir(os.path.join(path, "data"))) == data
        got = {
            r["k"]: r["v"]
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert got[50] == 5.0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# -- delta-group rebase gates -------------------------------------------------


def _mor_chain(spark, path):
    """Base keys 0..9 plus two delta groups (v2: k=1, v3: k=2)."""
    storage.write_snapshot(
        spark, _df(spark, [(k, float(k), 0) for k in range(10)], _SEQ_DDL),
        path,
    )
    for k in (1, 2):
        storage.upsert_delta_snapshot(
            spark, path, _df(spark, [(k, 10.0 * k, 1)], _SEQ_DDL), ["k"],
            "seq",
        )


def _minor_compact(spark, path):
    return lambda: storage.compact_mor(spark, path, minor=True)


def test_mor_merge_racing_minor_compaction_refuses(spark, monkeypatch):
    scratch, path = _mkpath()
    try:
        _mor_chain(spark, path)
        _RaceOnce(monkeypatch, "v4.json", _minor_compact(spark, path))
        with pytest.raises(
            storage.ConcurrentCommitError, match="delta chain was rewritten"
        ):
            storage.merge_into_snapshot(
                spark, path, _df(spark, [(3, 33.0, 2)], _SEQ_DDL), ["k"],
                update_set={"v": "src_v"}, insert=False,
            )
        assert storage.snapshot_versions(path)[-1] == 4  # the fold only
        assert len(storage._load_manifest(path, 4)["mor"]["deltas"]) == 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_upsert_racing_minor_compaction_both_land(spark, monkeypatch):
    scratch, path = _mkpath()
    try:
        _mor_chain(spark, path)
        base = _files(path)
        _RaceOnce(monkeypatch, "v4.json", _minor_compact(spark, path))
        v = storage.upsert_delta_snapshot(
            spark, path, _df(spark, [(1, 111.0, 2), (3, 33.0, 1)], _SEQ_DDL),
            ["k"], "seq",
        )
        assert v == 5  # rebased onto the fold's v4
        man = storage._load_manifest(path, 5)
        folded = storage._load_manifest(path, 4)["mor"]["deltas"]
        assert set(man["files"]) == base
        assert man["mor"]["deltas"][:-1] == folded
        got = {
            r["k"]: r["v"]
            for r in storage.read_snapshot(spark, path).collect()
        }
        assert (got[1], got[2], got[3]) == (111.0, 20.0, 33.0)
        assert len(got) == 10
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@pytest.mark.parametrize("verb", ["upsert", "merge"])
def test_mor_same_txn_race_refuses(spark, monkeypatch, verb):
    scratch, path = _mkpath()
    try:
        _mor_chain(spark, path)

        def write(k):
            rows = _df(spark, [(k, 1.0, 5)], _SEQ_DDL)
            if verb == "upsert":
                return storage.upsert_delta_snapshot(
                    spark, path, rows, ["k"], "seq", txn=("app", 7)
                )
            return storage.merge_into_snapshot(
                spark, path, rows, ["k"], txn=("app", 7),
                update_set={"v": "src_v", "seq": "src_seq"},
            )

        _RaceOnce(monkeypatch, "v4.json", lambda: write(100))
        with pytest.raises(
            storage.ConcurrentCommitError, match="already committed"
        ):
            write(200)
        assert write(200) == 4  # verb-level retry: the idempotent skip
        assert _keys(spark, path) == list(range(10)) + [100]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
