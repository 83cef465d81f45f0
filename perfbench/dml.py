"""The ``table_dml`` workload: a seeded verb loop over three snapshot
tables (copy-on-write, deletion-vector and merge-on-read) built from the
generated orders table, checked against a pandas model of each table.

Every read returns ``count(*)`` and ``sum(o_totalprice)``, which are
compared with the model right away; when the replay ends each table is
read in full and compared row by row.
"""

from __future__ import annotations

import os
import shutil
import statistics

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

#: Base rows per table, and rows each verb touches (appends and the
#: merge/upsert sources add or change this many; deletes and updates
#: select a key window of this width).
BASE_ROWS = 15_000
CHANGE_ROWS = 200
WINDOW = 400
KINDS = ("cow", "dv", "mor")
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority", "o_seq"]
#: One cycle of the verb loop; a run measures whole cycles, so every run
#: times the same mix. Each table gets its write verbs and a read; the
#: cycle ends with compaction of the MOR table and a vacuum.
CYCLE = (
    ("cow", "write_snapshot"), ("cow", "delete_where_snapshot"),
    ("cow", "update_where_snapshot"), ("cow", "merge_into_snapshot"),
    ("cow", "read_snapshot"),
    ("dv", "delete_where_snapshot"), ("dv", "update_where_snapshot"),
    ("dv", "read_snapshot"),
    ("mor", "upsert_delta_snapshot"), ("mor", "delete_where_snapshot"),
    ("mor", "merge_into_snapshot"), ("mor", "read_snapshot"),
    ("mor", "compact_mor"), ("cow", "vacuum_snapshots"),
)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class DmlState:
    """One replay's copies of the tables and the model of each."""

    def __init__(self, base: str, initial: str, rows: pd.DataFrame, seed: int):
        shutil.rmtree(base, ignore_errors=True)
        shutil.copytree(initial, base)
        self.paths = {k: os.path.join(base, k) for k in KINDS}
        self.model = {k: rows.set_index("o_orderkey", drop=False) for k in KINDS}
        self.next_key = {k: int(rows.o_orderkey.max()) + 1 for k in KINDS}
        self.rng = np.random.default_rng([seed, 4])
        self.bytes_per_user_byte = 0.0


class TableDml:
    unit = "verb"

    def __init__(self, ctx):
        self.ctx = ctx

    def fixture(self) -> None:
        from dp_dimension_importer_spark import storage

        orders = datagen.make_tables(self.ctx.seed, 0.02)["orders"].to_pandas()
        base = orders.iloc[:BASE_ROWS].copy()
        base["o_seq"] = np.int64(0)
        self.base_rows = base
        self.spare = orders.iloc[BASE_ROWS:].reset_index(drop=True)
        self.initial = self.ctx.path("initial")
        shutil.rmtree(self.initial, ignore_errors=True)
        # One committed table, copied: the three start identical, and a
        # table directory holds only relative paths.
        storage.write_snapshot(self.ctx.spark, self.ctx.spark.createDataFrame(base),
                               os.path.join(self.initial, KINDS[0]))
        for kind in KINDS[1:]:
            shutil.copytree(os.path.join(self.initial, KINDS[0]),
                            os.path.join(self.initial, kind))

    def once(self) -> None:
        """Nothing beyond the fixture."""

    def sizes(self) -> dict:
        return {"base_rows_per_table": BASE_ROWS, "rows_per_verb": CHANGE_ROWS,
                "delete_update_key_window": WINDOW, "tables": list(KINDS)}

    def begin(self, tag: str) -> DmlState:
        return DmlState(self.ctx.path(tag), self.initial, self.base_rows,
                        self.ctx.seed)

    # -- operations ---------------------------------------------------------
    def prepare(self, st: DmlState, i: int) -> dict:
        kind, verb = CYCLE[i % len(CYCLE)]
        cycle = i // len(CYCLE) + 1
        op = {"kind": kind, "verb": verb, "items": 1, "cycle": cycle,
              "path": st.paths[kind], "cycle_end": i % len(CYCLE) == len(CYCLE) - 1}
        rng, model = st.rng, st.model[kind]
        keys = model.index.to_numpy()
        if verb in ("write_snapshot", "upsert_delta_snapshot", "merge_into_snapshot"):
            n_new = CHANGE_ROWS if verb == "write_snapshot" else CHANGE_ROWS // 2
            new = self.spare.sample(n=n_new, random_state=rng).copy()
            new["o_orderkey"] = np.arange(st.next_key[kind],
                                          st.next_key[kind] + n_new)
            st.next_key[kind] += n_new
            rows = [new]
            if verb != "write_snapshot":
                old = model.loc[rng.choice(keys, CHANGE_ROWS - n_new,
                                           replace=False)].copy()
                old["o_totalprice"] = np.round(
                    rng.uniform(1000, 500_000, len(old)), 2)
                old["o_orderstatus"] = rng.choice(["F", "O", "P"], len(old))
                rows.append(old)
            src = pd.concat(rows, ignore_index=True)
            src["o_seq"] = np.int64(cycle)
            op["rows"] = src[COLS].reset_index(drop=True)
        elif verb in ("delete_where_snapshot", "update_where_snapshot"):
            lo = int(rng.choice(keys))
            op["window"] = (lo, lo + WINDOW)
        return op

    def run(self, st: DmlState, op: dict):
        from pyspark.sql import functions as F

        from dp_dimension_importer_spark import storage

        spark, path, verb, kind = self.ctx.spark, op["path"], op["verb"], op["kind"]
        if verb == "write_snapshot":
            return storage.write_snapshot(spark, spark.createDataFrame(op["rows"]),
                                          path, mode="append")
        if verb == "upsert_delta_snapshot":
            return storage.upsert_delta_snapshot(
                spark, path, spark.createDataFrame(op["rows"]),
                key_cols=["o_orderkey"], seq_col="o_seq")
        if verb == "merge_into_snapshot":
            return storage.merge_into_snapshot(
                spark, path, spark.createDataFrame(op["rows"]), ["o_orderkey"],
                update_set={c: f"src_{c}" for c in
                            ("o_totalprice", "o_orderstatus", "o_seq")})
        lo, hi = op.get("window", (0, 0))
        if verb == "delete_where_snapshot":
            return storage.delete_where_snapshot(
                spark, path, f"o_orderkey >= {lo} AND o_orderkey < {hi} "
                "AND o_orderstatus = 'P'", mode="dv" if kind == "dv" else "cow")
        if verb == "update_where_snapshot":
            return storage.update_where_snapshot(
                spark, path,
                {"o_totalprice": "o_totalprice + 1.5",
                 "o_seq": f"CAST({op['cycle']} AS BIGINT)"},
                f"o_orderkey >= {lo} AND o_orderkey < {hi}",
                mode="dv" if kind == "dv" else "cow")
        if verb == "read_snapshot":
            def read():
                row = storage.read_snapshot(spark, path).agg(
                    F.count("*").alias("n"), F.sum("o_totalprice").alias("s")
                ).collect()[0]
                return (row["n"], row["s"])

            tracer = self.ctx.tracer
            return tracer.span(f"storage.read_snapshot.{kind}", read) if tracer else read()
        if verb == "compact_mor":
            return storage.compact_mor(spark, path)
        if verb == "vacuum_snapshots":
            return storage.vacuum_snapshots(path)
        raise ValueError(verb)

    def check(self, st: DmlState, op: dict, result) -> list[str]:
        """Apply the verb to the model; compare what the verb reports."""
        kind, verb = op["kind"], op["verb"]
        m = st.model[kind]
        errs = []
        if verb == "write_snapshot":
            m = pd.concat([m, op["rows"].set_index("o_orderkey", drop=False)])
        elif verb in ("upsert_delta_snapshot", "merge_into_snapshot"):
            src = op["rows"].set_index("o_orderkey", drop=False)
            m = pd.concat([m.drop(index=src.index, errors="ignore"), src])
        elif verb in ("delete_where_snapshot", "update_where_snapshot"):
            lo, hi = op["window"]
            hit = (m.o_orderkey >= lo) & (m.o_orderkey < hi)
            if verb == "delete_where_snapshot":
                hit &= m.o_orderstatus == "P"
                m = m[~hit]
                got, n_key = result.get("rows_deleted"), "rows_deleted"
            else:
                m = m.copy()
                m.loc[hit, "o_totalprice"] = m.loc[hit, "o_totalprice"] + 1.5
                m.loc[hit, "o_seq"] = np.int64(op["cycle"])
                got, n_key = result.get("rows_updated"), "rows_updated"
            if got is not None and got != int(hit.sum()):
                errs.append(f"{kind} {verb}: {n_key} {got} != {int(hit.sum())}")
            op["probed"] = result.get("files_probed", 0)
            op["rewritten"] = result.get("files_rewritten", 0)
        elif verb == "read_snapshot":
            n, s = result
            if n != len(m) or not np.isclose(s, m.o_totalprice.sum(),
                                             rtol=1e-9, atol=1e-6):
                errs.append(f"{kind} read: ({n}, {s}) != "
                            f"({len(m)}, {m.o_totalprice.sum()})")
        st.model[kind] = m
        return errs

    def named(self, ops: list[dict], st: DmlState) -> dict:
        """Raw figures of this workload: name -> (value, unit, samples)."""
        out = {}
        for key, reads in (("dml_commit", False), ("snapshot_read", True)):
            vals = [op["seconds"] for op in ops
                    if (op["verb"] == "read_snapshot") == reads]
            for q in (0.5, 0.9):
                out[f"{key}_p{round(q * 100)}_s"] = (
                    _percentile(vals, q), "s", len(vals))
        out["table_bytes_per_user_byte"] = (
            st.bytes_per_user_byte, "ratio", len(KINDS))
        return out

    def finish(self, st: DmlState) -> list[str]:
        from dp_dimension_importer_spark import storage

        errs = []
        user_bytes = table_bytes = 0
        for kind in KINDS:
            got = (storage.read_snapshot(self.ctx.spark, st.paths[kind])
                   .select(*COLS).toPandas())
            want = st.model[kind][COLS].reset_index(drop=True)
            if not _same_rows(got, want):
                errs.append(f"{kind}: final rows differ from the model")
            buf = pa.BufferOutputStream()
            pq.write_table(pa.Table.from_pandas(want, preserve_index=False), buf)
            user_bytes += buf.getvalue().size
            table_bytes += _dir_bytes(st.paths[kind])
        st.bytes_per_user_byte = table_bytes / user_bytes
        return errs


def _percentile(values: list[float], q: float) -> float | None:
    """The median, or a higher quantile when at least ten samples lie
    beyond it (None otherwise)."""
    if not values:
        return None
    if q == 0.5:
        return statistics.median(values)
    if len(values) * (1 - q) < 10:
        return None
    return statistics.quantiles(values, n=100)[round(q * 100) - 1]


def _same_rows(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    if len(got) != len(want):
        return False
    a = got.sort_values("o_orderkey").reset_index(drop=True)
    b = want.sort_values("o_orderkey").reset_index(drop=True)
    for c in COLS:
        x, y = a[c], b[c]
        if c == "o_orderdate":
            x = x.astype("datetime64[us]").astype("int64")
            y = y.astype("datetime64[us]").astype("int64")
        if c == "o_totalprice":
            if not np.allclose(x.to_numpy(), y.to_numpy(), rtol=1e-12):
                return False
        elif not (x.to_numpy() == y.to_numpy()).all():
            return False
    return True
