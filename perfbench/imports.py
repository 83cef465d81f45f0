"""The import-pipeline workload and its pandas/pyarrow model.

Each operation is one ``runner.import_batch`` call: a micro-batch of
NewInstance payloads decoded, validated, anti-joined against the graph
store, written as nodes and edges, patched back through a
``RecordingPatchSender`` and completed. After every batch (outside the
timed region) the files the batch left behind are read back with pyarrow
and compared with what the model says the batch must produce.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
from collections import Counter

import numpy as np
import pyarrow.dataset as ds

import datagen

#: Rows of the TPC-H-shaped tables the fixtures are derived from.
SF = 0.01
#: Instances preloaded into the store before timing (eight times the
#: valid ids of a batch), and never-seen instances available to batches.
HISTORY = 64
FRESH_POOL = 40
#: Payloads per micro-batch and their make-up; the rest are redelivered.
BATCH = 10
FRESH_PER_BATCH = 2
MALFORMED_PER_BATCH = 1
EMPTY_ID_PER_BATCH = 1


def _dimension_name(dim_id: str, iid: str) -> str:
    # model of importer.dimension_name: "_" + id, "_<iid>_" removed twice
    return ("_" + dim_id).replace(f"_{iid}_", "", 2)


class ImportModel:
    """What importing one instance must write, from the fixture alone."""

    def __init__(self, fixture: dict):
        orders = {(cl, code): order for cl, code, order in fixture["code_lists"]}
        ids = [iid for iid, _ in fixture["instances"]]
        self.nodes: dict[str, set] = {i: {("instance", i, None, None)} for i in ids}
        self.edges: dict[str, set] = {i: set() for i in ids}
        self.patches: dict[str, Counter] = {i: Counter() for i in ids}
        for iid, dim_id, opt, node_id, cl in fixture["dimensions"]:
            if not dim_id:
                continue  # rejected by validation
            self.nodes[iid].add(("dimension", iid, _dimension_name(dim_id, iid), opt))
            if dim_id != "time":
                self.edges[iid].add((iid, cl, opt))
            update = {"name": dim_id, "option": opt}
            if node_id:
                update["node_id"] = node_id
            if orders.get((cl, opt)) is not None:
                update["order"] = orders[(cl, opt)]
            if len(update) > 2:
                self.patches[iid][json.dumps(update, sort_keys=True)] += 1


class BatchState:
    """One replay's store, sinks and record of imported instances."""

    def __init__(self, spark, base: str, preloaded: str | None,
                 existing: set[str]):
        from dp_dimension_importer_spark.pipeline.sinks import (
            ParquetGraphStore, RecordingPatchSender)

        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        if preloaded:
            shutil.copytree(preloaded, os.path.join(base, "graph"))
        self.base = base
        self.store = ParquetGraphStore(spark, os.path.join(base, "graph"))
        self.sender = RecordingPatchSender(os.path.join(base, "patches.jsonl"))
        self.completed_dir = os.path.join(base, "completed")
        self.dead_dir = os.path.join(base, "dead_letter")
        self.existing = set(existing)
        self.patch_lines = 0
        self.seen_files: set[str] = set()


def _partition_files(table_dir: str) -> dict[str, frozenset]:
    if not os.path.isdir(table_dir):
        return {}
    return {d: frozenset(os.listdir(os.path.join(table_dir, d)))
            for d in os.listdir(table_dir) if d.startswith("instance_id=")}


def _read_partition(table_dir: str, iid: str, cols: list[str]) -> list[tuple]:
    path = os.path.join(table_dir, f"instance_id={iid}")
    if not os.path.isdir(path):
        return []
    tbl = ds.dataset(path, format="parquet").to_table(columns=cols)
    return [tuple(r[c] for c in cols) for r in tbl.to_pylist()]


def _new_json_rows(state: BatchState, path: str) -> list[dict]:
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        if f not in state.seen_files:
            state.seen_files.add(f)
            with open(f, encoding="utf-8") as fh:
                rows += [json.loads(line) for line in fh if line.strip()]
    return rows


class ImportRedelivery:
    """``import_redelivery``: batches of mostly redelivered instance ids,
    plus a few fresh ids, malformed payloads and empty ids, against a
    graph store preloaded with a history many times a batch."""

    unit = "batch"

    def __init__(self, ctx):
        self.ctx = ctx

    # -- set-up -------------------------------------------------------------
    def fixture(self) -> None:
        from dp_dimension_importer_spark.pipeline.models import (
            CODE_LIST_SCHEMA, DIMENSION_SCHEMA, INSTANCE_SCHEMA)

        spark, seed = self.ctx.spark, self.ctx.seed
        tables = datagen.make_tables(seed, SF)
        fx = datagen.import_fixture(tables, seed, HISTORY + FRESH_POOL)
        self.model = ImportModel(fx)
        self.instances = spark.createDataFrame(fx["instances"], INSTANCE_SCHEMA)
        self.dimensions = spark.createDataFrame(fx["dimensions"], DIMENSION_SCHEMA)
        self.code_lists = spark.createDataFrame(fx["code_lists"], CODE_LIST_SCHEMA)
        self.fixture_rows = {"instances": len(fx["instances"]),
                             "dimensions": len(fx["dimensions"]),
                             "code_lists": len(fx["code_lists"])}

    def once(self) -> None:
        """Preload the history with one ``import_batch`` call. It carries
        a malformed payload and an empty id as well, so it also warms
        every code path a measured batch takes."""
        self.history = [datagen.instance_id(self.ctx.seed, i)
                        for i in range(HISTORY)]
        pre = BatchState(self.ctx.spark, self.ctx.path("preload"), None, set())
        self._import(pre, [datagen.event_payload(i) for i in self.history]
                     + ["not json", datagen.empty_id_payload()])
        self.preloaded = os.path.join(pre.base, "graph")

    def sizes(self) -> dict:
        return {**self.fixture_rows, "preloaded_instances": HISTORY,
                "batch_payloads": BATCH, "fresh_per_batch": FRESH_PER_BATCH,
                "malformed_per_batch": MALFORMED_PER_BATCH,
                "empty_id_per_batch": EMPTY_ID_PER_BATCH}

    # -- operations ---------------------------------------------------------
    def begin(self, tag: str) -> BatchState:
        self.next_fresh = HISTORY
        self.batch_rng = np.random.default_rng([self.ctx.seed, 3])
        return BatchState(self.ctx.spark, self.ctx.path(tag), self.preloaded,
                          set(self.history))

    def _import(self, state: BatchState, payloads: list[str]):
        from dp_dimension_importer_spark.pipeline import runner, sources

        raw = sources.read_event_batch(self.ctx.spark, payloads)
        return runner.import_batch(
            raw, self.instances, self.dimensions, self.code_lists,
            state.store, state.sender, state.completed_dir, state.dead_dir)

    def _payloads(self) -> tuple[list[str], list[str], int]:
        """(payloads, valid ids, dead letters expected) of the next batch."""
        rng = self.batch_rng
        if self.next_fresh + FRESH_PER_BATCH > HISTORY + FRESH_POOL:
            raise RuntimeError("fresh instance pool exhausted")
        ids = [datagen.instance_id(self.ctx.seed, self.next_fresh + k)
               for k in range(FRESH_PER_BATCH)]
        self.next_fresh += FRESH_PER_BATCH
        n_old = BATCH - FRESH_PER_BATCH - MALFORMED_PER_BATCH - EMPTY_ID_PER_BATCH
        ids += [self.history[int(k)]
                for k in rng.choice(HISTORY, n_old, replace=False)]
        payloads = [datagen.event_payload(i) for i in ids]
        payloads += [datagen.malformed_payload(rng)
                     for _ in range(MALFORMED_PER_BATCH)]
        payloads += [datagen.empty_id_payload()] * EMPTY_ID_PER_BATCH
        order = rng.permutation(len(payloads))
        return ([payloads[int(k)] for k in order], ids,
                MALFORMED_PER_BATCH + EMPTY_ID_PER_BATCH)

    def prepare(self, state: BatchState, i: int):
        payloads, ids, n_dead = self._payloads()
        before = {t: _partition_files(os.path.join(state.base, "graph", t))
                  for t in ("nodes", "edges")}
        return {"payloads": payloads, "ids": ids, "dead": n_dead,
                "before": before, "items": len(payloads),
                "offered": {}, "appended": {"nodes": 0, "edges": 0}}

    def run(self, state: BatchState, op: dict):
        return self._import(state, op["payloads"])

    def check(self, state: BatchState, op: dict, _result) -> list[str]:
        errs = []
        m = self.model
        new = [i for i in op["ids"] if i not in state.existing]
        old = [i for i in op["ids"] if i in state.existing]
        graph = os.path.join(state.base, "graph")
        for t, cols, want in (
            ("nodes", ["node_kind", "dimension_name", "option"], m.nodes),
            ("edges", ["code_list_id", "code"], m.edges),
        ):
            after = _partition_files(os.path.join(graph, t))
            grown = set(after) - set(op["before"][t])
            expect_dirs = {f"instance_id={i}" for i in new if want[i]}
            if grown != expect_dirs:
                errs.append(f"{t}: new partitions {sorted(grown)} != "
                            f"{sorted(expect_dirs)}")
            for i in old:
                key = f"instance_id={i}"
                if after.get(key) != op["before"][t].get(key):
                    errs.append(f"{t}: redelivered {i} appended files")
            for i in new:
                rows = _read_partition(os.path.join(graph, t), i, cols)
                if t == "nodes":
                    got = [(k, i, d, o) for k, d, o in rows]
                else:
                    got = [(i, c, o) for c, o in rows]
                if len(got) != len(set(got)) or set(got) != want[i]:
                    errs.append(f"{t}: rows of {i} differ from the model")
                op["appended"][t] += len(got)
            op["offered"][t] = sum(len(want[i]) for i in op["ids"])
        calls = []
        lines = []
        if os.path.exists(state.sender.path):
            with open(state.sender.path, encoding="utf-8") as fh:
                lines = [ln for ln in fh if ln.strip()]
        for ln in lines[state.patch_lines:]:
            c = json.loads(ln)
            calls.append((c["instance_id"], Counter(
                json.dumps(u, sort_keys=True) for u in c["updates"])))
        state.patch_lines = len(lines)
        want_calls = sorted((i, sorted(m.patches[i].items()))
                            for i in new if m.patches[i])
        if sorted((i, sorted(u.items())) for i, u in calls) != want_calls:
            errs.append("patch calls differ from the model")
        done = _new_json_rows(state, state.completed_dir)
        if sorted(r["instance_id"] for r in done) != sorted(new):
            errs.append("completion events differ from the model")
        dead = _new_json_rows(state, state.dead_dir)
        if len(dead) != op["dead"]:
            errs.append(f"dead letters {len(dead)} != {op['dead']}")
        state.existing.update(new)
        op["patch_calls"] = len(calls)
        return errs

    def finish(self, state: BatchState) -> list[str]:
        return []

    def named(self, ops: list[dict], _state) -> dict:
        """Raw figures of this workload: name -> (value, unit, samples)."""
        lat = [op["seconds"] for op in ops]
        return {
            "import_instances_per_s": (
                sum(op["items"] for op in ops) / sum(lat), "1/s", len(lat)),
            "import_batch_p50_s": (statistics.median(lat), "s", len(lat)),
        }

