"""Which functions the traced run wraps, and the per-layer metrics it
derives from their spans.

Functions are wrapped where callers look them up: ``runner`` binds the
patch and event sinks by name at import, so those are wrapped on
``runner``; the graph store's methods on the class; storage verbs on the
``storage`` module, which also catches their calls to each other.
"""

from __future__ import annotations

import os
import statistics

import querymix
from spans import Tracer, summarize

STORAGE_VERBS = ("write_snapshot", "delete_where_snapshot",
                 "update_where_snapshot", "merge_into_snapshot",
                 "upsert_delta_snapshot", "compact_mor", "vacuum_snapshots")


def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def _before_files(bound) -> tuple[str, dict[str, int]]:
    path = bound.arguments["path"]
    return path, _files(path)


def _bytes_written(span, before, _result) -> None:
    path, files = before
    span.attrs["bytes_written"] = sum(
        size for p, size in _files(path).items() if files.get(p) != size)


def install(tracer: Tracer) -> None:
    from dp_dimension_importer_spark import storage
    from dp_dimension_importer_spark.pipeline import (
        importer, runner, sinks, sources)

    tracer.wrap(runner, "import_batch", "pipeline.runner.import_batch")
    tracer.wrap(sources, "decode_events", "pipeline.sources.decode_events")
    tracer.wrap(importer, "run_import", "pipeline.importer.run_import")
    for m in ("nodes", "write_nodes", "write_edges"):
        tracer.wrap(sinks.ParquetGraphStore, m,
                    f"pipeline.sinks.ParquetGraphStore.{m}")
    tracer.wrap(runner, "patch_sink", "pipeline.sinks.patch_sink")
    tracer.wrap(runner, "jsonl_event_sink", "pipeline.sinks.jsonl_event_sink")
    for verb in STORAGE_VERBS:
        tracer.wrap(storage, verb, f"storage.{verb}",
                    before=_before_files, after=_bytes_written)


def catalogue() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    def group(prefix, keys):
        return [(f"{prefix}.{k}", *_UNITS[k]) for k in keys]

    out = group("session.get_spark", ["s"])
    out += group("pipeline.runner.import_batch",
                 ["s", "self_s", "jobs", "stages", "tasks"])
    out += group("pipeline.sources.decode_events", ["s"])
    out += group("pipeline.importer.run_import", ["s"])
    store = "pipeline.sinks.ParquetGraphStore"
    out += group(f"{store}.nodes", ["s", "jobs", "tasks"])
    for m in ("write_nodes", "write_edges"):
        out += group(f"{store}.{m}", ["s", "jobs", "tasks", "fresh_ratio"])
    out += group("pipeline.sinks.patch_sink", ["s", "jobs", "calls"])
    out += group("pipeline.sinks.jsonl_event_sink", ["s", "jobs"])
    for verb in STORAGE_VERBS:
        out += group(f"storage.{verb}", ["s", "jobs", "tasks", "bytes_written"])
    out += group("storage.delete_where_snapshot", ["rewritten_per_probed"])
    for kind in ("cow", "dv", "mor"):
        out += group(f"storage.read_snapshot.{kind}", ["s", "jobs"])
    out += group("storage", ["table_bytes_per_user_byte"])
    for q in querymix.QUERIES:
        out += group(f"operators.{querymix.module_of(q)}.{q}",
                     ["fixture_s", "verb_s", "jobs", "python_nodes"])
    out += [(f"trace.overhead.{k}", u, "lower") for k, u in
            (("setup_s", "s"), ("op_latency_cal_s", "s"),
             ("throughput_cal_per_s", "1/s"), ("driver_peak_rss_mb", "MB"))]
    out += group("trace", ["ledger_repeat", "ledger_spans"])
    return out


_UNITS = {
    "s": ("s", "lower"), "self_s": ("s", "lower"), "fixture_s": ("s", "lower"),
    "verb_s": ("s", "lower"), "jobs": ("count", "lower"),
    "stages": ("count", "lower"), "tasks": ("count", "lower"),
    "calls": ("count", "lower"), "python_nodes": ("count", "lower"),
    "bytes_written": ("B", "lower"), "fresh_ratio": ("ratio", "higher"),
    "rewritten_per_probed": ("ratio", "lower"),
    "table_bytes_per_user_byte": ("ratio", "lower"),
    "ledger_repeat": ("ratio", "higher"), "ledger_spans": ("count", "higher"),
}


def metrics(tracer: Tracer, rp, overhead: dict, repeat: float) -> dict[str, float]:
    """Every per-layer figure this run can give, keyed by metric name.
    Layers the workload does not reach read 0."""
    out: dict[str, float] = {}
    runs = {"setup", rp.tag}
    for name, spans in tracer.by_name(runs).items():
        for key, value in summarize(spans).items():
            out[f"{name}.{key}"] = value
        if name.startswith("storage."):
            out[f"{name}.bytes_written"] = statistics.fmean(
                s.attrs.get("bytes_written", 0) for s in spans)
    ops = rp.ops
    for t, m in (("nodes", "write_nodes"), ("edges", "write_edges")):
        offered = sum(op.get("offered", {}).get(t, 0) for op in ops)
        appended = sum(op.get("appended", {}).get(t, 0) for op in ops)
        out[f"pipeline.sinks.ParquetGraphStore.{m}.fresh_ratio"] = (
            appended / offered if offered else 0.0)
    sink_calls = out.get("pipeline.sinks.patch_sink.calls", 0)
    out["pipeline.sinks.patch_sink.calls"] = (
        sum(op.get("patch_calls", 0) for op in ops) / sink_calls
        if sink_calls else 0.0)
    probed = sum(op.get("probed", 0) for op in ops
                 if op.get("verb") == "delete_where_snapshot")
    rewritten = sum(op.get("rewritten", 0) for op in ops
                    if op.get("verb") == "delete_where_snapshot")
    out["storage.delete_where_snapshot.rewritten_per_probed"] = (
        rewritten / probed if probed else 0.0)
    out["storage.table_bytes_per_user_byte"] = getattr(
        rp.state, "bytes_per_user_byte", 0.0)
    _operator_metrics(tracer, rp.tag, out)
    for key, value in overhead.items():
        out[f"trace.overhead.{key}"] = value
    out["trace.ledger_repeat"] = repeat
    out["trace.ledger_spans"] = float(len(tracer.ledger(rp.tag)))
    return {name: out.get(name, 0.0) for name, _, _ in catalogue()}


def _operator_metrics(tracer: Tracer, tag: str, out: dict) -> None:
    spans = tracer.by_name({tag})
    for q in querymix.QUERIES:
        name = f"operators.{querymix.module_of(q)}.{q}"
        fx, vb = spans.get(name + ".fixture", []), spans.get(name + ".verb", [])
        if not vb:
            continue
        out[name + ".fixture_s"] = statistics.median(s.seconds for s in fx)
        out[name + ".verb_s"] = statistics.median(s.seconds for s in vb)
        out[name + ".jobs"] = (sum(s.jobs for s in fx) + sum(s.jobs for s in vb)) / len(vb)
        out[name + ".python_nodes"] = float(vb[0].attrs.get("python_nodes", 0))
