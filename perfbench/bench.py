"""One benchmark run: set up a workload, drive it closed-loop, check it.

Run it through ``perfbench/run.py``, which pins the environment::

    python3 perfbench/run.py --workload import_redelivery --seed 1 --seconds 2 --trace 0

One client in one process issues the workload's operations back to back,
each after the previous one returned (closed loop), for ``--seconds``.
Every operation's output is checked against a model that does not use
Spark. The last stdout line is the result: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``; the line before it
holds the detail (sizes, sample counts, the workload's own named
metrics and the pinned environment).

Times are calibrated: a shared VM's speed can drift by tens of percent
from second to second, so a sentinel process (``sentinel.py``) samples
it throughout the run, and each set-up step's and operation's time is
divided by how slow the machine was while it ran. The raw figures are
in the detail line.

A traced run replays the same operations three times from the same
starting state: traced for ``--seconds``, untraced, traced again. The
first gives the per-layer figures; the tracing overhead is the traced
replays against the untraced one; the job ledger must repeat between
the two traced replays.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import dml  # noqa: E402
import imports  # noqa: E402
import layers  # noqa: E402
import querymix  # noqa: E402
from sentinel import Sentinel  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = {
    "import_redelivery": imports.ImportRedelivery,
    "table_dml": dml.TableDml,
    "query_mix": querymix.QueryMix,
}
#: How many times a run builds the workload's fixture; set-up time takes
#: the median of these.
FIXTURE_REPEATS = 3


class Ctx:
    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.spark = None
        self.tracer: Tracer | None = None

    def path(self, tag: str) -> str:
        return os.path.join(self.work, tag)


class Replay:
    """The operations of one closed-loop pass over a workload."""

    def __init__(self, tag: str):
        self.tag = tag
        self.ops: list[dict] = []
        self.final_errors: list[str] = []
        self.state = None

    @property
    def latencies(self) -> list[float]:
        return [op["seconds"] for op in self.ops]

    @property
    def failed(self) -> int:
        return sum(1 for op in self.ops if op["failed"]) + bool(self.final_errors)


def replay(wl, ctx: Ctx, tag: str, seconds: float | None = None,
           n_ops: int | None = None) -> tuple[Replay, float]:
    """Issue operations until ``seconds`` have passed (stopping only at
    the end of a cycle) or, when ``n_ops`` is given, exactly that many.
    Also returns how much this process's resident memory grew (MB)."""
    rp = Replay(tag)
    rss0 = rss_mb()
    if ctx.tracer:
        ctx.tracer.run = tag
    rp.state = st = wl.begin(tag)
    t0 = time.perf_counter()
    i = 0
    while True:
        if n_ops is not None:
            if i >= n_ops:
                break
        elif time.perf_counter() - t0 >= seconds and (
                not rp.ops or rp.ops[-1].get("cycle_end", True)):
            break
        op = wl.prepare(st, i)
        op["start"] = t = time.perf_counter()
        try:
            result = wl.run(st, op)
            op["seconds"] = time.perf_counter() - t
            errs = wl.check(st, op, result)
        except Exception:  # an operation that raises counts as failed
            op.setdefault("seconds", time.perf_counter() - t)
            errs = [traceback.format_exc()]
        if ctx.tracer:
            ctx.tracer.harvest()
        op["failed"] = bool(errs)
        for err in errs:
            print(f"[{tag}] op {i}: {err}", file=sys.stderr)
        rp.ops.append(op)
        i += 1
    try:
        rp.final_errors = wl.finish(st)
    except Exception:
        rp.final_errors = [traceback.format_exc()]
    for err in rp.final_errors:
        print(f"[{tag}] final check: {err}", file=sys.stderr)
    return rp, rss_mb() - rss0


def gmean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in values))


def summary(rp: Replay, sentinel: Sentinel) -> dict[str, float]:
    """Latency and throughput of a replay's operations, calibrated and
    raw. Latency is the geometric mean: a cycle is a fixed mix of
    operations whose costs differ tenfold, and the mean of their logs
    weighs every kind alike, where a median would sit on whichever kind
    happens to rank in the middle."""
    lat = rp.latencies
    cal = [op["seconds"] / sentinel.slowdown(op["start"], op["start"] + op["seconds"])
           for op in rp.ops]
    items = sum(op["items"] for op in rp.ops)
    return {"op_latency_cal_s": gmean(cal), "throughput_cal_per_s": items / sum(cal),
            "op_gmean_s": gmean(lat), "items_per_s": items / sum(lat),
            "slowdown": sum(lat) / sum(cal)}


def timed(fn) -> tuple[float, float]:
    """(start, seconds) of one call."""
    t = time.perf_counter()
    fn()
    return t, time.perf_counter() - t


def _status_kb(pid: str, key: str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        return next(int(ln.split()[1]) for ln in fh if ln.startswith(key))


def rss_mb() -> float:
    return _status_kb("self", "VmRSS:") / 1024


def memory_mb(spark) -> dict[str, float]:
    """The driver's memory: peak RSS of this process and of the Spark JVM,
    and the JVM's heap and non-heap still in use after a full collection.
    Only the first is steady from run to run; the JVM's peak follows
    when its collector happened to run."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    proc = spark.sparkContext._gateway.proc
    return {
        "python_hwm": _status_kb("self", "VmHWM:") / 1024,
        "jvm_hwm": _status_kb(str(proc.pid), "VmHWM:") / 1024,
        "jvm_heap_live": bean.getHeapMemoryUsage().getUsed() / 2**20,
        "jvm_nonheap": bean.getNonHeapMemoryUsage().getUsed() / 2**20,
    }


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open("BENCHMARK.json", encoding="utf-8") as fh:
        spec = json.load(fh)
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    ctx = Ctx(args.seed, work)
    tracer = Tracer() if args.trace else None
    sentinel = Sentinel()
    spark = None
    try:
        from dp_dimension_importer_spark import session

        if tracer:
            tracer.run = "setup"
            tracer.wrap(session, "get_spark", "session.get_spark")
        t = time.perf_counter()
        ctx.spark = spark = session.get_spark(app_name="perfbench")
        start_session = (t, time.perf_counter() - t)
        spark.sparkContext.setLogLevel("ERROR")
        if tracer:
            tracer.unwrap_all()
            tracer.spark = spark
        wl = WORKLOADS[args.workload](ctx)
        fixture_s, traced_fixture_s = [], []
        for _ in range(FIXTURE_REPEATS):
            fixture_s.append(timed(wl.fixture))
            if tracer:  # interleaved, so warm-up does not favour either side
                tracer.run = "fixture"
                layers.install(tracer)
                traced_fixture_s.append(timed(wl.fixture))
                tracer.unwrap_all()
        once = timed(wl.once)

        if tracer:
            layers.install(tracer)
            ctx.tracer = tracer
            traced, rss_traced = replay(wl, ctx, "traced", seconds=args.seconds)
            ctx.tracer = None
            tracer.unwrap_all()
            base, rss_base = replay(wl, ctx, "untraced", n_ops=len(traced.ops))
            layers.install(tracer)
            ctx.tracer = tracer
            repeat, rss_repeat = replay(wl, ctx, "repeat", n_ops=len(traced.ops))
            replays = [traced, base, repeat]
        else:
            base, _ = replay(wl, ctx, "untraced", seconds=args.seconds)
            replays = [base]
        memory = memory_mb(spark)
        sizes = wl.sizes()
        named = {k: dict(zip(("value", "unit", "n"), v))
                 for k, v in wl.named(base.ops, base.state).items()}
    finally:
        if tracer:
            tracer.unwrap_all()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        sentinel.stop()

    def setup(fixtures: list[tuple[float, float]], cal: bool) -> float:
        scale = ((lambda t, s: s / sentinel.slowdown(t, t + s)) if cal
                 else (lambda _t, s: s))
        return (scale(*start_session)
                + statistics.median(scale(*f) for f in fixtures)
                + scale(*once))

    e2e = summary(base, sentinel)
    e2e["setup_s"] = setup(fixture_s, cal=True)
    e2e["driver_peak_rss_mb"] = memory["python_hwm"]
    if tracer:
        both = [summary(traced, sentinel), summary(repeat, sentinel)]
        overhead = {k: statistics.fmean(t[k] for t in both) - e2e[k]
                    for k in ("op_latency_cal_s", "throughput_cal_per_s")}
        overhead["setup_s"] = (setup(traced_fixture_s, cal=True)
                               - e2e["setup_s"])
        overhead["driver_peak_rss_mb"] = (rss_traced + rss_repeat) / 2 - rss_base
        a, b = tracer.ledger("traced"), tracer.ledger("repeat")
        same = [x == y for x, y in zip(a, b)]
        for x, y, ok in zip(a, b, same):
            if not ok:
                print(f"ledger differs: {x} vs {y}", file=sys.stderr)
        metrics = layers.metrics(tracer, traced, overhead,
                                 sum(same) / max(len(a), len(b), 1))
        wanted = spec["per_layer"]
    else:
        metrics, wanted = e2e, spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        print(f"metrics not produced: {missing}", file=sys.stderr)
        return 1

    attempted = sum(len(rp.ops) + 1 for rp in replays)  # +1: final check
    failed = sum(rp.failed for rp in replays)
    print(json.dumps({"detail": {
        "workload": args.workload, "seed": args.seed,
        "closed_loop": {"clients": 1, "unit": wl.unit,
                        "measured_s": sum(base.latencies),
                        "operations": len(base.ops)},
        "sizes": sizes,
        "setup": {"session_s": start_session[1], "fixture_s": [f[1] for f in fixture_s],
                  "once_s": once[1]},
        "raw": {"setup_s": setup(fixture_s, cal=False),
                **{k: e2e[k] for k in ("op_gmean_s", "items_per_s", "slowdown")}},
        "named": named,
        "memory_mb": memory,
        "env": {k: os.environ.get(k) for k in
                ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "PYTHONPATH")},
    }}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
