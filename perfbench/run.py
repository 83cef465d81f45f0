"""Benchmark launcher: pins the run environment, then runs one workload.

Run from the repository root::

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The workload runs in a child process (``perfbench/bench.py``) with:

* ``SPARK_GRAFT_CPUS`` = the CPUs this process may use, so the session is
  ``local[nproc]`` and no more threads run than there are CPUs;
* ``SPARK_GRAFT_DRIVER_MEM`` = a quarter of physical memory, at most 4g
  (the session's own default of 16g can exceed the machine);
* ``PYTHONPATH`` = the repository root, which Spark's Python workers need
  to import the package (``patch_sink`` runs ``foreachPartition`` there);
* temporary files and Spark's local directories under
  ``.perfbench_work/`` in the repository root, removed afterwards.

The child gets its own process group; when it exits, after
``TIMEOUT_S``, or when this launcher is terminated, whatever is left of
the group (the Spark JVM, Python workers) is killed and waited for.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

TIMEOUT_S = 170


def _driver_mem() -> str:
    with open("/proc/meminfo", encoding="ascii") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def main() -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dp_dimension_importer_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root (package "
              "dp_dimension_importer_spark not found)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": _driver_mem(),
        "PYTHONPATH": root,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    child = subprocess.Popen(
        [sys.executable, os.path.join(root, "perfbench", "bench.py"),
         *sys.argv[1:]],
        env=env, start_new_session=True)

    def _terminate(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, _terminate)
    try:
        code = child.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: no result after {TIMEOUT_S} s", file=sys.stderr)
        code = 3
    finally:
        if _group_alive(child.pid):
            os.killpg(child.pid, signal.SIGKILL)
        if child.poll() is None:
            child.wait()
        deadline = time.monotonic() + 10
        while _group_alive(child.pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
