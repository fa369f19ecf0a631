"""Clickstream engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload replay_full --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run gets a fresh worker process (Spark
in a shared JVM distorts timings) and a fresh work directory under
``.perfbench_work/``, removed afterwards. The worker sees ``PYTHONPATH`` set
to the repository (Python workers of ``applyInPandasWithState`` import the
package), ``SPARK_GRAFT_CPUS`` set to the usable cores and
``SPARK_LOCAL_DIRS``/``TMPDIR`` inside the work directory.

Prints each metric with its unit, the load average at the start and end
of the run and the share of CPU time stolen by the host while it ran, then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Exits non-zero,
without a result, if the package is missing or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "clickestream_project_bigdata_spark"
WORKLOADS = ("replay_full", "stateful_sessions")
#: a run must end well inside the 180 s a caller allows it
RUN_TIMEOUT_S = 170


def _loadavg() -> str:
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(pgid: int) -> None:
    """Stop every process of the worker's group (the JVM and Python
    workers included) and wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + grace
        while time.time() < deadline and _group_alive(pgid):
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["PYTHONUNBUFFERED"] = "1"
    out = os.path.join(work, "result.json")

    def _terminate(signum, frame):
        raise SystemExit(128 + signum)

    # a caller stopping this run stops the worker's whole group too
    signal.signal(signal.SIGTERM, _terminate)
    load_start = _loadavg()
    steal_start = _cpu_ticks()
    code, result = None, None
    try:
        proc = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "worker.py"),
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--out", out,
            ],
            cwd=work,
            env=env,
            stdout=sys.stderr,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _stop_group(proc.pid)
            proc.wait()
        if code == 0 and os.path.exists(out):
            with open(out) as fh:
                result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_end = _loadavg()
    steal_end = _cpu_ticks()
    if result is None:
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: {a.workload} worker {why}", file=sys.stderr)
        return 1

    print(f"loadavg_start {load_start}")
    print(f"loadavg_end {load_end}")
    # CPU time the hypervisor gave to other guests while the run was going
    total = steal_end[1] - steal_start[1]
    print(f"cpu_steal_share {(steal_end[0] - steal_start[0]) / total if total else 0.0:.4f}")
    print(f"failed_ratio {result['failed'] / result['attempted']:.6g} ratio")
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
