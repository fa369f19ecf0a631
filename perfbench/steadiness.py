"""Run a workload once per seed and report each end-to-end metric's spread.

    python3 perfbench/steadiness.py --workload replay_full --seeds 1-10 \
        --seconds 20 --out perfbench/steadiness_replay_full.json

Each run is a separate ``run.py`` process, one after another. The spread of
a metric is the distance between the first and third quartile of its
values (``statistics.quantiles(values, n=4)``) as a share of their median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    runs = []
    for seed in _seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
            capture_output=True, text=True,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: run failed\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        load = {ln.split()[0]: ln.split(" ", 1)[1] for ln in lines
                if ln.startswith(("loadavg_", "cpu_steal_share"))}
        runs.append({"seed": seed, "wall_s": time.time() - t0, **load, **result})
        print(f"seed {seed}: {time.time() - t0:.1f} s steal {load['cpu_steal_share']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
    names = list(runs[0]["metrics"])
    record = {
        "workload": a.workload,
        "seconds": a.seconds,
        "cpus": len(os.sched_getaffinity(0)),
        "all_correct": all(r["correct"] for r in runs),
        "spread": {
            n: spread([r["metrics"][n]["value"] for r in runs]) for n in names
        },
        "runs": runs,
    }
    with open(a.out, "w") as fh:
        json.dump(record, fh, indent=1)
    for n, s in record["spread"].items():
        print(f"{n}: median {s['median']:.4g} spread {s['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
