"""Run the traced benchmark on each workload and gather one profile.

    python3 perfbench/capture.py --seed 1 --out profile.json [workload ...]

For each workload (default: all), runs ``perfbench/run.py --trace 1`` and
reads the run's trace file (``.perfbench_work/trace-<workload>-<seed>.json``)
into one JSON document: per workload the per-layer metrics, the workload's
end-to-end figures, the measured input properties, the span summary (calls,
total and self seconds per span name) and, per layer metric, the
end-to-end figure it should move. Only the layers a workload calls are
kept.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    from perfbench.metrics import PER_LAYER, layer_target
    from perfbench.run import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    unknown = set(args.workloads) - set(WORKLOADS)
    if unknown:
        ap.error(f"unknown workloads {sorted(unknown)}; choose from {list(WORKLOADS)}")
    profile = {"seed": args.seed, "cores": len(os.sched_getaffinity(0)),
               "layer_map": {k: dict(zip(("moves", "on"), layer_target(k))) for k in PER_LAYER},
               "workloads": {}}
    for w in args.workloads:
        cmd = [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(args.seed),
               # a traced run times a fixed three jobs; --seconds is unused
               "--seconds", "1", "--trace", "1"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        if out.returncode:
            print(out.stdout, out.stderr[-3000:], file=sys.stderr)
            return 1
        with open(os.path.join(ROOT, ".perfbench_work", f"trace-{w}-{args.seed}.json")) as f:
            t = json.load(f)
        profile["workloads"][w] = {
            **{k: t[k] for k in ("run_id", "properties", "figures", "counts", "span_summary")},
            # the layers this workload calls; the others read 0 here
            "metrics": {k: t["metrics"][k] for k in t["layers"]},
        }
        print(f"{w}: traced", file=sys.stderr)
    with open(args.out, "w") as f:
        json.dump(profile, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    # import this directory's modules as perfbench.*: left on the path as a
    # plain directory, trace.py would shadow the standard library's trace
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    sys.exit(main())
