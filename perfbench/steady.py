"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/steady.py --workload cascade_sink --seeds 1-10

Spread is the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median; a
metric is steady when its spread stays within a third of its bound in
BENCHMARK.json. Runs are sequential, one benchmark process at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        if out.returncode:
            print(f"seed {seed}: exit {out.returncode}", out.stdout, out.stderr[-3000:],
                  file=sys.stderr)
            return 1
        last = json.loads(out.stdout.strip().splitlines()[-1])
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        # the CPU time the hypervisor took during the timed jobs, beside
        # the metrics: a slow run on a busy host shows it
        steal = [float(line.split()[4]) for line in out.stdout.splitlines()
                 if line.startswith(f"metric {args.workload} steal_s = ")]
        print(json.dumps({"seed": seed, **{k: v["value"] for k, v in last["metrics"].items()},
                          "steal_s": steal[0] if steal else None}), flush=True)
    from perfbench.stats import spread

    for k, vs in values.items():
        s = spread(vs)
        print(f"{args.workload} {k}: median {statistics.median(vs):.4g} spread {s:.4f} "
              f"bound {bounds[k]} {'ok' if s < bounds[k] / 3 else 'WIDE'}")
    return 0


if __name__ == "__main__":
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    sys.exit(main())
