"""The engine benchmark: one workload per run, one JSON result line last.

    python3 perfbench/run.py --workload cascade_sink --seed 1 --seconds 12 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off; ``--trace
1`` runs the same workload once traced and once untraced and reports the
per-layer metrics (``perfbench/metrics.py``). Inputs come from ``--seed``.
Every correctness check runs after the timed region; a failed check makes
the run exit 1. Scratch files live under ``.perfbench_work/`` in the
checkout and are removed at exit; a traced run leaves its spans there.
"""

from __future__ import annotations

import argparse
import importlib
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))

WORKLOADS = {
    "cascade_sink": "perfbench.workloads.cascade_sink:CascadeSink",
    "resume_waves": "perfbench.workloads.resume_waves:ResumeWaves",
    "features_wide": "perfbench.workloads.features_wide:FeaturesWide",
    "query_mix": "perfbench.workloads.query_mix:QueryMix",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench import harness

    missing = harness.missing_sources()
    if missing:
        print(f"perfbench: engine sources not found under {ROOT}: {missing}", file=sys.stderr)
        return 2
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        harness.configure_env(workdir, bool(args.trace))
        mod, cls = WORKLOADS[args.workload].split(":")
        workload = getattr(importlib.import_module(mod), cls)
        res = harness.run(workload, args.seed, args.seconds, bool(args.trace), workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    harness.report(args.workload, res)
    return 0 if res.attempted and not res.failed else 1


if __name__ == "__main__":
    # import this directory's modules as perfbench.*: left on the path as a
    # plain directory, trace.py would shadow the standard library's trace
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    sys.exit(main())
