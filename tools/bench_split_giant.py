"""Straggler-cap evidence (VERDICT r04 #7): plant one 10^7-token doc in a
normal corpus and measure the cascade wall with and without
split_giant_tok. Unsplit, the giant doc serializes ~10^7 tokens of kernel
work into ONE task, so it sets the wall; split (day-aligned segments,
hash-spread across tasks — operators/rollup.py round-5 fix), the wall
drops toward corpus/parallelism. Row identity of the two plans is pinned
separately (tests/test_rollup.py::test_split_giant_spreads_cost).

Usage: python tools/bench_split_giant.py [n_docs] [cpus] [trials]
Writes BENCH/split_giant_bench.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GIANT_TOK = 10_000_000
DAY = 86400


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 3000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    trials = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from tsfeatures_spark.operators.rollup import rollup_tiers
    from tsfeatures_spark.session import get_spark
    from tsfeatures_spark.sources.generator import token_table

    spark = get_spark("split-giant-bench", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    rng = np.random.default_rng(123)
    giant = pd.DataFrame({
        "doc_id": ["giant-planted-0"],
        "tokens": [rng.integers(0, 50000, size=GIANT_TOK).astype(np.int32)],
        "n_tok": [GIANT_TOK], "source": ["web"],
    })
    base = token_table(spark, n_docs, base_seed=77, partitions=cpus * 4,
                       mean_len=2000)
    df = base.unionByName(spark.createDataFrame(giant).select(base.columns)) \
        .cache()
    total_tok = df.agg(F.sum("n_tok")).collect()[0][0]
    # warm python workers + cache
    rollup_tiers(df.limit(cpus).repartition(cpus)).count()

    out: dict = {"n_docs": n_docs + 1, "cpus": cpus, "giant_tok": GIANT_TOK,
                 "total_tok": int(total_tok), "arms": {}}
    for label, split in (("unsplit", None), ("split-4day", 4 * DAY)):
        secs = []
        for _ in range(trials):
            t0 = time.time()
            rollup_tiers(df, split_giant_tok=split).count()
            secs.append(round(time.time() - t0, 3))
        secs.sort()
        out["arms"][label] = {"sec_all": secs, "min": secs[0]}
        print(f"{label:10s} min {secs[0]}s all {secs}", flush=True)
    out["speedup_min"] = round(out["arms"]["unsplit"]["min"]
                               / out["arms"]["split-4day"]["min"], 3)
    with open(os.path.join(REPO, "BENCH", "split_giant_bench.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"speedup_min": out["speedup_min"]}))
    spark.stop()


if __name__ == "__main__":
    main()
