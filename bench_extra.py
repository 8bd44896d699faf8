"""Per-query measurement harness.

Uses bench.py's session and timing method (same get_spark confs, a
maxPartitionBytes override like the one bench.py's rollup phase leaves
behind, same ``.count()`` action, min of N trials) but runs ONE query (or
a subset) at a time so a change can be measured in isolation, and can
dump ``.explain('formatted')`` plans to plans/r06/.

Usage:
  python bench_extra.py [query ...]              # time queries (default: bench set)
  python bench_extra.py --plans [suffix] [query ...]   # dump plans/r06/<q>_<suffix>.txt
  python bench_extra.py --rollup                 # time the rollup cascade phase
  python bench_extra.py --feats                  # time feats_default_set
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0 — the driver's
     measured scale), SPARK_GRAFT_CPUS, SPARK_GRAFT_QUERY_TRIALS (default 3)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from tsfeatures_spark.session import default_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = default_cpus()
TRIALS = int(os.environ.get("SPARK_GRAFT_QUERY_TRIALS", "3"))


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main() -> None:
    import __spark_entry__ as entrymod
    from tsfeatures_spark.session import get_spark

    args = sys.argv[1:]
    do_plans = "--plans" in args
    do_rollup = "--rollup" in args
    do_feats = "--feats" in args
    args = [a for a in args if not a.startswith("--")]
    suffix = None
    if do_plans and args and args[0] in ("before", "after"):
        suffix = args.pop(0)

    spark = get_spark("bench_extra", cpus=CPUS, shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    entrymod._ensure_pkg_on_executors(spark)
    # bench.py's rollup phase leaves maxPartitionBytes at its 1MB split
    # floor on a many-core host (89MB token table, 16 splits per core)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 18))

    from pyspark.sql import functions as F

    if do_rollup or do_feats:
        from tsfeatures_spark.operators.rollup import rollup_tiers
        from tsfeatures_spark.sources.generator import token_table

        tok_path = os.path.join(REPO, ".data", "tokens_bench_15000")
        toks = spark.read.parquet(tok_path)
        toks.select(F.sum(F.size("tokens"))).collect()
        rollup_tiers(toks.limit(CPUS * 2).repartition(CPUS)).count()
        out = {}
        if do_rollup:
            out_path = os.path.join(REPO, ".data", "rollup_out_extra")
            secs = []
            for _ in range(TRIALS):
                shutil.rmtree(out_path, ignore_errors=True)
                spark.sparkContext.setJobDescription("rollup_cascade trial")
                t0 = time.time()
                (rollup_tiers(toks).write.mode("overwrite")
                 .option("compression", "zstd").partitionBy("tier").parquet(out_path))
                secs.append(round(time.time() - t0, 3))
            out["rollup_cascade"] = sorted(secs)
        if do_feats:
            from tsfeatures_spark.operators.features import features_wide

            fd = token_table(spark, 500, base_seed=7, mean_len=300, max_len=1000).cache()
            fd.count()
            secs = []
            for _ in range(TRIALS):
                spark.sparkContext.setJobDescription("feats_default_set trial")
                t0 = time.time()
                features_wide(fd, scale=True, freq=24).count()
                secs.append(round(time.time() - t0, 3))
            fd.unpersist()
            out["feats_default_set"] = sorted(secs)
        print(json.dumps({"sf": SF_DIR, "cpus": CPUS, "queries_all": out}))
        spark.stop()
        return

    qs = entrymod.queries()
    names = args if args else [
        "q1_pricing_summary", "q5_nation_revenue", "ts_stats_events",
        "ts_crossing_points", "ts_rollup_1m", "ts_rollup_1h_cascade",
        "ts_gapfill_locf", "m_pointwise_metrics", "doc_quality",
        "feats_long_kernels_vs_sql", "emb_knn_bruteforce", "dedup_minhash_lsh",
    ]

    if do_plans:
        os.makedirs(os.path.join(REPO, "plans", "r06"), exist_ok=True)
        for name in names:
            df = qs[name](spark, SF_DIR)
            fn = f"{name}_{suffix}.txt" if suffix else f"{name}.txt"
            with open(os.path.join(REPO, "plans", "r06", fn), "w") as f:
                f.write(formatted(df))
            print("wrote plans/r06/" + fn)
        spark.stop()
        return

    # warm the JVM + python workers the way bench.py's earlier
    # phases do, so first-trial numbers aren't JIT/fork noise
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    qs["doc_quality"](spark, SF_DIR).count()

    results: dict[str, list[float]] = {}
    for name in names:
        secs = []
        for _ in range(max(TRIALS, 1)):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            qs[name](spark, SF_DIR).count()
            secs.append(round(time.time() - t0, 3))
        secs.sort()
        results[name] = secs
        print(f"  {name}: min={secs[0]} all={secs}", file=sys.stderr)
    print(json.dumps({"sf": SF_DIR, "cpus": CPUS,
                      "queries_min": {k: v[0] for k, v in results.items()},
                      "queries_all": results}))
    spark.stop()


if __name__ == "__main__":
    main()
