"""Benchmark harness. Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "rollup": {...}}

Phases:
1. Token-table tier-cascade rollup (the engine's headline): read the cached
   deterministic token table (generated once under .data/), run the
   raw->1m->1h->1d single-scan cascade, write parquet snapshots.
   Headline number = tokens/sec ingested end-to-end.
2. Representative SQL/operator queries over $SPARK_GRAFT_SF_DIR.

Env:
  SPARK_GRAFT_SF_DIR   (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     (default: the cores this process may run on)
  SPARK_GRAFT_BENCH_DOCS (default 15000 -> ~60M tokens)
  SPARK_GRAFT_TRIALS   (rollup passes, default 5)
  SPARK_GRAFT_QUERY_TRIALS (features and per-query passes, default 3)
  SPARK_GRAFT_FEAT_SERIES (features phase series, default 500)

Each phase runs a fixed number of passes and reports the min (headline)
and the full spread. Scaling from N to 4N cores is measured with
perfbench under ``taskset`` (see README "Running").
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

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus()
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "15000"))
DATA_DIR = os.path.join(REPO, ".data")

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q5_nation_revenue",
    "ts_stats_events",
    "ts_crossing_points",
    "ts_rollup_1m",
    "ts_rollup_1h_cascade",
    "ts_gapfill_locf",
    "m_pointwise_metrics",
    "doc_quality",
    # NOTE: doc_ngram_jaccard stays in the correctness gate but not here —
    # on this synthetic word-salad corpus every trigram is near-universal,
    # so the within-block self-join is inherently O(pairs) and measures
    # corpus pathology, not engine throughput (real corpora are Zipfian;
    # the scale path for near-dup at 100 TB is minhash LSH anyway).
    "feats_long_kernels_vs_sql",
    "emb_knn_bruteforce",
    "dedup_minhash_lsh",
]


def ensure_token_table(spark, path: str) -> None:
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker):
        return
    from tsfeatures_spark.sources.generator import write_token_table

    write_token_table(spark, path, n_docs=N_DOCS, base_seed=42, buckets=max(CPUS * 2, 16))


def _passes(var: str, default: int) -> int:
    """The fixed number of timed passes set by ``var``; at least one."""
    return max(int(os.environ.get(var, str(default))), 1)


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from tsfeatures_spark.operators.rollup import rollup_tiers
    from tsfeatures_spark.session import get_spark

    spark = get_spark("bench", cpus=CPUS, shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    # ship the package zip (spark-submit --py-files mechanism): the Python
    # workers don't inherit the driver's sys.path
    entrymod._ensure_pkg_on_executors(spark)

    tok_path = os.path.join(DATA_DIR, f"tokens_bench_{N_DOCS}")
    ensure_token_table(spark, tok_path)
    # size input splits for ~4 tasks/core: with the default 128MB split the
    # whole table is ~1 task per core and lognormal doc-length skew makes
    # stragglers set the wall clock (observed local[32] SLOWER than
    # local[8]); finer splits let the scheduler balance.
    total_bytes = sum(
        os.path.getsize(os.path.join(dp, fn))
        for dp, _, fns in os.walk(tok_path) for fn in fns if fn.endswith(".parquet")
    )
    # ~16 tasks/core: measured best on this box (granularity sweep: 2/core
    # 31.1s, 4/core 41.2s, 8/core 30.8s, 16/core 25.8s at local[16]) — fine
    # tasks smooth lognormal doc-length stragglers and VM steal hiccups
    split = max(total_bytes // (CPUS * 16), 1 << 20)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 18))
    toks = spark.read.parquet(tok_path)
    total_tokens = toks.agg(F.sum("n_tok")).collect()[0][0]

    out_path = os.path.join(DATA_DIR, "rollup_out")
    shutil.rmtree(out_path, ignore_errors=True)

    # warm the scan + JIT with a cheap pass so the measured number is the
    # steady-state pipeline, not first-query JVM warmup
    toks.select(F.sum(F.size("tokens"))).collect()
    # ...and the Python-worker daemons: the first pandas-UDF job forks one
    # worker per core and imports numpy/pandas in each — ~1.5s that would
    # otherwise land INSIDE the first timed trial and bias the short
    # (high-core) runs the most (a pure scan pass never starts them)
    # (repartition to CPUS so one worker forks per core, not just one)
    rollup_tiers(toks.limit(CPUS * 2).repartition(CPUS)).count()
    # best-of-N trials: the sandbox VM has heavy steal-time noise (identical
    # consecutive runs vary 3x); min wall time = the pipeline's capability.
    # The JSON records the full spread and the median.
    trials = _passes("SPARK_GRAFT_TRIALS", 5)
    trial_secs: list[float] = []
    for _ in range(trials):
        shutil.rmtree(out_path, ignore_errors=True)
        t0 = time.time()
        (
            rollup_tiers(toks).write.mode("overwrite")
            .option("compression", "zstd")
            .partitionBy("tier")
            .parquet(out_path)
        )
        trial_secs.append(round(time.time() - t0, 3))
    trial_secs.sort()
    rollup_sec = trial_secs[0]
    rollup_median = trial_secs[len(trial_secs) // 2]
    tokens_per_sec = total_tokens / rollup_sec

    qs = entrymod.queries()
    timings: dict[str, float] = {}
    timings["rollup_cascade"] = round(rollup_sec, 3)
    q_trials = _passes("SPARK_GRAFT_QUERY_TRIALS", 3)
    # reference-API throughput: the full default 17-kernel tsfeatures
    # set (incl. Holt/HW/GARCH/STL fits) over M4-scale series — the
    # single-node comparison point vs the reference's
    # multiprocessing+statsmodels pipeline (which cannot run here:
    # its deps aren't installed — SURVEY.md §7.0)
    from tsfeatures_spark.operators.features import features_wide
    from tsfeatures_spark.sources.generator import token_table

    n_series = int(os.environ.get("SPARK_GRAFT_FEAT_SERIES", "500"))
    fd = token_table(spark, n_series, base_seed=7, mean_len=300, max_len=1000).cache()
    fd.count()
    feat_secs = []
    for _ in range(q_trials):
        t0 = time.time()
        features_wide(fd, scale=True, freq=24).count()
        feat_secs.append(round(time.time() - t0, 3))
    feat_secs.sort()
    feats_sec = feat_secs[0]
    timings["feats_default_set"] = feats_sec
    feats_stats = {"n_series": n_series, "series_per_sec": round(n_series / feats_sec, 1),
                   "sec_all": feat_secs,
                   "sec_median": feat_secs[len(feat_secs) // 2]}
    fd.unpersist()
    # min-of-N per query: this host's steal noise produced phantom
    # single-trial "regressions" in r01->r02 comparisons (all small queries
    # drifting together); min over >=3 draws reads the pipeline, not the VM
    query_spread: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        secs = []
        for _ in range(q_trials):
            t0 = time.time()
            # count() forces full execution without driver-side materialization
            qs[name](spark, SF_DIR).count()
            secs.append(round(time.time() - t0, 3))
        secs.sort()
        timings[name] = secs[0]
        query_spread[name] = secs

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "rollup+query wall time (tokens/sec in rollup.tokens_per_sec)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                "cpus": CPUS,
                "rollup": {
                    "n_docs": N_DOCS,
                    "tokens": int(total_tokens),
                    "sec": round(rollup_sec, 3),
                    "tokens_per_sec": int(tokens_per_sec),
                    "trials": len(trial_secs),
                    "sec_median": round(rollup_median, 3),
                    "sec_all": trial_secs,
                    "tokens_per_sec_median": int(total_tokens / rollup_median),
                },
                "features": feats_stats,
                "query_trials": q_trials,
                "queries_all": query_spread,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
