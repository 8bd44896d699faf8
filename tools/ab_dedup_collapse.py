"""Same-session interleaved A/B: minhash signature table via (_fp -> sig)
rejoin (old) vs collect_list+explode (new). Alternates trials in one JVM so
host steal waves hit both arms equally. Usage:
  SPARK_GRAFT_SF_DIR=... python tools/ab_dedup_collapse.py [pairs]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from tsfeatures_spark.session import default_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(REPO, ".data", "sf1.0"))
CPUS = default_cpus()
PAIRS = int(sys.argv[1]) if len(sys.argv) > 1 else 4


def pairs_old(df, id_col="doc_id", text_col="text", num_hashes=64, bands=16,
              shingle=5, seed=42):
    from tsfeatures_spark.operators.dedup import minhash_signatures

    rows = num_hashes // bands
    d = df.select(F.col(id_col), F.col(text_col))
    fp = d.withColumn("_fp", F.md5(F.col(text_col)))
    reps = fp.groupBy("_fp").agg(F.first(text_col).alias(text_col))
    rep_sig = minhash_signatures(reps, text_col, "_fp", num_hashes, shingle, seed)
    sig = (fp.select(F.col(id_col), "_fp").join(rep_sig, "_fp")
           .select(F.col(id_col), "sig").localCheckpoint())
    return _downstream(sig, id_col, num_hashes, bands, rows)


def pairs_new(df, id_col="doc_id", text_col="text", num_hashes=64, bands=16,
              shingle=5, seed=42):
    from tsfeatures_spark.operators.dedup import minhash_signatures

    rows = num_hashes // bands
    d = df.select(F.col(id_col), F.col(text_col))
    fp = d.withColumn("_fp", F.md5(F.col(text_col)))
    reps = fp.groupBy("_fp").agg(F.first(text_col).alias(text_col),
                                 F.collect_list(id_col).alias("_ids"))
    rep_sig = minhash_signatures(reps, text_col, "_ids", num_hashes, shingle, seed,
                                 id_type="array<string>")
    sig = rep_sig.select(F.explode("_ids").alias(id_col), "sig").localCheckpoint()
    return _downstream(sig, id_col, num_hashes, bands, rows)


def _downstream(sig, id_col, num_hashes, bands, rows):
    banded = sig.select(
        F.col(id_col),
        F.posexplode(F.array(*[
            F.hash(F.slice("sig", i * rows + 1, rows)).alias(f"b{i}")
            for i in range(bands)
        ])).alias("band_id", "band_hash"))
    cand = (banded.alias("l")
            .join(banded.alias("r").hint("shuffle_hash"), ["band_id", "band_hash"])
            .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    pairs = (cand.join(sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
                       .hint("shuffle_hash"), "id_a")
             .join(sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
                   .hint("shuffle_hash"), "id_b"))
    agree = F.aggregate(F.zip_with("sig_a", "sig_b", lambda a, b: (a == b).cast("int")),
                        F.lit(0), lambda acc, v: acc + v)
    return pairs.select("id_a", "id_b",
                        (agree / F.lit(num_hashes)).cast("double").alias("est_jaccard"))


def main() -> None:
    import __spark_entry__ as entrymod
    import tsfeatures_spark.operators.dedup as dedup_mod
    from tsfeatures_spark.session import get_spark

    spark = get_spark("ab_dedup_collapse", cpus=CPUS, shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    entrymod._ensure_pkg_on_executors(spark)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 20))
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 18))

    # warm python workers + scan
    entrymod.queries()["doc_token_counts"](spark, SF_DIR).count()

    res = {"old": [], "new": []}
    for i in range(PAIRS):
        for label, fn in (("old", pairs_old), ("new", pairs_new)):
            dedup_mod.minhash_lsh_pairs = lambda df, text_col="text", id_col="doc_id", \
                num_hashes=64, bands=16, shingle=5, seed=42, _f=fn: _f(
                    df, id_col, text_col, num_hashes, bands, shingle, seed)
            spark.sparkContext.setJobDescription(f"ab {label} #{i}")
            t0 = time.time()
            n = entrymod.queries()["dedup_minhash_lsh"](spark, SF_DIR).count()
            dt = round(time.time() - t0, 3)
            res[label].append(dt)
            print(f"pair {i} {label}: {dt}s rows={n}", flush=True)
    print({k: sorted(v) for k, v in res.items()})
    wins = sum(1 for a, b in zip(res["old"], res["new"]) if b < a)
    print(f"new wins {wins}/{PAIRS} pairs; min old={min(res['old'])} new={min(res['new'])}")


if __name__ == "__main__":
    main()
