"""Tier-rollup correctness: per-window feature parity vs the NumPy kernels
(the FIXTURES.md §6 oracle), token-array equality through compression, and
the SQL algebraic cascade merge (1h-from-1m == 1h-from-raw)."""

import numpy as np
import pandas as pd
import pytest

from tsfeatures_spark.compression import dod_decode, xor_decode
from tsfeatures_spark.kernels import compute_features
from tsfeatures_spark.operators.rollup import (
    TIERS,
    HOLISTIC_FIELDS,
    merge_algebraic,
    rollup_doc,
    rollup_tiers,
    window_features_matrix,
)
from tsfeatures_spark.sources.generator import gen_doc, gen_pandas, token_table

KFEATS = ["statistics", "acf_features", "crossing_points", "flat_spots",
          "entropy", "stability", "lumpiness"]

FIELD_MAP = {  # rollup column -> kernel output key
    "total_sum": "total_sum", "mean": "mean", "variance": "variance",
    "vmin": "min", "vmax": "max", "x_acf1": "x_acf1", "x_acf10": "x_acf10",
    "crossing_points": "crossing_points", "flat_spots": "flat_spots",
    "entropy": "entropy", "stability": "stability", "lumpiness": "lumpiness",
}


def _assert_close(a, b, msg):
    if np.isnan(a) and np.isnan(b):
        return
    assert np.isclose(a, b, rtol=1e-9, atol=1e-9), f"{msg}: {a} != {b}"


def test_window_features_matrix_matches_kernels():
    rng = np.random.default_rng(1)
    W = 60
    X = np.round(rng.normal(2000, 300, size=(7, W)))
    X[2] = 5.0  # constant window
    X[3, :30] = 0.0  # zero-heavy window
    feats = window_features_matrix(X)
    for w in range(X.shape[0]):
        ref = compute_features(X[w], freq=1, features=KFEATS, scale=False)
        for col, key in FIELD_MAP.items():
            _assert_close(feats[col][w], ref[key], f"w{w} {col}")


@pytest.mark.parametrize("nw", [1, 2, 7])
def test_window_features_matrix_batch_invariant(nw):
    """A window's row is the same bit for bit whether it is computed alone
    or with other windows in one call: the slice kernel batches windows of
    many docs, so a value must not depend on the batch it lands in."""
    rng = np.random.default_rng(nw)
    X = np.round(rng.normal(2000, 300, size=(nw, 60)))
    X[0, :30] = 0.0
    batched = window_features_matrix(X)
    for i in range(nw):
        alone = window_features_matrix(X[i : i + 1])
        for col, v in batched.items():
            a = np.asarray(alone[col][0])
            assert a.tobytes() == np.asarray(v[i]).tobytes(), (i, col, a, v[i])


@pytest.mark.parametrize("n", [1, 2, 3, 9, 10, 11, 12, 19, 20, 21, 59, 400, 1399, 3599])
def test_partial_window_row_matches_kernels(n):
    """The fused partial-row (round 4: one demean pass, one tile reshape,
    inline pd.cut codes) must equal the per-kernel composition it replaced,
    bit-for-bit on every field, including constant / zero / two-valued
    series and every length-guard boundary (acf at n=2/11, x_acf10 at
    n=10/11, stability at n=19/20/21)."""
    from tsfeatures_spark.kernels import stats as st
    from tsfeatures_spark.kernels.features import (
        crossing_points, entropy, flat_spots, lumpiness, stability,
    )
    from tsfeatures_spark.operators.rollup import _partial_window_row

    rng = np.random.default_rng(n)
    series = [rng.integers(0, 50000, size=n).astype(float),
              np.zeros(n), np.full(n, 7.0),
              rng.integers(0, 2, size=n).astype(float)]
    for xw in series:
        got = _partial_window_row(xw)
        with np.errstate(all="ignore"):
            m = float(np.mean(xw))
            m2 = float(((xw - m) ** 2).sum())
            exp = {
                "n": n, "total_sum": float(np.sum(xw)),
                "vmin": float(np.min(xw)), "vmax": float(np.max(xw)),
                "mean": m, "m2": m2 if n > 1 else 0.0,
                "variance": m2 / (n - 1) if n > 1 else float("nan"),
                "x_acf1": np.nan, "x_acf10": np.nan,
                "crossing_points": crossing_points(xw)["crossing_points"],
                "flat_spots": flat_spots(xw)["flat_spots"],
                "entropy": entropy(xw)["entropy"],
                "stability": stability(xw, 1)["stability"],
                "lumpiness": lumpiness(xw, 1)["lumpiness"],
            }
            if n > 1 and np.isfinite(m2) and m2 > 0:
                r = st.acf_biased(xw, 10)
                exp["x_acf1"] = float(r[1])
                if n > 10:
                    exp["x_acf10"] = float(np.sum(r[1:11] ** 2))
        assert set(got) == set(exp)
        for k, v in exp.items():
            g = got[k]
            if isinstance(v, float) and np.isnan(v):
                assert np.isnan(g), f"n={n} {k}: {g} != nan"
            else:
                assert g == v, f"n={n} {k}: {g} != {v}"


@pytest.mark.parametrize("n", [1, 2, 59, 60, 61, 3600, 3661, 90000])
def test_rollup_doc_parity_and_blocks(n):
    doc_id, tokens, src = gen_doc(42, 7)
    tokens = tokens[:n] if len(tokens) >= n else np.resize(tokens, n)
    per_tier = rollup_doc("d", "s", tokens)
    for tier, W in TIERS.items():
        rows = per_tier[tier]
        nw = len(rows["window_id"])
        assert nw == (n + W - 1) // W or (n % W == 0 and nw == n // W)
        for w in range(nw):
            xw = tokens[w * W : (w + 1) * W].astype(float)
            ref = compute_features(xw, freq=1, features=KFEATS, scale=False)
            for col, key in FIELD_MAP.items():
                _assert_close(rows[col][w], ref[key], f"{tier} w{w} {col}")
            assert rows["n"][w] == len(xw)
        # token-array equality: 1m blocks decode to the raw window exactly
        if tier == "1m":
            for w in range(nw):
                dec = dod_decode(rows["block"][w])
                assert np.array_equal(dec, tokens[w * W : (w + 1) * W].astype(np.int64))
        else:
            # downsample blocks: child-tier means round-trip bit-exactly
            child = "1m" if tier == "1h" else "1h"
            ratio = W // TIERS[child]
            cm = np.asarray(per_tier[child]["mean"], dtype=float)
            for w in range(nw):
                dec = xor_decode(rows["block"][w])
                expect = cm[w * ratio : (w + 1) * ratio]
                assert np.array_equal(dec.view(np.uint64), expect.view(np.uint64))


def test_rollup_tiers_spark_end_to_end(spark):
    df = token_table(spark, n_docs=30, base_seed=42, partitions=4, mean_len=800)
    out = rollup_tiers(df).cache()
    pdf = out.toPandas()
    assert set(pdf["tier"]) == {"1m", "1h", "1d"}
    # cross-check 5 docs against the local oracle
    for doc_id in pdf["doc_id"].unique()[:5]:
        i = int(doc_id.split("-")[-1])
        _, tokens, src = gen_doc(42, i, mean_len=800)
        local = rollup_doc(doc_id, src, tokens)
        for tier in TIERS:
            sub = pdf[(pdf.doc_id == doc_id) & (pdf.tier == tier)].sort_values("window_id")
            assert len(sub) == len(local[tier]["window_id"])
            for col in ["mean", "variance", "x_acf1", "entropy", "flat_spots"]:
                got = sub[col].to_numpy()
                exp = np.asarray(local[tier][col], dtype=float)
                assert np.allclose(got, exp, rtol=1e-12, equal_nan=True), (doc_id, tier, col)
            assert list(sub["block_digest"]) == list(local[tier]["block_digest"])

    # no shuffle in the rollup plan
    plan = out._sc is not None and rollup_tiers(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    # SQL algebraic cascade: 1h derived from stored 1m == 1h computed from raw
    derived = merge_algebraic(out, "1m", "1h").toPandas().set_index(["doc_id", "window_id"]).sort_index()
    direct = (
        pdf[pdf.tier == "1h"][["doc_id", "window_id", "n", "total_sum", "vmin", "vmax", "mean", "m2", "variance"]]
        .set_index(["doc_id", "window_id"]).sort_index()
    )
    assert len(derived) == len(direct)
    for col in ["n", "total_sum", "vmin", "vmax", "mean", "variance"]:
        assert np.allclose(derived[col].to_numpy(), direct[col].to_numpy(), rtol=1e-9, equal_nan=True), col
    out.unpersist()


def test_rollup_tiers_skips_null_and_empty_tokens(spark):
    """A doc whose tokens are null or empty yields no rows, and the other
    docs of the same Arrow batch still roll up."""
    from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

    _, tokens, _ = gen_doc(42, 3, mean_len=300)
    schema = StructType([StructField("doc_id", StringType()),
                         StructField("tokens", ArrayType(IntegerType())),
                         StructField("source", StringType())])
    rows = [("null", None, "web"), ("empty", [], "web"), ("ok", tokens.tolist(), "web")]
    df = spark.createDataFrame(rows, schema).coalesce(1)
    pdf = rollup_tiers(df).toPandas()
    assert set(pdf["doc_id"]) == {"ok"}
    local = rollup_doc("ok", "web", tokens)
    for tier in TIERS:
        sub = pdf[pdf.tier == tier].sort_values("window_id")
        assert list(sub["block_digest"]) == list(local[tier]["block_digest"])


def test_features_wide_spark_matches_kernels(spark):
    from tsfeatures_spark.kernels.fixtures import USAccDeaths, WWWusage
    from tsfeatures_spark.operators.features import features_wide

    pdf = pd.DataFrame(
        {
            "doc_id": ["usacc", "www"],
            "tokens": [USAccDeaths.astype(np.int32), WWWusage.astype(np.int32)],
            "seasonality": [12, 1],
        }
    )
    df = spark.createDataFrame(pdf)
    names = ["acf_features", "arch_stat", "crossing_points", "entropy", "flat_spots",
             "lumpiness", "pacf_features", "stability", "unitroot_kpss", "unitroot_pp",
             "series_length", "hurst", "statistics", "sparsity"]
    got = features_wide(df, features=names, seasonality_col="seasonality", scale=True).toPandas().set_index("doc_id")
    for doc, series, m in [("usacc", USAccDeaths, 12), ("www", WWWusage, 1)]:
        exp = compute_features(series, m, names, scale=True)
        for k, v in exp.items():
            g = got.loc[doc, k]
            assert (np.isnan(g) and np.isnan(v)) or np.isclose(g, v, rtol=1e-12, atol=1e-12), (doc, k)


def test_split_giant_spreads_cost(spark):
    """The straggler cap must actually redistribute work: posexplode alone
    leaves every segment of a giant doc in the parent's input partition,
    so one task still carries the whole doc (round-5 fix). Pin (a) the
    rollup_tiers split plan shuffles ONLY the giant branch, and (b) the
    segments of one giant doc land across multiple partitions with
    bounded per-partition cost."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tsfeatures_spark.operators.rollup import rollup_tiers
    from tsfeatures_spark.operators.skew import DAY, split_giant_docs
    from tsfeatures_spark.sources.generator import token_table

    small = token_table(spark, 20, base_seed=5, partitions=2, mean_len=500)
    rng = np.random.default_rng(11)
    giant_toks = rng.integers(0, 5000, size=8 * DAY).astype(np.int32)
    giant = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["giant-0"], "tokens": [giant_toks],
        "n_tok": [len(giant_toks)], "source": ["web"],
    }))
    df = small.unionByName(giant.select(small.columns)).coalesce(1)

    plan = (rollup_tiers(df, split_giant_tok=DAY)
            ._jdf.queryExecution().executedPlan().toString())
    # exactly one Exchange: the hash repartition of the giant segments;
    # the small-doc branch stays shuffle-free
    assert plan.count("Exchange") == 1 and "hashpartitioning(doc_id" in plan

    seg = split_giant_docs(df.where(F.col("n_tok") > DAY), max_tok=DAY) \
        .repartition(spark.sparkContext.defaultParallelism, "doc_id", "seg_id")
    per_part = (seg.select(F.spark_partition_id().alias("pid"), "n_tok")
                .groupBy("pid").agg(F.sum("n_tok").alias("cost")).toPandas())
    # 8 day-segments spread over several tasks; hash collisions may stack
    # a few segments, but no task may carry anywhere near the whole doc
    assert len(per_part) >= 3
    assert per_part["cost"].max() <= len(giant_toks) // 2

    # row identity vs the unsplit computation still holds through the
    # union path (complements test_operators.py's identity check)
    cols = ["tier", "doc_id", "window_id", "mean", "variance", "block_digest"]
    a = (rollup_tiers(df, split_giant_tok=DAY).select(cols).toPandas()
         .sort_values(cols[:3]).reset_index(drop=True))
    b = (rollup_tiers(df).select(cols).toPandas()
         .sort_values(cols[:3]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b)
