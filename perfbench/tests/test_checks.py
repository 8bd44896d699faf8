"""Each correctness check passes on the engine's output and fails on a
corrupted copy of it."""

import numpy as np
import pandas as pd
import pytest

from perfbench import checks
from tsfeatures_spark.kernels import compute_features
from tsfeatures_spark.operators.rollup import TIERS, rollup_doc
from tsfeatures_spark.sources.generator import gen_doc

HORIZON = {"1m": 2, "1h": 1}


@pytest.fixture(scope="module")
def doc():
    doc_id, tokens, source = gen_doc(5, 3, mean_len=4000.0)
    return doc_id, tokens, rollup_doc(doc_id, source, tokens)


def _blocks(tier_rows):
    return list(zip(tier_rows["window_id"].tolist(), tier_rows["block"]))


def test_rows_per_tier(doc):
    _, tokens, out = doc
    observed = {t: len(out[t]["window_id"]) for t in TIERS}
    assert checks.check_rows_per_tier(observed, [len(tokens)]) == []
    observed["1h"] += 1
    assert checks.check_rows_per_tier(observed, [len(tokens)])


def test_block_roundtrip_passes_on_engine_blocks(doc):
    doc_id, tokens, out = doc
    assert checks.check_block_roundtrip(doc_id, _blocks(out["1m"]), tokens) == []


@pytest.mark.parametrize("pos", [0, 9, 17, -1])
def test_block_roundtrip_fails_on_one_flipped_byte(doc, pos):
    doc_id, tokens, out = doc
    blocks = _blocks(out["1m"])
    w, b = blocks[1]
    bad = bytearray(b)
    bad[pos] ^= 0x01
    blocks[1] = (w, bytes(bad))
    assert checks.check_block_roundtrip(doc_id, blocks, tokens)


def test_block_roundtrip_fails_on_a_missing_window(doc):
    doc_id, tokens, out = doc
    assert checks.check_block_roundtrip(doc_id, _blocks(out["1m"])[:-1], tokens)


def test_window_values(doc):
    doc_id, tokens, out = doc
    rows = out["1m"]
    row = {k: rows[k][2] for k in ["n", *checks.WINDOW_FIELDS]}
    window = tokens[2 * TIERS["1m"]:3 * TIERS["1m"]]
    assert checks.check_window_values("w2", row, window) == []
    assert checks.check_window_values("w2", {**row, "entropy": row["entropy"] * 1.001}, window)
    assert checks.check_window_values("w2", {**row, "n": row["n"] - 1}, window)


def test_window_values_treat_null_as_nan():
    x = np.full(60, 5.0)  # constant window: x_acf1 and entropy are NaN
    ref = compute_features(x, freq=1, features=checks.WINDOW_KERNELS, scale=False)
    row = {"n": 60, **{c: ref[k] for c, k in checks.WINDOW_FIELDS.items()}}
    row["x_acf1"] = None  # what Spark returns for a NaN written from pandas
    assert checks.check_window_values("const", row, x) == []


def test_digest():
    assert checks.check_digest(123, 123) == []
    assert checks.check_digest(123, 124)


def test_lineage_buckets():
    assert checks.check_lineage_buckets(range(16), 16) == []
    assert checks.check_lineage_buckets([*range(16), 3], 16)
    assert checks.check_lineage_buckets(range(15), 16)
    assert checks.check_lineage_buckets([*range(16), 16], 16)


def test_retention():
    lengths = [30, 61, 3600, 7300]
    # 1m keeps min(windows, 2): 1+2+2+2; 1h min(windows, 1): 1+1+1+1; 1d keeps all: 4
    assert checks.expected_retained_rows(lengths, HORIZON) == 7 + 4 + 4
    assert checks.check_retention(15, lengths, HORIZON) == []
    assert checks.check_retention(16, lengths, HORIZON)


def test_feature_rows():
    y = gen_doc(7, 1, mean_len=300.0)[1].astype(float)
    ref = {"s1": compute_features(y, 24, scale=True)}
    assert checks.check_feature_rows({"s1": dict(ref["s1"])}, ref) == []
    bad = dict(ref["s1"])
    bad["alpha"] = bad["alpha"] + 1e-6
    assert checks.check_feature_rows({"s1": bad}, ref)
    assert checks.check_feature_rows({}, ref)


def test_query_fails_on_one_altered_row():
    odf = pd.DataFrame({"k": ["a", "b", "c"], "v": [1.0, 2.5, 3.0]})
    assert checks.check_query("q", odf.copy(), odf) == []
    sdf = odf.copy()
    sdf.loc[1, "v"] = 2.6
    assert checks.check_query("q", sdf, odf)
    assert checks.check_query("q", odf.iloc[:2], odf)

