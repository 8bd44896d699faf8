"""Correctness checks, run outside the timed region.

Each check is a pure function over values the workload collected from the
engine's output and the generated input, and returns a list of problems
(empty when the output is correct). The workloads gather the values; the
tests feed these functions corrupted outputs.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Iterable, Mapping

import numpy as np

from tsfeatures_spark.compression import dod_decode
from tsfeatures_spark.kernels import compute_features
from tsfeatures_spark.operators.rollup import TIERS

# the per-window kernels the rollup mirrors, and rollup column -> kernel key
WINDOW_KERNELS = ["statistics", "acf_features", "crossing_points", "flat_spots",
                  "entropy", "stability", "lumpiness"]
WINDOW_FIELDS = {
    "total_sum": "total_sum", "mean": "mean", "variance": "variance",
    "vmin": "min", "vmax": "max", "x_acf1": "x_acf1", "x_acf10": "x_acf10",
    "crossing_points": "crossing_points", "flat_spots": "flat_spots",
    "entropy": "entropy", "stability": "stability", "lumpiness": "lumpiness",
}


def _close(a, b, rtol: float = 1e-9, atol: float = 1e-9) -> bool:
    """Equal within tolerance; NaN equals NaN, and a null (Spark stores a
    NaN produced in pandas as null) counts as NaN."""
    a, b = (math.nan if v is None else float(v) for v in (a, b))
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return math.isclose(a, b, rel_tol=rtol, abs_tol=atol)


def expected_rows_per_tier(lengths: Iterable[int]) -> dict[str, int]:
    """Rows the cascade emits per tier: one per started window, sum of
    ceil(n_tok / W)."""
    lens = np.asarray(list(lengths), dtype=np.int64)
    return {t: int(((lens + w - 1) // w).sum()) for t, w in TIERS.items()}


def check_rows_per_tier(observed: Mapping[str, int], lengths: Iterable[int]) -> list[str]:
    want = expected_rows_per_tier(lengths)
    return [f"tier {t}: {observed.get(t, 0)} rows, expected {n}"
            for t, n in want.items() if observed.get(t, 0) != n]


def check_block_roundtrip(doc_id: str, blocks: Iterable[tuple[int, bytes]],
                          tokens: np.ndarray) -> list[str]:
    """The doc's 1m blocks, in window order, decode to its input tokens."""
    blocks = sorted(blocks)
    ids = [w for w, _ in blocks]
    if ids != list(range(len(ids))):
        return [f"{doc_id}: 1m window ids {ids[:5]}... are not 0..{len(ids) - 1}"]
    try:
        decoded = [dod_decode(bytes(b)) for _, b in blocks]
    except Exception as e:  # a corrupt block may fail any structural check
        return [f"{doc_id}: 1m block does not decode: {type(e).__name__}: {e}"]
    got = np.concatenate(decoded) if decoded else np.empty(0, dtype=np.int64)
    want = np.asarray(tokens, dtype=np.int64)
    if not np.array_equal(got, want):
        n = min(len(got), len(want))
        diff = np.flatnonzero(got[:n] != want[:n])
        first = int(diff[0]) if len(diff) else n
        return [f"{doc_id}: decoded {len(got)} tokens, input has {len(want)}; "
                f"first difference at token {first}"]
    return []


def check_window_values(where: str, row: Mapping[str, float],
                        window: np.ndarray) -> list[str]:
    """A tier row's values equal compute_features(window, freq=1,
    scale=False) over the raw tokens of its window."""
    x = np.asarray(window, dtype=np.float64)
    ref = compute_features(x, freq=1, features=WINDOW_KERNELS, scale=False)
    problems = [] if int(row["n"]) == len(x) else [f"{where}: n {row['n']} != {len(x)}"]
    problems += [f"{where}: {col} {row[col]!r} != reference {ref[key]!r}"
                 for col, key in WINDOW_FIELDS.items() if not _close(row[col], ref[key])]
    return problems


def check_digest(got: int, want: int) -> list[str]:
    return [] if int(got) == int(want) else [
        f"tier digest {got} != uninterrupted rollup digest {want}"]


def check_lineage_buckets(buckets: Iterable[int], n_buckets: int) -> list[str]:
    """Each bucket 0..n_buckets-1 appears exactly once in lineage."""
    c = Counter(int(b) for b in buckets)
    problems = [f"bucket {b} appears {c.get(b, 0)} times in lineage"
                for b in range(n_buckets) if c.get(b, 0) != 1]
    extra = sorted(set(c) - set(range(n_buckets)))
    return problems + ([f"unknown buckets in lineage: {extra}"] if extra else [])


def expected_retained_rows(lengths: Iterable[int], horizon: Mapping[str, int]) -> int:
    """Rows ``apply_retention`` keeps: per doc and tier the newest
    ``horizon[tier]`` windows (all windows of a tier without a horizon)."""
    lens = np.asarray(list(lengths), dtype=np.int64)
    total = 0
    for t, w in TIERS.items():
        nw = (lens + w - 1) // w
        total += int(np.minimum(nw, horizon[t]).sum()) if t in horizon else int(nw.sum())
    return total


def check_retention(kept: int, lengths: Iterable[int], horizon: Mapping[str, int]) -> list[str]:
    want = expected_retained_rows(lengths, horizon)
    return [] if int(kept) == want else [f"retention kept {kept} rows, horizon predicts {want}"]


def check_feature_rows(got: Mapping[str, Mapping[str, float]],
                       ref: Mapping[str, Mapping[str, float]]) -> list[str]:
    """Spark feature rows equal the per-series reference path
    (``compute_features``), field by field."""
    problems = [f"series {k}: missing from the output" for k in ref if k not in got]
    for k, want in ref.items():
        if k in got:
            problems += [f"series {k}: {f} {got[k].get(f)!r} != reference {v!r}"
                         for f, v in want.items() if not _close(got[k].get(f, math.nan), v)]
    return problems


def check_query(name: str, sdf, odf) -> list[str]:
    """A query's Spark result equals its DuckDB mirror."""
    from tools.check_correctness import compare

    return [f"{name}: {p}" for p in compare(name, sdf, odf)]

