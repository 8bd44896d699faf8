"""Helpers shared by the workloads: input properties and file sizes."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from tsfeatures_spark.operators.rollup import TIERS
from tsfeatures_spark.sources.generator import gen_doc


def seeded_docs(seed: int, tokens: int, **kw) -> pd.DataFrame:
    """Docs 0, 1, 2, ... of the seeded generator (``sources.generator``)
    until they hold at least ``tokens`` tokens. The input size is then the
    same for every seed and only the docs differ; a fixed doc count would
    let the heavy-tailed lengths change the work from seed to seed."""
    rows, total = [], 0
    while total < tokens:
        rows.append(gen_doc(seed, len(rows), **kw))
        total += len(rows[-1][1])
    return pd.DataFrame({
        "doc_id": [r[0] for r in rows],
        "tokens": [r[1] for r in rows],
        "n_tok": np.array([len(r[1]) for r in rows], dtype=np.int32),
        "source": [r[2] for r in rows],
    })


def token_properties(lengths) -> dict:
    """Measured properties of a token table the cascade depends on: the
    share of docs shorter than each tier window (their rows come from the
    partial-window path) and the share of tokens inside full windows."""
    n = np.asarray(lengths, dtype=np.int64)
    out = {
        "docs": int(len(n)),
        "tokens": int(n.sum()),
        "doc_len": {"min": int(n.min()), "median": float(np.median(n)),
                    "p90": float(np.percentile(n, 90)), "max": int(n.max())},
    }
    for t, w in TIERS.items():
        out[f"share_docs_shorter_than_{t}"] = float((n < w).mean())
        out[f"share_tokens_in_full_{t}_windows"] = float(((n // w) * w).sum() / n.sum())
    return out


def snapshot_paths(catalog, table: str) -> list[str]:
    snap = catalog.snapshot(table)
    return [os.path.join(catalog._tdir(table), f) for f in snap["files"]]


def file_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


def column_bytes_share(paths, column: str) -> float:
    """``column``'s share of the compressed column-chunk bytes, from the
    parquet footers."""
    import pyarrow.parquet as pq

    col = total = 0
    for p in paths:
        md = pq.ParquetFile(p).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for c in range(g.num_columns):
                cc = g.column(c)
                total += cc.total_compressed_size
                if cc.path_in_schema == column:
                    col += cc.total_compressed_size
    return col / total if total else 0.0


def slope(ys) -> float:
    """Least-squares slope of ``ys`` against their index."""
    ys = np.asarray(ys, dtype=float)
    if len(ys) < 2:
        return 0.0
    return float(np.polyfit(np.arange(len(ys)), ys, 1)[0])

