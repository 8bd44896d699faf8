"""cascade_sink: one ``rollup_tiers`` pass over a generated token table,
committed as one tier snapshot (zstd parquet partitioned by tier).

The headline write path: ``operators.rollup`` and ``compression`` do
nearly all the work; there is no shuffle and one catalog commit per job.
"""

from __future__ import annotations

import hashlib
import os
import time
import types
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks
from perfbench.metrics import SPARK_LAYERS
from perfbench.harness import cores
from perfbench.stats import median
from perfbench.sparklog import job_group, spark_metrics
from perfbench.trace import TimingCatalog
from perfbench.workloads.common import (
    column_bytes_share, file_bytes, seeded_docs, snapshot_paths, token_properties,
)
from perfbench.workloads.resume_waves import ResumeWaves

# the layers of the resumable tier job, measured in the traced run by
# running the resume_waves job (its catalog.commit_s.tiers and
# catalog.snapshot_files are this workload's own commit here)
RESUME_LAYERS = ResumeWaves.layers - set(SPARK_LAYERS) - {
    "catalog.commit_s.tiers", "catalog.snapshot_files"}

TOKENS = 4_000_000     # docs are generated until they hold this many tokens
FILES = 16             # input files, as write_token_table's 16 buckets
ROW_GROUP_BYTES = 2 << 20
SAMPLE_DOCS = 64       # the first docs by index: checks and kernel timing
CHECK_WINDOW_DOCS = 8  # of those, docs whose first and last windows are recomputed


class CascadeSink:
    name = "cascade_sink"
    # the first job scans, forks the Python workers and compiles; the JIT
    # speeds up the next one too
    warm_jobs = 2
    layers = {
        "rollup.kernel_tok_per_s_1core", "rollup.window_matrix_s", "rollup.partial_self_s",
        "compression.dod_encode_s", "compression.xor_encode_s", "rollup.digest_s",
        "sink.block_bytes_share", "cascade.scan_s", "cascade.compute_s", "cascade.sink_s",
        "cascade.kernel_ideal_s", "cascade.boundary_ratio", "catalog.commit_s.tiers",
        "catalog.snapshot_files", *SPARK_LAYERS, *RESUME_LAYERS,
    }

    def __init__(self, ctx):
        from tsfeatures_spark.sources.catalog import IcebergLiteCatalog

        self.ctx = ctx
        self.spark = ctx.spark
        self.tok_path = os.path.join(ctx.workdir, "tokens")
        self.catalog = IcebergLiteCatalog(os.path.join(ctx.workdir, "warehouse"))
        self.resume = None  # the resume_waves job, run by a traced run
        self.resume_figures: dict = {}

    # -- inputs --------------------------------------------------------------
    def inputs(self) -> None:
        """Generate the token table (sources.generator: lognormal lengths,
        median ~2000, sigma 1.2, 60% hot source) and write it as FILES
        parquet files with ~2 MB row groups."""
        pdf = seeded_docs(self.ctx.seed, TOKENS)
        self.lengths = pdf["n_tok"].to_numpy()
        self.sample = {d: t for d, t in zip(pdf["doc_id"][:SAMPLE_DOCS], pdf["tokens"][:SAMPLE_DOCS])}
        self.sample_source = dict(zip(pdf["doc_id"][:SAMPLE_DOCS], pdf["source"][:SAMPLE_DOCS]))
        os.makedirs(self.tok_path, exist_ok=True)
        schema = pa.schema([("doc_id", pa.string()), ("tokens", pa.list_(pa.int32())),
                            ("n_tok", pa.int32()), ("source", pa.string())])
        for k in range(FILES):
            part = pdf.iloc[k::FILES]
            t = pa.Table.from_pandas(part, schema=schema, preserve_index=False)
            rows = max(1, int(ROW_GROUP_BYTES // max(1, 4 * part["n_tok"].mean())))
            pq.write_table(t, os.path.join(self.tok_path, f"part-{k:05d}.parquet"),
                           row_group_size=rows)

    def warm_up(self) -> None:
        self.toks = self.spark.read.parquet(self.tok_path)

    # -- the job ----------------------------------------------------------------
    def prepare(self) -> None:
        pass

    def job(self, job) -> None:
        from tsfeatures_spark.operators.rollup import rollup_tiers

        with job.timed("cascade"):
            self.catalog.commit(self.spark, "tiers", rollup_tiers(self.toks),
                                mode="overwrite", partition_by=["tier"])

    def figures(self, jobs) -> dict:
        tokens = int(self.lengths.sum())
        return {
            "tokens_per_s": tokens / median([j.wall_s for j in jobs]),
            "stored_bytes_per_token": file_bytes(snapshot_paths(self.catalog, "tiers")) / tokens,
            **self.resume_figures,
        }

    def properties(self) -> dict:
        return {self.name: {**token_properties(self.lengths), "seed": self.ctx.seed,
                            "input_files": FILES},
                **(self.resume.properties() if self.resume else {})}

    # -- correctness -------------------------------------------------------------
    def checks(self):
        from pyspark.sql import functions as F

        from tsfeatures_spark.operators.rollup import TIERS

        out = self.catalog.read(self.spark, "tiers")
        ids = list(self.sample)

        def rows_per_tier():
            got = {r["tier"]: r["count"] for r in out.groupBy("tier").count().collect()}
            return checks.check_rows_per_tier(got, self.lengths)

        def blocks_decode():
            rows = (out.where((F.col("tier") == "1m") & F.col("doc_id").isin(ids))
                    .select("doc_id", "window_id", "block").collect())
            per_doc: dict[str, list] = {d: [] for d in ids}
            for r in rows:
                per_doc[r["doc_id"]].append((r["window_id"], bytes(r["block"])))
            return [p for d in ids for p in checks.check_block_roundtrip(d, per_doc[d], self.sample[d])]

        def window_values():
            docs = ids[:CHECK_WINDOW_DOCS]
            rows = out.where(F.col("doc_id").isin(docs)).drop("block").collect()
            last = {}
            for r in rows:
                key = (r["doc_id"], r["tier"])
                last[key] = max(last.get(key, -1), r["window_id"])
            problems = []
            for r in rows:
                if r["window_id"] not in (0, last[(r["doc_id"], r["tier"])]):
                    continue
                w = TIERS[r["tier"]]
                x = self.sample[r["doc_id"]][r["window_id"] * w:(r["window_id"] + 1) * w]
                where = f"{r['doc_id']} {r['tier']} window {r['window_id']}"
                problems += checks.check_window_values(where, r.asDict(), x)
            return problems

        return [rows_per_tier, blocks_decode, window_values] + (
            self.resume.checks() if self.resume else [])

    # -- traced run ------------------------------------------------------------------
    @contextmanager
    def tracing(self):
        inner = self.catalog
        self.catalog = TimingCatalog(inner, self.ctx.tracer)
        try:
            with job_group(self.spark, "traced"):
                yield
        finally:
            self.catalog = inner

    def _kernel_pass(self) -> float:
        from tsfeatures_spark.operators import rollup

        t = time.perf_counter()
        for d, toks in self.sample.items():
            rollup.rollup_doc(d, self.sample_source[d], np.asarray(toks))
        return time.perf_counter() - t

    @contextmanager
    def _kernel_spans(self):
        """Spans around rollup_doc and the public calls it makes."""
        from tsfeatures_spark.operators import rollup

        tr = self.ctx.tracer
        saved = rollup.hashlib
        rollup.hashlib = types.SimpleNamespace(sha256=tr.wrap(hashlib.sha256, "rollup.sha256"))
        try:
            with tr.patched([(rollup, "rollup_doc", "rollup.rollup_doc"),
                             (rollup, "window_features_matrix", "rollup.window_features_matrix"),
                             (rollup, "dod_encode_windows", "compression.dod_encode_windows"),
                             (rollup, "xor_encode_windows", "compression.xor_encode_windows")]):
                yield
        finally:
            rollup.hashlib = saved

    def layer_probes(self, jobs) -> dict:
        tr = self.ctx.tracer
        sample_tokens = sum(len(t) for t in self.sample.values())
        kernel_rate = sample_tokens / median([self._kernel_pass() for _ in range(3)])
        with self._kernel_spans():
            self._kernel_pass()
        tr.count("rollup.sample_tokens", sample_tokens)
        with job_group(self.spark, "scan"):
            t = time.perf_counter()
            self.toks.write.format("noop").mode("overwrite").save()
            scan_s = time.perf_counter() - t
        from tsfeatures_spark.operators.rollup import rollup_tiers

        with job_group(self.spark, "compute"):
            t = time.perf_counter()
            rollup_tiers(self.toks).write.format("noop").mode("overwrite").save()
            compute_s = time.perf_counter() - t
        ideal_s = int(self.lengths.sum()) / kernel_rate / cores()
        paths = snapshot_paths(self.catalog, "tiers")
        out = {
            "rollup.kernel_tok_per_s_1core": kernel_rate,
            "rollup.window_matrix_s": tr.total("rollup.window_features_matrix"),
            "rollup.partial_self_s": tr.self_total("rollup.rollup_doc"),
            "compression.dod_encode_s": tr.total("compression.dod_encode_windows"),
            "compression.xor_encode_s": tr.total("compression.xor_encode_windows"),
            "rollup.digest_s": tr.total("rollup.sha256"),
            "sink.block_bytes_share": column_bytes_share(paths, "block"),
            "cascade.scan_s": scan_s,
            "cascade.compute_s": compute_s,
            "cascade.sink_s": jobs[1].wall_s - compute_s,  # the untraced job
            "cascade.kernel_ideal_s": ideal_s,
            "cascade.boundary_ratio": compute_s / ideal_s,
            "catalog.commit_s.tiers": tr.total("catalog.commit", table="tiers"),
            "catalog.snapshot_files": float(len(paths)),
        }
        # the resumable path of the same tier store: resume_waves's job
        # (short docs, lineage waves, an incremental append, retention)
        self.resume = ResumeWaves(self.ctx)
        self.resume.group = "resume"
        layers, self.resume_figures = self.resume.probe()
        return {**out, **{k: layers[k] for k in RESUME_LAYERS}}

    def spark_layers(self, groups) -> dict:
        return spark_metrics(groups, ["traced"])
