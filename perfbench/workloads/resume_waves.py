"""resume_waves: the resumable, lineage-tracked tier job on short docs.

A token table of many short docs is bootstrapped into an
``IcebergLiteCatalog``. One job is then ``ResumableRollupJob.run`` over 16
buckets in WAVES waves, one appended token snapshot processed by
``incremental_rollup``, and ``apply_retention``. Per-wave catalog commits
and the lineage read-back (which re-reads the whole output table every
wave) dominate, not the rollup kernel.
"""

from __future__ import annotations

import itertools
import os
from contextlib import contextmanager, nullcontext

import numpy as np

from perfbench import checks
from perfbench.metrics import SPARK_LAYERS
from perfbench.stats import median
from perfbench.sparklog import job_group, spark_metrics
from perfbench.trace import TimingCatalog
from perfbench.workloads.common import file_bytes, slope, snapshot_paths, token_properties

N_DOCS = 400
MEAN_LEN = 300.0
N_BUCKETS = 16
WAVES = 2
APPEND_DOCS = 40
# windows kept per tier: drops most 1m rows of these short docs
HORIZON = {"1m": 2, "1h": 1, "1d": 1}


def _digest(df) -> tuple[int, int]:
    """Sum of xxhash64 over (doc_id, tier, window_id, block_digest), the
    lineage table's content digest over a whole tier table, and its rows."""
    from pyspark.sql import functions as F

    h = F.pmod(F.xxhash64("doc_id", "tier", "window_id", "block_digest"), F.lit(1 << 40))
    row = df.agg(F.sum(h.cast("decimal(38,0)")), F.count(F.lit(1))).collect()[0]
    return int(row[0]), int(row[1])


class ResumeWaves:
    name = "resume_waves"
    # the timed job is the first in the session: the warm-up forks and warms
    # the Python workers, but the catalog and lineage plans compile inside
    # the job, as they do when a resumable job is launched
    warm_jobs = 0
    layers = {
        *SPARK_LAYERS, "catalog.commit_s.tiers", "catalog.commit_s.lineage", "catalog.read_s",
        "catalog.snapshot_files", "lineage.wave_s.first", "lineage.wave_s.last",
        "lineage.readback_growth_s_per_wave", "incremental.diff_s",
        "retention.rows_kept_share", "retention.rewrite_bytes_per_kept_byte",
    }

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self._warehouses = itertools.count()
        self.pool: list = []  # bootstrapped warehouses no job has used yet
        self.done: list = []  # (catalog, tier snapshot before retention) per job
        self.traced_k = -1    # the traced job's index in ``done``
        self.group = "traced"  # the job group of the traced job

    # -- inputs --------------------------------------------------------------
    def inputs(self) -> None:
        """Bootstrap the seeded token table into a fresh warehouse."""
        from tsfeatures_spark.plans.lineage import bootstrap_tokens
        from tsfeatures_spark.sources.catalog import IcebergLiteCatalog

        wh = os.path.join(self.ctx.workdir, f"warehouse-{next(self._warehouses)}")
        self.catalog = IcebergLiteCatalog(wh)
        bootstrap_tokens(self.spark, self.catalog, "tokens", n_docs=N_DOCS,
                         base_seed=self.ctx.seed, n_buckets=N_BUCKETS, mean_len=MEAN_LEN)
        self.pool.append(self.catalog)

    def _appended(self):
        """The late-arriving snapshot: APPEND_DOCS more docs of the same
        seeded generator, with doc indices after the bootstrapped ones."""
        from pyspark.sql import functions as F

        from tsfeatures_spark.sources.generator import TOKEN_SCHEMA, gen_pandas

        pdf = gen_pandas(self.ctx.seed, np.arange(N_DOCS, N_DOCS + APPEND_DOCS), mean_len=MEAN_LEN)
        df = self.spark.createDataFrame(pdf, schema=TOKEN_SCHEMA)
        return df.withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)))

    def warm_up(self) -> None:
        """The uninterrupted reference: one ``rollup_tiers`` over the
        bootstrapped and the appended docs together, digested. It runs the
        rollup on every Python worker before the timed job."""
        from tsfeatures_spark.operators.rollup import rollup_tiers

        cols = ["doc_id", "tokens", "source", "n_tok"]
        both = self.catalog.read(self.spark, "tokens").select(cols).unionByName(
            self._appended().select(cols))
        self.lengths = both.select("n_tok").toPandas()["n_tok"].to_numpy()
        self.reference_digest = _digest(rollup_tiers(both.drop("n_tok")))[0]

    # -- the job ----------------------------------------------------------------
    def prepare(self) -> None:
        """Every job starts on a freshly bootstrapped warehouse: the ones
        set-up made first, then new ones."""
        if not self.pool:
            self.inputs()
        self.catalog = self.pool.pop(0)

    def job(self, job) -> None:
        from tsfeatures_spark.plans.lineage import ResumableRollupJob
        from tsfeatures_spark.streaming.incremental import apply_retention, incremental_rollup

        spark, tr = self.spark, self.ctx.tracer
        cat = TimingCatalog(self.catalog, tr) if self.tracing_on else self.catalog
        with job.timed("resume_job_s"), (tr.span("lineage.run") if self.tracing_on else nullcontext()):
            ResumableRollupJob(spark, cat, "tokens", n_buckets=N_BUCKETS, waves=WAVES).run()
        cat.commit(spark, "tokens", self._appended(), mode="append", partition_by=["bucket"])
        with job.timed("incremental_append_s"):
            incremental_rollup(spark, cat, "tokens", "tiers", "lineage")
        if self.tracing_on:
            self.traced_k = len(self.done)
        self.done.append((self.catalog, self.catalog.current_snapshot_id("tiers")))
        with job.timed("retention_s"):
            apply_retention(spark, cat, "tiers", horizon=HORIZON)

    def _outcome(self, k: int) -> dict:
        """What job ``k`` left in its warehouse, read after the timed loop:
        the tier snapshot before retention is read back by time travel."""
        from pyspark.sql import functions as F

        cat, pre = self.done[k]
        spark = self.spark
        digest, rows = _digest(cat.read(spark, "tiers", pre))
        return {
            "tier_digest": digest,
            "lineage_buckets": [r["bucket"] for r in cat.read(spark, "lineage")
                                .where(F.col("wave_id") >= 0).select("bucket").collect()],
            "rows_before": rows,
            "rows_kept": cat.read(spark, "tiers").count(),
            "paths_before": [os.path.join(cat._tdir("tiers"), f)
                             for f in cat.snapshot("tiers", pre)["files"]],
            "paths_after": snapshot_paths(cat, "tiers"),
        }

    def figures(self, jobs) -> dict:
        return {k: median([j.wall[k] for j in jobs])
                for k in ("resume_job_s", "incremental_append_s", "retention_s")}

    def properties(self) -> dict:
        return {self.name: {**token_properties(self.lengths), "seed": self.ctx.seed,
                            "bootstrapped_docs": N_DOCS, "appended_docs": APPEND_DOCS,
                            "buckets": N_BUCKETS, "waves": WAVES, "retention_horizon": HORIZON}}

    # -- correctness -------------------------------------------------------------
    def checks(self):
        out = {}

        def last():
            if not out:
                out.update(self._outcome(-1))
            return out

        def digest_matches_uninterrupted():
            return checks.check_digest(last()["tier_digest"], self.reference_digest)

        def each_bucket_once():
            return checks.check_lineage_buckets(last()["lineage_buckets"], N_BUCKETS)

        def retention_rows():
            return checks.check_retention(last()["rows_kept"], self.lengths, HORIZON)

        return [digest_matches_uninterrupted, each_bucket_once, retention_rows]

    # -- traced run ------------------------------------------------------------------
    tracing_on = False

    @contextmanager
    def tracing(self):
        from tsfeatures_spark.streaming import incremental

        self.tracing_on = True
        try:
            with self.ctx.tracer.patched(
                    [(incremental, "new_docs_since", "incremental.new_docs_since")]), \
                    job_group(self.spark, self.group):
                yield
        finally:
            self.tracing_on = False

    def layer_probes(self, jobs) -> dict:
        tr = self.ctx.tracer
        run = tr.select("lineage.run")[-1]
        lineage = [s.duration for s in tr.spans
                   if s.name == "catalog.commit" and s.parent == run.span_id
                   and s.attrs.get("table") == "lineage"]
        o = self._outcome(self.traced_k)
        kept_share = o["rows_kept"] / o["rows_before"]
        return {
            "catalog.commit_s.tiers": tr.total("catalog.commit", table="tiers"),
            "catalog.snapshot_files": float(len(o["paths_before"])),
            "catalog.commit_s.lineage": tr.total("catalog.commit", table="lineage"),
            "catalog.read_s": tr.total("catalog.read"),
            "lineage.wave_s.first": lineage[0],
            "lineage.wave_s.last": lineage[-1],
            "lineage.readback_growth_s_per_wave": slope(lineage),
            "incremental.diff_s": tr.total("incremental.new_docs_since"),
            "retention.rows_kept_share": kept_share,
            "retention.rewrite_bytes_per_kept_byte":
                file_bytes(o["paths_after"]) / (file_bytes(o["paths_before"]) * kept_share),
        }

    def spark_layers(self, groups) -> dict:
        return spark_metrics(groups, [self.group])

    def probe(self) -> tuple[dict, dict]:
        """This workload inside another one's traced run: set up, run one
        job to compile its plans, then one traced. Returns the traced job's
        layer metrics and end-to-end figures; ``checks`` then checks it."""
        from perfbench.harness import Job

        self.inputs()
        self.warm_up()
        for _ in range(2):
            self.prepare()
            job = Job()
            if self.done:
                with self.tracing():
                    self.job(job)
            else:
                self.job(job)
        return self.layer_probes([job]), self.figures([job])

