"""features_wide: the reference's own job (tsfeatures_wide) over M4-scale
series (``token_table(mean_len=300, max_len=1000)``, ~130 series, 50k
values): ``features_wide`` with the default 17-kernel set, ``freq=24``,
``scale=True``. The job time barely moves with the series count at this
size (it is Spark and Arrow overhead), so the smaller input keeps the job
inside query_mix's pass cheap.

The Holt, Holt-Winters and heterogeneity fits (``kernels.fit_batch``) and
the per-series kernels (``kernels.features``) dominate; no rollup kernel,
codec, sink or shuffle runs.
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np

from perfbench import checks
from perfbench.metrics import SPARK_LAYERS
from perfbench.stats import median
from perfbench.sparklog import job_group, spark_metrics
from perfbench.workloads.common import seeded_docs

VALUES = 50_000  # series are generated until they hold this many values
MEAN_LEN = 300.0
MAX_LEN = 1000
FREQ = 24
CHECK_SERIES = 6     # series recomputed per series by compute_features
KERNEL_SERIES = 32   # series the driver times the kernels on


class FeaturesWide:
    name = "features_wide"
    # the first job forks the Python workers and compiles; the JIT keeps
    # speeding up the next two (with two warm jobs, ten seeds spread about
    # twice as wide)
    warm_jobs = 3
    layers = {
        "features.fit_holt_s", "features.fit_hw_s", "features.fit_het_s",
        "features.other_kernels_s", "features.boundary_ratio",
        *SPARK_LAYERS,
    }

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.series = None
        self.group = "traced"  # the job group of the traced job

    def inputs(self) -> None:
        """The seeded series, generated in Spark and cached."""
        from tsfeatures_spark.sources.generator import token_table

        if self.series is not None:
            self.series.unpersist()
        self.lengths = seeded_docs(self.ctx.seed, VALUES, mean_len=MEAN_LEN,
                                   max_len=MAX_LEN)["n_tok"].to_numpy()
        self.series = token_table(self.spark, len(self.lengths), base_seed=self.ctx.seed,
                                  mean_len=MEAN_LEN, max_len=MAX_LEN).cache()
        self.series.count()

    def _features(self, df):
        from tsfeatures_spark.operators.features import features_wide

        return features_wide(df, scale=True, freq=FREQ)

    def warm_up(self) -> None:
        pass

    def prepare(self) -> None:
        pass

    def job(self, job) -> None:
        with job.timed("features"):
            self._features(self.series).write.format("noop").mode("overwrite").save()

    def figures(self, jobs) -> dict:
        return {"series_per_s": len(self.lengths) / median([j.wall_s for j in jobs])}

    def properties(self) -> dict:
        n = self.lengths
        return {self.name: {"series": int(len(n)), "seed": self.ctx.seed, "freq": FREQ,
                            "series_len": {"min": int(n.min()), "median": float(np.median(n)),
                                           "p90": float(np.percentile(n, 90)), "max": int(n.max())}}}

    def _sample(self, k: int) -> dict[str, np.ndarray]:
        """The first ``k`` series by doc index."""
        from pyspark.sql import functions as F

        rows = (self.series.orderBy(F.substring_index("doc_id", "-", -1)).limit(k)
                .select("doc_id", "tokens").collect())
        return {r["doc_id"]: np.asarray(r["tokens"], dtype=float) for r in rows}

    def check_rows(self, got) -> list[str]:
        """The rows of CHECK_SERIES sampled series in ``got`` (features_wide
        output, as pandas) equal compute_features run per series."""
        from tsfeatures_spark.kernels import compute_features

        sample = self._sample(CHECK_SERIES)
        got = got[got["doc_id"].isin(list(sample))]
        got = {r["doc_id"]: r.drop("doc_id").to_dict() for _, r in got.iterrows()}
        ref = {d: compute_features(y, FREQ, scale=True) for d, y in sample.items()}
        return checks.check_feature_rows(got, ref)

    def checks(self):
        from pyspark.sql import functions as F

        def rows_equal_reference():
            ids = list(self._sample(CHECK_SERIES))
            return self.check_rows(self._features(
                self.series.where(F.col("doc_id").isin(ids))).toPandas())

        return [rows_equal_reference]

    # -- traced run ------------------------------------------------------------------
    @contextmanager
    def tracing(self):
        with job_group(self.spark, self.group):
            yield

    def layer_probes(self, jobs) -> dict:
        """Driver-side time of each kernel family over KERNEL_SERIES series,
        called as features_wide calls them."""
        from tsfeatures_spark.kernels import DEFAULT_FEATURES, compute_features
        from tsfeatures_spark.kernels import stats as kstats
        from tsfeatures_spark.kernels.fit_batch import (
            heterogeneity_fit_batch, holt_fit_batch, hw_fit_batch,
        )

        tr = self.ctx.tracer
        ys = [kstats.scalets(y) for y in self._sample(KERNEL_SERIES).values()]
        batched = ("holt_parameters", "hw_parameters", "heterogeneity")
        rest = [n for n in DEFAULT_FEATURES if n not in batched]
        with tr.span("features.holt_fit_batch"):
            holt_fit_batch(ys)
        with tr.span("features.hw_fit_batch"):
            hw_fit_batch(ys, FREQ)
        with tr.span("features.heterogeneity_fit_batch"):
            heterogeneity_fit_batch(ys, FREQ)
        with tr.span("features.compute_features"):
            for y in ys:
                compute_features(y, FREQ, rest, scale=False)
        self.driver_s_per_series = sum(
            tr.total(n) for n in ("features.holt_fit_batch", "features.hw_fit_batch",
                                  "features.heterogeneity_fit_batch",
                                  "features.compute_features")) / len(ys)
        return {
            "features.fit_holt_s": tr.total("features.holt_fit_batch"),
            "features.fit_hw_s": tr.total("features.hw_fit_batch"),
            "features.fit_het_s": tr.total("features.heterogeneity_fit_batch"),
            "features.other_kernels_s": tr.total("features.compute_features"),
        }

    def boundary_ratio(self, groups) -> float:
        """Spark task time per series over the driver's kernel time per
        series: what the UDF boundary and scheduling add to the kernels."""
        run_s = spark_metrics(groups, [self.group])["spark.task_run_s"]
        return run_s / len(self.lengths) / self.driver_s_per_series

    def spark_layers(self, groups) -> dict:
        return {**spark_metrics(groups, [self.group]),
                "features.boundary_ratio": self.boundary_ratio(groups)}
