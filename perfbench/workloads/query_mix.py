"""query_mix: one query per module no other listed workload calls, over
an sf0.02 star schema, each checked against its DuckDB mirror, and the
features_wide job (``perfbench/workloads/features_wide.py``) on its
seeded series, checked against the per-series reference path.

The only workload with shuffle joins, and the only one covering
``operators.dedup``, ``functions.sql_features``, ``metrics``,
``operators.similarity``, ``operators.text`` and the decode side of
``compression``. The tables come from ``tools/gen_sf_scale.py`` (fixed
seed, sf0.02 shape); the benchmark seed permutes the query order of each
pass. The warm-up forks the Python workers, imports the engine in them and
warms the JVM's Arrow and shuffle paths; each query's plans then compile
inside the timed pass, as on a query's first run in a session. A pass collects every result to the
driver, so no projected column is pruned, and the checks compare the last
pass's results.
"""

from __future__ import annotations

import contextlib
import os
import random
import sys
import time
from contextlib import contextmanager

from perfbench import checks
from perfbench.stats import median
from perfbench.metrics import PASS, QUERIES, SPARK_LAYERS
from perfbench.sparklog import job_group, spark_metrics
from perfbench.workloads.features_wide import FeaturesWide

SF = 0.02


class QueryMix:
    name = "query_mix"
    warm_jobs = 0
    layers = {
        *SPARK_LAYERS, "dedup.signatures_s", *FeaturesWide.layers,
        *(f"query.{q}_s" for q in PASS), *(f"query.{q}.shuffle_bytes" for q in PASS),
    }

    def __init__(self, ctx):
        import __spark_entry__

        self.ctx = ctx
        self.spark = ctx.spark
        self.entry = __spark_entry__
        self.sf_dir = os.path.join(ctx.workdir, f"sf{SF}")
        self.features = FeaturesWide(ctx)
        self.features.group = "query:features_wide"
        self.results: dict = {}  # query -> its result in the checked pass
        self.passes = 0
        self.tracing_on = False

    def inputs(self) -> None:
        from tools import gen_sf_scale

        with contextlib.redirect_stdout(sys.stderr):
            gen_sf_scale.main(SF, self.sf_dir)
        self.features.inputs()

    def _queries(self) -> dict:
        qs = self.entry.queries()
        return {**{q: lambda q=q: qs[q](self.spark, self.sf_dir) for q in QUERIES},
                "features_wide": lambda: self.features._features(self.features.series)}

    def warm_up(self) -> None:
        """Twice, on every core: a grouped pandas-UDF job joined over a
        shuffle to an aggregate, and a scalar pandas-UDF job. They fork the
        Python workers, import in each the engine modules the pass calls,
        and JIT-compile the JVM's Arrow, UDF, shuffle and join paths every
        query uses, so the pass's order does not decide which query pays
        for that."""
        from pyspark.sql import functions as F

        from perfbench.harness import cores

        def engine_imported(pdf):
            import tsfeatures_spark.kernels.fit_batch  # noqa: F401
            import tsfeatures_spark.metrics  # noqa: F401
            import tsfeatures_spark.operators.decode  # noqa: F401
            import tsfeatures_spark.operators.dedup  # noqa: F401
            import tsfeatures_spark.operators.features  # noqa: F401
            import tsfeatures_spark.operators.similarity  # noqa: F401
            import tsfeatures_spark.operators.text  # noqa: F401

            return pdf

        @F.pandas_udf("double")
        def doubled(x):
            return x * 2

        n = cores()
        for _ in range(2):
            df = self.spark.range(0, 1 << 18, 1, n).select(
                "id", (F.col("id") % 256).alias("g"), F.rand(0).alias("x"))
            grouped = df.groupBy("g").applyInPandas(engine_imported, "id long, g long, x double")
            grouped.join(df.groupBy("g").agg(F.avg("x").alias("m")), "g") \
                .write.format("noop").mode("overwrite").save()
            df.select(doubled("x")).write.format("noop").mode("overwrite").save()

    def prepare(self) -> None:
        pass

    def job(self, job) -> None:
        """One pass in the order the seed gives this pass. The first pass
        collects every result for the checks; the others write to noop."""
        qs = self._queries()
        order = list(PASS)
        random.Random(f"{self.ctx.seed}-{self.passes}").shuffle(order)
        checked = self.passes == 0
        self.passes += 1
        for q in order:
            with job.timed(q), \
                    job_group(self.spark, f"query:{q}") if self.tracing_on else contextlib.nullcontext():
                if checked:
                    self.results[q] = qs[q]().toPandas()
                else:
                    qs[q]().write.format("noop").mode("overwrite").save()

    def figures(self, jobs) -> dict:
        return {"query_pass_s": median([j.wall_s for j in jobs]),
                "series_per_s": len(self.features.lengths)
                / median([j.wall["features_wide"] for j in jobs])}

    def properties(self) -> dict:
        import pyarrow.parquet as pq

        rows = {t: pq.ParquetFile(os.path.join(self.sf_dir, f"{t}.parquet")).metadata.num_rows
                for t in self.entry.TABLES}
        return {self.name: {"sf": SF, "queries": PASS, "table_rows": rows,
                            "seed": self.ctx.seed, **self.features.properties()}}

    def checks(self):
        import duckdb

        con = duckdb.connect()
        for t in self.entry.TABLES:
            con.sql(f"create view {t} as select * from '{self.sf_dir}/{t}.parquet'")
        oracles = self.entry.oracle_sql()

        def one(q):
            def check():
                return checks.check_query(q, self.results[q], con.sql(oracles[q]).df())
            check.__name__ = f"oracle_{q}"
            return check

        def features_rows():
            return self.features.check_rows(self.results["features_wide"])

        return [one(q) for q in QUERIES] + [features_rows]

    # -- traced run ------------------------------------------------------------------
    @contextmanager
    def tracing(self):
        self.tracing_on = True
        try:
            yield
        finally:
            self.tracing_on = False

    def layer_probes(self, jobs) -> dict:
        from pyspark.sql import functions as F

        from tsfeatures_spark.operators.dedup import minhash_signatures

        # string ids, as dedup_minhash_lsh passes them: integer ids fail in
        # minhash_signatures (ROADMAP item 4)
        docs = self.spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet")).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text")
        with job_group(self.spark, "dedup.signatures"):
            t = time.perf_counter()
            minhash_signatures(docs, num_hashes=64).write.format("noop").mode("overwrite").save()
            signatures_s = time.perf_counter() - t
        return {"dedup.signatures_s": signatures_s,
                **self.features.layer_probes(jobs),
                **{f"query.{q}_s": median([j.wall[q] for j in jobs]) for q in PASS}}

    def spark_layers(self, groups) -> dict:
        return {**spark_metrics(groups, [f"query:{q}" for q in PASS]),
                "features.boundary_ratio": self.features.boundary_ratio(groups),
                **{f"query.{q}.shuffle_bytes": float(groups.get(f"query:{q}", {}).get("shuffle", 0))
                   for q in PASS}}
