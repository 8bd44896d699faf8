"""North-rule deployment surface: the pipeline "runs via spark-submit
--py-files on multi-executor clusters" (BASELINE.json north_rule; reference
parity surface: Nixtla/tsfeatures runs as a plain library — the cluster
submit path is engine-side scope).

This is a REAL end-to-end check, not a doc claim: the package is zipped,
shipped with --py-files to a local-cluster master (separate executor JVMs,
each launching its own Python workers), PYTHONPATH is scrubbed and the
subprocess cwd moved off the repo root, so the ONLY way executor-side
`import tsfeatures_spark` can succeed is through the shipped zip — exactly
the semantics of submitting to a remote cluster whose workers have no copy
of the repo."""

import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


def _build_zip(dest: Path) -> Path:
    zpath = dest / "tsfeatures_spark.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted((REPO / "tsfeatures_spark").rglob("*.py")):
            z.write(p, p.relative_to(REPO))
    return zpath


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_py_files_multi_executor(tmp_path):
    zpath = _build_zip(tmp_path)
    wh = tmp_path / "wh"

    env = dict(os.environ)
    # Executors inherit the submitting shell's env on this single host; a
    # PYTHONPATH pointing at the repo would let them bypass --py-files.
    env.pop("PYTHONPATH", None)
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)

    cmd = [
        "spark-submit",
        "--master", "local-cluster[2,1,1024]",
        "--py-files", str(zpath),
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.driver.memory=1g",
        str(REPO / "jobs" / "rollup_job.py"),
        "--warehouse", str(wh),
        "--docs", "24",
        "--buckets", "4",
        "--waves", "2",
    ]
    # cwd off the repo root: the driver-side sys.path bootstrap in
    # rollup_job.py still resolves the repo (driver semantics), but executor
    # Python workers start in the worker dir and see only the zip.
    proc = subprocess.run(cmd, cwd=tmp_path, env=env, capture_output=True,
                          text=True, timeout=420)
    assert proc.returncode == 0, (
        f"spark-submit failed\nSTDOUT tail:\n{proc.stdout[-2000:]}\n"
        f"STDERR tail:\n{proc.stderr[-4000:]}")

    # last JSON line of stdout is the job summary
    summary = None
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            summary = json.loads(line)
            break
    assert summary is not None, f"no JSON summary in stdout:\n{proc.stdout[-2000:]}"
    assert summary["waves_run"] == 2
    assert summary["out_snapshot"] is not None

    # the warehouse the submitted job wrote is a normal catalog: verify the
    # tier table exists, is non-empty, and lineage covers every bucket and
    # every doc the bootstrap committed
    import duckdb

    from tsfeatures_spark.sources.catalog import IcebergLiteCatalog

    cat = IcebergLiteCatalog(str(wh))
    assert cat.current_snapshot_id("tiers") is not None
    hist = cat.history("lineage")
    assert hist, "lineage table missing after submitted run"

    con = duckdb.connect()
    tier_files = [str(wh / "tiers" / f) for f in cat.snapshot("tiers")["files"]]
    # tier is a hive-style partition directory, not a parquet column
    n_docs, tiers = con.execute(
        "SELECT count(DISTINCT doc_id), count(DISTINCT tier) "
        "FROM read_parquet($f, hive_partitioning=1)", {"f": tier_files}).fetchone()
    assert n_docs == 24, f"tiers table covers {n_docs} docs, expected 24"
    assert tiers >= 3, f"expected raw/1m/1h(/1d) tiers, saw {tiers}"
    lin_files = [str(wh / "lineage" / f) for f in cat.snapshot("lineage")["files"]]
    (n_buckets,) = con.execute(
        "SELECT count(DISTINCT bucket) FROM read_parquet($f)",
        {"f": lin_files}).fetchone()
    assert n_buckets == 4, f"lineage covers {n_buckets}/4 buckets"


def test_default_cpus_env_then_affinity(monkeypatch):
    """``get_spark``'s ``local[n]`` default: SPARK_GRAFT_CPUS when set,
    else the cores this process may run on (what ``taskset`` grants)."""
    from tsfeatures_spark.session import default_cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5, 7, 9})
    assert default_cpus() == 5
