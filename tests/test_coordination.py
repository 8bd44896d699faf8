"""bench.py runs a fixed number of passes and shares the host with nothing.

Earlier versions of bench.py gated each pass on a CPU-capacity probe,
waited for quiet windows and claimed /tmp/graft_* flag files so that a
bench run and a scaling trial could not overlap. Scaling is now measured
with perfbench under ``taskset``, so bench.py must neither wait, probe,
claim a flag nor write under BENCH/. These tests run bench.main() once,
at toy size, on the shared test session."""

import contextlib
import glob
import importlib.util
import io
import json
import os
import types

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"
TRIALS, QUERY_TRIALS = 2, 2


def _load(name, path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _snapshot(root):
    return {os.path.join(dp, fn): os.stat(os.path.join(dp, fn)).st_mtime_ns
            for dp, _, fns in os.walk(root) for fn in fns}


def _no_sleep(seconds):
    raise AssertionError(f"bench.py slept {seconds}s")


@pytest.fixture(scope="module")
def bench_run(spark, tmp_path_factory):
    """bench.main() on the test session: stdout, BENCH/ and /tmp/graft_*
    before and after, and the module itself."""
    import tsfeatures_spark.session as session

    b = _load("bench_under_test", os.path.join(REPO, "bench.py"))
    conf_keys = ("spark.sql.files.maxPartitionBytes",
                 "spark.sql.files.openCostInBytes")
    conf_before = {k: spark.conf.get(k, None) for k in conf_keys}
    bench_before = _snapshot(os.path.join(REPO, "BENCH"))
    flags_before = set(glob.glob("/tmp/graft_*"))
    out = io.StringIO()
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_TRIALS", str(TRIALS))
        mp.setenv("SPARK_GRAFT_QUERY_TRIALS", str(QUERY_TRIALS))
        mp.setenv("SPARK_GRAFT_FEAT_SERIES", "6")
        mp.setattr(b, "DATA_DIR", str(tmp_path_factory.mktemp("bench_data")))
        mp.setattr(b, "SF_DIR", SF_DIR)
        mp.setattr(b, "N_DOCS", 12)
        mp.setattr(b, "CPUS", 4)
        mp.setattr(b, "time", types.SimpleNamespace(time=b.time.time, sleep=_no_sleep))
        mp.setattr(session, "get_spark", lambda *a, **k: spark)
        mp.setattr(spark, "stop", lambda: None, raising=False)
        try:
            with contextlib.redirect_stdout(out):
                b.main()
        finally:
            for k, v in conf_before.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    lines = [ln for ln in out.getvalue().splitlines() if ln.strip()]
    return {
        "module": b,
        "lines": lines,
        "result": json.loads(lines[-1]),
        "bench_changed": _snapshot(os.path.join(REPO, "BENCH")) != bench_before,
        "new_flags": set(glob.glob("/tmp/graft_*")) - flags_before,
    }


def test_trial_budget_fixed_recipe_for_legs(bench_run, monkeypatch):
    """Every phase runs exactly the passes it is given: no adaptive cap."""
    r = bench_run["result"]
    assert r["rollup"]["trials"] == TRIALS == len(r["rollup"]["sec_all"])
    assert r["rollup"]["sec"] == min(r["rollup"]["sec_all"])
    assert len(r["features"]["sec_all"]) == QUERY_TRIALS
    assert r["query_trials"] == QUERY_TRIALS
    assert r["queries_all"] and all(
        len(secs) == QUERY_TRIALS for secs in r["queries_all"].values())

    passes = bench_run["module"]._passes
    for raw, want in (("1", 1), ("3", 3), ("0", 1)):
        monkeypatch.setenv("SPARK_GRAFT_TRIALS", raw)
        assert passes("SPARK_GRAFT_TRIALS", 5) == want
    monkeypatch.delenv("SPARK_GRAFT_TRIALS")
    assert passes("SPARK_GRAFT_TRIALS", 5) == 5


def test_dev_parent_child_does_not_wait_or_claim(bench_run):
    """A whole run never sleeps (the fixture's sleep raises) and leaves
    no flag file behind."""
    assert len(bench_run["lines"]) == 1
    assert bench_run["new_flags"] == set()


def test_trial_child_never_claims(bench_run):
    """Nothing under BENCH/ is written: the probe history and trial
    records there are history, not outputs."""
    assert not bench_run["bench_changed"]


def test_probe_gate_disabled_for_trial_children(bench_run):
    """No run is gated on a capacity probe, so the keys that described
    the gate are gone and every kept key is present."""
    r = bench_run["result"]
    for key in ("trials_detail", "quiet_trials", "probe_gate"):
        assert key not in r["rollup"]
    for key in ("trials_detail", "quiet_trials"):
        assert key not in r["features"]
    assert {"metric", "value", "unit", "queries", "sf", "cpus", "rollup",
            "features", "query_trials", "queries_all"} <= set(r)
    assert {"n_docs", "tokens", "sec", "tokens_per_sec", "trials",
            "sec_median", "sec_all", "tokens_per_sec_median"} <= set(r["rollup"])
    assert {"n_series", "series_per_sec", "sec_all", "sec_median"} <= set(r["features"])
    assert set(r["queries"]) == {"rollup_cascade", "feats_default_set",
                                 *bench_run["module"].BENCH_QUERIES}
