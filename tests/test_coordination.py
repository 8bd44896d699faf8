"""Coordination contract between the bench harness and the opportunistic
scaling-capture loop (bench.py::_hold_dev_flag, tools/quiet_capture.py::
run_pair). Engine-side scope: the north rule's scaling evidence is only
meaningful if a bench run and a trial pair can never pollute each other;
these tests pin the yield protocol without Spark or real waits."""

import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name, path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture()
def benchmod(tmp_path, monkeypatch):
    b = _load("bench_under_test", os.path.join(REPO, "bench.py"))
    monkeypatch.setattr(b, "TRIAL_FLAG", str(tmp_path / "trial"))
    monkeypatch.setattr(b, "DEV_FLAG", str(tmp_path / "dev"))
    monkeypatch.setattr(b, "TRIAL_WAIT_SEC", 0.3)
    monkeypatch.setattr(b, "TRIAL_POLL_SEC", 0.1)
    monkeypatch.setattr(b, "DEV_WAIT_SEC", 0.3)
    monkeypatch.delenv("SPARK_GRAFT_DEV_PARENT", raising=False)
    monkeypatch.setattr(b, "PROBE_HISTORY_PATH", str(tmp_path / "probes.jsonl"))
    monkeypatch.delenv("SPARK_GRAFT_TRIAL_CHILD", raising=False)
    return b


def test_hold_claims_and_is_exclusive(benchmod):
    flag = benchmod._hold_dev_flag()
    assert flag == benchmod.DEV_FLAG and os.path.exists(flag)
    # a second claimant (another dev shell) waits out the foreign holder
    # (bounded) and, if it never clears, proceeds WITHOUT the flag
    assert benchmod._hold_dev_flag() is None
    os.remove(flag)


def test_foreign_dev_flag_is_waited_out_then_claimed(benchmod):
    """Round-5: the driver's official bench must never run concurrently
    with a quiet-capture bench. A foreign dev flag that clears during the
    bounded wait is followed by a normal claim."""
    import threading

    open(benchmod.DEV_FLAG, "w").close()
    t = threading.Timer(0.15, os.remove, args=(benchmod.DEV_FLAG,))
    t.start()
    flag = benchmod._hold_dev_flag()
    t.join()
    assert flag == benchmod.DEV_FLAG and os.path.exists(flag)
    os.remove(flag)


def test_dev_parent_child_does_not_wait_or_claim(benchmod, monkeypatch):
    """devrun.sh / quiet_driver_bench children own their parent's flag."""
    monkeypatch.setenv("SPARK_GRAFT_DEV_PARENT", "1")
    open(benchmod.DEV_FLAG, "w").close()
    import time as _t
    t0 = _t.time()
    assert benchmod._hold_dev_flag() is None
    assert _t.time() - t0 < 0.2  # returned immediately, no foreign-wait
    os.remove(benchmod.DEV_FLAG)


def test_trial_child_never_claims(benchmod, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_TRIAL_CHILD", "1")
    assert benchmod._hold_dev_flag() is None
    assert not os.path.exists(benchmod.DEV_FLAG)


def test_hold_waits_out_a_trial_leg_then_claims(benchmod):
    open(benchmod.TRIAL_FLAG, "w").close()
    # trial flag still up after the bounded wait: claim anyway — the loop
    # aborts its pair unsaved at the next checkpoint once the flag appears
    flag = benchmod._hold_dev_flag()
    assert flag is not None and os.path.exists(flag)
    os.remove(flag)
    os.remove(benchmod.TRIAL_FLAG)


@pytest.fixture()
def qc(tmp_path, monkeypatch):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        import quiet_capture as q
    finally:
        sys.path.pop(0)
    monkeypatch.setattr(q, "TRIAL_FLAG", str(tmp_path / "trial"))
    monkeypatch.setattr(q, "DEV_FLAG", str(tmp_path / "dev"))
    saves = []
    monkeypatch.setattr(q, "_save_pair", lambda *a: saves.append(a))
    monkeypatch.setattr(q, "capacity_probe", lambda cores, dur=1.2: 10_000.0)
    monkeypatch.setattr(q, "log_probe", lambda *a, **k: None)
    q._test_saves = saves
    return q


def test_run_pair_aborts_unsaved_when_dev_flag_appears_midpair(qc, monkeypatch):
    def fake_run_once(cpus, n_docs, sink, master=None):
        # dev work (e.g. the driver's bench) claims the flag while the
        # first (big) leg is running
        open(qc.DEV_FLAG, "w").close()
        return {"sec": 1.0, "tokens_per_sec": 1, "tokens": 1}

    monkeypatch.setattr(qc, "run_once", fake_run_once)
    out = qc.run_pair("local2", "none", 100, first_probe=10_000.0, pmax=11_000.0)
    assert out is None, "pair must abort once dev work owns the cores"
    assert qc._test_saves == [], "an aborted pair must never be recorded"
    assert not os.path.exists(qc.TRIAL_FLAG), "trial flag must be released"


def test_run_pair_saves_clean_pair(qc, monkeypatch):
    monkeypatch.setattr(
        qc, "run_once",
        lambda cpus, n_docs, sink, master=None: {
            "sec": 1.0, "tokens_per_sec": 1, "tokens": 1})
    out = qc.run_pair("local2", "none", 100, first_probe=10_000.0, pmax=11_000.0)
    assert out is not None and "big" in out and "small" in out
    assert len(qc._test_saves) == 1
    assert not os.path.exists(qc.TRIAL_FLAG)


def test_run_pair_aborts_when_dev_flag_preexists(qc, monkeypatch):
    open(qc.DEV_FLAG, "w").close()
    monkeypatch.setattr(
        qc, "run_once",
        lambda *a, **k: pytest.fail("no leg may run while dev owns the cores"))
    assert qc.run_pair("local2", "none", 100, pmax=0.0) is None
    assert qc._test_saves == []


def test_lead_role_targets_quiet_arm_deficit(qc):
    """The leg whose quiet evidence lags its capability runs first (it
    inherits the gate probe that opened the window)."""
    def sm(best_s, best_b, q_s, q_b):
        return {"best_small": {"sec": best_s}, "best_big": {"sec": best_b},
                "best_quiet_small": {"sec": q_s} if q_s else None,
                "best_quiet_big": {"sec": q_b} if q_b else None}

    # no quiet sample at all: that role leads (small wins the double-zero)
    assert qc.lead_role(sm(20.0, 8.0, None, None)) == "small"
    assert qc.lead_role(sm(20.0, 8.0, 20.0, None)) == "big"
    assert qc.lead_role(sm(20.0, 8.0, None, 8.0)) == "small"
    # cluster2 r4 shape: quiet small == overall best (gap 1.0) but quiet
    # big (10.3s) lags overall best big (7.7s) -> big leads
    assert qc.lead_role(sm(21.771, 7.701, 21.771, 10.317)) == "big"
    # quiet big at its best, quiet small far off -> small leads
    assert qc.lead_role(sm(20.0, 8.0, 30.0, 8.0)) == "small"
    # both at their bests (tie): big (short leg) first
    assert qc.lead_role(sm(20.0, 8.0, 20.0, 8.0)) == "big"


@pytest.mark.parametrize("lead,expected_cpus", [("big", [8, 2]), ("small", [2, 8])])
def test_run_pair_honors_lead_role(qc, monkeypatch, lead, expected_cpus):
    ran = []
    monkeypatch.setattr(
        qc, "run_once",
        lambda cpus, n_docs, sink, master=None: ran.append(cpus) or {
            "sec": 1.0, "tokens_per_sec": 1, "tokens": 1})
    out = qc.run_pair("local2", "none", 100, first_probe=10_000.0,
                      pmax=11_000.0, lead=lead)
    assert ran == expected_cpus
    assert out is not None and "big" in out and "small" in out


def test_run_pair_interleg_wait_keys_off_lead_leg(qc, monkeypatch):
    """The recovery wait triggers only when the FIRST leg was quiet; with a
    small-first pair that check must read the small leg's probe, not big's."""
    probes = iter([9_800.0])  # second leg's probe: below the 0.93 bar
    monkeypatch.setattr(qc, "capacity_probe",
                        lambda cores, dur=1.2: next(probes))
    monkeypatch.setattr(
        qc, "run_once",
        lambda cpus, n_docs, sink, master=None: {
            "sec": 1.0, "tokens_per_sec": 1, "tokens": 1})
    waited = []
    monkeypatch.setattr(qc.time, "sleep", lambda s: waited.append(s))
    monkeypatch.setattr(qc, "INTERLEG_WAIT_SEC", 0)  # don't loop, just branch
    # lead small with a QUIET first probe (10.3k >= 0.93*11k): the wait
    # branch must be reachable (first_leg_quiet True from the small leg)
    out = qc.run_pair("local2", "none", 100, first_probe=10_300.0,
                      pmax=11_000.0, lead="small")
    assert out is not None
    assert out["small"]["probe"] == 10_300.0 and out["big"]["probe"] == 9_800.0


# -- probe gate (round 5: VERDICT r04 #1) -----------------------------------


def test_probe_gate_units_match_scaling_harness(benchmod):
    """bench._spin must share units with run_scaling._spin so the pmax
    accumulated by the scaling harness seeds the bench gate correctly
    (a unit mismatch silently disables the quiet bar)."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        import run_scaling
    finally:
        sys.path.pop(0)
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    qa, qb = ctx.Queue(), ctx.Queue()
    pa = ctx.Process(target=benchmod._spin, args=(0.2, qa))
    pb = ctx.Process(target=run_scaling._spin, args=(0.2, qb))
    pa.start(); pb.start()
    ra, rb = qa.get(), qb.get()
    pa.join(); pb.join()
    # same loop body + duration on the same host: within 3x of each other
    # (generous — only a UNIT mismatch, e.g. 1000x, must fail)
    assert ra > 0 and rb > 0 and max(ra, rb) / min(ra, rb) < 3.0


def test_trial_budget_fixed_recipe_for_legs(benchmod):
    """Scaling-trial legs must run exactly `trials` passes (comparable
    tree-CPU, bounded leg wall); the headline bench keeps the adaptive
    convergence cap."""
    assert benchmod._trial_budget(1, 9, is_trial_child=True) == (1, 1)
    assert benchmod._trial_budget(3, 9, is_trial_child=True) == (3, 3)
    assert benchmod._trial_budget(5, 9, is_trial_child=False) == (5, 9)
    assert benchmod._trial_budget(0, 9, is_trial_child=True) == (1, 1)


def test_probe_gate_quiet_classification(benchmod, monkeypatch):
    g = benchmod._ProbeGate.__new__(benchmod._ProbeGate)
    g.enabled = True
    g.pmax = 50000.0
    g.wait_budget = 0.0
    assert g.is_quiet(46000)       # >= 0.9 * 50k
    assert not g.is_quiet(44000)   # below the bar
    assert g.is_quiet(None)        # gating disabled -> trial counts
    g.pmax = 0.0
    assert g.is_quiet(10)          # no ceiling known -> never flag


def test_probe_gate_disabled_for_trial_children(benchmod, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_TRIAL_CHILD", "1")
    g = benchmod._ProbeGate()
    assert not g.enabled
    assert g.wait_quiet() is None  # returns immediately, no probe


def test_probe_gate_wait_respects_budgets(benchmod, monkeypatch):
    g = benchmod._ProbeGate.__new__(benchmod._ProbeGate)
    g.enabled = True
    g.pmax = 50000.0
    g.wait_budget = 100.0
    calls = []
    monkeypatch.setattr(benchmod, "_capacity_probe", lambda *a, **k: calls.append(1) or 100.0)
    slept = []
    monkeypatch.setattr(benchmod.time, "sleep", lambda s: slept.append(s))
    monkeypatch.setattr(benchmod, "GATE_POLL_SEC", 50.0)
    p = g.wait_quiet(max_wait=200.0)
    # noisy forever: budget (100s) binds before max_wait (200s): 2 sleeps
    assert p == 100.0 and len(slept) == 2 and g.wait_budget <= 0
