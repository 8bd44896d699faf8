"""Self time, span nesting and the catalog wrapper."""

import types

import pytest

from perfbench.trace import Span, TimingCatalog, Tracer, self_times


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "run")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),   # overlaps span 1: [1, 5] counts once
        _span(3, 8.0, 12.0, parent=0),  # runs past the parent: clipped to [8, 10]
        _span(4, 1.5, 2.5, parent=1),   # a grandchild only reduces its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_without_children_is_the_duration():
    assert self_times([_span(0, 2.0, 2.5)]) == {0: pytest.approx(0.5)}


def test_tracer_nests_spans_and_restores_patches():
    ticks = iter(range(100))
    tr = Tracer(run_id="r", clock=lambda: float(next(ticks)))
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    with tr.span("outer"):
        with tr.patched([(mod, "f", "inner")]):
            assert mod.f(1) == 2
    assert mod.f is orig
    outer, inner = tr.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert {s.run_id for s in tr.spans} == {"r"}
    assert tr.self_total("outer") == pytest.approx(outer.duration - inner.duration)


def test_timing_catalog_records_commits_and_delegates():
    calls = []

    class Inner:
        warehouse = "/w"

        def commit(self, spark, table, df, mode="append", **kw):
            calls.append((table, mode))
            return 7

        def read(self, spark, table, snapshot_id=None):
            return f"df:{table}"

    tr = Tracer()
    cat = TimingCatalog(Inner(), tr)
    assert cat.commit(None, "tiers", None, mode="overwrite") == 7
    assert cat.read(None, "lineage") == "df:lineage"
    assert cat.warehouse == "/w"
    assert calls == [("tiers", "overwrite")]
    assert [s.attrs["table"] for s in tr.select("catalog.commit")] == ["tiers"]
    assert len(tr.select("catalog.read", table="lineage")) == 1


def test_summary_reports_median_and_the_tail_percentile_rule():
    ticks = iter(range(1000))
    tr = Tracer(clock=lambda: float(next(ticks)))
    for _ in range(25):
        with tr.span("leaf"):
            pass
    with tr.span("rare"):
        pass
    s = tr.summary()
    assert s["leaf"]["calls"] == 25 and s["leaf"]["median_s"] == 1.0
    assert "p50_s" in s["leaf"]          # 25 calls: 12.5 beyond the median
    assert not any(k.startswith("p") for k in s["rare"])  # one call: median only
    assert tr.counts["leaf.calls"] == 25
