"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import compare, eventlog, stats  # noqa: E402
from perfbench.tracing import Span, Tracer, self_times, uncovered_share  # noqa: E402

TINY_LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.json")


# ---------------------------------------------------------------- percentiles

def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 85) == 85
    assert stats.percentile([3.0], 99) == 3.0


@pytest.mark.parametrize(
    "n, pct",
    [
        (10, None),  # 10 samples: nothing has 10 beyond it
        (20, 50),  # p50 leaves 10 beyond
        (40, 75),  # p75 leaves 10 beyond, p85 only 6
        (67, 85),  # p85 leaves 10 beyond (ceil(.85*67)=57)
        (68, 85),  # the 68-leaf case: p85 has 10 beyond, p90 only 6
        (100, 90),
        (1000, 99),
    ],
)
def test_tail_keeps_only_percentiles_with_ten_beyond(n, pct):
    assert stats.supported_tail(n) == pct
    if pct is not None:
        assert stats.beyond(n, pct) >= stats.MIN_BEYOND


def test_summarize_omits_unsupported_tail():
    assert "tail" not in stats.summarize([1.0, 2.0, 3.0])
    s = stats.summarize([float(i) for i in range(1, 69)])
    assert s["n"] == 68 and s["tail_pct"] == 85 and s["tail"] == 58.0


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.3]
    import statistics

    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / q2)


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([]) == 0


# ---------------------------------------------------------------- spans

def _spans(*rows):
    return [Span(i, p, f"s{i}", layer, s, e) for i, p, layer, s, e in rows]


def test_self_time_subtracts_covered_child_time():
    spans = _spans(
        (0, None, "pipeline", 0.0, 10.0),
        (1, 0, "icelite", 1.0, 4.0),
        (2, 0, "icelite", 4.0, 6.0),
        (3, 1, "operators", 2.0, 3.0),
    )
    st = self_times(spans)
    assert st["pipeline"] == pytest.approx(10.0 - 5.0)
    assert st["icelite"] == pytest.approx((3.0 - 1.0) + 2.0)
    assert st["operators"] == pytest.approx(1.0)
    # nested spans of one thread: self times add up to the root's wall time
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_unions_overlapping_children_and_clips_them():
    # children from two threads may overlap; the parent loses their union
    spans = _spans(
        (0, None, "a", 0.0, 10.0), (1, 0, "b", 1.0, 4.0), (2, 0, "b", 3.0, 6.0),
    )
    assert self_times(spans)["a"] == pytest.approx(5.0)
    spans = _spans((0, None, "a", 0.0, 2.0), (1, 0, "b", 1.0, 5.0))
    assert self_times(spans)["a"] == pytest.approx(1.0)


def test_self_time_inside_weighted_windows():
    spans = _spans((0, None, "a", 0.0, 10.0), (1, 0, "b", 2.0, 4.0))
    # a's self time is [0, 2] and [4, 10]; b's is [2, 4]
    st = self_times(spans, [(1.0, 3.0, 0.5), (8.0, 12.0, 0.5)])
    assert st["a"] == pytest.approx(0.5 * 1.0 + 0.5 * 2.0)
    assert st["b"] == pytest.approx(0.5 * 1.0)


def test_uncovered_share_of_windows():
    spans = _spans((0, None, "a", 1.0, 3.0), (1, None, "b", 2.0, 4.0))
    assert uncovered_share(spans, [(0.0, 10.0, 1.0)]) == pytest.approx(0.7)
    assert uncovered_share([], [(0.0, 10.0, 1.0)]) == 1.0
    # [0, 2] is half covered, [10, 12] not at all; the second weighs 3x
    assert uncovered_share(spans, [(0.0, 2.0, 1.0), (10.0, 12.0, 3.0)]) == pytest.approx(7 / 8)


def test_interval_helpers():
    assert stats.subtract((0.0, 10.0), [(2.0, 4.0), (3.0, 5.0), (9.0, 12.0)]) == [(0.0, 2.0), (5.0, 9.0)]
    assert stats.subtract((0.0, 1.0), []) == [(0.0, 1.0)]
    assert stats.overlap([(0.0, 4.0)], [(1.0, 2.0, 2.0), (3.0, 6.0, 0.5)]) == pytest.approx(2.5)
    assert stats.weight_at(1.5, [(1.0, 2.0, 0.25)]) == 0.25 and stats.weight_at(3.0, [(1.0, 2.0, 0.25)]) == 0.0


def test_tracer_nests_and_parents_other_threads_to_main():
    clock = iter(range(100)).__next__
    tr = Tracer(clock=lambda: float(clock()))
    with tr.span("outer", "perfbench"):
        inner = tr.wrap(lambda: None, "inner", "icelite")
        inner()
        t = threading.Thread(target=lambda: tr.wrap(lambda: None, "sink", "stream")())
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["inner"].parent == by_name["outer"].id
    assert by_name["sink"].parent == by_name["outer"].id
    assert by_name["outer"].parent is None


def test_instrument_wraps_public_names_and_rebinds_imports(tmp_path, monkeypatch):
    pkg = tmp_path / "fakepkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "lib.py").write_text(
        "def work(x):\n    return x + 1\n\n"
        "def _private(x):\n    return x\n\n"
        "class Table:\n    def read(self):\n        return work(1)\n"
    )
    (pkg / "user.py").write_text("from fakepkg.lib import work\n\ndef go():\n    return work(2)\n")
    monkeypatch.syspath_prepend(str(tmp_path))
    import importlib

    lib = importlib.import_module("fakepkg.lib")
    user = importlib.import_module("fakepkg.user")
    tr = Tracer()
    assert tr.instrument({"lib": lib}, also_in=("fakepkg",)) == 2
    assert user.go() == 3 and lib.Table().read() == 2 and lib._private(5) == 5
    # go() -> work; Table.read -> work: the nested call is a child span
    assert sorted(s.name for s in tr.spans) == ["lib.Table.read", "lib.work", "lib.work"]
    for m in [m for m in list(sys.modules) if m.startswith("fakepkg")]:
        del sys.modules[m]


# ---------------------------------------------------------------- event log

def _tiny():
    with open(TINY_LOG) as f:
        return [json.loads(line) for line in f]


def _jobs(events):
    """{job id: [submitted, completed, job group]} of a parsed log."""
    jobs = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            jobs[e["Job ID"]] = [e["Submission Time"], None, e["Properties"].get("spark.jobGroup.id")]
        elif e["Event"] == "SparkListenerJobEnd":
            jobs[e["Job ID"]][1] = e["Completion Time"]
    return jobs


def test_event_log_parser_on_recorded_log():
    m = eventlog.parse_file(TINY_LOG)
    events = _tiny()
    jobs = _jobs(events)
    check_stages = {
        sid
        for e in events
        if e["Event"] == "SparkListenerJobStart" and jobs[e["Job ID"]][2] == eventlog.CHECK_GROUP
        for sid in e["Stage IDs"]
    }
    # the log holds one job of the check group; it and its tasks do not count
    assert len(jobs) == 7 and len(check_stages) == 1
    task_ends = [
        e for e in events if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] not in check_stages
    ]
    assert m["spark.jobs"] == 6
    assert m["spark.tasks"] == len(task_ends) == 9
    assert m["spark.python_sent_mb"] * eventlog.MB == 2 * 8432
    assert m["spark.python_recv_mb"] * eventlog.MB == 2 * 8176
    assert m["spark.shuffle_write_mb"] * eventlog.MB == 171 + 168 + 59 + 59
    assert m["spark.executor_run_s"] == pytest.approx(
        sum(e["Task Metrics"]["Executor Run Time"] for e in task_ends) / 1e3
    )
    assert m["spark.spill_mb"] == 0.0
    # stage 0 is the only MapInArrow stage: tasks of 2838 and 2815 ms
    assert m["spark.task_skew"] == pytest.approx(2838 / ((2838 + 2815) / 2))


def test_event_log_driver_gap_and_weighted_windows():
    events = _tiny()
    jobs = _jobs(events)
    start = next(e["Timestamp"] for e in events if e["Event"] == "SparkListenerApplicationStart")
    end = next(e["Timestamp"] for e in events if e["Event"] == "SparkListenerApplicationEnd")
    busy = stats.union_length((s, e) for s, e, g in jobs.values() if g is None)
    assert eventlog.parse_file(TINY_LOG)["spark.driver_gap_s"] == pytest.approx((end - start - busy) / 1e3)
    # two windows, one around job 4 and one around job 3, weighed 1/2 each
    s4, e4, _ = jobs[4]
    s3, e3, _ = jobs[3]
    w = eventlog.parse_file(TINY_LOG, [(s4 - 10, e4 + 10, 0.5), (s3 - 20, e3 + 20, 0.5)])
    assert w["spark.jobs"] == pytest.approx(1.0)
    assert w["spark.tasks"] == pytest.approx((1 + 2) / 2)
    assert w["spark.shuffle_write_mb"] * eventlog.MB == pytest.approx((59 + 59) / 2)
    assert w["spark.python_sent_mb"] == 0.0
    assert w["spark.driver_gap_s"] == pytest.approx((0.5 * 20 + 0.5 * 40) / 1e3)
    # a window around the check job counts nothing
    s5, e5, g5 = jobs[5]
    assert g5 == eventlog.CHECK_GROUP
    c = eventlog.parse_file(TINY_LOG, [(s5 - 1, e5 + 1, 1.0)])
    assert c["spark.jobs"] == 0 and c["spark.tasks"] == 0
    assert c["spark.driver_gap_s"] == pytest.approx((e5 - s5 + 2) / 1e3)


def test_parser_ignores_stages_without_python_operators():
    durs = {0: [100, 300], 1: [10, 1000]}
    assert eventlog.worst_python_skew(durs, {0: {"MapInArrow"}, 1: {"Exchange"}}) == pytest.approx(1.5)
    assert eventlog.worst_python_skew(durs, {}) == 0.0


# ---------------------------------------------------------------- records

def test_compare_refuses_mixed_core_counts():
    rec = {"workload": "tier_batch", "nproc": 4, "end_to_end": {}}
    compare.check_comparable([rec, dict(rec)])
    with pytest.raises(compare.Incomparable):
        compare.check_comparable([rec, {**rec, "nproc": 32}])
    with pytest.raises(compare.Incomparable):
        compare.check_comparable([rec, {**rec, "workload": "query_suite"}])


def test_compare_summarizes_per_layer_only_when_recorded(tmp_path, capsys):
    plain = {
        "workload": "tier_batch", "nproc": 4, "trace": 0,
        "end_to_end": {"warm_pass_s": {"value": 2.0, "unit": "s"}},
    }
    traced = {
        **plain, "trace": 1,
        "end_to_end": {"warm_pass_s": {"value": 2.2, "unit": "s"}},
        "per_layer": {"spark.jobs": {"value": 5.0, "unit": "count"}},
    }
    a, t = tmp_path / "a.json", tmp_path / "t.json"
    a.write_text(json.dumps(plain))
    t.write_text(json.dumps(traced))
    assert compare.main([str(a)]) == 0
    out = capsys.readouterr().out
    assert "warm_pass_s" in out and "[per_layer]" not in out
    assert compare.main([str(t), "--against", str(a)]) == 0
    out = capsys.readouterr().out
    assert "ratio=1.100" in out and "[per_layer]" in out and "spark.jobs" in out


# ---------------------------------------------------------------- checks, inputs

def test_leaf_compare_follows_the_oracle_rule():
    import pandas as pd

    from perfbench.workloads import compare

    want = pd.DataFrame({"k": [1, 2], "v": [0.1234564, 2.0]})
    assert compare(pd.DataFrame({"v": [2.0, 0.1234561], "k": [2, 1]}), want) == ""
    assert compare(pd.DataFrame({"k": [1, 2], "v": [0.12346, 2.0]}), want).startswith("values")
    assert compare(pd.DataFrame({"k": [1], "v": [2.0]}), want).startswith("rows")
    assert compare(pd.DataFrame({"k": [1, 2], "w": [0.1, 2.0]}), want).startswith("columns")


def test_kernel_check_wants_one_row_per_series_and_oracle_values():
    import pandas as pd

    from perfbench.workloads import check_kernel

    want = pd.DataFrame({"dtw_dist": [1.5]}, index=["7"])
    got = pd.DataFrame({"conv_id": ["3", "7"], "dtw_dist": [9.0, 1.50001]})
    assert check_kernel(got, want, 2) == ""
    assert "rows" in check_kernel(got.iloc[:1], want, 2)
    assert "rows" in check_kernel(pd.DataFrame({"conv_id": ["7", "7"], "dtw_dist": [1.5, 1.5]}), want, 2)
    assert "oracle" in check_kernel(got.assign(dtw_dist=[9.0, 1.6]), want, 2)
    assert "no row" in check_kernel(got.assign(conv_id=["3", "8"]), want, 2)


def test_tier_step_medians_take_warm_passes_and_split_off_ingest():
    from perfbench.workloads import tier_step_medians

    def pass_(total, *steps):
        return {"elapsed_s": total, **{t: {"elapsed_s": x} for t, x in zip(("1m", "1h", "1d", "gm"), steps)}}

    cold = pass_(20.0, 5.0, 5.0, 5.0, 5.0)
    med = tier_step_medians([cold, pass_(6.0, 1.0, 1.0, 1.0, 1.0), pass_(8.0, 2.0, 1.0, 1.0, 1.0)])
    assert med == pytest.approx({"1m": 1.5, "1h": 1.0, "1d": 1.0, "gm": 1.0, "ingest": 2.5})


def test_events_have_the_test_tables_shape(tmp_path):
    import pyarrow.parquet as pq

    from perfbench.inputs import write_events

    # sf0.01's size: 10000 events of 150 users
    assert write_events(str(tmp_path), 3, 10000, 150) == 150
    t = pq.read_table(str(tmp_path / "events.parquet")).to_pandas()
    per_user = t.groupby("user_id").size()
    assert per_user.mean() == pytest.approx(10000 / 150) and 40 < per_user.min() and per_user.max() < 100
    assert t.event_type.value_counts(normalize=True).between(0.18, 0.22).all()
    assert 48 < t.value.mean() < 52 and 33 < t.value.median() < 37
    assert (t.ts.max() - t.ts.min()).days == 29


def test_events_input_depends_only_on_the_seed(tmp_path):
    import pyarrow.parquet as pq

    from perfbench.inputs import write_events

    a, b, c = (tmp_path / x for x in "abc")
    assert write_events(str(a), 7, 500, 10) == 10
    write_events(str(b), 7, 500, 10)
    write_events(str(c), 8, 500, 10)
    ta, tb, tc = (pq.read_table(str(d / "events.parquet")) for d in (a, b, c))
    assert ta.equals(tb) and not ta.equals(tc)
    assert ta.column("event_id").to_pylist() == list(range(500))
    assert ta.column("ts").to_pylist() == sorted(ta.column("ts").to_pylist())
