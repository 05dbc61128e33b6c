"""Unit tests of the benchmark's own arithmetic, parsers and checks.

Run from the repository root: python3 -m pytest perfbench/tests -q
None of them starts Spark.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import sparklog
from checks import Tally, frames_match, oracle_error
from harness import DATA as BENCH_DATA
from layers import metric_units, pass_span_metrics
from nightly_workload import change_feed, file_states, written_bytes
from registry_workload import QUERIES, family, pass_order
from spans import (
    Span,
    Tracer,
    outermost,
    percentile,
    self_times,
    tail_percentile,
    union_length,
)

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# -- the percentile rule ------------------------------------------------------


@pytest.mark.parametrize(
    "n, q",
    [(1000, 90), (100, 90), (99, 75), (40, 75), (39, 50), (20, 50), (19, 50), (1, 50)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, q):
    assert tail_percentile(n) == q


def test_tail_percentile_is_the_highest_that_qualifies():
    for n in range(1, 500):
        q = tail_percentile(n)
        higher = [c for c in (90, 75) if c > q]
        assert all(n * (100 - c) / 100 < 10 for c in higher)
        if q != 50:
            assert n * (100 - q) / 100 >= 10


def test_percentile_interpolates_between_order_statistics():
    xs = [4.0, 1.0, 3.0, 2.0, 5.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 75) == 4.0
    assert percentile([1.0, 2.0], 50) == 1.5


# -- span self time -----------------------------------------------------------


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        Span("job", 0.0, 10.0, None, "t"),
        Span("build", 1.0, 4.0, 0, "t"),
        Span("op", 2.0, 3.0, 1, "t"),
        Span("merge", 5.0, 7.0, 0, "t"),
        Span("late", 6.0, 8.0, 0, "t"),  # overlaps merge: counted once
    ]
    assert self_times(spans) == [10.0 - 3.0 - 3.0, 3.0 - 1.0, 1.0, 2.0, 2.0]


def test_self_times_of_a_tree_add_up_to_its_root():
    spans = [
        Span("night", 0.0, 9.0, None, "n"),
        Span("a", 0.5, 4.0, 0, "n"),
        Span("b", 1.0, 2.0, 1, "n"),
        Span("c", 5.0, 8.5, 0, "n"),
    ]
    assert sum(self_times(spans)) == pytest.approx(spans[0].dur)


def test_outermost_skips_nested_spans_of_the_same_layer():
    spans = [
        Span("operators.graph.pagerank", 0, 5, None, "t"),
        Span("operators.graph.edges", 1, 2, 0, "t"),
        Span("sources.fsutil.exists", 2, 3, 0, "t"),
        Span("operators.graph.edges", 3, 4, 2, "t"),
    ]
    top = outermost(spans, lambda n: n.startswith("operators.graph."))
    assert top == [0]


def test_job_layer_metrics_from_spans():
    """One loaded job (MERGE with a swap) and one quiet job (MERGE skipped)."""
    spans = [
        Span("plans.jobs.run_job", 0.0, 10.0, None, "p0:loaded"),
        Span("sources.watermark.read_watermark", 0.0, 1.0, 0, "p0:loaded"),
        Span("jobs.qc.build", 1.0, 2.0, 0, "p0:loaded"),
        Span("sources.sinks.merge_upsert", 3.0, 8.0, 0, "p0:loaded"),
        Span("sources.fsutil.swap_with_backup", 7.0, 7.5, 3, "p0:loaded"),
        Span("sources.watermark.commit_run", 8.0, 9.0, 0, "p0:loaded"),
        Span("plans.jobs.run_job", 10.0, 12.0, None, "p0:quiet"),
        Span("sources.sinks.merge_upsert", 10.5, 11.0, 6, "p0:quiet"),
    ]
    m = pass_span_metrics(spans, self_times(spans), list(range(len(spans))))
    assert m["plans.jobs.run_job_s"] == 12.0
    assert m["plans.jobs.self_s"] == pytest.approx((10.0 - 8.0) + (2.0 - 0.5))
    assert m["sources.sinks.merge_upsert_calls"] == 2
    assert m["sources.sinks.rewrite_ratio"] == 0.5
    assert m["jobs.qc.build_s"] == 1.0
    assert m["sources.fsutil.swap_with_backup_s"] == 0.5
    assert m["trace.top_s"] == 12.0


def test_tracer_records_parent_and_trace_id():
    tracer = Tracer()
    tracer.trace = "p0:q"
    inner = tracer.wrap(lambda x: x + 1, "inner")
    assert tracer.call("outer", inner, 1) == 2
    outer, child = tracer.spans
    assert (outer.name, outer.parent, child.name, child.parent) == ("outer", None, "inner", 0)
    assert child.trace == outer.trace == "p0:q"
    assert outer.start <= child.start <= child.end <= outer.end


def test_disabled_tracer_records_nothing():
    tracer = Tracer(enabled=False)
    assert tracer.call("x", max, 1, 2) == 2
    assert tracer.spans == []


# -- the event-log parser -----------------------------------------------------


def test_event_log_parser_on_a_recorded_log():
    """A log recorded from Spark 4.1.2: two set-up jobs, then a groupBy
    (two jobs, the second with a skipped map stage) and a plain scan in
    pass p0, and the groupBy again in pass p1."""
    with open(os.path.join(DATA, "eventlog_small.json")) as f:
        ops = sparklog.read_events(f)
    assert set(ops) == {("p0", "q1"), ("p0", "q2"), ("p1", "q1")}
    assert [ops[("p0", "q1")][k] for k in ("jobs", "stages", "tasks")] == [2, 2, 3]
    assert [ops[("p0", "q2")][k] for k in ("jobs", "stages", "tasks")] == [1, 1, 2]
    q1 = ops[("p0", "q1")]
    assert q1["shuffle_write_mb"] > 0 and q1["shuffle_read_mb"] == pytest.approx(q1["shuffle_write_mb"])
    assert ops[("p0", "q2")]["shuffle_write_mb"] == 0
    for rec in ops.values():
        assert 0 < rec["executor_cpu_s"] <= rec["executor_run_s"] + 1e-3
        assert rec["job_busy_s"] > 0
    passes = sparklog.per_pass(ops)
    assert passes["p0"]["jobs"] == 3 and passes["p1"]["jobs"] == 2


def test_event_lines_reads_rolling_files_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_2_app").write_text("b\n")
    (d / "events_1_app").write_text("a\n")
    (d / "appstatus_app").write_text("")
    assert [line.strip() for line in sparklog.event_lines(str(tmp_path))] == ["a", "b"]


def test_codegen_fallbacks_are_counted_from_the_driver_log():
    log = (
        "WARN WholeStageCodegenExec: Whole-stage codegen disabled for plan (id=11):\n"
        "INFO other line\n"
        "WARN WholeStageCodegenExec: Whole-stage codegen disabled for plan (id=3):\n"
    )
    assert sparklog.count_codegen_fallbacks(log) == 2
    assert sparklog.count_codegen_fallbacks("") == 0


# -- seeded inputs and order --------------------------------------------------


def test_pass_order_depends_only_on_seed_and_pass():
    assert pass_order(7, "p0") == pass_order(7, "p0")
    assert sorted(pass_order(7, "p0")) == sorted(QUERIES)
    orders = {tuple(pass_order(seed, p)) for seed in range(3) for p in ("p0", "p1", "p2")}
    assert len(orders) > 1


def test_change_feed_carries_inserts_and_later_updates():
    li = pq.read_table(os.path.join(BENCH_DATA, "sf0.1", "lineitem.parquet")).slice(0, 2000)
    feed = change_feed(li, 5).to_pandas()
    assert (feed.version == 0).sum() == li.num_rows
    updates = feed[feed.version == 1]
    assert len(updates) > 0 and (updates.delay_days >= 1).all()
    assert change_feed(li, 5).equals(change_feed(li, 5))
    assert not change_feed(li, 5).equals(change_feed(li, 6))


def test_query_families():
    assert [family(n) for n in ("a11_x", "g11_x", "dd5_x", "llm13_x", "j11b_x", "st10_x")] == [
        "a", "g", "dd", "llm", "j", "st",
    ]


# -- output checks ------------------------------------------------------------


def test_frames_match_is_order_insensitive_and_exact():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, 0.3]})
    assert frames_match(a, a.iloc[::-1][["v", "k"]]) is None
    assert frames_match(a, a.assign(v=[0.1, 0.2, 0.30000000000000004])) is not None
    assert "row count" in frames_match(a, a.head(2))
    assert "columns" in frames_match(a, a.rename(columns={"v": "w"}))


def test_a_corrupted_output_is_counted_as_failed():
    """The registry check path on the benchmark's sf0.1 files: the oracle's
    own answer passes, the same answer with one value changed fails, and
    the failure marks every execution of that query."""
    import duckdb

    data = os.path.join(BENCH_DATA, "sf0.1")
    sql = "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM lineitem GROUP BY 1"
    good = duckdb.sql(sql.replace("FROM lineitem", f"FROM '{data}/lineitem.parquet'")).df()
    bad = good.copy()
    bad.loc[0, "q"] += 1.0
    assert oracle_error(good, sql, data, ["lineitem"]) is None
    error = oracle_error(bad, sql, data, ["lineitem"])
    assert error is not None

    tally = Tally()
    for _ in range(2):
        tally.record("good_query")
        tally.record("corrupted_query")
    tally.fail("corrupted_query", error)
    assert (tally.attempted, tally.failed) == (4, 2)
    assert set(tally.errors()) == {"corrupted_query"}


# -- bytes written by a merge -------------------------------------------------


def _write_part(path: str, rows: int) -> None:
    pq.write_table(pa.table({"k": list(range(rows))}), path)


def test_an_append_only_merge_reads_below_a_full_rewrite(tmp_path):
    fact = tmp_path / "fact"
    fact.mkdir()
    for i in range(4):
        _write_part(str(fact / f"part-{i}.parquet"), 1000)
    before = file_states(str(fact))
    assert written_bytes(before, str(fact)) == 0

    _write_part(str(fact / "part-4.parquet"), 100)  # append one part file
    appended = written_bytes(before, str(fact))
    assert appended == os.path.getsize(fact / "part-4.parquet")

    before = file_states(str(fact))
    for f in os.listdir(fact):  # rewrite every file, as a swap does
        os.replace(fact / f, tmp_path / f)
        _write_part(str(fact / f), 1000 if f != "part-4.parquet" else 100)
    rewritten = written_bytes(before, str(fact))
    assert rewritten == sum(os.path.getsize(fact / f) for f in os.listdir(fact))
    assert appended < rewritten


# -- BENCHMARK.json ------------------------------------------------------------


def test_benchmark_json_lists_exactly_the_per_layer_metrics():
    root = os.path.dirname(os.path.dirname(BENCH_DATA))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        listed = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    assert listed == metric_units()
