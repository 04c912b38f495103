"""Tests of the benchmark's own machinery (run: python -m pytest perfbench -q).

One Spark session with the event log on runs every board query on a tiny
generated input through the benchmark's timed action, then the log is read
back after the session stops.
"""

from __future__ import annotations

import json
import pathlib
import tempfile

import pytest

from map_spark_sql_spark import queries as Q
from perfbench import workloads as W
from perfbench.inputs import board_input, table_stats
from perfbench.trace import EventLog, Tracer, plan_counts, self_time_check

HERE = pathlib.Path(__file__).parent
RECONCILE_QUERY = "tpch_q1_pricing_summary"
# Spark logs job times in milliseconds; allow a few for the two clocks
CLOCK_SLACK_S = 0.005


def _py4j_plan_info(node) -> dict:
    """A SparkPlanInfo tree (JVM) as the dict shape the event log stores."""
    kids = node.children()
    return {
        "nodeName": node.nodeName(),
        "children": [_py4j_plan_info(kids.apply(i)) for i in range(kids.size())],
    }


@pytest.fixture(scope="module")
def board_run(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    log_dir = f"{work}/eventlog"
    src = board_input(work, 0, W.BOARD_TINY_SF)
    # the session's temp files and GC log go to the test's own directory
    tmp, tempfile.tempdir = tempfile.tempdir, work
    spark = W.start_session(work, log_dir)
    sc = spark.sparkContext
    jvm = spark._jvm
    own: dict[str, dict] = {}
    tracer = Tracer(True)
    try:
        for q in W.BOARD:
            df = Q.QUERIES[q](spark, src)
            plan = df._jdf.queryExecution().executedPlan()
            info = jvm.org.apache.spark.sql.execution.SparkPlanInfo.fromSparkPlan(plan)
            own[q] = plan_counts(_py4j_plan_info(info))
            sc.setJobDescription(f"action:{q}")
            try:
                W.timed_action(df)
            finally:
                sc.setJobDescription(None)
        with tracer.span("pass"):
            with tracer.span(f"board.{RECONCILE_QUERY}"):
                W.timed_action(Q.QUERIES[RECONCILE_QUERY](spark, src))
    finally:
        spark.stop()
        tempfile.tempdir = tmp
    return own, EventLog(log_dir), tracer.spans, pathlib.Path(log_dir)


@pytest.mark.parametrize("q", W.BOARD)
def test_timed_action_keeps_the_query_plan(board_run, q):
    """The noop write executes every Join, Window, Python-eval and Aggregate
    node of the query's own plan; ``df.count()`` prunes them away (the as-of
    window, the bloom, funnel and near-dup joins, the profile aggregates)
    and fails this."""
    own, log, _, _ = board_run
    plans = [
        versions[0]
        for eid, versions in log.plans.items()
        if log.exec_desc.get(eid) == f"action:{q}"
    ]
    assert plans, f"no SQL execution recorded for the timed action of {q}"
    got = plan_counts(plans[-1])
    for kind, n in own[q].items():
        assert got[kind] >= n, f"{q}: timed action has {got[kind]} {kind} nodes, query plan {n}"


def _raw_job_intervals(log_dir) -> list[tuple[float, float]]:
    """(submission, completion) of every job, read straight from the event
    log file rather than through ``EventLog``."""
    starts, ends = {}, {}
    for path in log_dir.iterdir():
        for line in path.read_text().splitlines():
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart":
                starts[ev["Job ID"]] = ev["Submission Time"] / 1000
            elif ev["Event"] == "SparkListenerJobEnd":
                ends[ev["Job ID"]] = ev["Completion Time"] / 1000
    return sorted((starts[j], ends[j]) for j in starts)


def test_driver_only_plus_job_busy_reconciles_with_span_wall(board_run):
    """The span's clock (Python) and the job intervals Spark logged (JVM)
    agree: every job submitted in the span also ends in it, and the
    folded busy and driver-only times match the logged job durations."""
    _, log, spans, log_dir = board_run
    op = next(s for s in spans if s["name"] == f"board.{RECONCILE_QUERY}")
    wall = op["end"] - op["start"]
    jobs = [(a, b) for a, b in _raw_job_intervals(log_dir) if op["start"] <= a <= op["end"]]
    assert jobs, "no job was submitted inside the span"
    for (a, b), nxt in zip(jobs, jobs[1:] + [(op["end"] + CLOCK_SLACK_S, None)]):
        assert b <= nxt[0] + CLOCK_SLACK_S, "the action's jobs should run one after another"
    logged_busy = sum(b - a for a, b in jobs)
    fold = log.fold(spans, [op["id"]])
    assert fold["jobs"] == len(jobs) and fold["tasks"] >= len(jobs)
    assert fold["job_busy_s"] == pytest.approx(logged_busy, abs=CLOCK_SLACK_S)
    assert fold["driver_only_s"] == pytest.approx(wall - logged_busy, abs=CLOCK_SLACK_S)
    assert 0 < fold["driver_only_s"] < wall


def _event(kind: str, **kw) -> str:
    return json.dumps({"Event": kind, **kw})


def test_fold_clips_and_unions_job_intervals(tmp_path):
    """A span 10-20 s with jobs at 11-13 and 12-15 (overlapping), 19-22
    (ends after the span) and 25-26 (outside): busy is 4 + 1 s."""
    jobs = {0: (11, 13), 1: (12, 15), 2: (19, 22), 3: (25, 26)}
    lines = []
    for j, (a, b) in jobs.items():
        lines.append(_event("SparkListenerJobStart", **{
            "Job ID": j, "Submission Time": a * 1000, "Stage IDs": [j], "Properties": {},
        }))
        lines.append(_event("SparkListenerTaskEnd", **{
            "Stage ID": j, "Task Metrics": {"Executor CPU Time": 10**9}, "Task Info": {},
        }))
        lines.append(_event("SparkListenerJobEnd", **{"Job ID": j, "Completion Time": b * 1000}))
    (tmp_path / "app").write_text("\n".join(lines) + "\n")
    spans = [{"id": 0, "name": "op", "parent": None, "run": "pass", "start": 10.0, "end": 20.0}]
    fold = EventLog(str(tmp_path)).fold(spans, [0])
    assert fold["jobs"] == 3 and fold["tasks"] == 3
    assert fold["job_busy_s"] == pytest.approx(5.0)
    assert fold["driver_only_s"] == pytest.approx(5.0)
    assert fold["exec_cpu_s"] == pytest.approx(3.0)


def test_self_times_add_up_to_root_wall():
    spans = [
        {"id": 0, "name": "pass", "parent": None, "run": "pass", "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "run": "pass", "start": 1.0, "end": 4.0},
        {"id": 2, "name": "a.b", "parent": 1, "run": "pass", "start": 2.0, "end": 3.0},
        {"id": 3, "name": "c", "parent": 0, "run": "pass", "start": 5.0, "end": 9.0},
    ]
    check = self_time_check(spans)
    assert check["ok"] and check["min_self_s"] == pytest.approx(1.0)


def test_generated_tables_match_the_fixed_tables(tmp_path):
    """The board's generated tables at sf0.01 reproduce the statistics
    recorded from the repository's fixed sf0.01 tables: row counts and
    types everywhere; NULLs, key cardinalities, value ranges and value
    mixes for the TPC-H-shaped tables and ``events``. ``documents`` and
    ``embeddings`` keep the ``gen_scale_docs`` shape (duplicates, NULL
    text, cosine twins) that those tables lack."""
    want = json.loads((HERE / "testdata_stats_sf0.01.json").read_text())
    got = table_stats(board_input(str(tmp_path), 0, 0.01))
    for t, w in want.items():
        assert got[t]["rows"] == w["rows"], t
        for c, wc in w["columns"].items():
            gc = got[t]["columns"][c]
            assert gc["type"] == wc["type"], (t, c)
            if t in ("documents", "embeddings"):
                continue
            assert gc["nulls"] == wc["nulls"], (t, c)
            assert abs(gc["distinct"] - wc["distinct"]) <= max(2, 0.02 * wc["distinct"]), (t, c)
            if "min" in wc:
                span = (wc["max"] - wc["min"]) or 1
                assert abs(gc["min"] - wc["min"]) <= 0.15 * span, (t, c)
                assert abs(gc["max"] - wc["max"]) <= 0.15 * span, (t, c)
            if "mix" in wc:
                assert set(gc["mix"]) == set(wc["mix"]), (t, c)
                for v, share in wc["mix"].items():
                    assert abs(gc["mix"][v] - share) < 0.05, (t, c, v)
