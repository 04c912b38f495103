"""Plan invariants of every registry query, against one committed table
(``plan_invariants.json``).

One sweep builds each ``QUERIES`` entry at sf0.001 under its own job
group, counts the Spark jobs the build launched, and walks the built,
un-executed physical plan. It checks:

- on every query, the pitfalls: no row-at-a-time ``BatchEvalPython`` node,
  and no higher-order function in a parquet scan's ``DataFilters`` (it
  cannot be pushed, and runs per row inside the scan);
- on the bench headline and perfbench board queries, the node counts of
  ``_shape``, equal to the table's row;
- on every query, 0 build jobs, or at most the ``max`` of its
  ``build_jobs`` entry, which says ``why`` the build runs jobs. A query
  that starts a stream at build time also counts the micro-batch jobs the
  stream runs under its own job group (its ``runId``). An entry whose
  query launches no build job is stale and fails the test, so an entry
  leaves the table when its cause goes away.

A failure shows the observed rows in the table's layout, so an intended
plan change is a paste into the table.
"""

from __future__ import annotations

import json
import os
import re

from conftest import SF_DIR
from pyspark.sql.streaming import StreamingQueryListener

TABLE = os.path.join(os.path.dirname(__file__), "plan_invariants.json")


def _shape(nodes) -> dict[str, int]:
    scans = [s for n, s in nodes if n.startswith("Scan parquet")]
    names = [n for n, _ in nodes]
    return {
        "scans": len(scans),
        "pushed_scans": sum("PushedFilters: []" not in s for s in scans),
        "exchanges": names.count("Exchange"),
        "broadcasts": names.count("BroadcastExchange"),
        "joins": sum(n.endswith("Join") for n in names),
        "windows": names.count("Window"),
        "sorts": names.count("Sort"),
        "python": sum(bool(re.search("Python|InPandas|InArrow", n)) for n in names),
    }


def _pitfalls(nodes) -> list[str]:
    found = [n for n, _ in nodes if n == "BatchEvalPython"]
    for s in (s for n, s in nodes if n.startswith("Scan parquet")):
        filters = s.split("DataFilters: ", 1)[1].split(", Format: ", 1)[0]
        if re.search(r"\b(transform|aggregate)\(", filters):
            found.append(f"higher-order function in DataFilters {filters}")
    return found


class _RunIds(StreamingQueryListener):
    """Records the ``runId`` of every stream started; Spark posts the
    start event synchronously, so it is recorded before ``start()`` returns."""

    def __init__(self):
        self.run_ids: list[str] = []

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _dumps(table) -> str:
    """``table`` as JSON with one row per line: the layout of ``TABLE``."""
    parts = [
        f' "{part}": {{\n'
        + ",\n".join(f'  "{q}": {json.dumps(row)}' for q, row in rows.items())
        + "\n }"
        for part, rows in table.items()
    ]
    return "{\n" + ",\n".join(parts) + "\n}\n"


def test_plan_invariants(spark, plan_nodes):
    import bench
    from perfbench.workloads import BOARD

    from map_spark_sql_spark.queries import QUERIES

    sc = spark.sparkContext
    with open(TABLE, encoding="utf-8") as f:
        table = json.load(f)
    allow = table["build_jobs"]
    assert all(set(v) == {"max", "why"} and v["why"] for v in allow.values())
    # the table's rows must cover these: none can drop out silently
    shape_names = set(bench.HEADLINE) | set(BOARD) | set(table["shape"])

    # Scan metadata is cut at this many characters when a plan is built,
    # which could hide a higher-order function past the cut.
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, str(1 << 20))
    streams = _RunIds()
    spark.streams.addListener(streams)
    shapes, pitfalls, jobs = {}, {}, {}
    try:
        for name in sorted(QUERIES):
            group = f"plan-invariants-{name}"
            started = len(streams.run_ids)
            sc.setJobGroup(group, f"build {name}")
            try:
                df = QUERIES[name](spark, SF_DIR)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            groups = [group, *streams.run_ids[started:]]
            if n := sum(len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups):
                jobs[name] = {"max": n, "why": allow.get(name, {}).get("why", "")}
            nodes = list(plan_nodes(df, execute=False))
            if found := _pitfalls(nodes):
                pitfalls[name] = found
            if name in shape_names:
                shapes[name] = _shape(nodes)
    finally:
        spark.streams.removeListener(streams)
        spark.conf.set(key, old)

    # captured: pytest shows it when the test fails
    print(f"observed rows, the layout of {TABLE}:")
    print(_dumps({"shape": shapes, "build_jobs": jobs}))
    moved = sorted(
        q for q in shapes.keys() | table["shape"].keys()
        if shapes.get(q) != table["shape"].get(q)
    )
    over = {q: v["max"] for q, v in jobs.items() if v["max"] > allow.get(q, {"max": 0})["max"]}
    stale = sorted(allow.keys() - jobs.keys())
    assert not (pitfalls or moved or over or stale), (
        f"pitfalls: {pitfalls}\nshape rows that differ: {moved}\n"
        f"build jobs over the bound: {over}\n"
        f"build_jobs entries whose query launches no build job: {stale}"
    )
