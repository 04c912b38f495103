"""Whale-skew receipt for the "0:0" ALL map key (r6 verdict ask #6).

Every occurrence record carries the ``"0:0"`` ALL key
(``MapKeysUDF.java:115``), so the A6 points-path list aggregation
(``collect_list`` per view) funnels the whole table through ONE reducer
for that key — SURVEY §7's named whale. ``salted_collect_list``
(operators/skew.py) is the two-phase fix; this tool PROVES it with
per-task numbers at a scale rung:

- runs the A2 -> A6 points aggregation over the full exploded key set
  (whale included — no routing exclusion) through BOTH the plain
  one-phase ``collect_list`` and the salted two-phase form;
- pulls per-stage task-time and shuffle-read distributions from the Spark
  status REST API (quantiles straight from ``taskSummary``);
- reports max/median task-time ratios per stage: the plain form shows the
  N-proportional whale task, the salted form must not.

Usage: python tools/whale_skew_receipt.py [sf_dir] [buckets]
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

print = functools.partial(print, flush=True)

UI_PORT = 4057


def _get(app_path: str):
    url = f"http://localhost:{UI_PORT}/api/v1/applications{app_path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def stage_report(app_id: str, description: str) -> list[dict]:
    jobs = _get(f"/{app_id}/jobs")
    stage_ids = sorted(
        {
            sid
            for j in jobs
            if (j.get("description") or "") == description
            for sid in j["stageIds"]
        }
    )
    out = []
    for sid in stage_ids:
        try:
            stages = _get(f"/{app_id}/stages/{sid}")
        except Exception:  # noqa: BLE001
            continue
        for st in stages:
            if st["status"] != "COMPLETE":
                continue
            att = st["attemptId"]
            qs = "quantiles=0.0,0.5,0.75,0.95,1.0"
            try:
                summ = _get(f"/{app_id}/stages/{sid}/{att}/taskSummary?{qs}")
            except Exception:  # noqa: BLE001
                continue
            run = summ["executorRunTime"]  # ms quantiles
            rd = summ.get("shuffleReadMetrics", {}).get("readBytes", [0] * 5)
            med = max(run[1], 1.0)
            out.append(
                {
                    "stage": sid,
                    "tasks": st["numCompleteTasks"],
                    "task_ms_med": round(run[1]),
                    "task_ms_p95": round(run[3]),
                    "task_ms_max": round(run[4]),
                    "max_over_median": round(run[4] / med, 1),
                    "shuffle_read_med_mb": round(rd[1] / 1e6, 1),
                    "shuffle_read_max_mb": round(rd[4] / 1e6, 1),
                    "name": st["name"].split("\n")[0][:60],
                }
            )
    return out


def main() -> int:
    from pyspark.sql import functions as F

    from map_spark_sql_spark import queries as Q
    from map_spark_sql_spark.operators.skew import salted_collect_list
    from map_spark_sql_spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scratch/sf100x"
    buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 64

    spark = get_session(
        app_name="whale_skew",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": str(UI_PORT)},
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    app_id = sc.applicationId

    # A2 counts over ALL keys — the "0:0" whale included (no routing).
    expl = Q._exploded_df(spark, sf_dir)
    counts = (
        expl.groupBy("mapKey", "lat", "lng", "borYear")
        .agg(F.count(F.lit(1)).alias("occCount"))
        .withColumn(
            "feat",
            F.concat_ws(
                ":",
                F.floor(F.col("lat") * 1000).cast("string"),
                F.floor(F.col("lng") * 1000).cast("string"),
                F.col("borYear").cast("string"),
                F.col("occCount").cast("string"),
            ),
        )
    )
    # Materialize the shared input once so both variants time ONLY the
    # collect aggregation, not the fan-out.
    counts = counts.localCheckpoint(eager=False)
    n_in = counts.count()
    whale = counts.filter(F.col("mapKey") == "0:0").count()
    print(f"input: {n_in} (mapKey, loc, borYear) rows; whale '0:0' carries {whale} "
          f"({100.0 * whale / n_in:.1f}% of the input into ONE group)")

    receipt = {"sf_dir": sf_dir, "input_rows": n_in, "whale_rows": whale, "buckets": buckets}

    for label, df in [
        (
            "salted_two_phase",
            salted_collect_list(counts, ["mapKey"], "feat", out_col="feats", buckets=buckets),
        ),
        (
            "plain_one_phase",
            counts.groupBy("mapKey").agg(F.collect_list("feat").alias("feats")),
        ),
    ]:
        sc.setJobDescription(label)
        t0 = time.perf_counter()
        try:
            agg = df.select(F.size("feats").alias("n")).agg(
                F.sum("n").alias("total"), F.max("n").alias("biggest")
            ).collect()[0]
            wall = time.perf_counter() - t0
            print(f"{label}: {wall:.1f}s; features total {agg.total}, "
                  f"largest view {agg.biggest}")
            stages = stage_report(app_id, label)
            for s in stages:
                print(
                    f"  stage {s['stage']:>3} ({s['tasks']} tasks) "
                    f"task-ms med/p95/max {s['task_ms_med']}/{s['task_ms_p95']}/"
                    f"{s['task_ms_max']} (max/med {s['max_over_median']}x) "
                    f"shuffle-read med/max {s['shuffle_read_med_mb']}/"
                    f"{s['shuffle_read_max_mb']} MB  {s['name']}"
                )
            receipt[label] = {"wall_s": round(wall, 1), "stages": stages,
                              "total": agg.total, "biggest_view": agg.biggest}
        except Exception as exc:  # noqa: BLE001
            wall = time.perf_counter() - t0
            print(f"{label}: FAILED after {wall:.1f}s: {str(exc)[:300]}")
            receipt[label] = {"wall_s": round(wall, 1), "error": str(exc)[:300]}
        finally:
            sc.setJobDescription(None)

    print("RECEIPT " + json.dumps(receipt))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
