"""Isolated repeat-timer for single registry queries (guide §1.1/§1.4).

Runs each named query N times in ONE session and reports every timing
plus the min (the noise floor on a box with ~19% run-to-run swing). Per
rep it also prints the build seconds and the Spark jobs the registry call
itself launched (``build=``, ``build_jobs=``, counted under a job group
around the call) and the jobs the timed action launched (``exec_jobs=``,
under a second group), so an A/B shows whether build or execution moved
and whether jobs moved between them; and the number of classes codegen
compiled (``classes=``): rep 0 is the cold run, later reps show what a
warm run still compiles. The timed
action collects the result to the driver; pass --noop to time a
noop-sink write instead (computes every column, no driver transfer) when
diagnosing whether collect/driver transfer is the cost. bench.py times
``.count()``, which may prune columns and joins, so neither action is
comparable with it number for number.

Usage: python tools/isolate_bench.py [--sf DIR] [--reps N] [--noop] query...
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    reps = 3
    noop = False
    names = []
    it = iter(args)
    for a in it:
        if a == "--sf":
            sf_dir = next(it)
        elif a == "--reps":
            reps = int(next(it))
        elif a == "--noop":
            noop = True
        else:
            names.append(a)

    import __spark_entry__ as entrymod
    from map_spark_sql_spark.session import compiled_classes, get_session

    spark = get_session(app_name="isolate")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    queries = entrymod.queries()

    for name in names:
        fn = queries[name]
        times, builds, build_jobs, exec_jobs, classes = [], [], [], [], []
        for i in range(reps):
            group = f"isolate-build-{name}-{i}"
            c0 = compiled_classes(spark)
            t0 = time.perf_counter()
            sc.setJobGroup(group, f"{name} rep{i} build")
            df = fn(spark, sf_dir)
            sc.setLocalProperty("spark.jobGroup.id", None)
            builds.append(time.perf_counter() - t0)
            build_jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            sc.setJobGroup(f"isolate-exec-{name}-{i}", f"{name} rep{i}")
            if noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
            times.append(time.perf_counter() - t0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            exec_jobs.append(
                len(sc.statusTracker().getJobIdsForGroup(f"isolate-exec-{name}-{i}"))
            )
            classes.append(compiled_classes(spark) - c0)
        sc.setJobDescription(None)
        print(
            f"{name}: min={min(times):.3f}s runs="
            + ",".join(f"{t:.3f}" for t in times)
            + " build="
            + ",".join(f"{t:.3f}" for t in builds)
            + " build_jobs="
            + ",".join(str(n) for n in build_jobs)
            + " exec_jobs="
            + ",".join(str(n) for n in exec_jobs)
            + " classes="
            + ",".join(str(c) for c in classes),
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
