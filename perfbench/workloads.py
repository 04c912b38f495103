"""The benchmark's workloads and the run that measures one of them.

Load shape: a closed loop in a single process, one operation at a time,
on ``local[<cores>]``. A run is: session start, a warm-up pass on tiny
input, then timed passes until ``--seconds`` have elapsed (at least one),
then the output checks. Only the timed passes feed the end-to-end metrics
other than ``setup_s``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

import numpy as np

from map_spark_sql_spark import queries as Q
from map_spark_sql_spark.config import MapConfiguration
from map_spark_sql_spark.plans import pipeline
from map_spark_sql_spark.session import get_session
from map_spark_sql_spark.sources import readers, writers
from perfbench.inputs import board_input, events_input
from perfbench.trace import (
    MIB,
    EventLog,
    GcLog,
    SplitRssSampler,
    Tracer,
    event_log_conf,
    jvm_allocated_mib,
    proc_tree,
    self_time_check,
    self_times,
    tree_cpu_s,
)
from tools.check_correctness import normalize

CPUS = len(os.sched_getaffinity(0))
DRIVER_HEAP = "2g"

# ---- map_build ------------------------------------------------------------
MAP_N = 5_000  # generated events in a timed build
MAP_TINY_N = 500  # generated events in the warm-up build
MAP_PROJECTIONS = ("EPSG:3857",)
MAP_MAX_ZOOM = 3
# Views at or above n / MAP_SPLIT events take the tile path, the rest the
# points path: about half of the 89 views each way, "0:0" always a tile view.
MAP_SPLIT = 40

# ---- board ----------------------------------------------------------------
BOARD_SF = 0.01
BOARD_TINY_SF = 0.001
BOARD = (
    "tpch_q1_pricing_summary",
    "dedup_incremental_near",
    "similarity_kcore",
    "customers_er_resolve",
    "asof_purchase_last_view",
    "events_funnel_conversion",
    "docs_bloom_prefilter",
    "events_profile",
)
# zoom bands of the pyramid at MAP_MAX_ZOOM=3 (a z16-z9 band would be empty)
ZOOM_BANDS = {"mid": range(3, 9), "whale": range(0, 3)}


def timed_action(df) -> None:
    """Materialise every column of ``df`` and transfer nothing to the driver.
    ``df.count()`` would let column pruning drop joins and encoders."""
    df.write.format("noop").mode("overwrite").save()


def gc_log() -> GcLog:
    """The driver JVM's GC log, in the run's temp dir."""
    return GcLog(os.path.join(tempfile.gettempdir(), "gc.log"))


def start_session(work: str, log_dir: str | None = None):
    # A 2 GiB driver heap (the session's own knob, 8 GiB unreserved by
    # default), reserved from the start: the JVM's resident size and GC work
    # then do not follow the collector's heap-growth decisions, which differ
    # run to run. Heap use is measured as allocation and the GC log instead.
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    extra = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # keep the JVM's temp files, and its perf-data file (otherwise in
        # /tmp/hsperfdata_<user>), inside the checkout
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData -Xms{DRIVER_HEAP} "
            + gc_log().jvm_option
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if log_dir is not None:
        extra.update(event_log_conf(log_dir))
    spark = get_session(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM and Python workers have
    exited; the JVM exits when its stdin pipe closes."""
    from pyspark import SparkContext

    spark.stop()
    children = [pid for pid in proc_tree(os.getpid()) if pid != os.getpid()]
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(map(_running, children)) and time.monotonic() < deadline:
        time.sleep(0.1)


def _running(pid: int) -> bool:
    """The process exists and is not a zombie awaiting its parent."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def _failed(what: str) -> None:
    print(f"FAILED {what}", file=sys.stderr)
    traceback.print_exc()


def twin_matches(cols: list[str], rows: list[tuple], con, oracle_sql: str) -> bool:
    """Rows equal the DuckDB twin's as multisets, columns matched by name
    (the tools/check_correctness.py comparison)."""
    res = con.sql(oracle_sql)
    dcols = [d[0] for d in res.description]
    if sorted(map(str.lower, cols)) != sorted(map(str.lower, dcols)):
        return False
    drows = res.fetchall()
    s_idx = [cols.index(c) for c in sorted(cols, key=str.lower)]
    d_idx = [dcols.index(c) for c in sorted(dcols, key=str.lower)]
    return normalize([tuple(r[i] for i in s_idx) for r in rows]) == normalize(
        [tuple(r[i] for i in d_idx) for r in drows]
    )


def _duckdb_over(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in readers.TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


class MapBuild:
    """``run_pipeline`` over a seeded events table: the points path and
    one EPSG:3857 tile pyramid, z3 to z0."""

    name = "map_build"

    def __init__(self, work: str, seed: int, tracer: Tracer):
        self.tracer = tracer
        self.src = events_input(work, seed, MAP_N)
        self.tiny = events_input(work, seed, MAP_TINY_N)
        self.out = os.path.join(work, "out", self.name)
        self.threshold = MAP_N // MAP_SPLIT
        self.failed: set[str] = set()
        self._stage = ""
        self._zoom = MAP_MAX_ZOOM
        self._marks: list[tuple[str, float]] = []
        tracer.wrap(pipeline, "run_pipeline", "pipeline")
        self._wrap_sink_writes()

    def _wrap_sink_writes(self) -> None:
        """Every sink write is a span, and inside a tile family it closes a
        step: the zoom's t1 echo plus its encode and salted sorted write."""
        write = writers.write_salted_sorted

        def traced(*args, **kwargs):
            with self.tracer.span("writers.write_salted_sorted"):
                write(*args, **kwargs)
            if self._stage.startswith("tiles"):
                self._marks.append((f"z{self._zoom}", time.perf_counter()))
                self._zoom -= 1

        writers.write_salted_sorted = traced

    @contextmanager
    def _instrument(self, stage: str):
        self._stage, self._zoom = stage, MAP_MAX_ZOOM
        with self.tracer.span("pipeline." + stage.replace(":", ".")):
            yield
        if not stage.startswith("tiles"):
            self._marks.append((stage, time.perf_counter()))

    def _cfg(self, threshold: int) -> MapConfiguration:
        return MapConfiguration(
            tiles_threshold=threshold,
            max_zoom=MAP_MAX_ZOOM,
            key_salt_modulus=Q.SALT_MOD,
            projections=MAP_PROJECTIONS,
        )

    def _build(self, spark, src: str, threshold: int) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        pipeline.run_pipeline(
            Q.occurrence_df(spark, src), self._cfg(threshold), self.out,
            instrument=self._instrument,
        )

    def warmup(self, spark) -> None:
        self._build(spark, self.tiny, MAP_TINY_N // MAP_SPLIT)

    def run_pass(self, spark) -> dict:
        shutil.rmtree(self.out, ignore_errors=True)
        self._marks = [("start", time.perf_counter())]
        ok = True
        try:
            self._build(spark, self.src, self.threshold)
        except Exception:  # noqa: BLE001 - a failed build is counted, not fatal
            _failed("map_build")
            ok = False
        wall = time.perf_counter() - self._marks[0][1]
        steps = [(name, b - a) for (_, a), (name, b) in zip(self._marks, self._marks[1:])]
        return {"wall": wall, "steps": steps, "ops": [(self.name, ok)]}

    def check(self, spark) -> None:
        """The tools/run_full_build.py gates at this workload's threshold,
        from the bytes on disk of the last timed build."""
        from tools import run_full_build as G

        Q.TILES_THRESHOLD = self.threshold  # the gate oracles read it at build time
        con = _duckdb_over(self.src)
        gates: list[dict] = []
        stats = pipeline.map_key_stats(spark.read.parquet(f"{self.out}/ingested"))
        G.compare("stats", stats, Q.ORACLES["mapkeys_stats"], con, gates)
        G.compare_digest(
            "points blobs", G.blob_md5_view(spark, f"{self.out}/points"),
            Q._points_blob_query()[1], con, gates,
        )
        for crs in MAP_PROJECTIONS:
            G.compare_digest(
                f"{crs} z{MAP_MAX_ZOOM} decoded",
                G.decoded_tile_counts(
                    spark, f"{self.out}/tiles/{crs.replace(':', '_')}/z{MAP_MAX_ZOOM}"
                ),
                G.routed_t3_oracle(crs, MAP_MAX_ZOOM), con, gates,
            )
        shape = G.sink_shape_receipt(self.out, Q.SALT_MOD)
        n_tiles = stats.filter(f"occCount >= {self.threshold}").count()
        print(f"map_build: n={MAP_N} views to tiles={n_tiles} "
              f"to points={stats.count() - n_tiles} sink shape={json.dumps(shape)}")
        if not (shape["ok"] and all(g["ok"] for g in gates)):
            self.failed.add(self.name)

    def sink(self) -> tuple[float, int]:
        """Bytes and files of the points and tiles sinks on disk."""
        size, files = 0, 0
        for sub in ("points", "tiles"):
            for root, _dirs, names in os.walk(os.path.join(self.out, sub)):
                for n in names:
                    if n.endswith(".parquet"):
                        size += os.path.getsize(os.path.join(root, n))
                        files += 1
        return size / MIB, files


class Board:
    """The ``BOARD`` registry queries in a seed-permuted order, each built by
    its registry call and materialised by ``timed_action``."""

    name = "board"

    def __init__(self, work: str, seed: int, tracer: Tracer):
        self.tracer = tracer
        self.src = board_input(work, seed, BOARD_SF)
        self.tiny = board_input(work, seed, BOARD_TINY_SF)
        self.order = [BOARD[i] for i in np.random.default_rng(seed).permutation(len(BOARD))]
        self.tiny_results: dict[str, tuple[list[str], list[tuple]] | None] = {}
        self.failed: set[str] = set()
        # queries.py imports load_table by name: wrap both bindings
        tracer.wrap(readers, "load_table", "readers.load_table")
        tracer.wrap(Q, "load_table", "readers.load_table")
        tracer.wrap(readers, "register_views", "readers.register_views")
        tracer.wrap(Q, "_register_views", "readers.register_views")

    def warmup(self, spark) -> None:
        """One pass on the tiny input, collected for the output checks."""
        for q in self.order:
            with self.tracer.span(f"board.{q}"):
                try:
                    df = Q.QUERIES[q](spark, self.tiny)
                    self.tiny_results[q] = (list(df.columns), [tuple(r) for r in df.collect()])
                except Exception:  # noqa: BLE001
                    _failed(f"{q} (tiny input)")
                    self.tiny_results[q] = None

    def run_pass(self, spark) -> dict:
        t_pass = time.perf_counter()
        steps, ops = [], []
        for q in self.order:
            t0 = time.perf_counter()
            ok = True
            with self.tracer.span(f"board.{q}"):
                try:
                    with self.tracer.span(f"board.{q}.build"):
                        df = Q.QUERIES[q](spark, self.src)
                    with self.tracer.span(f"board.{q}.exec"):
                        timed_action(df)
                except Exception:  # noqa: BLE001
                    _failed(q)
                    ok = False
            steps.append((q, time.perf_counter() - t0))
            ops.append((q, ok))
        return {"wall": time.perf_counter() - t_pass, "steps": steps, "ops": ops}

    def check(self, spark) -> None:
        con = _duckdb_over(self.tiny)
        for q in self.order:
            got = self.tiny_results.get(q)
            if got is None or not twin_matches(*got, con, Q.ORACLES[q]):
                print(f"CHECK FAIL {q}", file=sys.stderr)
                self.failed.add(q)

    def sink(self) -> tuple[float, int]:
        return 0.0, 0


WORKLOADS = {w.name: w for w in (MapBuild, Board)}


def run(name: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    tracer = Tracer(traced)
    wl = WORKLOADS[name](work, seed, tracer)  # inputs are generated here, untimed
    log_dir = os.path.join(work, "eventlog", f"{name}_s{seed}_{os.getpid()}")
    shutil.rmtree(log_dir, ignore_errors=True)
    sampler = SplitRssSampler()
    sampler.start()
    gc = gc_log()
    spark = None
    try:
        t0, stolen0 = time.perf_counter(), sampler.stolen_mark()
        with tracer.span("session"):
            spark = start_session(work, log_dir if traced else None)
        tracer.run_id = "warmup"
        with tracer.span("warmup"):
            wl.warmup(spark)
        setup_raw_s = time.perf_counter() - t0
        setup_stolen_s = sampler.stolen_mark() - stolen0

        tracer.run_id = "pass"
        sampler.reset()
        passes: list[dict] = []
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < seconds:
            gc.mark()
            alloc0 = jvm_allocated_mib(spark)
            cpu0, stolen0 = tree_cpu_s(os.getpid()), sampler.stolen_mark()
            with tracer.span("pass"):
                p = wl.run_pass(spark)
            p["cpu"] = tree_cpu_s(os.getpid()) - cpu0
            p["stolen"] = sampler.stolen_mark() - stolen0
            p["alloc_mib"] = jvm_allocated_mib(spark) - alloc0
            p["heap_after_gc_mib"] = max(gc.heap_after_mib(), default=0.0)
            passes.append(p)
        total_mib, jvm_mib, py_mib = sampler.peaks_mib()
        sink_mib, sink_files = wl.sink()

        tracer.run_id = "check"
        with tracer.span("check"):
            try:
                wl.check(spark)
            except Exception:  # noqa: BLE001 - a check that cannot run fails every operation
                _failed("output check")
                wl.failed.update(q for p in passes for q, _ok in p["ops"])
    finally:
        if spark is not None:
            stop_session(spark)
        sampler.stop()

    ops = [op for p in passes for op in p["ops"]]
    failed = sum(1 for q, ok in ops if not ok or q in wl.failed)
    steps = [s for p in passes for s in p["steps"]]
    out = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "passes": len(passes),
        "end_to_end": {
            "setup_s": setup_raw_s - setup_stolen_s,
            "pass_s": statistics.median(p["wall"] - p["stolen"] for p in passes),
            "peak_rss_mib": total_mib,
            "heap_alloc_mib": statistics.median(p["alloc_mib"] for p in passes),
        },
        "setup_raw_s": setup_raw_s,
        "pass_raw_s": statistics.median(p["wall"] for p in passes),
        "pass_cpu_s": statistics.median(p["cpu"] for p in passes),
        "stolen_s": setup_stolen_s + sum(p["stolen"] for p in passes),
        "heap_after_gc_peak_mib": max(p["heap_after_gc_mib"] for p in passes),
        "steps": steps,
        "sink_mib": sink_mib,
        "rss_split_mib": (jvm_mib, py_mib),
    }
    if traced:
        out["per_layer"] = per_layer(
            tracer.spans, EventLog(log_dir), len(passes), out, sink_mib, sink_files
        )
        out["spans"] = tracer.spans
        out["self_time_check"] = self_time_check(tracer.spans)
    shutil.rmtree(log_dir, ignore_errors=True)
    return out


def per_layer(spans, log: EventLog, n_passes: int, res: dict, sink_mib, sink_files) -> dict:
    """The per-layer metrics, per timed pass, from spans and the event log."""
    by_id = {s["id"]: s for s in spans}
    timed = [s for s in spans if s["run"] == "pass"]

    def wall(pred) -> float:
        return sum(s["end"] - s["start"] for s in timed if pred(s["name"]))

    def jobs(pred) -> int:
        return sum(len(log.jobs_in(s["start"], s["end"])) for s in timed if pred(s["name"]))

    def per_pass(v: float) -> float:
        return v / n_passes

    root = {s["name"]: s for s in spans if s["parent"] is None}
    reader_tops = [
        s for s in timed
        if s["name"].startswith("readers.")
        and not by_id[s["parent"]]["name"].startswith("readers.")
    ]
    m: dict[str, float] = {
        "session.start_s": root["session"]["end"] - root["session"]["start"],
        "session.warmup_s": root["warmup"]["end"] - root["warmup"]["start"],
        "readers.load_s": per_pass(sum(s["end"] - s["start"] for s in reader_tops)),
        "readers.load_calls": per_pass(sum(1 for s in timed if s["name"] == "readers.load_table")),
        "readers.load_jobs": per_pass(
            sum(len(log.jobs_in(s["start"], s["end"])) for s in reader_tops)
        ),
        "board.build_s": per_pass(wall(lambda n: n.startswith("board.") and n.endswith(".build"))),
        "board.build_jobs": per_pass(jobs(lambda n: n.startswith("board.") and n.endswith(".build"))),
        "board.exec_s": per_pass(wall(lambda n: n.startswith("board.") and n.endswith(".exec"))),
    }
    for q in BOARD:
        m[f"board.{q}.build_s"] = per_pass(wall(lambda n, q=q: n == f"board.{q}.build"))
        m[f"board.{q}.build_jobs"] = per_pass(jobs(lambda n, q=q: n == f"board.{q}.build"))
        m[f"board.{q}.exec_s"] = per_pass(wall(lambda n, q=q: n == f"board.{q}.exec"))
    for stage in ("ingest", "stats", "points"):
        m[f"pipeline.{stage}_s"] = per_pass(wall(lambda n, st=stage: n == f"pipeline.{st}"))
    for crs in MAP_PROJECTIONS:
        fam = crs.replace(":", "_")
        m[f"pipeline.tiles.{fam}_s"] = per_pass(wall(lambda n, f=fam: n == f"pipeline.tiles.{f}"))

    # zoom bands from the program's own "Processing zoom N" job descriptions;
    # unlabelled jobs inside a tile family are its t1 parquet echo
    pipes = [s for s in timed if s["name"] == "pipeline"]
    families = [s for s in timed if s["name"].startswith("pipeline.tiles.")]
    for band, zooms in ZOOM_BANDS.items():
        labels = {f"Processing zoom {z}" for z in zooms}
        busy = 0.0
        for s in pipes:
            mine = [j for j in log.jobs_in(s["start"], s["end"]) if log.jobs[j]["desc"] in labels]
            busy += log.busy_s(mine, s["start"], s["end"])
        m[f"pipeline.zoom_{band}_s"] = per_pass(busy)
    echo_busy, echo_jobs = 0.0, set()
    for s in families:
        mine = [j for j in log.jobs_in(s["start"], s["end"]) if log.jobs[j]["desc"] is None]
        echo_jobs.update(mine)
        echo_busy += log.busy_s(mine, s["start"], s["end"])
    m["pipeline.echo_s"] = per_pass(echo_busy)
    m["pipeline.echo_mib"] = per_pass(
        sum(t["out_bytes"] for t in log.tasks if t["job"] in echo_jobs) / MIB
    )

    pipe_fold = log.fold(spans, [s["id"] for s in pipes])
    m["tiles.py_rows"] = per_pass(pipe_fold["py_rows"])
    m["tiles.py_mib_sent"] = per_pass(pipe_fold["py_mib_sent"])
    m["tiles.py_mib_returned"] = per_pass(pipe_fold["py_mib_returned"])
    m["writers.sink_mib"] = sink_mib
    m["writers.sink_files"] = sink_files
    m["rss.jvm_peak_mib"], m["rss.py_workers_peak_mib"] = res["rss_split_mib"]
    m["jvm.heap_after_gc_peak_mib"] = res["heap_after_gc_peak_mib"]
    m["host.stolen_s"] = res["stolen_s"]
    m["process.pass_cpu_s"] = res["pass_cpu_s"]

    # the operations of the timed passes: each board query, each build
    op_ids = [
        s["id"] for s in timed
        if s["name"] == "pipeline"
        or (s["parent"] is not None and by_id[s["parent"]]["name"] == "pass")
    ]
    fold = log.fold(spans, op_ids)
    for key in (
        "jobs", "tasks", "job_busy_s", "driver_only_s", "exec_run_s", "exec_cpu_s",
        "gc_s", "shuffle_read_mib", "shuffle_write_mib", "spill_mib",
    ):
        m[f"spark.{key}"] = per_pass(fold[key])
    return m


def layer_table(spans: list[dict], metrics: dict[str, float]) -> str:
    """Self time per span name over the timed passes, then every metric."""
    own = self_times(spans)
    agg: dict[str, list[float]] = {}
    for s in spans:
        if s["run"] == "pass":
            a = agg.setdefault(s["name"], [0, 0.0, 0.0])
            a[0] += 1
            a[1] += s["end"] - s["start"]
            a[2] += own[s["id"]]
    lines = [f"{'span':<52}{'calls':>6}{'wall_s':>10}{'self_s':>10}"]
    for name, (n, w, o) in sorted(agg.items(), key=lambda kv: -kv[1][1]):
        lines.append(f"{name:<52}{n:>6}{w:>10.3f}{o:>10.3f}")
    lines.append("")
    lines.extend(f"{k:<52}{v:>16.4f}" for k, v in metrics.items())
    return "\n".join(lines)
