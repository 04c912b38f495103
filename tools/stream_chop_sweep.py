"""Chopped-feed streaming sweep (round-5 verdict ask #8).

The per-round hash gates run each streaming query over the feed as ONE
availableNow batch, which never exercises cross-batch state carry: the
stream-stream join's buffered-state eviction, the CEP detector's
state.update round-trip, per-batch watermark advancement. This tool chops
the events feed into N time-ordered parquet slabs, replays them through
the SAME pipelines with ``maxFilesPerTrigger=1`` (N real micro-batches),
and asserts the accumulated sink equals the DuckDB batch oracle — i.e.
the stateful operators are batch-boundary-INDEPENDENT, which is the
property a production trigger cadence relies on.

Slabs are sorted by (ts, event_id) and chunked in order, so no event is
late relative to the previous batch's watermark — any row difference is a
state-carry bug, not watermark-mandated drop semantics.

Usage: python tools/stream_chop_sweep.py [sf_dir] [n_slabs]
"""

from __future__ import annotations

import functools
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__))))

print = functools.partial(print, flush=True)


def chop_feed(src: str, n_slabs: int) -> str:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    feed = tempfile.mkdtemp(prefix="chopfeed_")
    t = pq.read_table(src)
    idx = pc.sort_indices(
        t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
    )
    t = t.take(idx)
    step = -(-t.num_rows // n_slabs)
    now = time.time()
    for i in range(n_slabs):
        sl = t.slice(i * step, step)
        if not sl.num_rows:
            break
        p = os.path.join(feed, f"slab_{i:03d}.parquet")
        pq.write_table(sl, p)
        # mtime order = event-time order, so the file source lists slabs
        # in replay order
        os.utime(p, (now + i, now + i))
    return feed


def bridging_feed(feed: str, gap_minutes: int = 30) -> int:
    """Inject GUARANTEED-BRIDGING disorder into a chopped feed, in place:
    in every slab, find per-user consecutive event triples (a, b, c) with
    ``b - a <= gap``, ``c - b <= gap``, ``c - a > gap`` where the run c
    opens chains unbroken (every later delta <= gap) to the user's last
    event of the slab, then delay b into a straggler file delivered
    between this slab and the next.

    Without b the stream closes the a-run when c arrives (c - a > gap)
    and opens at c; b then lands in the silent gap within reach of both —
    the EXACT bridging case the sessionizer's carried closed run is for,
    forced deterministically rather than hoped for from random lateness.
    Batch semantics chain all three into one island, and the sessionizer
    must merge them exactly: the closed a-run is carried in its state, so
    b bridges it with the open c-run.

    The disorder is contract-compliant: when b arrives, the user's open
    run STARTS AT C — no event after c broke the chain (that is what the
    unbroken-suffix condition buys), so the run c opened is still the
    open one — and ``c - b <= gap`` puts b within its reach, with the
    a-run exactly the carried closed run. Zero counted lateness
    violations. Returns the number of delayed events."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    gap_us = gap_minutes * 60 * 1_000_000
    n_delayed = 0
    for fname in sorted(os.listdir(feed)):
        path = os.path.join(feed, fname)
        mtime = os.stat(path).st_mtime
        t = pq.read_table(path)
        df = t.select(["user_id", "event_id"]).to_pandas()
        df["_row"] = range(len(df))
        # cast on the ARROW side: timestamp[us] -> int64 is microseconds by
        # construction, where pandas .astype('int64') yields whatever unit
        # the datetime64 column happens to carry (us for these parquets,
        # ns inside Spark's Arrow transfer — a silent 1000x gap error)
        df["_ts_us"] = pc.cast(t.column("ts"), "int64").to_pandas().values
        df = df.sort_values(["user_id", "_ts_us", "event_id"]).reset_index(drop=True)
        g = df.groupby("user_id")
        a_ts = g["_ts_us"].shift(1)
        c_ts = g["_ts_us"].shift(-1)
        # gap-breaks remaining at or after each row within its user group
        # (reverse per-group cumsum); == 0 at b means b-a, c-b and every
        # later delta are all <= gap, i.e. c's run reaches the slab end
        delta_gt = ((df["_ts_us"] - a_ts) > gap_us).astype(int)
        breaks_from = (
            delta_gt.iloc[::-1].groupby(df["user_id"].iloc[::-1]).cumsum().iloc[::-1]
        )
        mask = (
            ((df["_ts_us"] - a_ts) <= gap_us)
            & ((c_ts - df["_ts_us"]) <= gap_us)
            & ((c_ts - a_ts) > gap_us)
            & (breaks_from == 0)
        )
        # at most ONE delayed event per user per slab: removing two chained
        # b's from one user makes two closes land between them, and the
        # second straggler would then need the run BEFORE the carried one —
        # beyond the one-level carry by construction
        sel = df.loc[mask].groupby("user_id").head(1)
        rows = sorted(sel["_row"].tolist())
        if not rows:
            continue
        keep = [i for i in range(t.num_rows) if i not in set(rows)]
        pq.write_table(t.take(keep), path)
        os.utime(path, (mtime, mtime))
        lp = path.replace(".parquet", "_late.parquet")
        pq.write_table(t.take(rows), lp)
        os.utime(lp, (mtime + 0.5, mtime + 0.5))
        n_delayed += len(rows)
    return n_delayed


def run_chopped(spark, feed: str, build, name: str, output_mode: str):
    """writeStream -> memory sink with maxFilesPerTrigger=1, returning
    (rows, n_batches, seconds). Inlines run_to_memory to keep the query
    handle for progress accounting."""
    from map_spark_sql_spark.streaming import events as STE

    stream = STE.read_event_stream(spark, feed, max_files_per_trigger=1)
    res = build(stream)
    t0 = time.perf_counter()
    query = (
        res.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    STE.drain(query, timeout_sec=1800)
    secs = time.perf_counter() - t0
    batches = [p for p in query.recentProgress if p["numInputRows"] > 0]
    return spark.table(name), len(batches), secs


def main() -> int:
    import duckdb

    from check_correctness import normalize
    from map_spark_sql_spark.session import get_session
    from map_spark_sql_spark.streaming import events as STE
    import __spark_entry__ as entry

    mid_compact = "--compact-mid-sweep" in sys.argv[1:]
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if len(args) > 0 else ".scratch/sf100x"
    n_slabs = int(args[1]) if len(args) > 1 else 12
    src = os.path.join(sf_dir, "events.parquet")

    print(f"chopping {src} into {n_slabs} time-ordered slabs ...")
    feed = chop_feed(src, n_slabs)

    spark = get_session(app_name="chop_sweep", master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{src}'")

    cases = [
        (
            "stream_error_burst_alerts",
            lambda s: STE.error_burst_alerts(s, k=2, window_minutes=60),
            "update",
            lambda out: out,
        ),
        (
            "stream_purchase_view_join_bucketed",
            STE.purchase_view_join_bucketed,
            "append",
            lambda out: out.select(
                "event_id",
                "user_id",
                F.unix_micros("p_ts").alias("p_ts_us"),
                "view_id",
                F.unix_micros("view_ts").alias("view_ts_us"),
            ),
        ),
    ]

    failures = []

    # --- sessions in UPDATE mode via the foreachBatch delta-per-batch
    # snapshot sink (r6 verdict ask #3; r7 ask #3 made the per-batch write
    # proportional to the batch): the complete-mode memory-sink gate
    # materialized ~9.4M sessions in driver memory at 100x; this replays
    # the same feed through sessions_to_snapshot over N real micro-batches
    # (cross-batch session growth + overlap supersession) and compares the
    # DRAINED SINK to the gap-islands batch oracle. ---
    import tempfile as _tf

    snap_dir = _tf.mkdtemp(prefix="chop_sessions_snap_")
    stream = STE.read_event_stream(spark, feed, max_files_per_trigger=1)
    t0 = time.perf_counter()
    query = STE.sessions_to_snapshot(stream, spark, snap_dir, gap_minutes=30)
    # --compact-mid-sweep (r8 verdict ask #5): run compaction WHILE the
    # query is live — between micro-batches, on whatever committed deltas
    # exist at that moment — twice, at ~1/3 and ~2/3 of the expected
    # batches. The final oracle compare below is the done-criterion: the
    # resolved snapshot must be identical whether or not compaction raced
    # the stream (batch-id monotonicity — the folded base's cutoff only
    # covers deltas it actually read; later deltas supersede base rows).
    mid_compactions = 0
    if mid_compact:

        def n_committed() -> int:
            return len(
                [
                    d
                    for d in os.listdir(snap_dir)
                    if d.startswith("delta_b")
                    and os.path.isfile(os.path.join(snap_dir, d, "_SUCCESS"))
                ]
            )

        for tgt in (max(2, n_slabs // 3), max(3, (2 * n_slabs) // 3)):
            deadline = time.time() + 1800
            while (
                time.time() < deadline
                and query.isActive
                and n_committed() < tgt
            ):
                time.sleep(0.5)
            if query.isActive and n_committed() >= tgt:
                STE.compact_sessions_snapshot(spark, snap_dir)
                mid_compactions += 1
                print(
                    f"  mid-sweep compaction #{mid_compactions}: folded at "
                    f">= {tgt} committed deltas, query still active"
                )
    STE.drain(query, timeout_sec=3600)
    secs = time.perf_counter() - t0
    n_batches = len([p for p in query.recentProgress if p["numInputRows"] > 0])
    # the sessionizer's disorder-bound metric (r10 verdict ask #7): a feed
    # whose late events exceed the carried run's reach mis-merges and is
    # COUNTED — the sweep surfaces the counter so receipts show bound
    # compliance, not just pytest. The chopped generator feed must be 0.
    lateness_violations = query.lateness_violations.value
    print(f"  lateness_violations: {lateness_violations} (bound-compliant feed => 0)")
    # per-batch write volume (r7 verdict ask #3 done-criterion): each delta
    # dir holds ONLY that batch's changed-session emissions, so bytes/rows
    # per batch track the batch — not the corpus (the old full-rewrite sink
    # re-copied all ~9.4M sessions every batch)
    deltas = sorted(
        (d for d in os.listdir(snap_dir) if d.startswith("delta_b")),
        key=lambda d: int(d[len("delta_b"):]),
    )
    per_batch = []
    for d in deltas:
        dd = os.path.join(snap_dir, d)
        nbytes = sum(
            os.path.getsize(os.path.join(dd, f))
            for f in os.listdir(dd)
            if f.endswith(".parquet")
        )
        per_batch.append((d, spark.read.parquet(dd).count(), nbytes))
    total_rows = sum(r for _, r, _ in per_batch)
    total_mib = sum(b for _, _, b in per_batch) / (1 << 20)
    print(
        f"  delta sink: {len(per_batch)} delta dirs, {total_rows} emission rows, "
        f"{total_mib:.1f} MiB total written "
        f"(per-batch rows: {[r for _, r, _ in per_batch]})"
        + (
            f" [{mid_compactions} mid-sweep compaction(s) already folded "
            f"earlier deltas into a base]"
            if mid_compactions
            else ""
        )
    )
    snap = STE.read_sessions_snapshot(spark, snap_dir).select(
        "user_id",
        "session_start_us",
        "session_end_us",
        "n_events",
        F.round("session_value", 2).alias("session_value"),
    )
    scols = sorted(snap.columns)
    srows = normalize([tuple(r[c] for c in scols) for r in snap.collect()])
    t0 = time.perf_counter()
    rel = con.sql(oracles["stream_sessions_update_snapshot"])
    dcols = [d[0] for d in rel.description]
    order = sorted(range(len(dcols)), key=lambda i: dcols[i])
    drows = normalize([tuple(row[i] for i in order) for row in rel.fetchall()])
    t_duck = time.perf_counter() - t0
    ok = sorted(dcols) == scols and srows == drows
    print(
        f"{'PASS' if ok else 'FAIL'} stream_sessions_update_snapshot: "
        f"{len(srows)} rows over {n_batches} micro-batches "
        f"(spark {secs:.1f}s, duckdb {t_duck:.1f}s)"
    )
    if not ok:
        failures.append("stream_sessions_update_snapshot")
        print(f"  spark rows {len(srows)}; duck rows {len(drows)}")

    # --- compaction at the same rung: fold the N deltas into base_b{n}
    # and assert the merge-on-read view is unchanged. This is the
    # long-stream bound on the log-structured sink (delta count grows
    # with stream length; compaction resets merge-on-read to ONE base),
    # certified on the exact delta pile the chopped replay just wrote. ---
    t0 = time.perf_counter()
    STE.compact_sessions_snapshot(spark, snap_dir)
    t_compact = time.perf_counter() - t0
    dirs_after = sorted(
        d for d in os.listdir(snap_dir)
        if d.startswith(("base_b", "delta_b"))
    )
    snap2 = STE.read_sessions_snapshot(spark, snap_dir).select(
        "user_id",
        "session_start_us",
        "session_end_us",
        "n_events",
        F.round("session_value", 2).alias("session_value"),
    )
    srows2 = normalize([tuple(r[c] for c in sorted(snap2.columns)) for r in snap2.collect()])
    cok = srows2 == srows and len(dirs_after) == 1
    print(
        f"{'PASS' if cok else 'FAIL'} sessions snapshot compaction: "
        f"{len(per_batch)} deltas -> {dirs_after} in {t_compact:.1f}s, "
        f"re-read {'identical' if srows2 == srows else 'DIVERGED'} "
        f"({len(srows2)} rows)"
    )
    if not cok:
        failures.append("sessions_snapshot_compaction")

    for qname, build, mode, shape in cases:
        out, n_batches, secs = run_chopped(
            spark, feed, build, f"chop_{qname}", mode
        )
        sdf = shape(out)
        scols = sorted(sdf.columns)
        srows = normalize([tuple(r[c] for c in scols) for r in sdf.collect()])

        t0 = time.perf_counter()
        rel = con.sql(oracles[qname])
        dcols = [d[0] for d in rel.description]
        order = sorted(range(len(dcols)), key=lambda i: dcols[i])
        drows = normalize([tuple(row[i] for i in order) for row in rel.fetchall()])
        t_duck = time.perf_counter() - t0

        ok = sorted(dcols) == scols and srows == drows
        status = "PASS" if ok else "FAIL"
        print(
            f"{status} {qname}: {len(srows)} rows over {n_batches} micro-batches "
            f"(spark {secs:.1f}s, duckdb {t_duck:.1f}s)"
        )
        if not ok:
            failures.append(qname)
            print(f"  spark cols {scols} rows {len(srows)}; duck cols {sorted(dcols)} rows {len(drows)}")

    n_total = len(cases) + 1  # + the sessions-snapshot case above
    print(f"== {n_total - len(failures)} pass, {len(failures)} fail (of {n_total}) ==")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
