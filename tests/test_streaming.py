"""Streaming plans must agree with their batch twins over the same files."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_spark_sql_spark.sources.readers import load_table
from map_spark_sql_spark.streaming import read_event_stream, run_to_memory, tumbling_counts

SF_DIR = "/root/testdata/sf0.001"


def test_tumbling_counts_matches_batch(spark):
    stream = read_event_stream(spark, f"{SF_DIR}/events.parquet")
    got = run_to_memory(tumbling_counts(stream), "t_tumbling")
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert g == b and len(g) > 0


def test_hopping_counts_matches_batch(spark):
    from map_spark_sql_spark.streaming import hopping_counts

    stream = read_event_stream(spark, f"{SF_DIR}/events.parquet")
    got = run_to_memory(hopping_counts(stream), "t_hopping")
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )
    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert g == b and len(g) > 0
    # each event lands in exactly window/slide = 2 windows
    n_events = load_table(spark, SF_DIR, "events").count()
    assert sum(r[2] for r in g) == 2 * n_events


def test_session_windows_runs(spark):
    from map_spark_sql_spark.streaming import session_windows

    stream = read_event_stream(spark, f"{SF_DIR}/events.parquet")
    got = run_to_memory(session_windows(stream), "t_sessions")
    rows = got.collect()
    assert len(rows) > 0
    r = rows[0]
    assert r.session_end >= r.session_start
    assert r.n_events >= 1


def test_file_sink_with_checkpoint(spark, tmp_path):
    """Production sink shape: writeStream to parquet with a checkpoint dir
    (exactly-once file sink), availableNow bounded run."""
    stream = read_event_stream(spark, f"{SF_DIR}/events.parquet")
    agg = tumbling_counts(stream)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    # append mode emits only watermark-closed windows; the bounded stream
    # closes all but the tail, so the sink holds a strict, non-empty subset
    batch = sorted(map(tuple, (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    ).collect()))
    got = sorted(map(tuple, back.collect()))
    assert 0 < len(got) <= len(batch)
    assert set(got) <= set(batch)


def test_purchase_view_join_matches_batch(spark):
    """Stream-stream interval join == the equivalent batch join."""
    from map_spark_sql_spark.streaming import purchase_view_join

    stream = read_event_stream(spark, f"{SF_DIR}/events.parquet")
    got = run_to_memory(purchase_view_join(stream), "t_pv_join", output_mode="append")

    ev = load_table(spark, SF_DIR, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), "event_id"
    )
    batch = p.join(
        v,
        F.expr("user_id = v_user AND view_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"),
    ).select("event_id", "user_id", "p_ts", "view_id", "view_ts")

    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert g == b and len(g) > 0


def test_custom_sessionize_matches_builtin_session_window(spark):
    """applyInPandasWithState custom sessionization must reproduce the
    built-in session_window's (user, start, end, n) partition exactly, and
    its value sums within float tolerance."""
    from map_spark_sql_spark.streaming import custom_sessionize

    stream = read_event_stream(spark, f"{SF_DIR}/events.parquet")
    got = run_to_memory(
        custom_sessionize(stream, gap_minutes=30), "t_custom_sessions", output_mode="update"
    )
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            # built-in session_window end = last event + gap; normalize to last event
            (F.unix_micros("w.end") - 30 * 60 * 1_000_000).alias("session_end_us"),
            "n_events",
            "session_value",
        )
    )
    g = {
        (r.user_id, r.session_start_us): (r.session_end_us, r.n_events, r.session_value)
        for r in got.collect()
    }
    b = {
        (r.user_id, r.session_start_us): (r.session_end_us, r.n_events, r.session_value)
        for r in batch.collect()
    }
    assert set(g) == set(b) and len(g) > 0
    for k, (end_g, n_g, v_g) in g.items():
        end_b, n_b, v_b = b[k]
        assert (end_g, n_g) == (end_b, n_b)
        assert abs(v_g - v_b) < 1e-6


def test_dedup_events_drops_redelivered_rows(spark, tmp_path):
    """A stream with injected duplicate deliveries dedups back to the
    distinct-key row set (same multiset as batch dropDuplicates)."""
    from map_spark_sql_spark.streaming import dedup_events

    base = load_table(spark, SF_DIR, "events").limit(500)
    # simulate at-least-once delivery: every 3rd event delivered twice
    dup = base.filter(F.col("event_id") % 3 == 0)
    src_dir = str(tmp_path / "dup_feed")
    base.unionAll(dup).coalesce(1).write.parquet(src_dir)

    stream = read_event_stream(spark, src_dir, nanos=False)
    got = run_to_memory(dedup_events(stream), "t_dedup", output_mode="append")
    assert got.count() == base.count()
    assert got.select("event_id").distinct().count() == base.count()


def test_upsert_to_snapshot_matches_latest_per_key(spark, tmp_path):
    """The foreachBatch MERGE sink converges to the batch latest-per-user
    compaction over the same files."""
    from map_spark_sql_spark.streaming import upsert_to_snapshot
    import os

    events = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_type", "value", "event_id"
    )
    src_dir = str(tmp_path / "feed")
    events.coalesce(1).write.parquet(src_dir)

    snap_dir = str(tmp_path / "snapshot")
    q = upsert_to_snapshot(
        read_event_stream(spark, src_dir, nanos=False).select(
            "user_id", "ts", "event_type", "value", "event_id"
        ),
        spark,
        snap_dir,
        on=["user_id"],
    )
    q.awaitTermination(120)

    versions = sorted(d for d in os.listdir(snap_dir) if d.startswith("v"))
    assert versions, "no snapshot version written"
    snap = spark.read.parquet(os.path.join(snap_dir, versions[-1]))

    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_type").desc(), F.col("value").desc(),
        F.col("event_id").desc(),
    )
    batch = (
        events.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    )
    assert sorted(map(tuple, snap.collect())) == sorted(map(tuple, batch.collect()))
    assert snap.count() == events.select("user_id").distinct().count()


def test_streaming_ingest_dedups_across_batches(spark, tmp_path):
    """Streaming corpus ingestion: file 2 re-delivers half of file 1 (the
    recrawl/redelivery case) plus new docs with an in-batch duplicate; the
    standing digest table must drop every cross-batch copy, and the result
    must equal the batch funnel front-half over the concatenated feed."""
    import time

    from map_spark_sql_spark.operators.dedup import content_hash, exact_dedup
    from map_spark_sql_spark.plans.curation import _quality_predicate
    from map_spark_sql_spark.streaming.documents import (
        ingest_documents,
        read_corpus,
        read_document_stream,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(60)
    base = docs.filter("doc_id < 40")
    redelivered = docs.filter("doc_id < 20")  # exact copies of batch 1 rows
    fresh = docs.filter("doc_id >= 40")
    dup_in_batch = docs.filter("doc_id = 40").withColumn(  # same text, new id
        "doc_id", F.col("doc_id") + 1000
    )

    src = str(tmp_path / "feed")
    base.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # distinct mtime -> file-source batch order is stable
    fresh.unionByName(redelivered).unionByName(dup_in_batch).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    out = str(tmp_path / "ingested")
    q = ingest_documents(
        read_document_stream(spark, src, max_files_per_trigger=1), spark, out
    )
    q.awaitTermination(120)

    got = {(r.doc_id, r.content_md5) for r in read_corpus(spark, out).collect()}

    feed = base.unionByName(fresh).unionByName(redelivered).unionByName(dup_in_batch)
    gated = feed.filter(F.expr(_quality_predicate("text", "spark", 5)))
    expected = {
        (r.keeper, r.content_md5) for r in exact_dedup(gated).collect()
    }
    assert got == expected and len(got) > 0
    # the re-delivered and in-batch-duplicate rows are really gone
    assert not any(d >= 1000 for d, _ in got)


def test_stream_source_accepts_relative_path(spark):
    """Single-file fixtures reach the file-stream source through a temp-dir
    symlink; a RELATIVE source path must be absolutized first or the link
    target resolves against the temp dir and dangles — the source then
    lists zero files and the stream 'drains' instantly with no batches
    (how the 100x rung lost its entire ingest output)."""
    import os

    rel = os.path.relpath(f"{SF_DIR}/events.parquet")
    assert not os.path.isabs(rel)
    stream = read_event_stream(spark, rel)
    out = run_to_memory(stream.groupBy().count(), "rel_path_probe")
    assert out.collect()[0][0] > 0


def test_streaming_near_ingest_drops_edited_recrawl(spark, tmp_path):
    """Near-dup streaming ingestion: batch 2 re-delivers batch-1 content
    under NEW doc_ids (identical text — the recrawl case the exact digest
    would also catch) plus genuinely new docs; the signature-table gate
    must drop the recrawls and admit the fresh docs, and the signature
    table must hold exactly one row per admitted doc."""
    import time

    from map_spark_sql_spark.streaming.documents import (
        ingest_documents_near,
        read_corpus_near,
        read_document_stream,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(40)
    base = docs.filter("doc_id < 20")
    recrawl = docs.filter("doc_id < 10").withColumn(  # same text, new ids
        "doc_id", F.col("doc_id") + 5000
    )
    fresh = docs.filter("doc_id >= 20")

    src = str(tmp_path / "feed")
    base.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    recrawl.unionByName(fresh).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "near_ingested")
    q = ingest_documents_near(
        read_document_stream(spark, src, max_files_per_trigger=1), spark, out
    )
    q.awaitTermination(180)

    got_ids = {r.doc_id for r in read_corpus_near(spark, out).select("doc_id").collect()}
    from map_spark_sql_spark.plans.curation import _quality_predicate
    gate = _quality_predicate("text", "spark", 5)
    expected = {
        r.doc_id for r in base.unionByName(fresh).filter(F.expr(gate)).collect()
    }
    assert got_ids == expected
    assert not any(i >= 5000 for i in got_ids)  # every recrawl dropped
    sigs = spark.read.parquet(f"{out}/signatures")
    assert sigs.count() == len(expected) and sigs.select("doc_id").distinct().count() == len(expected)


def test_streaming_count_min_accumulation_equals_batch(spark, tmp_path):
    """Mergeable-sketch property end-to-end: count-min counters accumulated
    per micro-batch (cell-wise full-outer add) must EQUAL the one-shot batch
    counters over the whole feed — fixed-size streaming frequency state."""
    import os
    import time

    from map_spark_sql_spark.operators.sketches import count_min_counters
    from map_spark_sql_spark.streaming.events import (
        accumulate_count_min,
        read_event_stream,
    )

    events = load_table(spark, SF_DIR, "events")
    half1 = events.filter("event_id % 2 = 0")
    half2 = events.filter("event_id % 2 = 1")
    src = str(tmp_path / "feed")
    half1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    half2.coalesce(1).write.mode("append").parquet(src)

    snap = str(tmp_path / "cm")
    q = accumulate_count_min(
        read_event_stream(spark, src).select("user_id"),
        spark,
        snap,
        depth=4,
        width=256,
    )
    q.awaitTermination(120)

    versions = sorted(
        d for d in os.listdir(snap) if d.startswith("v") and d[1:].isdigit()
    )
    final = spark.read.parquet(os.path.join(snap, versions[-1]))
    got = {(r.j, r.bucket): r.cnt for r in final.collect()}
    want = {
        (r.j, r.bucket): r.cnt
        for r in count_min_counters(events, "user_id", 4, 256).collect()
    }
    assert got == want and len(got) > 0
    # total mass check: every event counted once per hash row
    assert sum(got.values()) == 4 * events.count()


def test_error_burst_alerts_tie_semantics(spark):
    """Tied timestamps count predecessors only (event_id order), matching
    the rank-minus-older batch identity."""
    import datetime as dt

    from map_spark_sql_spark.streaming import error_burst_alerts
    from map_spark_sql_spark.streaming.events import run_to_memory

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def row(eid, sec, typ="error", uid=1):
        return (eid, t0 + dt.timedelta(seconds=sec), uid, typ, 1.0, None)

    rows = [
        row(1, 0),
        row(2, 10),            # 2nd error within window -> alert (n=2)
        row(3, 10),            # tied ts, higher id -> counts 1,2 -> alert (n=3)
        row(4, 4000),          # everything evicted -> no alert
        row(5, 4005),          # 2nd in window -> alert (n=2)
        row(6, 30, "view"),    # non-error never counts
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "ev.parquet")
        df.write.parquet(p)
        stream = spark.readStream.schema(df.schema).parquet(p)
        out = run_to_memory(
            error_burst_alerts(stream, k=2, window_minutes=60),
            "t_burst_alerts",
            output_mode="update",
        )
        got = {
            r["event_id"]: r["n_errors_1h"] for r in out.collect()
        }
    assert got == {2: 2, 3: 3, 5: 2}


def test_error_burst_alerts_state_carries_across_batches(spark):
    """Split the feed at a time boundary into two files and force
    maxFilesPerTrigger=1: the second error arrives in a LATER micro-batch
    and must still see the first one through the state store."""
    import datetime as dt
    import os
    import tempfile

    from map_spark_sql_spark.streaming import error_burst_alerts
    from map_spark_sql_spark.streaming.events import drain

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def mk(eid, sec):
        return (eid, t0 + dt.timedelta(seconds=sec), 1, "error", 1.0, None)

    with tempfile.TemporaryDirectory() as d:
        src_dir = os.path.join(d, "feed")
        os.makedirs(src_dir)
        spark.createDataFrame([mk(1, 0)], schema).coalesce(1).write.parquet(
            os.path.join(src_dir, "f0.parquet")
        )
        spark.createDataFrame([mk(2, 60)], schema).coalesce(1).write.parquet(
            os.path.join(src_dir, "f1.parquet")
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src_dir)
        )
        res = error_burst_alerts(stream, k=2, window_minutes=60)
        q = (
            res.writeStream.format("memory")
            .queryName("t_burst_two_batches")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        drain(q, 600)
        batches = q.recentProgress
        out = {
            r["event_id"]: r["n_errors_1h"]
            for r in spark.table("t_burst_two_batches").collect()
        }
    assert len(batches) >= 2, "expected multiple micro-batches"
    assert out == {2: 2}


def test_bucketed_join_equals_plain_join(spark):
    """purchase_view_join_bucketed emits EXACTLY the plain join's pairs —
    including window-boundary and bucket-boundary views — with no dups."""
    from map_spark_sql_spark.sources.readers import load_table
    from map_spark_sql_spark.streaming.events import (
        purchase_view_join,
        purchase_view_join_bucketed,
        read_event_stream,
        run_to_memory,
    )

    path = "/root/testdata/sf0.001/events.parquet"
    plain = run_to_memory(
        purchase_view_join(read_event_stream(spark, path)),
        "t_pv_plain",
        output_mode="append",
    )
    bucketed = run_to_memory(
        purchase_view_join_bucketed(read_event_stream(spark, path)),
        "t_pv_bucketed",
        output_mode="append",
    )
    key = lambda r: (r["event_id"], r["view_id"])
    a = sorted(map(key, plain.collect()))
    b = sorted(map(key, bucketed.collect()))
    assert a == b and len(b) == len(set(b))


def test_checkpoint_resume_is_exactly_once(spark):
    """A restarted availableNow query resumes from its checkpoint: the
    second run processes ONLY the newly-arrived file — already-committed
    input is never reprocessed into the sink (exactly-once file→file)."""
    import datetime as dt
    import os
    import tempfile

    from map_spark_sql_spark.streaming.events import drain

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long"

    def run(src_dir, ckpt, sink):
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(src_dir)
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain(q, 600)

    with tempfile.TemporaryDirectory() as d:
        src_dir = os.path.join(d, "feed")
        ckpt = os.path.join(d, "ckpt")
        sink = os.path.join(d, "out")
        os.makedirs(src_dir)
        spark.createDataFrame(
            [(1, t0, 1), (2, t0, 2)], schema
        ).coalesce(1).write.parquet(os.path.join(src_dir, "f0.parquet"))
        run(src_dir, ckpt, sink)
        assert spark.read.parquet(sink).count() == 2
        spark.createDataFrame(
            [(3, t0, 3)], schema
        ).coalesce(1).write.parquet(os.path.join(src_dir, "f1.parquet"))
        run(src_dir, ckpt, sink)
        got = sorted(
            r["event_id"] for r in spark.read.parquet(sink).collect()
        )
    assert got == [1, 2, 3], f"duplicated or lost rows across restart: {got}"


def test_purchase_view_join_warns_on_hot_key_sample(spark):
    """The plain stream-stream join keys state on user_id alone; with a
    batch state_sample whose hottest user crosses the pair threshold it
    must steer the caller to purchase_view_join_bucketed (r6 advice #8 —
    the one registry-exposed scale hazard becomes a guided choice)."""
    import warnings

    import pytest

    from map_spark_sql_spark.streaming.events import purchase_view_join

    stream = read_event_stream(spark, f"{SF_DIR}/events.parquet")
    hot = spark.createDataFrame(
        [(i, "view" if i % 2 else "purchase", 7) for i in range(40)],
        "event_id long, event_type string, user_id long",
    )
    with pytest.warns(UserWarning, match="purchase_view_join_bucketed"):
        purchase_view_join(stream, state_sample=hot, hot_pair_threshold=100)

    cold = spark.createDataFrame(
        [(i, "view" if i % 2 else "purchase", i) for i in range(40)],
        "event_id long, event_type string, user_id long",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        purchase_view_join(stream, state_sample=cold, hot_pair_threshold=100)


def test_custom_sessionize_null_values_use_sql_sum_semantics(spark, tmp_path):
    """NULL event values must be SKIPPED by the session-value fold (SQL
    sum semantics: one NULL doesn't poison the session to NaN, an
    all-NULL session sums to NULL) — matching the built-in
    session_window + F.sum twin. Caught at the 100x rung by the
    update-mode snapshot gate (round 7)."""
    import os

    from map_spark_sql_spark.streaming import custom_sessionize

    t0 = 1_700_000_000_000_000
    rows = [
        # user 1: one NULL among real values -> sum of the real ones
        (1, t0, 10.0), (1, t0 + 60_000_000, None), (1, t0 + 120_000_000, 5.0),
        # user 2: all NULL -> NULL sum
        (2, t0, None), (2, t0 + 60_000_000, None),
    ]
    df = spark.createDataFrame(
        [(u, t, v) for u, t, v in rows], "user_id long, ts_us long, value double"
    ).select("user_id", F.timestamp_micros("ts_us").alias("ts"), "value")
    feed = os.path.join(tmp_path, "feed")
    df.coalesce(1).write.parquet(feed)
    stream = read_event_stream(spark, feed, nanos=False)
    got = {
        r.user_id: r.session_value
        for r in run_to_memory(
            custom_sessionize(stream, gap_minutes=30),
            "t_null_sessions",
            output_mode="update",
        ).collect()
    }
    assert got[1] == 15.0
    assert got[2] is None


def _chopped_event_feed(spark, tmp_path, n_slabs: int = 3) -> str:
    """events.parquet sorted by (ts, event_id) and chopped into n time-ordered
    slab files with mtime order = replay order (the chop-sweep recipe), so
    maxFilesPerTrigger=1 produces n real micro-batches."""
    import os
    import time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    feed = str(tmp_path / "chopped_feed")
    os.makedirs(feed)
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]))
    step = -(-t.num_rows // n_slabs)
    now = time.time()
    for i in range(n_slabs):
        sl = t.slice(i * step, step)
        if not sl.num_rows:
            break
        p = os.path.join(feed, f"slab_{i:03d}.parquet")
        pq.write_table(sl, p)
        os.utime(p, (now + i, now + i))
    return feed


def _batch_sessions_twin(spark):
    """Gap-islands batch twin of the 30-minute sessionization."""
    from pyspark.sql.window import Window

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "value", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    marked = ev.withColumn(
        "new_s",
        (F.col("ts_us") - F.lag("ts_us").over(w) > 30 * 60 * 1_000_000).cast("int"),
    ).withColumn(
        "sess", F.sum(F.coalesce("new_s", F.lit(0))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
    )
    return marked.groupBy("user_id", "sess").agg(
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("session_value"),
    ).drop("sess")


def test_sessions_snapshot_delta_sink_multi_batch(spark, tmp_path):
    """r7 verdict ask #3: the delta-per-batch sessions sink over multiple
    REAL micro-batches resolves to the batch gap-islands twin, per-batch
    write volume is the batch's changed sessions (not the corpus), and
    compaction preserves the resolved result."""
    import os

    from map_spark_sql_spark.streaming import (
        compact_sessions_snapshot,
        read_sessions_snapshot,
        sessions_to_snapshot,
    )
    from map_spark_sql_spark.streaming.events import drain

    feed = _chopped_event_feed(spark, tmp_path, n_slabs=3)
    snap_dir = str(tmp_path / "snap")
    q = sessions_to_snapshot(
        read_event_stream(spark, feed, nanos=False, max_files_per_trigger=1),
        spark,
        snap_dir,
        gap_minutes=30,
    )
    drain(q)

    deltas = sorted(d for d in os.listdir(snap_dir) if d.startswith("delta_b"))
    assert len(deltas) >= 3, deltas

    def shape(df):
        return df.select(
            "user_id", "session_start_us", "session_end_us", "n_events",
            F.round("session_value", 2).alias("session_value"),
        )

    got = sorted(map(tuple, shape(read_sessions_snapshot(spark, snap_dir)).collect()))
    want = sorted(map(tuple, _batch_sessions_twin(spark).collect()))
    assert got == want and len(got) > 0

    # per-batch write ∝ batch: every delta holds only that batch's emissions,
    # so the sink's total rows stay within (changed-per-batch) x batches —
    # far below batches x corpus (the old full-rewrite sink's volume)
    total_delta_rows = sum(
        spark.read.parquet(os.path.join(snap_dir, d)).count() for d in deltas
    )
    n_sessions = len(want)
    assert total_delta_rows < 2 * n_sessions + len(deltas) * 10

    compact_sessions_snapshot(spark, snap_dir)
    assert not any(d.startswith("delta_b") for d in os.listdir(snap_dir))
    assert any(d.startswith("base_b") for d in os.listdir(snap_dir))
    got2 = sorted(map(tuple, shape(read_sessions_snapshot(spark, snap_dir)).collect()))
    assert got2 == got


def test_read_sessions_snapshot_empty_dir(spark, tmp_path):
    """A drained stream that produced zero batches yields an EMPTY session
    DataFrame, not max()-of-empty-sequence (r7 advice #5)."""
    from map_spark_sql_spark.streaming import read_sessions_snapshot

    snap_dir = str(tmp_path / "empty_snap")
    import os

    os.makedirs(snap_dir)
    df = read_sessions_snapshot(spark, snap_dir)
    assert df.count() == 0
    assert "session_start_us" in df.columns and "user_id" in df.columns


def test_upsert_snapshot_retention_and_gap_tolerance(spark, tmp_path):
    """The CDC upsert sink prunes superseded MVCC versions (keep 2) and
    resolves its predecessor by scanning for the max committed version —
    not batch_id - 1 — so id gaps can't silently reset the snapshot
    (r7 advice #1)."""
    import os

    from map_spark_sql_spark.streaming import upsert_to_snapshot
    from map_spark_sql_spark.streaming.events import drain

    feed = _chopped_event_feed(spark, tmp_path, n_slabs=4)
    snap_dir = str(tmp_path / "cdc_snap")
    q = upsert_to_snapshot(
        read_event_stream(spark, feed, nanos=False, max_files_per_trigger=1).select(
            "user_id", "ts", "event_type", "value", "event_id"
        ),
        spark,
        snap_dir,
        on=["user_id"],
    )
    drain(q)
    versions = sorted(
        (int(d[1:]) for d in os.listdir(snap_dir) if d.startswith("v") and d[1:].isdigit())
    )
    assert len(versions) <= 2  # retention pruned the older copies
    assert max(versions) >= 3  # ...but the stream really ran 4+ batches

    # max-version resolution survives an id gap: the final snapshot equals
    # the batch latest-per-key twin even though v0/v1 are gone
    from pyspark.sql.window import Window

    snap = spark.read.parquet(os.path.join(snap_dir, f"v{max(versions)}"))
    events = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_type", "value", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_type").desc(), F.col("value").desc(),
        F.col("event_id").desc(),
    )
    batch = events.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    assert sorted(map(tuple, snap.collect())) == sorted(map(tuple, batch.collect()))


def _slab_feed(spark, tmp_path, slabs) -> str:
    """Write explicit (user_id, ts_us, value) row slabs as one parquet file
    each, mtime-ordered so maxFilesPerTrigger=1 replays them as real
    micro-batches in list order."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    feed = str(tmp_path / "oo_feed")
    os.makedirs(feed)
    now = time.time()
    for i, rows in enumerate(slabs):
        t = pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [r[1] for r in rows], pa.timestamp("us")
                ),
                "value": pa.array([r[2] for r in rows], pa.float64()),
            }
        )
        p = os.path.join(feed, f"slab_{i:03d}.parquet")
        pq.write_table(t, p)
        os.utime(p, (now + i, now + i))
    return feed


def test_sessions_delta_sink_out_of_order_slabs(spark, tmp_path):
    """r8 verdict nit #1: the delta sink must resolve correctly when slabs
    interleave event time WITHIN the gap bound — including a late event
    that extends an open session's start BACKWARD (the case the old
    ``start``-on-open fold got wrong, and the case that breaks any
    'emissions share their start' resolution invariant)."""
    import os

    from map_spark_sql_spark.streaming import (
        read_sessions_snapshot,
        sessions_to_snapshot,
    )
    from map_spark_sql_spark.streaming.events import drain

    t0 = 1_700_000_000_000_000
    m = 60 * 1_000_000  # one minute in micros
    slabs = [
        # batch 0: u1 session A mid-events; u2 session opens
        [(1, t0 + 10 * m, 1.0), (1, t0 + 20 * m, 2.0), (2, t0, 5.0)],
        # batch 1: u1's LATE first event (extends A backward to t0) plus a
        # forward event; u2 starts a second session (> gap after t0)
        [(1, t0, 4.0), (1, t0 + 25 * m, 8.0), (2, t0 + 45 * m, 6.0)],
        # batch 2: u1 opens session B (> gap after A's end); u2 grows its
        # second session; and an interior late u1 event lands inside A's
        # extent (in-place growth, start/end unchanged)
        [(1, t0 + 90 * m, 16.0), (1, t0 + 15 * m, 32.0), (2, t0 + 50 * m, 7.0)],
    ]
    feed = _slab_feed(spark, tmp_path, slabs)
    snap_dir = str(tmp_path / "oo_snap")
    q = sessions_to_snapshot(
        read_event_stream(spark, feed, nanos=False, max_files_per_trigger=1),
        spark,
        snap_dir,
        gap_minutes=30,
    )
    drain(q)

    deltas = sorted(d for d in os.listdir(snap_dir) if d.startswith("delta_b"))
    assert len(deltas) >= 3, deltas

    # the backward-growth emission really happened: batch 1's u1 row starts
    # EARLIER than batch 0's (so a shared-start resolution invariant would
    # mis-cluster; interval overlap must not)
    def u1_start(delta):
        rows = spark.read.parquet(os.path.join(snap_dir, delta)).filter(
            "user_id = 1"
        ).collect()
        return min(r.session_start_us for r in rows)

    assert u1_start(deltas[1]) < u1_start(deltas[0])

    got = sorted(
        map(
            tuple,
            read_sessions_snapshot(spark, snap_dir)
            .select(
                "user_id", "session_start_us", "session_end_us", "n_events",
                "session_value",
            )
            .collect(),
        )
    )
    want = sorted(
        [
            (1, t0, t0 + 25 * m, 5, 47.0),        # session A: grew backward + interior
            (1, t0 + 90 * m, t0 + 90 * m, 1, 16.0),  # session B
            (2, t0, t0, 1, 5.0),
            (2, t0 + 45 * m, t0 + 50 * m, 2, 13.0),
        ]
    )
    assert got == want


def test_sessions_compaction_concurrent_with_live_stream(spark, tmp_path):
    """r8 verdict ask #5 (pytest-scale twin of the sweep flag): compaction
    running BETWEEN micro-batches of a live query — after some deltas
    committed, before the stream drains — must not change the resolved
    snapshot (batch-id monotonicity: the new base's batch_seq cutoff only
    covers deltas it folded)."""
    import os
    import time

    from map_spark_sql_spark.streaming import (
        compact_sessions_snapshot,
        read_sessions_snapshot,
        sessions_to_snapshot,
    )
    from map_spark_sql_spark.streaming.events import drain

    feed = _chopped_event_feed(spark, tmp_path, n_slabs=4)
    snap_dir = str(tmp_path / "live_snap")
    q = sessions_to_snapshot(
        read_event_stream(spark, feed, nanos=False, max_files_per_trigger=1),
        spark,
        snap_dir,
        gap_minutes=30,
    )
    # wait until at least one delta is COMMITTED (_SUCCESS present — a torn
    # dir is correctly invisible to compaction), then compact while the
    # query is still active
    def committed():
        return [
            d
            for d in (os.listdir(snap_dir) if os.path.isdir(snap_dir) else [])
            if d.startswith("delta_b")
            and os.path.isfile(os.path.join(snap_dir, d, "_SUCCESS"))
        ]

    deadline = time.time() + 120
    while time.time() < deadline and not committed():
        time.sleep(0.2)
    assert committed()
    # NOT asserting q.isActive (r9 advice #5): with availableNow and only
    # 4 slabs the query can legitimately finish between the poll observing
    # a committed delta and this line — compaction mid-pile vs post-drain
    # resolves identically either way (batch-seq cutoff), and the
    # genuinely-live race is covered by the 100x sweep's mid-stream flag.
    compact_sessions_snapshot(spark, snap_dir)
    assert any(d.startswith("base_b") for d in os.listdir(snap_dir))
    drain(q)

    def shape(df):
        return df.select(
            "user_id", "session_start_us", "session_end_us", "n_events",
            F.round("session_value", 2).alias("session_value"),
        )

    got = sorted(map(tuple, shape(read_sessions_snapshot(spark, snap_dir)).collect()))
    want = sorted(map(tuple, _batch_sessions_twin(spark).collect()))
    assert got == want and len(got) > 0


def test_read_sessions_snapshot_refuses_mixed_conventions(spark, tmp_path):
    """r8 verdict nit #2: a sink dir holding BOTH legacy v{n} and
    delta/base dirs means two writers shared one path — refuse loudly
    instead of silently preferring the legacy rows."""
    import os

    import pytest

    from map_spark_sql_spark.streaming import read_sessions_snapshot

    snap_dir = str(tmp_path / "mixed_snap")
    for d in ("v0", "delta_b0"):
        os.makedirs(os.path.join(snap_dir, d))
        open(os.path.join(snap_dir, d, "_SUCCESS"), "w").close()
    with pytest.raises(RuntimeError, match="mixes legacy"):
        read_sessions_snapshot(spark, snap_dir)


def test_sessionize_lateness_violation_counter(spark, tmp_path):
    """r9 verdict ask #6: an event older than the open run's carried start
    by MORE than gap silently mis-merges backward — the sessionizer must
    COUNT it (lateness_violations accumulator) so a bound-violating feed
    is visible. A compliant feed must leave the counter at zero."""
    from map_spark_sql_spark.streaming.events import custom_sessionize, drain

    t0 = 1_700_000_000_000_000
    m = 60 * 1_000_000

    def run(slabs, name):
        feed = _slab_feed(spark, tmp_path / name, slabs)
        sess = custom_sessionize(
            read_event_stream(spark, feed, nanos=False, max_files_per_trigger=1),
            gap_minutes=30,
        )
        q = (
            sess.writeStream.format("noop")
            .outputMode("update")
            .option(
                "checkpointLocation", str(tmp_path / name / "_ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        drain(q)
        return sess.lateness_violations.value

    # b0 opens the run at t0+40m; b1's t0+5m predates its start by 35m > gap
    violating = [
        [(1, t0 + 40 * m, 1.0)],
        [(1, t0 + 5 * m, 2.0)],
    ]
    assert run(violating, "viol") == 1
    # in-bound disorder (backward growth by 10m < gap) must NOT count
    compliant = [
        [(1, t0 + 40 * m, 1.0)],
        [(1, t0 + 30 * m, 2.0)],
    ]
    assert run(compliant, "ok") == 0


def _snapshot_sessions(spark, tmp_path, slabs, name):
    from map_spark_sql_spark.streaming import (
        read_sessions_snapshot,
        sessions_to_snapshot,
    )
    from map_spark_sql_spark.streaming.events import drain

    feed = _slab_feed(spark, tmp_path / name, slabs)
    snap_dir = str(tmp_path / name / "snap")
    q = sessions_to_snapshot(
        read_event_stream(spark, feed, nanos=False, max_files_per_trigger=1),
        spark,
        snap_dir,
        gap_minutes=30,
    )
    drain(q)
    return sorted(
        map(
            tuple,
            read_sessions_snapshot(spark, snap_dir)
            .select(
                "user_id", "session_start_us", "session_end_us", "n_events",
                "session_value",
            )
            .collect(),
        )
    )


def test_sessionize_carry_closed_end_bridges(spark, tmp_path):
    """A late event (lateness < gap) landing in the SILENT GAP between an
    already-emitted closed session A and the open run B, within gap of
    both: the sessionizer carries A's tuple in state, so the snapshot
    holds the batch gap-islands answer — one session bridging all three
    events. The merged re-emission spans the superseded closed emission,
    so resolve_session_deltas' newest-in-overlap-cluster rule resolves the
    supersession unchanged."""
    t0 = 1_700_000_000_000_000
    m = 60 * 1_000_000
    slabs = [
        [(1, t0, 1.0)],
        [(1, t0 + 40 * m, 2.0)],
        [(1, t0 + 20 * m, 4.0)],
    ]
    # gap=30m. b0: t0 -> run A. b1: t0+40m (>gap) -> A closes [t0,t0], B
    # opens. b2: t0+20m, lateness 20m < gap, sits in the silent gap: within
    # gap of A's end AND of B's start -> batch bridges all three into one.
    batch_want = [(1, t0, t0 + 40 * m, 3, 7.0)]
    assert _snapshot_sessions(spark, tmp_path, slabs, "bridge") == batch_want


def test_sessionize_carry_extends_closed_without_bridge(spark, tmp_path):
    """Silent-gap events that reach the carried
    closed run but NOT the open one: the closed run re-opens, absorbs
    both (the second re-emission replacing the first within its batch),
    and is re-emitted closed with the grown extent — matching batch
    gap-islands, which keeps the two islands separate."""
    t0 = 1_700_000_000_000_000
    m = 60 * 1_000_000
    # b0: A=[t0]. b1: t0+70m > gap -> A closes, B opens. b2: t0+10m and
    # t0+20m both within gap of A's (growing) end, both > gap from B's
    # start (70-20=50m): A becomes [t0, t0+20m] n=3 and STAYS closed.
    slabs = [
        [(1, t0, 1.0)],
        [(1, t0 + 70 * m, 2.0)],
        [(1, t0 + 10 * m, 4.0), (1, t0 + 20 * m, 8.0)],
    ]
    want = [
        (1, t0, t0 + 20 * m, 3, 13.0),
        (1, t0 + 70 * m, t0 + 70 * m, 1, 2.0),
    ]
    assert _snapshot_sessions(spark, tmp_path, slabs, "extend") == want


def test_sessionize_carry_same_batch_reopen_then_bridge(spark, tmp_path):
    """Within ONE batch: an early event re-opens the carried closed run
    (emitting its grown extent), then a later event pulls the open run
    back to within gap of it — the bridge must supersede the same-batch
    closed re-emission (rows tie on batch_seq, so the fold replaces the
    row rather than leaning on the read path) and emit one merged
    session, matching batch gap-islands."""
    t0 = 1_700_000_000_000_000
    m = 60 * 1_000_000
    # b0: A=[t0]. b1: B=[t0+70m] (A closes). b2 sorted: t0+20m attaches to
    # A ([t0, t0+20m], still > gap from B), then t0+45m grows B backward
    # to t0+45m -> 45-20=25m <= gap -> everything bridges into one.
    slabs = [
        [(1, t0, 1.0)],
        [(1, t0 + 70 * m, 2.0)],
        [(1, t0 + 20 * m, 4.0), (1, t0 + 45 * m, 8.0)],
    ]
    want = [(1, t0, t0 + 70 * m, 4, 15.0)]
    assert _snapshot_sessions(spark, tmp_path, slabs, "rebridge") == want


def test_sessionize_carry_violation_still_counted(spark, tmp_path):
    """Once a run has closed, the violation bound moves to the carried
    closed run's reach: an event more than gap before ITS start is still a
    counted mis-merge (absorbed backward into the closed run), while a
    silent-gap event is handled and must NOT count."""
    from map_spark_sql_spark.streaming.events import custom_sessionize, drain

    t0 = 1_700_000_000_000_000
    m = 60 * 1_000_000

    def run(slabs, name):
        feed = _slab_feed(spark, tmp_path / name, slabs)
        sess = custom_sessionize(
            read_event_stream(spark, feed, nanos=False, max_files_per_trigger=1),
            gap_minutes=30,
        )
        q = (
            sess.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / name / "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        drain(q)
        return sess.lateness_violations.value

    # carried A=[t0+100m] after B opens at t0+140m; t0 predates A's start
    # by 100m > gap -> one violation
    violating = [
        [(1, t0 + 100 * m, 1.0)],
        [(1, t0 + 140 * m, 2.0)],
        [(1, t0, 4.0)],
    ]
    assert run(violating, "viol") == 1
    # the bridging slab is HANDLED by the carried closed run: zero violations
    compliant = [
        [(1, t0, 1.0)],
        [(1, t0 + 40 * m, 2.0)],
        [(1, t0 + 20 * m, 4.0)],
    ]
    assert run(compliant, "ok") == 0


def test_sessionize_idle_open_snapshot_reaches_sink(spark, tmp_path):
    """r9 verdict ask #5a: the sessionizer closes no idle state by timeout
    (Spark 4.1's timeout-triggered micro-batch hits a planner NPE), and
    the documented claim is that downstream consumers get the same
    information from open=true snapshots. Pin it: an idle trailing run — no gap split ever fires —
    must still reach the sink as an open=true emission carrying the full
    interval and aggregate."""
    import os

    from map_spark_sql_spark.streaming import sessions_to_snapshot
    from map_spark_sql_spark.streaming.events import drain

    t0 = 1_700_000_000_000_000
    m = 60 * 1_000_000
    slabs = [[(7, t0, 1.5), (7, t0 + 5 * m, 2.5)]]
    feed = _slab_feed(spark, tmp_path, slabs)
    snap_dir = str(tmp_path / "idle_snap")
    q = sessions_to_snapshot(
        read_event_stream(spark, feed, nanos=False, max_files_per_trigger=1),
        spark,
        snap_dir,
        gap_minutes=30,
    )
    drain(q)
    deltas = [d for d in os.listdir(snap_dir) if d.startswith("delta_b")]
    rows = [
        r
        for d in deltas
        for r in spark.read.parquet(os.path.join(snap_dir, d)).collect()
    ]
    opens = [r for r in rows if r.user_id == 7 and r.open]
    assert opens, "idle session produced no open=true snapshot"
    r = opens[-1]
    assert (r.session_start_us, r.session_end_us, r.n_events, r.session_value) == (
        t0, t0 + 5 * m, 2, 4.0,
    )
