"""Streaming sessionization at the 1000x rung (100M events), digest-gated.

The 100x chop-sweep receipt collect-compares ~9.4M sessions. At 1000x the
result is itself rung-sized (~95M sessions — the feed's global event
cadence stretches per-user inter-arrival far past the 30-minute gap, so
most sessions are singletons) and collect-compare is off the table; this
harness composes the two proven playbooks:

- **digest gate** (tools/check_map_at_scale.py): both engines reduce the
  session multiset to one row ``(count, sum(h1), sum(h2))`` over the
  canonical '|'-joined row string. ``session_value`` enters the canon as
  integer CENTS (``CAST(round(v * 100) AS BIGINT)``) — the generator's
  values are 2-decimal, so every true session total is integer cents and
  both engines' float sums land within ~1e-4 cents of it; a raw DOUBLE in
  the canon would instead hash the engines' float-rendering conventions.
- **sharded oracle** (tools/check_tokenize_at_scale.py): sessions never
  span users, so ``user_id % n_shards`` partitions the gap-islands oracle
  into independent window problems whose digests ADD; fresh bounded DuckDB
  connection per shard.

What the Spark side exercises that no smaller rung does: the whale user
(id 777, ~5% of the feed) has ~90s mean inter-arrival against the
30-minute gap, so its ~5M events merge into ONE session that GROWS across
all N micro-batches — N-1 supersessions of a 5M-event session through
applyInPandasWithState state carry + the log-structured sink's
merge-on-read resolution, while 50k ordinary users churn ~95M short
sessions through watermark eviction.

Usage: python tools/check_sessions_at_scale.py [sf_dir] [n_slabs] [n_shards]
"""

from __future__ import annotations

import functools
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

print = functools.partial(print, flush=True)

# the registry oracle (queries.py stream_sessions_update_snapshot) with a
# user-hash shard predicate pushed into the events scan and session_value
# rendered as integer cents for the digest canon
ORACLE_SHARD = """
WITH marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events WHERE user_id % {n_shards} = {shard}),
numbered AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked)
SELECT user_id, CAST(min(epoch_us(ts)) AS BIGINT) AS session_start_us,
       CAST(max(epoch_us(ts)) AS BIGINT) AS session_end_us,
       count(*) AS n_events,
       COALESCE(CAST(round(sum(value) * 100) AS BIGINT), -1) AS value_cents
FROM numbered GROUP BY user_id, session_no
"""
# value_cents carries a -1 NULL sentinel ON BOTH SIDES (all-NULL-value
# sessions exist: ~1% of events have NULL value, most sessions are
# singletons). The digest canons handle NULL asymmetrically — Spark's
# concat_ws SKIPS a null column while DuckDB's `||` nulls the whole canon
# string, whose md5 then vanishes from sum(h1) but not count(*) — so a
# nullable digest column silently diverges the hashes even when the row
# multisets are IDENTICAL (caught by this gate's first 100x run: n
# matched, s1/s2 didn't). Digest columns must be null-free by
# construction; every prior digest gate (t1/z16/blob) was integer-only
# non-null and never hit it.


def main() -> int:
    import duckdb

    from check_map_at_scale import digest_duck_sql, digest_spark
    from map_spark_sql_spark.session import get_session
    from map_spark_sql_spark.streaming import events as STE
    from stream_chop_sweep import chop_feed

    flags = [a for a in sys.argv[1:] if a.startswith("--")]
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    # --disorder: re-deliver a deterministic sample of each slab's trailing
    # <gap window as straggler files (contract-compliant lateness — zero
    # violations — but bridging-capable). The sessionizer carries each
    # user's last closed run, so every straggler bridges exactly as the
    # batch gap-islands oracle does: with --disorder the digest must PASS.
    disorder = "--disorder" in flags
    sf_dir = args[0] if len(args) > 0 else "/root/repo/.scratch/sf1000x"
    n_slabs = int(args[1]) if len(args) > 1 else 12
    n_shards = int(args[2]) if len(args) > 2 else 8

    spark = get_session(
        app_name="sessions_scale", master="local[8]", shuffle_partitions=64
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    src = os.path.join(sf_dir, "events.parquet")
    print(f"chopping {src} into {n_slabs} slabs ...")
    feed = chop_feed(src, n_slabs)
    if disorder:
        from stream_chop_sweep import bridging_feed

        n_late = bridging_feed(feed)
        print(
            f"injected {n_late} guaranteed-bridging stragglers (compliant "
            f"lateness, zero expected violations)"
        )
        if not n_late:
            print("WARNING: no bridging triples found — the check is vacuous")

    snap_dir = tempfile.mkdtemp(prefix="sess_scale_snap_")
    stream = STE.read_event_stream(spark, feed, max_files_per_trigger=1)
    t0 = time.perf_counter()
    query = STE.sessions_to_snapshot(stream, spark, snap_dir, gap_minutes=30)
    STE.drain(query, timeout_sec=14400)
    t_stream = time.perf_counter() - t0
    n_batches = len([p for p in query.recentProgress if p["numInputRows"] > 0])
    deltas = [d for d in os.listdir(snap_dir) if d.startswith("delta_b")]
    # disorder-bound compliance metric (r10 verdict ask #7): events beyond
    # the open run's reach mis-merge and are counted — 0 on the rung
    # feed's time-ordered slabs means the digest equality below rests on a
    # feed that honored the sessionizer's contract, visibly
    lateness_violations = query.lateness_violations.value
    print(
        f"stream drained: {n_batches} micro-batches, {len(deltas)} delta dirs "
        f"({t_stream:.1f}s); lateness_violations={lateness_violations} "
        f"(bound-compliant feed => 0)"
    )

    # Spark-side digest of the merge-on-read snapshot
    t0 = time.perf_counter()
    snap = STE.read_sessions_snapshot(spark, snap_dir).select(
        "user_id",
        "session_start_us",
        "session_end_us",
        "n_events",
        F.expr(
            "coalesce(CAST(round(session_value * 100) AS BIGINT), -1)"
        ).alias("value_cents"),
    )
    s_n, s_s1, s_s2 = digest_spark(snap).collect()[0]
    t_spark = time.perf_counter() - t0
    print(
        f"spark sessions digest: n={s_n} s1={s_s1} s2={s_s2} "
        f"(merge-on-read + digest {t_spark:.1f}s)"
    )

    cols = ["user_id", "session_start_us", "session_end_us", "n_events", "value_cents"]
    d_n = d_s1 = d_s2 = 0
    t_duck = 0.0
    for shard in range(n_shards):
        oracle = ORACLE_SHARD.format(n_shards=n_shards, shard=shard)
        t0 = time.perf_counter()
        con = duckdb.connect()
        con.execute("SET memory_limit='16GB'")
        con.execute(
            f"SET temp_directory='{tempfile.mkdtemp(prefix='duck_sess_')}'"
        )
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{src}'")
        n, s1, s2 = con.sql(digest_duck_sql(oracle, cols)).fetchone()
        con.close()
        t_duck += time.perf_counter() - t0
        d_n += n or 0
        d_s1 += s1 or 0
        d_s2 += s2 or 0
        print(
            f"  shard {shard}/{n_shards}: n={n} (cumulative duckdb {t_duck:.1f}s)"
        )
    ok = (s_n, s_s1, s_s2) == (d_n, d_s1, d_s2)
    mode = f"disorder={disorder}"
    print(
        f"{'PASS' if ok else 'FAIL'} stream_sessions_update_snapshot [{mode}] "
        f"(sharded digest): spark (n={s_n}, s1={s_s1}, s2={s_s2}) vs duckdb-sum "
        f"(n={d_n}, s1={d_s1}, s2={d_s2}) over {n_shards} shards "
        f"(stream {t_stream:.1f}s, snapshot digest {t_spark:.1f}s, "
        f"duckdb {t_duck:.1f}s)"
    )
    import shutil

    shutil.rmtree(snap_dir, ignore_errors=True)
    shutil.rmtree(feed, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
