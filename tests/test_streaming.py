"""Event-time operator tests (SURVEY.md §2.10): tumbling windows,
sessionization semantics, and batch↔stream plan parity."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from core_telecoms_etl_spark.streaming.events import (
    run_stream_tumbling,
    sessionize,
    tumbling_agg,
)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def _ts(minute: int, second: int = 0):
    return dt.datetime(2024, 1, 1, 0, minute, second)


def test_tumbling_agg_boundaries(spark):
    ev = _events(
        spark,
        [
            (1, _ts(0), 1, "a", 1.0),
            (2, _ts(14, 59), 1, "a", 2.0),  # same 15-min window
            (3, _ts(15), 1, "a", 4.0),  # next window
        ],
    )
    out = {
        (r.window_start.minute, r.event_type): (r.n_events, r.value_sum)
        for r in tumbling_agg(ev, "15 minutes").collect()
    }
    assert out[(0, "a")] == (2, 3.0)
    assert out[(15, "a")] == (1, 4.0)


def test_sessionize_gap_splits(spark):
    ev = _events(
        spark,
        [
            (1, _ts(0), 7, "a", 1.0),
            (2, _ts(10), 7, "a", 1.0),  # same session (gap 10m < 30m)
            (3, _ts(50), 7, "a", 1.0),  # new session (gap 40m)
            (4, _ts(0), 8, "a", 1.0),  # other user: own session
        ],
    )
    out = sessionize(ev, gap_seconds=1800).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r)
    assert len(per_user[7]) == 2
    sessions = sorted(per_user[7], key=lambda r: r.session_id)
    assert sessions[0].n_events == 2 and sessions[0].duration_sec == 600.0
    assert sessions[1].n_events == 1 and sessions[1].duration_sec == 0.0
    assert len(per_user[8]) == 1


def test_sessionize_exact_gap_is_same_session(spark):
    ev = _events(
        spark, [(1, _ts(0), 1, "a", 1.0), (2, _ts(30), 1, "a", 1.0)]
    )
    out = sessionize(ev, gap_seconds=1800).collect()
    assert len(out) == 1  # gap == threshold: not greater → same session


def test_stream_matches_batch(spark, sf_dir):
    """The streaming plan over the same files produces the same result as
    the batch plan (complete-mode memory sink)."""
    from core_telecoms_etl_spark.sources.readers import load_table

    batch = {
        (r.window_start, r.event_type): (r.n_events, r.value_sum)
        for r in tumbling_agg(
            load_table(spark, sf_dir, "events"), "15 minutes"
        ).collect()
    }
    streamed = {
        (r.window_start, r.event_type): (r.n_events, r.value_sum)
        for r in run_stream_tumbling(
            spark, f"{sf_dir}/events.parquet", width="15 minutes",
            query_name="test_stream_out",
        ).collect()
    }
    assert streamed == batch


def test_stateful_totals_match_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from core_telecoms_etl_spark.sources.readers import load_table
    from core_telecoms_etl_spark.streaming.events import run_stream_stateful

    got = {
        r.user_id: (r.n_events, r.value_sum)
        for r in run_stream_stateful(
            spark, f"{sf_dir}/events.parquet", query_name="t_stateful"
        ).collect()
    }
    want = {
        r.user_id: (r.n_events, r.value_sum)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .collect()
    }
    assert got == want


def test_stateful_max_state_rows_trips_on_second_batch(spark, tmp_path):
    """r14 loud posture: every other unbounded-growth mode in the engine
    raises with a measured estimate (incremental_dedup max_candidates,
    simhash tripwire, fuzzy_pairs max_block_pairs); the stateful
    operator's O(distinct-users) default only documented it. With
    max_state_rows set, the runner checks numRowsTotal from each
    micro-batch's StreamingQueryProgress and raises at the FIRST
    over-cap batch, naming the cap as the escalation path.
    Two single-file micro-batches of 3 disjoint users each: batch 0
    holds 3 state rows (under a cap of 4), batch 1 accumulates 6 —
    the trip must name batch 1."""
    import os
    import time
    from datetime import datetime

    import pytest

    from core_telecoms_etl_spark.streaming.events import run_stream_stateful

    dir_ = str(tmp_path / "ev")
    schema = (
        "event_id long, user_id long, event_type string, "
        "value double, ts timestamp"
    )

    def write_slice(users, when):
        rows = [
            (u * 10 + k, u, "click", 1.0, datetime(2024, 1, 1, 0, k))
            for u in users
            for k in range(2)
        ]
        # snapshot BEFORE the write so exactly the new part files get
        # retimed (an mtime-threshold test never fires for later
        # slices — their `when` is in the future relative to the
        # files' real write time)
        before = set(os.listdir(dir_)) if os.path.isdir(dir_) else set()
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(dir_)
        # mtime = replay order (the file source processes oldest first)
        for f in set(os.listdir(dir_)) - before:
            if f.startswith("part-"):
                p = os.path.join(dir_, f)
                os.utime(p, (when, when))

    t0 = time.time()
    write_slice([1, 2, 3], t0)
    write_slice([4, 5, 6], t0 + 10)

    with pytest.raises(RuntimeError) as exc:
        run_stream_stateful(
            spark,
            dir_,
            query_name="t_state_cap",
            max_state_rows=4,
            max_files_per_trigger=1,
        )
    msg = str(exc.value)
    assert "micro-batch 1" in msg and "6" in msg, msg
    assert "raise max_state_rows" in msg, msg
    # a cap above the lifetime key count passes through untouched
    out = run_stream_stateful(
        spark,
        dir_,
        query_name="t_state_cap_ok",
        max_state_rows=100,
        max_files_per_trigger=1,
    )
    assert {r.user_id for r in out.collect()} == {1, 2, 3, 4, 5, 6}


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """The watermarked stream-stream interval join (click→purchase within
    30 min) emits exactly the pairs the equivalent batch interval join
    produces, and restores the session shuffle-partition conf it pins."""
    from core_telecoms_etl_spark.sources.readers import load_table
    from core_telecoms_etl_spark.streaming.events import (
        run_stream_stream_join,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in run_stream_stream_join(
            spark, f"{sf_dir}/events.parquet", query_name="t_ssj"
        ).collect()
    }
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("cid"),
        F.col("ts").alias("cts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
    )
    want = {
        (r.u, r.cid, r.pid)
        for r in c.join(
            p,
            (F.col("u") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES")),
        ).collect()
    }
    assert got == want and len(got) > 0


# Historical raw events schema: some testdata generations write ts as
# TIMESTAMP(NANOS), which Spark (under nanosAsLong) reads as a nanos long.
# The test below writes that encoding and streams it with this schema.
_EVENTS_RAW_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def test_watermark_append_emits_closed_windows_and_drops_late(
    spark, tmp_path
):
    """Three micro-batches: batch 2's max event time advances the
    watermark past batch 1's windows, so they emit in append mode; batch 3
    then delivers a row older than the watermark, which is DROPPED — the
    already-emitted window is never revised. Files are written WHILE the
    stream runs (processAllAvailable between writes) so batch order is
    deterministic."""
    from datetime import datetime

    import pyspark.sql.functions as F

    dir_ = str(tmp_path / "ev")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def write_batch(rows):
        (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.unix_micros("ts") * 1000)  # nanos long
            .coalesce(1)
            .write.mode("append")
            .parquet(dir_)
        )

    write_batch([(0, datetime(2023, 12, 31, 23, 59), 1, "click", 0.5, None)])
    stream = (
        spark.readStream.format("parquet")
        .schema(_EVENTS_RAW_SCHEMA)
        .load(dir_)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        .withWatermark("ts", "30 minutes")
    )
    agg = (
        stream.groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_wm_append")
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch(
            [
                (1, datetime(2024, 1, 1, 0, 5), 1, "click", 10.0, None),
                (2, datetime(2024, 1, 1, 0, 20), 1, "click", 20.0, None),
            ]
        )
        q.processAllAvailable()
        # advances the watermark to 03:00 - 30min = 02:30 after this batch
        write_batch(
            [(3, datetime(2024, 1, 1, 3, 0), 1, "click", 30.0, None)]
        )
        q.processAllAvailable()
        # a VERY late row for the closed 00:00 window — beyond the watermark
        write_batch(
            [(4, datetime(2024, 1, 1, 0, 6), 1, "click", 999.0, None)]
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.window_start.isoformat(), r.event_type): (r.n_events, r.value_sum)
        for r in spark.table("t_wm_append").collect()
    }
    # 00:00 and 00:15 windows closed after the 03:00 batch WITHOUT row 4
    assert got.get(("2024-01-01T00:00:00", "click")) == (1, 10.0)
    assert got.get(("2024-01-01T00:15:00", "click")) == (1, 20.0)
    # the 03:00 window is still open (watermark < its end): not emitted
    assert ("2024-01-01T03:00:00", "click") not in got


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming dedup by event_id with dropDuplicatesWithinWatermark:
    a replay of the same event id inside the watermark window is dropped
    across micro-batches (state-store-backed)."""
    from datetime import datetime

    import pyspark.sql.functions as F

    dir_ = str(tmp_path / "dups")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def write_batch(rows):
        (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.unix_micros("ts") * 1000)
            .coalesce(1)
            .write.mode("append")
            .parquet(dir_)
        )

    write_batch([(1, datetime(2024, 1, 1, 0, 0), 1, "click", 1.0, None)])
    stream = (
        spark.readStream.format("parquet")
        .schema(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        )
        .load(dir_)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
        # replay of id=1 in a later micro-batch + one genuinely new event
        write_batch(
            [
                (1, datetime(2024, 1, 1, 0, 10), 1, "click", 99.0, None),
                (2, datetime(2024, 1, 1, 0, 20), 1, "view", 2.0, None),
            ]
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("t_stream_dedup").collect()
    ids = sorted(r.event_id for r in rows)
    assert ids == [1, 2]  # the replayed id=1 was deduplicated
    assert {r.value for r in rows if r.event_id == 1} == {1.0}


def test_event_id_unique_in_testdata(spark, sf_dir):
    """Guard for the stream_dedup oracle's standing assumption: the
    oracle reads the raw events table, which is only equal to the
    deduped double-delivery if event_id has no natural duplicates (a
    natural dup would make dropDuplicatesWithinWatermark keep an
    arbitrary row and diverge). Fails loudly if a future testdata
    generation breaks that."""
    from core_telecoms_etl_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    n, d = ev.select(
        F.count("*").alias("n"),
        F.countDistinct("event_id").alias("d"),
    ).first()
    assert n == d, f"events.event_id has {n - d} duplicate ids"


def test_stream_sliding_matches_batch(spark, sf_dir):
    """Sliding-window batch/stream parity (the r7 pair completing the
    tumbling/session/sliding trio): identical results through the
    streaming path."""
    from core_telecoms_etl_spark.sources.readers import load_table
    from core_telecoms_etl_spark.streaming.events import (
        run_stream_sliding,
        sliding_agg,
    )

    batch = {
        (r.window_start, r.event_type): (r.n_events, r.value_sum)
        for r in sliding_agg(
            load_table(spark, sf_dir, "events")
        ).collect()
    }
    streamed = {
        (r.window_start, r.event_type): (r.n_events, r.value_sum)
        for r in run_stream_sliding(
            spark,
            f"{sf_dir}/events.parquet",
            query_name="test_stream_sliding_out",
        ).collect()
    }
    assert streamed == batch
    # width/slide = 2 overlapping windows per event: total n_events
    # across windows is exactly 2× the event count
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(v[0] for v in batch.values()) == 2 * n_events


def test_staged_key_slices_shared_and_disjoint(spark, sf_dir):
    """VERDICT r10 ask #6: slice staging is write-once per source
    generation — two invocations return the SAME dir (no re-write),
    the slices partition the key column exactly (disjoint, complete),
    and the dir name embeds the source fingerprint so a regenerated
    corpus can never reuse a stale stage."""
    import glob
    import os

    from core_telecoms_etl_spark.caching import path_fingerprint
    from core_telecoms_etl_spark.streaming.events import staged_key_slices

    path = f"{sf_dir}/events.parquet"
    d1 = staged_key_slices(spark, path, key_col="user_id", n_slices=3)
    mtimes = {
        f: os.stat(f).st_mtime_ns for f in glob.glob(f"{d1}/slice*.parquet")
    }
    assert len(mtimes) >= 3
    d2 = staged_key_slices(spark, path, key_col="user_id", n_slices=3)
    assert d2 == d1
    assert {
        f: os.stat(f).st_mtime_ns for f in glob.glob(f"{d1}/slice*.parquet")
    } == mtimes, "second call must reuse, not re-write"
    assert path_fingerprint(path) in d1
    staged = spark.read.parquet(f"{d1}/slice*.parquet")
    src = spark.read.parquet(path)
    assert staged.count() == src.count()
    assert (
        staged.groupBy("user_id").count().exceptAll(
            src.groupBy("user_id").count()
        ).count()
        == 0
    )


def test_state_bound_listener_earliest_survives_retention():
    """The r14 ADVICE gap: recentProgress retains only the last
    `numRecentProgressUpdates` (default 100) payloads, so on a long run
    with shrinking state a transient EARLY violation could age out and
    the raise would name a later batch (or nothing). The listener's
    record is append-only: feed 300 progress events where batch 5
    violates, then 250 under-cap batches, then batch 290 violates —
    earliest() must still name batch 5. Events from a different query
    id are filtered at read time."""
    from core_telecoms_etl_spark.streaming.events import (
        _StateBoundListener,
    )

    class _SO:
        def __init__(self, n):
            self.numRowsTotal = n

    class _P:
        def __init__(self, qid, batch, n):
            self.id = qid
            self.batchId = batch
            self.stateOperators = [_SO(n)]

    class _Ev:
        def __init__(self, p):
            self.progress = p

    lst = _StateBoundListener(10)
    lst.onQueryProgress(_Ev(_P("other-query", 1, 99)))  # foreign: ignored
    for b in range(300):
        n = 12 if b == 5 else (13 if b == 290 else 7)
        lst.onQueryProgress(_Ev(_P("q-main", b, n)))
    assert lst.earliest("q-main") == (5, 12)
    assert lst.earliest("unseen-query") is None
    lst.onQueryTerminated(object())
    assert lst.terminated.is_set()


def test_stream_stream_join_max_state_rows_guard(spark, sf_dir):
    """Guard parity (r15): the interval join carries the same
    max_state_rows loud posture as the stateful runner — a cap below
    the buffered-row count raises naming the runner and the watermark
    escalation path; a generous cap returns the joined rows."""
    import pytest

    from core_telecoms_etl_spark.streaming.events import (
        run_stream_stream_join,
    )

    path = f"{sf_dir}/events.parquet"
    with pytest.raises(RuntimeError, match="run_stream_stream_join"):
        run_stream_stream_join(
            spark, path, query_name="ssj_guard_trip", max_state_rows=1
        )
    out = run_stream_stream_join(
        spark, path, query_name="ssj_guard_ok", max_state_rows=10_000_000
    )
    assert out.count() >= 0  # materialized without tripping


def test_state_bound_guard_filters_foreign_violations(spark):
    """r15 self-review #1: a violation recorded from a DIFFERENT query
    on the same session must not make saw_violation() true for this
    query (it would swallow this query's genuine exception), while a
    violation carrying this query's id must."""
    from core_telecoms_etl_spark.streaming.events import StateBoundGuard

    class _Q:
        def __init__(self, qid):
            self.id = qid
            self.recentProgress = []

    guard = StateBoundGuard(
        spark, 10, what="test", hint="none"
    )
    try:
        q = _Q("this-query")
        guard.listener.violations.append(("other-query", 0, 99))
        assert not guard.saw_violation(q)
        guard.listener.violations.append(("this-query", 3, 42))
        assert guard.saw_violation(q)
    finally:
        guard.abandon()
    # abandoned guard is inert: no listener, every call a no-op
    assert guard.listener is None
    assert not guard.saw_violation(_Q("this-query"))
    guard.check(_Q("this-query"))  # must not raise


def test_state_bound_guard_abandon_removes_listener(spark):
    """r15 self-review #5: when start() raises, abandon() must unhook
    the listener from spark.streams — a leaked listener accumulates
    every later query's violations for the session lifetime."""
    from core_telecoms_etl_spark.streaming.events import StateBoundGuard

    before = len(spark.streams._jsqm.listListeners())
    guard = StateBoundGuard(spark, 10, what="test", hint="none")
    assert len(spark.streams._jsqm.listListeners()) == before + 1
    guard.abandon()
    assert len(spark.streams._jsqm.listListeners()) == before
