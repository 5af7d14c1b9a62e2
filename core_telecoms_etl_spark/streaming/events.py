"""Event-time operators (SURVEY.md §2.10 extension surface).

The reference has no streaming semantics — "incremental" there means daily
file-set difference (airflow pipeline.py:122 @daily). This module adds the
event-time layer a complaint/event feed needs, batch-first (same plan works
on a static DataFrame) with a Structured Streaming wrapper:

- tumbling_agg: fixed windows via F.window (epoch-aligned).
- sessionize: gap-based sessions via lag + cumulative boundary sum.
- run_stream_tumbling: the same aggregation as a readStream over the
  parquet folder, complete-mode memory sink (the local smoke pattern);
  on a cluster the source becomes Kafka and the sink a Delta/parquet
  append with watermarking.

Scale: windowed aggregation shuffles once on (window, key); sessionize
shuffles once on the user key and scans each partition sorted — both
linear, skew-safe under AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def events_file_stream(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over the events parquet file/dir with `ts` normalized to
    TimestampType regardless of the on-disk encoding (nanos-as-long,
    TIMESTAMP_NTZ, or plain TIMESTAMP — see readers.normalize_timestamps).

    The file-stream source requires an explicit schema; it is taken from a
    batch footer read of the same path (metadata-only, no data scan), so
    the stream always matches what is actually on disk instead of
    hard-coding one writer generation's encoding."""
    from core_telecoms_etl_spark.sources.readers import (
        ensure_session_confs,
        normalize_timestamps,
    )

    # nanos opt-in: this reader targets the harness events table, whose
    # TIMESTAMP(NANOS) `ts` is rewritten back via normalize_timestamps
    ensure_session_confs(spark, nanos_as_long=True)
    raw_schema = spark.read.parquet(path).schema
    # a Spark-written table is a DIRECTORY named *.parquet containing
    # part files — the normal production layout; stream the directory
    # itself (the pathGlobFilter trick below is only for the testdata's
    # single-FILE layout, where the source needs a directory to watch
    # and a filter to isolate the one table file). r8: the 8×-replica
    # differential streamed 0 rows here because the glob matched the
    # directory entry, not its part files.
    import os

    reader = spark.readStream.format("parquet").schema(raw_schema)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    if path.endswith(".parquet") and not os.path.isdir(path):
        base, _, fname = path.rpartition("/")
        stream = reader.option("pathGlobFilter", fname).load(base)
    else:
        stream = reader.load(path)
    return normalize_timestamps(stream, nanos_bigint_cols=("ts",))


def tumbling_agg(events: DataFrame, width: str = "15 minutes") -> DataFrame:
    """Tumbling event-time windows: count + 2-decimal-snapped value sum
    per (window, event_type)."""
    return (
        events.groupBy(F.window("ts", width), "event_type")
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


def sessionize(
    events: DataFrame, gap_seconds: int = 1800, user_col: str = "user_id"
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap since
    the user's previous event exceeds `gap_seconds`. Integer-microsecond
    gap math keeps it exact across engines."""
    order = [F.col("ts"), F.col("event_id")]
    w = Window.partitionBy(user_col).orderBy(*order)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        gap_us.isNull() | (gap_us > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    with_sess = events.withColumn(
        "session_id", F.sum(is_new).over(wrun).cast("long")
    )
    return (
        with_sess.groupBy(user_col, "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / 1_000_000.0
            ).alias("duration_sec"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
    )


def run_stream_tumbling(
    spark: SparkSession,
    path: str,
    *,
    width: str = "15 minutes",
    query_name: str = "stream_tumbling_out",
) -> DataFrame:
    """Drive the tumbling aggregation through Structured Streaming over the
    parquet folder and return the materialized result. Complete-mode memory
    sink so the single historical batch emits every window (append mode
    would withhold windows until the watermark passes them)."""
    stream = events_file_stream(spark, path)
    agg = tumbling_agg(stream, width)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def sliding_agg(
    events: DataFrame,
    width: str = "30 minutes",
    slide: str = "15 minutes",
) -> DataFrame:
    """Sliding event-time windows (width/slide overlapping copies per
    event — Spark's window generator expands them; 2 per event at
    30m/15m): count + 2-decimal-snapped value sum per (window, type).
    Identical plan batch or streaming — the batch/stream parity
    contract the whole events family keeps."""
    return (
        events.groupBy(F.window("ts", width, slide), "event_type")
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


def run_stream_sliding(
    spark: SparkSession,
    path: str,
    *,
    width: str = "30 minutes",
    slide: str = "15 minutes",
    query_name: str = "stream_sliding_out",
) -> DataFrame:
    """Drive the sliding aggregation through Structured Streaming over
    the parquet folder (complete-mode memory sink, same rationale as
    run_stream_tumbling: one historical batch must emit every window)."""
    stream = events_file_stream(spark, path)
    agg = sliding_agg(stream, width, slide)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def stateful_user_totals(
    stream: DataFrame,
    *,
    user_col: str = "user_id",
) -> DataFrame:
    """Custom stateful operator: per-user running event count + value sum
    maintained in explicit group state via applyInPandasWithState (the
    arbitrary-stateful-processing API; state lives in the state store,
    checkpointed, partitioned by key — the 100 TB path for custom
    aggregations Spark's built-ins can't express).

    Emits the updated running totals for every user seen in each
    micro-batch. On a finite one-batch source the emitted rows ARE the
    per-user totals, which is what the batch oracle checks.

    STATE BOUND (r13): per-key state is 16 bytes, but the KEY SPACE is
    every user ever seen — state (NoTimeout) grows O(distinct users)
    for the stream's LIFETIME, which on a continuous 100 TB/day feed is
    the slow-OOM shape the dedup operator's watermark explicitly
    avoids. Every caller runs one finite batch, where lifetime ==
    horizon. To make the unbounded growth LOUD instead of a slow OOM,
    run through `run_stream_stateful(..., max_state_rows=...)`: the
    runner checks numRowsTotal from every micro-batch's progress and
    raises at the first over-cap batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += int(len(pdf))
            # nonfinite metric contract (queries/__init__.py): NaN/±Inf
            # carry no magnitude and scope out like NULLs — the old
            # fillna(0) treated NaN as zero (a silent value) and let
            # Inf poison the running sum for the key's lifetime
            v = pdf["value"]
            s += float(v[np.isfinite(v)].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "value_sum": [round(s, 2)],
            }
        )

    return stream.groupBy(user_col).applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, value_sum double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def first_state_bound_violation(q, max_state_rows: int):
    """First micro-batch whose state store exceeded the cap, as
    (batch_id, num_rows_total), or None. Reads the query's
    StreamingQueryProgress history (driver-side metrics — no job);
    usable against any state-bearing streaming query.

    RETENTION CAVEAT (r14 ADVICE): `recentProgress` keeps only the
    last `spark.sql.streaming.numRecentProgressUpdates` payloads
    (default 100). On a long run where state can SHRINK (watermark
    eviction), a transient early violation can age out of this buffer
    and be missed here. `run_stream_stateful` therefore supplements
    this scan with `_StateBoundListener`, which observes EVERY
    progress event through the listener bus with no retention bound —
    this function remains the dependency-free post-hoc check for
    replayed histories (the sf10 replays in BASELINE.md round-13,
    "Streaming state at the decade")."""
    for p in q.recentProgress:
        for so in p.get("stateOperators") or []:
            total = int(so.get("numRowsTotal") or 0)
            if total > max_state_rows:
                return p.get("batchId"), total
    return None


class _StateBoundListener:
    """StreamingQueryListener recording every over-cap micro-batch —
    append-only, so unlike the bounded `recentProgress` buffer the
    EARLIEST violating batch is guaranteed retained no matter how long
    the run (r14 ADVICE). Registered only while the guarded query
    runs; events carry the query id, so concurrent queries on the
    same session don't cross-contaminate (filtered at read time —
    progress events can land before the caller learns its query id).
    Implemented as a lazy subclass factory because importing
    StreamingQueryListener at module load would bind a JVM-backed
    class before any session exists."""

    def __new__(cls, max_state_rows: int):
        import threading

        from pyspark.sql.streaming import StreamingQueryListener

        class _Impl(StreamingQueryListener):
            def __init__(self):
                super().__init__()
                self.max_state_rows = max_state_rows
                self.violations: list[tuple[str, int, int]] = []
                self.terminated = threading.Event()

            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                for so in p.stateOperators:
                    total = int(so.numRowsTotal or 0)
                    if total > self.max_state_rows:
                        self.violations.append(
                            (str(p.id), int(p.batchId), total)
                        )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                self.terminated.set()

            def earliest(self, query_id) -> tuple[int, int] | None:
                hits = [
                    (b, t)
                    for (qid, b, t) in self.violations
                    if qid == str(query_id)
                ]
                return min(hits) if hits else None

        return _Impl()


def _raise_state_bound(
    violation, max_state_rows: int, what: str, hint: str
) -> None:
    batch_id, total = violation
    raise RuntimeError(
        f"{what}: the state store holds "
        f"{total:,} rows at micro-batch {batch_id} "
        f"(max_state_rows={max_state_rows:,}) — {hint}"
    )


_STATEFUL_HINT = (
    "per-user state grows O(distinct users) for the stream's LIFETIME "
    "(measured saturating at exactly the user count at sf10); raise "
    "max_state_rows for a wider user base."
)


class StateBoundGuard:
    """Shared loud-posture state cap for the streaming runners (r15:
    factored out of run_stream_stateful so the stream-stream interval
    join carries the identical contract). Three observers, resolved to
    the EARLIEST violating micro-batch:

    - `_StateBoundListener` — append-only, survives recentProgress'
      bounded retention; the authoritative record;
    - a 50 ms lastProgress sampler that also STOPS the query mid-run
      at the first observed violation (best-effort halt; the raise is
      not best-effort);
    - the post-run `first_state_bound_violation` recentProgress scan.

    Every method is a no-op when max_state_rows is None."""

    def __init__(
        self, spark: SparkSession, max_state_rows: int | None,
        *, what: str, hint: str,
    ):
        import threading

        self.spark = spark
        self.cap = max_state_rows
        self.what = what
        self.hint = hint
        self.tripped: dict = {}
        self._stop = threading.Event()
        self._watcher = None
        self.listener = None
        if max_state_rows is not None:
            # register BEFORE the caller starts the query so no
            # progress event predates the listener
            self.listener = _StateBoundListener(max_state_rows)
            spark.streams.addListener(self.listener)

    def watch(self, q) -> None:
        import threading

        if self.cap is None:
            return

        def _poll():
            # ONE py4j fetch per tick (lastProgress), not the full
            # recentProgress history — re-parsing up to 100 retained
            # payloads every 50 ms would contend with batch planning
            # on the driver for the stream's lifetime
            while not self._stop.is_set():
                p = q.lastProgress
                if p is not None:
                    for so in p.get("stateOperators") or []:
                        total = int(so.get("numRowsTotal") or 0)
                        if total > self.cap:
                            self.tripped["v"] = (p.get("batchId"), total)
                            try:
                                q.stop()  # halt further batches
                            except Exception:
                                pass
                            return
                self._stop.wait(0.05)

        self._watcher = threading.Thread(target=_poll, daemon=True)
        self._watcher.start()

    def saw_violation(self, q) -> bool:
        """True iff any observer recorded an over-cap batch FOR THIS
        QUERY — the watcher's mid-run stop() races processAllAvailable
        and can surface as a query exception; callers swallow it only
        when this is True (genuine failures re-raise). The listener
        read goes through earliest(q.id), NOT the raw violations list:
        the listener bus delivers every session query's events, so an
        unfiltered check would let a DIFFERENT guarded query's
        violation swallow this query's real failure (r15 self-review
        #1)."""
        if self.cap is None:
            return False
        return (
            self.tripped.get("v")
            or self.listener.earliest(q.id)
            or first_state_bound_violation(q, self.cap)
        ) is not None

    def abandon(self) -> None:
        """Cleanup when the guarded query never started (start()
        raised): the listener registered in __init__ must not leak on
        spark.streams for the session lifetime — it would accumulate
        every later query's violations unbounded (r15 self-review
        #5). No terminated-event wait: there is no query."""
        self._stop.set()
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)
            self.listener = None
            self.cap = None  # every later guard call is a no-op

    def detach(self, q) -> None:
        """Stop the sampler and unhook the listener (call AFTER
        q.stop(): listener-bus delivery is asynchronous, so wait —
        bounded — for the terminated event to flush late payloads)."""
        self._stop.set()
        if self._watcher is not None:
            self._watcher.join()
        if self.listener is not None:
            self.listener.terminated.wait(10.0)
            self.spark.streams.removeListener(self.listener)

    def check(self, q) -> None:
        """Raise at the EARLIEST over-cap batch across all observers
        (min by batch id — the raise names the first violation, not
        merely the one the sampler caught)."""
        if self.cap is None:
            return
        hits = [
            v
            for v in (
                self.listener.earliest(q.id),
                first_state_bound_violation(q, self.cap),
                self.tripped.get("v"),
            )
            if v is not None
        ]
        if hits:
            _raise_state_bound(min(hits), self.cap, self.what, self.hint)


def run_stream_stateful(
    spark: SparkSession,
    path: str,
    *,
    query_name: str = "stream_stateful_out",
    max_state_rows: int | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drive the stateful per-user totals through Structured Streaming over
    the events parquet (single historical micro-batch → emitted updates are
    the final totals).

    `max_state_rows` is the loud-posture analog of the batch operators'
    mass tripwires (incremental_dedup max_candidates, fuzzy_pairs
    max_block_pairs — r13 verdict ask): a streaming state bound can't be
    estimated BEFORE launch the way a join mass can, so the guard checks
    `numRowsTotal` from each micro-batch's StreamingQueryProgress as it
    lands, STOPS the query at the first violation, and raises naming the
    batch and the measured state rows — a diagnosis at the first
    over-cap batch instead of a slow OOM gigabatches later."""
    stream = events_file_stream(
        spark, path, max_files_per_trigger=max_files_per_trigger
    )
    out = stateful_user_totals(stream)
    guard = StateBoundGuard(
        spark, max_state_rows,
        what="stateful_user_totals", hint=_STATEFUL_HINT,
    )
    try:
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(query_name)
            .start()
        )
    except BaseException:
        guard.abandon()
        raise
    guard.watch(q)
    try:
        try:
            q.processAllAvailable()
        except Exception:
            if not guard.saw_violation(q):
                raise
    finally:
        q.stop()
        guard.detach(q)
    guard.check(q)
    return spark.table(query_name)


def run_stream_stream_join(
    spark: SparkSession,
    path: str,
    *,
    left_type: str = "click",
    right_type: str = "purchase",
    horizon_seconds: int = 1800,
    watermark: str = "1 hour",
    query_name: str = "stream_stream_join_out",
    max_state_rows: int | None = None,
) -> DataFrame:
    """Watermarked stream-stream interval join: attribute each `right_type`
    event to every `left_type` event by the same user within
    `horizon_seconds` before it (the classic click→purchase attribution
    shape).

    Both sides are watermarked and the join condition carries an explicit
    event-time range, so the state store only retains left rows younger
    than watermark + horizon — bounded state, the 100 TB requirement for
    stream-stream joins (an unbounded-state join would OOM the state
    store). Inner join ⇒ matches emit as found; on a finite one-batch
    source the emitted pairs equal the batch interval join, which is what
    the DuckDB oracle checks.

    `max_state_rows` (r15, guard parity with run_stream_stateful —
    StateBoundGuard): the bounded-state claim above holds ONLY while
    the watermark is sized to real lateness — a missing or
    decade-wide watermark marches join state with stream LIFETIME
    (both buffered sides never evict; measured marching to the full
    delivered row count on the sf10 churn corpus, BASELINE.md
    round-15 "Stream-stream interval join at the sf10 decade"). The
    cap checks numRowsTotal per micro-batch through the same
    listener+sampler+scan triple and raises at the earliest over-cap
    batch naming the watermark as the escalation path.
    """
    # A stream-stream join keeps FOUR state stores per shuffle partition;
    # the store count (not data volume) dominates at local scale, so pin
    # the streaming partition count low for this query and restore after.
    # On a cluster, size spark.sql.shuffle.partitions to key cardinality
    # BEFORE the first run — it is frozen into the checkpoint.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")

    def _side(etype: str, prefix: str) -> DataFrame:
        return (
            events_file_stream(spark, path)
            .filter(F.col("event_type") == etype)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
                F.col("value").alias(f"{prefix}_value"),
            )
            .withWatermark(f"{prefix}_ts", watermark)
        )

    left = _side(left_type, "l")
    right = _side(right_type, "r")
    joined = left.join(
        right,
        F.expr(
            f"""l_user = r_user
                AND r_ts >= l_ts
                AND r_ts <= l_ts + INTERVAL {horizon_seconds} SECONDS"""
        ),
    ).select(
        F.col("l_user").alias("user_id"),
        F.col("l_id").alias("click_id"),
        F.col("r_id").alias("purchase_id"),
        (
            (F.unix_micros("r_ts") - F.unix_micros("l_ts")) / 1_000_000.0
        ).alias("lag_sec"),
        F.col("r_value").alias("purchase_value"),
    )
    guard = StateBoundGuard(
        spark, max_state_rows,
        what="run_stream_stream_join",
        hint=(
            "stream-stream join state holds every buffered row younger "
            "than watermark + the event-time range on BOTH sides; it is "
            "bounded only while the watermark is sized to real lateness "
            "(a missing or over-wide watermark grows state with stream "
            "lifetime — the sf10 interval probe measured the march). "
            f"Tighten `watermark` (currently {watermark!r}) / "
            f"`horizon_seconds` ({horizon_seconds}), or raise "
            "max_state_rows."
        ),
    )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        try:
            q = (
                joined.writeStream.outputMode("append")
                .format("memory")
                .queryName(query_name)
                .start()
            )
        except BaseException:
            guard.abandon()
            raise
        guard.watch(q)
        try:
            try:
                q.processAllAvailable()
            except Exception:
                if not guard.saw_violation(q):
                    raise
        finally:
            q.stop()
            guard.detach(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    guard.check(q)
    return spark.table(query_name)


def run_stream_dedup(
    spark: SparkSession,
    path: str,
    *,
    key_cols: list[str] | None = None,
    watermark: str = "1 hour",
    query_name: str = "stream_dedup_out",
) -> DataFrame:
    """At-least-once → exactly-once repair: the source is delivered TWICE
    (a union of two file streams over the same path — the redelivery shape
    of a replayed Kafka offset range or a retried batch), and
    `dropDuplicatesWithinWatermark` on the event key restores unique
    output.

    The watermark bounds the dedup state store: keys older than the
    watermark are evicted, so state is O(events per watermark horizon),
    not O(stream lifetime) — the difference between a dedup that survives
    at 100 TB/day and one that OOMs. Redeliveries arriving later than the
    watermark horizon would NOT be suppressed; size the horizon to the
    redelivery window (retry budget), not to taste."""
    stream = events_file_stream(spark, path)
    redelivered = stream.unionByName(events_file_stream(spark, path))
    deduped = (
        redelivered.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(key_cols or ["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def staged_key_slices(
    spark: SparkSession,
    events_path: str,
    *,
    key_col: str = "user_id",
    n_slices: int = 3,
) -> str:
    """Shared, write-once staging of the events key column into
    `n_slices` disjoint parquet slice files for multi-batch streaming
    runs (VERDICT r10 ask #6: the r10 version re-staged into a fresh
    mkdtemp on EVERY query invocation via three serial coalesce(1)
    passes — at sf1 that staging dominated the streaming sweep rows).

    - Keyed by (source fingerprint, key_col, n_slices) through
      `caching.build_once`, so repeat invocations and the whole
      streaming family reuse one staging per source GENERATION, and a
      regenerated scratch corpus can never serve stale slices.
    - Built in ONE pass: slice id = pmod(event_id, n) is a column, the
      write is `repartition(n, slice).partitionBy(slice)` — parallel
      writers, no per-slice serial coalesce(1) jobs.

    Returns the stage dir containing flat `slice{i}_{j}.parquet` files
    (disjoint by construction; ≥1 file per slice)."""
    import re

    from core_telecoms_etl_spark.caching import build_once, path_fingerprint
    from core_telecoms_etl_spark.sources.readers import ensure_session_confs

    ensure_session_confs(spark, nanos_as_long=True)
    fp = path_fingerprint(events_path)
    tag = re.sub(r"\W+", "_", key_col)

    def _build(stage: str) -> None:
        _stage_explicit_slices(
            spark, events_path, stage, key_col=key_col, n_slices=n_slices
        )

    return build_once(f"ctes_slices_{tag}_{n_slices}_{fp}", _build)


def _stage_explicit_slices(
    spark: SparkSession,
    events_path: str,
    stage_dir: str,
    *,
    key_col: str,
    n_slices: int,
) -> None:
    """One-pass slice staging into a caller-owned dir (no sharing) —
    for tests that need an isolated stage; same layout as
    `staged_key_slices`."""
    import glob
    import os
    import shutil

    part_root = f"{stage_dir}__parts"
    (
        spark.read.parquet(events_path)
        .select(key_col, "event_id")
        .withColumn("__slice", F.pmod("event_id", F.lit(n_slices)))
        .repartition(n_slices, "__slice")
        .write.partitionBy("__slice")
        .mode("overwrite")
        .parquet(part_root)
    )
    os.makedirs(stage_dir, exist_ok=True)
    for i in range(n_slices):
        for j, f in enumerate(
            sorted(glob.glob(f"{part_root}/__slice={i}/part-*.parquet"))
        ):
            shutil.move(f, f"{stage_dir}/slice{i}_{j}.parquet")
    shutil.rmtree(part_root)


def run_stream_cms(
    spark: SparkSession,
    events_path: str,
    *,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 1024,
    n_slices: int = 3,
) -> DataFrame:
    """Heavy-hitter counting over a stream with FIXED-SIZE state: each
    micro-batch builds a count-min counter table
    (`operators/sketches.cms_build`) and `cms_merge` folds it into the
    accumulated state — the counter matrix (depth×width rows) is the
    ONLY thing that persists between batches, no per-key state store,
    so the key space can be unbounded (the property
    `dropDuplicates`-style state cannot offer).

    The events table is staged into `n_slices` disjoint files (pure
    file moves of Spark-written parts — no driver data path) so
    maxFilesPerTrigger=1 genuinely exercises the multi-batch merge;
    staging is SHARED and write-once per source generation
    (`staged_key_slices`).
    The accumulated counter table is localized per batch via collect —
    small-by-construction (≤ depth·width rows), the same class as the
    DQ summaries; on a cluster the same loop writes it to a parquet
    target instead. Returns the final counter table."""
    from core_telecoms_etl_spark.operators import sketches as sk
    from core_telecoms_etl_spark.sources.readers import ensure_session_confs

    ensure_session_confs(spark, nanos_as_long=True)
    stage_dir = staged_key_slices(
        spark, events_path, key_col=key_col, n_slices=n_slices
    )

    state: dict[str, DataFrame | None] = {"counters": None}

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        c = sk.cms_build(batch, key_col, depth=depth, width=width)
        if state["counters"] is not None:
            c = sk.cms_merge(state["counters"], c)
        s = batch.sparkSession
        state["counters"] = s.createDataFrame(c.collect(), c.schema)

    stream = (
        spark.readStream.schema(f"{key_col} long")
        .option("maxFilesPerTrigger", "1")
        .parquet(stage_dir)
    )
    q = (
        stream.writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    if state["counters"] is None:
        # zero micro-batches fired (an empty ingest day stages empty
        # slices — foreachBatch never runs): the CMS of nothing is the
        # all-zero counter matrix, which by the sketch's sparse
        # convention is the EMPTY counter table, not a crash (r14
        # empty-facts differential; the prior assert raised here)
        return spark.createDataFrame(
            [], "seed int, bucket bigint, count bigint"
        )
    return state["counters"]
