"""Structured Streaming surface of the rollup engine.

The reference is batch-only; its closest streaming concepts are incremental
batch generation (``experiments/timeseries_batch_generator.py:49-68``) and
run-boundary detection (``:125-141``). This module re-expresses the engine's
two core motions for unbounded input (SURVEY §2.11):

* ``stream_rollup_sequences`` — continuous ingestion of new sequence files
  (each row one complete doc, so base-tier rollup is a STATELESS streaming
  map): ``readStream`` → the same ``mapInArrow`` kernels as batch → an
  exactly-once parquet sink. Spark's own streaming checkpoint gives the
  resume-from-kill property (the streaming twin of ``tsrollup.checkpoint``).
  Because every doc is self-contained there is no watermark and no state
  store — at 100 TB/day this runs embarrassingly parallel, bounded only by
  source listing.

* ``stream_minute_rollup`` — event-time tier maintenance for the events
  stream: watermarked tumbling windows (``window(ts, '1 minute')``) with
  decomposable partials (count/sum/min/max), the streaming analog of the 1m
  retention tier. Late rows beyond the watermark are dropped — the engine's
  explicit replacement for the reference's ``filter_indices`` exclusion zone
  around discontinuities.

Both run with ``Trigger.AvailableNow`` in tests (process-everything-then-stop)
and unmodified with a continuous trigger in production.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BooleanType, IntegerType,
                               StringType, StructField, StructType)

from . import BASE_WINDOW, TIER_FACTOR
from .rollup import rollup_sequences

SEQUENCES_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("tokens", ArrayType(IntegerType())),
    StructField("n_tok", IntegerType()),
    StructField("source", StringType()),
    StructField("gap_mask", ArrayType(BooleanType())),
])


def read_sequences_stream(spark: SparkSession, src_dir: str,
                          max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a directory of sequence parquet files (the
    sandbox stand-in for an Iceberg streaming scan; one reader module isolates
    the format boundary, SURVEY §7.1)."""
    r = spark.readStream.schema(SEQUENCES_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return r.parquet(src_dir)


def stream_rollup_sequences(spark: SparkSession, src_dir: str, sink_dir: str,
                            checkpoint_dir: str,
                            window: int = BASE_WINDOW,
                            tiers: dict[str, int] = TIER_FACTOR,
                            available_now: bool = True):
    """Continuously roll up newly-arrived sequence files into the tier store.

    Exactly-once: the parquet sink + streaming checkpoint commit file offsets
    atomically, so a killed-and-restarted query never double-rolls a file —
    the streaming twin of checkpoint.run_checkpointed's bucket lineage.
    Returns the started StreamingQuery (caller awaits termination).
    """
    stream = read_sequences_stream(spark, src_dir)
    rolled = rollup_sequences(stream, window=window, tiers=tiers)
    w = (rolled.writeStream
         .format("parquet")
         .option("path", sink_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append"))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


ROLLING_STATE_SCHEMA = "buf array<double>"
ROLLING_OUT_SCHEMA = "user_id long, event_id long, rmean double, n_in_window int"


def stream_stateful_rolling(events: DataFrame, window_n: int = 4,
                            timeout: str = "NoTimeout",
                            max_rows_per_trigger_key: int = 2_000_000,
                            timeout_duration_ms: int = 300_000):
    """Custom stateful streaming operator: per-key rolling mean over the last
    ``window_n`` values, state = a ring buffer of the most recent values kept
    in the state store across triggers AND restarts (the north-star
    "per-partition sorted ring buffer", as an applyInPandasWithState op —
    SURVEY §2.11: stateful op ≙ ring-buffer rollup state).

    Within each trigger ALL of the group's chunks are materialized and sorted
    ONCE by (ts, event_id) before the fold — applyInPandasWithState may split
    a large group across multiple Arrow chunks with no ordering guarantee
    after the shuffle, so a per-chunk sort would fold rows out of ts order.
    The rolling means are computed VECTORIZED (one cumsum-difference pass over
    state++batch) — no per-row Python. With in-order arrival the output
    matches the batch window aggregate ``avg(value) OVER (PARTITION BY user
    ORDER BY ts ROWS window_n-1 PRECEDING)`` within 1e-12 (tested; the
    cumsum-difference uses a different float summation order than the batch
    fold, so bit equality is NOT the contract).

    Peak memory is O(one trigger's backlog for the hottest key): the
    cross-chunk sort needs the whole group in one frame (chunks carry no
    ordering guarantee, so an incremental per-chunk fold would fold rows out
    of ts order — the bug this design fixed). The OPERATIONAL bound is the
    trigger size: pair this operator with ``maxFilesPerTrigger`` /
    ``maxBytesPerTrigger`` on the source (as ``read_sequences_stream``
    exposes) so a cold start replaying a deep backlog arrives in bounded
    slices. That pairing is now ENFORCED in-operator:
    ``max_rows_per_trigger_key`` caps the rows one key may deliver in one
    trigger — the cap rejects the trigger with a contract error naming the
    source-config fix BEFORE materializing past the limit (defense in depth
    against an unpaired source OOMing a Python worker on a cold start), at
    the default well above any sanely-configured trigger's hot key.

    State EVICTION: with ``timeout="ProcessingTimeTimeout"`` each data
    delivery re-arms a ``timeout_duration_ms`` timer on the key, and a
    timed-out invocation REMOVES the ring buffer — per-key state is bounded
    by the set of keys active within the window, not total key cardinality.
    A key that re-appears after eviction simply starts a fresh window (same
    semantics as its first-ever arrival). ``NoTimeout`` retains state for
    the life of the query (correct when the key universe is bounded, e.g.
    devices). EventTimeTimeout is rejected: the ring-buffer fold is
    processing-order, so a watermark-anchored timer has no meaningful
    semantics here. Operational note: pair ProcessingTimeTimeout with a
    continuous trigger — Spark keeps a Trigger.AvailableNow query alive
    indefinitely ("no new data but cleaning up state") once processing-time
    timers exist, so one-shot drains should use NoTimeout.
    """
    import numpy as np
    from pyspark.sql.streaming.state import GroupState

    if max_rows_per_trigger_key <= 0:
        raise ValueError("max_rows_per_trigger_key must be positive")
    if timeout not in ("NoTimeout", "ProcessingTimeTimeout"):
        raise ValueError(
            "stream_stateful_rolling supports timeout='NoTimeout' or "
            f"'ProcessingTimeTimeout', got {timeout!r}")
    if timeout != "NoTimeout" and timeout_duration_ms <= 0:
        raise ValueError("timeout_duration_ms must be positive")

    def update(key: tuple, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # eviction contract: a timed-out invocation delivers no data;
            # drop the ring buffer so idle keys don't accumulate forever
            state.remove()
            return
        (buf,) = state.get if state.exists else ([],)
        prev = np.asarray(buf, dtype=np.float64)
        # drain chunks under the cap: reject BEFORE accumulating past it, so
        # peak memory is bounded by the cap + one Arrow chunk even when the
        # source delivers an unbounded backlog in a single trigger
        chunks: list[pd.DataFrame] = []
        total = 0
        for ch in pdfs:
            total += len(ch)
            if total > max_rows_per_trigger_key:
                raise ValueError(
                    f"stream_stateful_rolling: key {key} received more than "
                    f"max_rows_per_trigger_key={max_rows_per_trigger_key} "
                    "rows in one trigger. Bound the trigger with "
                    "maxFilesPerTrigger/maxBytesPerTrigger on the source "
                    "(or raise the cap if this volume is intended).")
            chunks.append(ch)
        if not chunks:
            # defensive: a no-data, not-timed-out invocation (shouldn't
            # happen per the applyInPandasWithState contract) keeps the
            # buffer and re-arms the timer like a data delivery would
            state.update((prev.tolist(),))
            if timeout == "ProcessingTimeTimeout":
                state.setTimeoutDuration(timeout_duration_ms)
            return
        pdf = pd.concat(chunks, ignore_index=True) \
            .sort_values(["ts", "event_id"])
        if len(pdf):
            vals = pdf["value"].to_numpy(np.float64)
            full = np.concatenate([prev, vals])
            # rolling mean over trailing ≤window_n values, one vector op:
            # cumsum difference with a clamped left edge
            cs = np.concatenate([[0.0], np.cumsum(full)])
            idx = np.arange(prev.shape[0], full.shape[0])
            lo = np.maximum(idx - window_n + 1, 0)
            n = (idx - lo + 1).astype(np.int64)
            rmean = (cs[idx + 1] - cs[lo]) / n
            yield pd.DataFrame({
                "user_id": pdf["user_id"].to_numpy(np.int64),
                "event_id": pdf["event_id"].to_numpy(np.int64),
                "rmean": rmean,
                "n_in_window": n.astype(np.int32),
            })
            prev = full[-(window_n - 1):] if window_n > 1 \
                else np.empty(0, np.float64)
        state.update((prev.tolist(),))
        if timeout == "ProcessingTimeTimeout":
            # re-arm on every delivery: the key is evicted only after
            # timeout_duration_ms of silence
            state.setTimeoutDuration(timeout_duration_ms)

    return (events
            .groupBy("user_id")
            # pandas: PySpark 4.1 has no Arrow form of the stateful group API
            .applyInPandasWithState(update, ROLLING_OUT_SCHEMA,
                                    ROLLING_STATE_SCHEMA, "append", timeout))


def stream_minute_rollup(events: DataFrame, watermark: str = "10 minutes",
                         tier: str = "1 minute") -> DataFrame:
    """Watermarked tumbling-window partial aggregates over an event stream —
    the streaming 1m tier. Partials are decomposable (count/sum/min/max), so
    stored stream output re-aggregates to coarser tiers with the SAME batch
    maintenance path (rollup.reaggregate_tier semantics).
    """
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", tier).alias("w"), "user_id")
            .agg(F.count("*").cast("long").alias("count"),
                 # decimal(28,10): order-independent exact sums without the
                 # 2dp quantization a (18,2) cast would silently impose on
                 # finer-grained value streams
                 F.sum(F.col("value").cast("decimal(28,10)"))
                  .cast("double").alias("sum"),
                 F.min("value").alias("min"),
                 F.max("value").alias("max"))
            .select("user_id",
                    F.col("w.start").alias("window_start"),
                    "count", "sum", "min", "max"))


def stream_ohlc(events: DataFrame, watermark: str = "10 minutes",
                tier: str = "1 hour", label_col: str = "event_type",
                ts_col: str = "ts", id_col: str = "event_id",
                value_col: str = "value") -> DataFrame:
    """Watermarked streaming candlesticks — the live twin of
    ``states.ohlc``: per label × tumbling window, open/close via the same
    lexicographic (ts, id, cents) struct extremes (struct MIN/MAX are
    decomposable, so they fold incrementally in streaming state exactly
    like count/sum), high/low/volume in int64 cents. Batch and stream
    share this one expression set: ``withWatermark`` is a no-op on a
    batch frame, so the same function IS the batch oracle
    (test_streaming pins stream == batch == states.ohlc). The aggregate
    expressions are IMPORTED from ``states`` (ohlc_aggs/ohlc_finish) —
    the parity with the batch panel is structural, not merely
    test-enforced. Alignment caveat: hourly-window ≡ date_trunc('hour')
    holds on the engine's naive/UTC session standard; a fractional-offset
    local timezone puts date_trunc boundaries on :30 while tumbling
    windows stay epoch-aligned (lag_coupling DST note).

    Output mirrors ``states.ohlc`` with ``window_start`` as the bucket.
    """
    from tsrollup.states import ohlc_aggs, ohlc_finish

    # watermarks reject TIMESTAMP_NTZ (the parquet fixtures' type) — cast
    # up-front so the operator accepts either flavor
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (events
            .filter(F.col(value_col).isNotNull())
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, tier).alias("w"),
                     F.col(label_col))
            .agg(*ohlc_aggs(ts_col, id_col, value_col))
            .select(label_col, F.col("w.start").alias("window_start"), "n",
                    *ohlc_finish()))


def reaggregate_time_tier(points: DataFrame,
                          tier: str = "hour") -> DataFrame:
    """Batch maintenance over the STREAMED minute tier: re-aggregate the
    stored 1m partials to a coarser time tier (count/sum/min/max are
    decomposable, so hour points derive from the minute sink without any
    re-read of the raw event stream — the streaming twin of
    rollup.reaggregate_tier, tested equal to aggregating the raw events
    directly). ``tier`` is any date_trunc unit coarser than a minute."""
    return (points
            .groupBy("user_id",
                     F.date_trunc(tier, F.col("window_start"))
                     .alias("window_start"))
            .agg(F.sum("count").cast("long").alias("count"),
                 F.sum(F.col("sum").cast("decimal(28,10)")).cast("double")
                  .alias("sum"),
                 F.min("min").alias("min"),
                 F.max("max").alias("max")))


CUSUM_STATE_SCHEMA = "p long, mn long, mx long"
CUSUM_OUT_SCHEMA = ("user_id long, event_type string, event_id long, "
                    "ts timestamp, cusum_hi double, cusum_lo double, "
                    "alarm int")


def stream_dedup(events: DataFrame, keys: tuple[str, ...] = ("event_id",),
                 ts_col: str = "ts",
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exactly-once event dedup for at-least-once sources
    (Kafka redeliveries, file-source replays): keep the FIRST arrival of
    each key, drop redeliveries — the ingestion front door every
    exactly-once downstream (stream_rollup's sink, the minute tier)
    assumes.

    Built on ``dropDuplicatesWithinWatermark``, chosen over plain
    ``dropDuplicates`` deliberately: the classic operator keeps one state
    row per key FOREVER (unbounded state on an unbounded key stream — the
    same class of leak the stateful-rolling operator guards against),
    while the within-watermark variant EVICTS a key's row once the
    event-time watermark passes its first arrival. State is bounded by
    the watermark horizon × arrival rate, independent of stream lifetime.

    The documented contract that buys the bound: duplicates are removed
    when they arrive within the watermark delay of the first occurrence —
    exactly the at-least-once redelivery window, which is short (retries,
    task replays). A replay arriving LATER than the horizon re-emits; set
    ``watermark`` to the source's maximum redelivery lag.

    Works on a batch frame too (plain ``dropDuplicates`` — the horizon is
    irrelevant when the whole input is visible), so batch/stream parity
    is directly testable on the same data. Parity caveat: when
    redeliveries are byte-identical to the original (the at-least-once
    contract this operator targets), WHICH duplicate survives is
    immaterial and batch == stream; if a "redelivery" carries a DIFFERENT
    payload under the same key, the stream keeps the first ARRIVAL while
    batch keeps an arbitrary row — that is payload mutation, not
    redelivery, and needs a versioned upsert, not a dedup.
    """
    if not events.isStreaming:
        return events.dropDuplicates(list(keys))
    return (events.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(list(keys)))


def stream_sessionize(events: DataFrame, gap_minutes: int = 30,
                      user_col: str = "user_id", ts_col: str = "ts",
                      value_col: str = "value",
                      watermark: str = "1 hour") -> DataFrame:
    """Session AGGREGATION on Spark's native ``session_window`` — the
    streaming face of :func:`tsrollup.segments.sessionize`: one summary
    row per (user, session), where a session extends while events keep
    arriving within ``gap_minutes`` of the previous one. On a stream the
    engine merges/extends sessions in the state store and emits each one
    (append mode) once the event-time watermark passes its close — i.e.
    after ``gap_minutes + watermark delay`` of event-time silence; state
    is bounded by OPEN sessions × keys, not stream lifetime, and because
    the operator is a plain groupBy on ``F.session_window`` Catalyst
    picks the native streaming session-aggregation plan (state-store
    format upgrade-compatible, unlike hand-rolled
    applyInPandasWithState state). On a batch frame the identical
    expression runs as a plain aggregation, so batch/stream parity is
    directly testable on the same input.

    Boundary semantics (pinned by test): an event at exactly
    last_event + gap still MERGES into the session — "new session when
    delta > gap", the SAME strictly-greater rule as the batch gap-rule
    operator, so the two agree row-for-row and the driver query's DuckDB
    oracle (which recomputes sessions independently via lag+cumsum)
    hash-matches bit-for-bit.

    Output (the q_sessionize aggregate shape): user, start_ts, end_ts
    (first/last event — NOT window end, which pads +gap), n_events,
    duration_us (exact integer µs), sum_value (decimal-exact sum, one
    double conversion). NULL values are no observations for the sum but
    still count in n_events.
    """
    if gap_minutes < 1:
        raise ValueError("need gap_minutes >= 1")
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return (df.groupBy(F.session_window(
                           F.col(ts_col),
                           f"{int(gap_minutes)} minutes").alias("_sw"),
                       F.col(user_col))
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.min(ts_col).alias("start_ts"),
                 F.max(ts_col).alias("end_ts"),
                 (F.max(us) - F.min(us)).cast("long").alias("duration_us"),
                 F.sum(F.col(value_col).cast("decimal(18,2)"))
                 .cast("double").alias("sum_value"))
            .select(user_col, "start_ts", "end_ts", "n_events",
                    "duration_us", "sum_value"))


def stream_interval_join(left: DataFrame, right: DataFrame,
                         key: str = "user_id", ts_col: str = "ts",
                         max_delay_minutes: int = 15,
                         watermark: str = "1 hour",
                         suffix: str = "_r") -> DataFrame:
    """Stream-stream INNER interval join: pair each left event with every
    same-key right event whose timestamp lies in
    ``[left_ts − max_delay, left_ts]`` (inclusive both ends, exact
    microsecond comparisons — pinned by test). The streaming attribution
    primitive (click ⋈ preceding views, alert ⋈ recent deploys) that a
    batch range join answers after the fact.

    State contract: BOTH sides carry event-time watermarks and the join
    predicate bounds their timestamp difference, so Spark derives a state
    watermark per side and EVICTS buffered rows once no future match is
    possible — state is bounded by max_delay × arrival rate per side,
    not stream lifetime. Inner-join matches emit immediately (no
    watermark hold); the watermark only gates eviction and late-data
    drop. The time predicate deliberately stays on the raw timestamp
    columns — rewriting it through unix_micros would hide the range from
    the state-watermark analyzer and buffer both sides forever.

    On batch frames the same expression is a plain inequality join, so
    batch/stream parity is testable on identical input. Right-side
    columns are suffixed with ``suffix`` (both sides often come from the
    same table, e.g. views ⋈ clicks of one event stream)."""
    if max_delay_minutes < 1:
        raise ValueError("need max_delay_minutes >= 1")
    lf = left.withWatermark(ts_col, watermark) if left.isStreaming else left
    rt = (right.withWatermark(ts_col, watermark)
          if right.isStreaming else right)
    rt = rt.select([F.col(c).alias(c + suffix) for c in rt.columns])
    ts_l, ts_r = F.col(ts_col), F.col(ts_col + suffix)
    cond = ((F.col(key) == F.col(key + suffix))
            & (ts_r <= ts_l)
            & (ts_r >= ts_l - F.expr(
                f"INTERVAL {int(max_delay_minutes)} MINUTES")))
    return lf.join(rt, cond, "inner")


def stream_cusum(events: DataFrame, target: float = 50.0,
                 threshold: float = 200.0,
                 timeout: str = "NoTimeout",
                 timeout_duration_ms: int = 300_000):
    """Streaming two-sided CUSUM drift scores — the ONLINE twin of
    ``counters.cusum_drift``, emitting the identical per-sample scores as
    samples arrive. The closed form (S⁺ = P − min(0, min P), S⁻ =
    max(0, max P) − P) needs only the running prefix sum and its running
    extrema, so per-key state is THREE int64s — O(1), no ring buffer, no
    replay — carried across triggers and restarts by
    ``applyInPandasWithState``.

    Bit-equality with the batch operator (tested): arithmetic rides exact
    integer cents (``rint(value·100)`` is exact for two-decimal doubles —
    the true cents value is never at a rounding boundary), and each score
    is one exact-int64→double conversion divided by 100 — the same
    correctly-rounded rational the batch path's decimal→double cast
    produces. In-order per-key arrival is the operator's contract (any
    online CUSUM's); within a trigger the group's chunks are concatenated
    and sorted once by (ts, event_id) — the stream_stateful_rolling
    cross-chunk-ordering rule.

    Eviction mirrors stream_stateful_rolling: ``ProcessingTimeTimeout``
    re-arms per delivery and a timed-out invocation removes the key's
    three-int state; ``NoTimeout`` retains it (three int64s per key —
    eviction is about key-universe hygiene, not memory pressure).
    EventTimeTimeout is rejected (processing-order fold).
    """
    import numpy as np
    from pyspark.sql.streaming.state import GroupState

    if timeout not in ("NoTimeout", "ProcessingTimeTimeout"):
        raise ValueError(
            "stream_cusum supports timeout='NoTimeout' or "
            f"'ProcessingTimeTimeout', got {timeout!r}")
    if timeout != "NoTimeout" and timeout_duration_ms <= 0:
        raise ValueError("timeout_duration_ms must be positive")
    target_cents = int(round(float(target) * 100))
    thr = float(threshold)

    def update(key: tuple, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        p0, mn0, mx0 = state.get if state.exists else (0, 0, 0)
        chunks = [ch for ch in pdfs]
        if not chunks:
            state.update((p0, mn0, mx0))
            if timeout == "ProcessingTimeTimeout":
                state.setTimeoutDuration(timeout_duration_ms)
            return
        pdf = pd.concat(chunks, ignore_index=True) \
            .sort_values(["ts", "event_id"])
        # a NULL sample is no observation (the batch operator filters them
        # identically) — rint(NaN).astype(int64) would otherwise write
        # INT64_MIN into the persisted state and poison the key forever
        # (review finding)
        pdf = pdf[pdf["value"].notna()]
        if not len(pdf):
            state.update((p0, mn0, mx0))
            if timeout == "ProcessingTimeTimeout":
                state.setTimeoutDuration(timeout_duration_ms)
            return
        v = pdf["value"].to_numpy(np.float64)
        d = (np.rint(v * 100) - target_cents).astype(np.int64)
        cs = np.cumsum(d) + p0
        mn = np.minimum(np.minimum.accumulate(cs), mn0)
        mx = np.maximum(np.maximum.accumulate(cs), mx0)
        hi = (cs - mn).astype(np.float64) / 100.0
        lo = (mx - cs).astype(np.float64) / 100.0
        yield pd.DataFrame({
            # hand columns through with nullable dtypes intact: forcing
            # to_numpy(int64)/astype(str) crashes on a NULL user_id and
            # turns a NULL event_type into the literal "None"
            "user_id": pdf["user_id"].astype("Int64"),
            "event_type": pdf["event_type"],
            "event_id": pdf["event_id"].astype("Int64"),
            "ts": pdf["ts"].to_numpy(),
            "cusum_hi": hi,
            "cusum_lo": lo,
            "alarm": ((hi > thr) | (lo > thr)).astype(np.int32),
        })
        state.update((int(cs[-1]), int(mn[-1]), int(mx[-1])))
        if timeout == "ProcessingTimeTimeout":
            state.setTimeoutDuration(timeout_duration_ms)

    return (events
            .groupBy("user_id", "event_type")
            # pandas: PySpark 4.1 has no Arrow form of the stateful group API
            .applyInPandasWithState(update, CUSUM_OUT_SCHEMA,
                                    CUSUM_STATE_SCHEMA, "append", timeout))


def stream_actives(events: DataFrame, bucket_seconds: int = 3600,
                   user_col: str = "user_id", ts_col: str = "ts",
                   watermark: str = "2 hours") -> DataFrame:
    """Per-bucket distinct actives — the LIVE DAU/hourly-actives panel
    (the streaming face of the census :func:`tsrollup.counters.
    rolling_actives` serves in batch; the rolling window stays a batch/
    read-side concern because its ×W bucket lookahead would drag the
    event-time watermark forward — this op is the exact per-bucket
    distinct count a dashboard refreshes from).

    Two chained stateful operators, the SPARK-42376-supported combo:
    first-arrival dedup of (user, bucket) via
    ``dropDuplicatesWithinWatermark``, then a watermarked tumbling count
    of the survivors (append mode: each bucket's census emits once,
    final). The dedup KEY is a plain derived bucket timestamp (exact
    integer-µs floor), NOT the event-time column itself: a tagged
    event-time column inside the dedup key leaves the operator's state
    empty at every batch end (observed: cross-batch duplicates all
    survive), and two tagged columns in one stream are rejected
    outright — so the raw ``ts`` stays the stream's single event-time
    column and the key stays untagged. Dedup state expires once the
    watermark passes a key's FIRST arrival: ``watermark`` must cover
    the bucket width plus the source's maximum disorder, or a late
    (user, bucket) re-arrival after eviction double-counts (the
    documented dropDuplicatesWithinWatermark contract).

    On a batch frame the same expression degrades to
    dropDuplicates → groupBy — COUNT(DISTINCT user) per bucket exactly,
    so stream == batch parity is testable on the same files.

    Guard set matches the batch census twins (rolling_actives,
    retention_cohorts): NULL users are dropped (COUNT(DISTINCT) ignores
    NULL) and pre-epoch rows are dropped — ``div`` truncates toward zero
    while F.window floors, so a negative-µs event would collide dedup
    bucket −1 with bucket 0 and undercount.

    Output: bucket_ts (timestamp, bucket start), active_users (long).
    """
    if bucket_seconds < 1:
        raise ValueError("need bucket_seconds >= 1")
    w_us = int(bucket_seconds) * 1_000_000
    df = (events
          .select(F.col(user_col).alias("_u"),
                  F.col(ts_col).alias("_ts"),
                  F.expr(f"unix_micros(cast({ts_col} as timestamp))")
                  .alias("_us"))
          .filter(F.col("_u").isNotNull() & (F.col("_us") >= 0))
          .select("_u", "_ts",
                  F.timestamp_micros(F.expr(f"_us div {w_us}")
                                     * F.lit(w_us)).alias("_b")))
    df = stream_dedup(df, keys=("_u", "_b"), ts_col="_ts",
                      watermark=watermark)
    return (df.groupBy(F.window("_ts", f"{int(bucket_seconds)} seconds")
                       .alias("_w"))
            .agg(F.count("*").cast("long").alias("active_users"))
            .select(F.col("_w.start").alias("bucket_ts"), "active_users"))


def stream_hll_actives(events: DataFrame, bucket_seconds: int = 3600,
                       key_col: str = "user_id", ts_col: str = "ts",
                       p: int = 8, watermark: str = "2 hours") -> DataFrame:
    """Per-bucket HLL register maintenance on a stream — the
    BOUNDED-STATE twin of :func:`stream_actives`.

    The exact-distinct panel's dedup state grows with the number of
    distinct (user, bucket) pairs inside the watermark — fine for DAU,
    fatal when the key is a token n-gram or URL at 100 TB/day. HLL
    register max is decomposable (merge = element-wise max, the
    `tsrollup.sketches` tier-rollup identity), so the SAME sketch the
    batch tiers store runs as a plain watermarked streaming aggregation:
    state is exactly m = 2^p register rows per open bucket REGARDLESS of
    key cardinality, and each bucket's final register table emits once
    (append mode) when the watermark passes.

    Register parity with batch is by construction, not by twin
    maintenance: the (idx, rho) derivation is the shared
    :func:`tsrollup.sketches.hll_idx_rho` over the same 60-bit md5
    hash, and ``F.window`` bucketing equals the batch ``date_trunc``
    floor on epoch-aligned widths. Downstream, the streamed register
    table feeds the same ``hll_estimate`` / ``hll_merge`` read path as a
    stored batch sketch — a dashboard reads ONE code path whether the
    registers arrived from the stream or a backfill.

    NULL keys drop (COUNT(DISTINCT) parity, the batch guard). On a
    batch frame the expression degrades to groupBy(bucket, idx).max —
    bit-equal to ``hll_registers`` over the same bucketing, which is what
    the parity test pins.

    Output: bucket_ts (timestamp, bucket start), idx (long), r (int).
    """
    from .dedup import _h60
    from .sketches import hll_idx_rho

    if bucket_seconds < 1:
        raise ValueError("need bucket_seconds >= 1")
    idx, rho = hll_idx_rho(p)
    staged = (events
              .select(F.col(ts_col).alias("_ts"),
                      _h60(F.col(key_col).cast("string")).alias("_h"))
              .filter(F.col("_h").isNotNull())
              .withWatermark("_ts", watermark)
              .select("_ts", idx, rho))
    return (staged
            .groupBy(F.window("_ts", f"{int(bucket_seconds)} seconds")
                     .alias("_w"), "idx")
            .agg(F.max("_rho").alias("r"))
            .select(F.col("_w.start").alias("bucket_ts"), "idx", "r"))
