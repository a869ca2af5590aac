"""Structured Streaming surface of the rollup engine.

The reference is batch-only; its closest streaming concepts are incremental
batch generation (``experiments/timeseries_batch_generator.py:49-68``) and
run-boundary detection (``:125-141``). This module re-expresses the engine's
core motion for unbounded input (SURVEY §2.11):

* ``stream_rollup_sequences`` — continuous ingestion of new sequence files
  (each row one complete doc, so base-tier rollup is a STATELESS streaming
  map): ``readStream`` → the same ``mapInArrow`` kernels as batch → an
  exactly-once parquet sink. Spark's own streaming checkpoint gives the
  resume-from-kill property (the streaming twin of ``tsrollup.checkpoint``).
  Because every doc is self-contained there is no watermark and no state
  store — at 100 TB/day this runs embarrassingly parallel, bounded only by
  source listing.

Two event-stream aggregations sit beside it, each a plain watermarked
groupBy that runs as a batch aggregation on a batch frame:
``stream_sessionize`` (``session_window`` sessions) and
``stream_hll_actives`` (per-bucket HLL registers).

All run with ``Trigger.AvailableNow`` in tests (process-everything-then-stop)
and unmodified with a continuous trigger in production.
"""

from __future__ import annotations

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
    format upgrade-compatible, unlike hand-rolled Python-worker state).
    On a batch frame the identical expression runs as a plain
    aggregation, so batch/stream parity is directly testable on the same
    input.

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


def stream_hll_actives(events: DataFrame, bucket_seconds: int = 3600,
                       key_col: str = "user_id", ts_col: str = "ts",
                       p: int = 8, watermark: str = "2 hours") -> DataFrame:
    """Per-bucket HLL register maintenance on a stream, with state
    bounded by the sketch size.

    An exact-distinct panel's dedup state grows with the number of
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
