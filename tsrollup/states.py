"""State-machine and liveness aggregates over an event stream — the
continuous-aggregate vocabulary a monitoring read path serves next to
counters.py's rate/last/quantile panels (reference analog: the run-length /
annotation-interval handling feeding the reference's segmenters,
TSFEDL/data.py:50-57, where consecutive-label runs become typed intervals).

All operators are integer-exact (µs epochs, int64 cents) so a SQL engine
reproduces every output bit:

- ``ohlc`` — candlestick (open/high/low/close/volume) per series × time
  bucket, open/close via lexicographic struct extremes over (ts, id,
  payload) — the same mergeable tie-break contract as counters.last_point,
  never a per-bucket sort.
- ``state_agg`` — time-in-state under LOCF semantics: each sample's state
  holds until the series' next sample; per (series, state) the total held
  duration, entry count (transitions into the state), and share of the
  series' observed time.
- ``heartbeat_agg`` — liveness from heartbeat presence: per series, the
  observed span, time covered by a heartbeat window (gap capped at the
  interval), dead time, outage count, and the longest silence.

Shuffle discipline: ``ohlc`` is one straight groupBy exchange.
``state_agg`` / ``heartbeat_agg`` window on the series key and then group
by (series[, state]) — hash-partitioning on the series key already
clusters every later grouping, so each pays ONE exchange and the final
share-of-series window reuses it. At 100 TB series are the parallelism
unit (millions of users/metrics) and nothing here widens beyond a series.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ohlc(events: DataFrame,
         series_cols: Sequence[str] = ("event_type",),
         ts_col: str = "ts", id_col: str = "event_id",
         value_col: str = "value", bucket: str = "hour") -> DataFrame:
    """Candlestick aggregation: per series × ``date_trunc(bucket)``, the
    opening/closing value (earliest/latest sample by (ts, id) — the
    lexicographic struct-extreme tie-break, mergeable map-side like any
    MIN/MAX), the high/low, the volume (sum of int64 cents), and the
    sample count.

    NULL values are no observations (engine-wide policy). open/high/low/
    close are exact: int64 cents divided by 100.0 once at the end — both
    engines perform the identical int→double division. Bucket alignment
    follows the engine's naive/UTC session standard (the lag_coupling DST
    note): in a fractional-offset local timezone, ``date_trunc`` hours sit
    on :30 boundaries while epoch-aligned tumbling windows don't.

    Output: series_cols…, bucket_ts, n (long), open_value, high_value,
    low_value, close_value (double), volume_cents (long).
    """
    if bucket not in ("minute", "hour", "day", "week", "month"):
        # an unrecognized unit makes date_trunc return NULL and every row
        # silently collapses into one NULL bucket per series
        raise ValueError(f"unsupported bucket {bucket!r}")
    scols = list(series_cols)
    events = events.filter(F.col(value_col).isNotNull())
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    pt = F.struct(F.col(ts_col).alias("t"), F.col(id_col).alias("i"),
                  cents.alias("c"))

    def price(c: str):
        return F.col(c).cast("double") / F.lit(100.0)

    return (events
            .groupBy(*scols, F.date_trunc(bucket, ts_col).alias("bucket_ts"))
            .agg(F.count("*").cast("long").alias("n"),
                 F.min(pt).alias("_o"), F.max(pt).alias("_c"),
                 F.max(cents).alias("_hi"), F.min(cents).alias("_lo"),
                 F.sum(cents).cast("long").alias("volume_cents"))
            .select(*scols, "bucket_ts", "n",
                    price("_o.c").alias("open_value"),
                    price("_hi").alias("high_value"),
                    price("_lo").alias("low_value"),
                    price("_c.c").alias("close_value"),
                    "volume_cents"))


def state_agg(events: DataFrame,
              series_cols: Sequence[str] = ("user_id",),
              state_col: str = "event_type",
              ts_col: str = "ts", id_col: str = "event_id") -> DataFrame:
    """Time-in-state under LOCF semantics (the TSDB ``state_agg`` idiom):
    each sample's state holds from its timestamp until the series' NEXT
    sample; the final sample holds for zero time (the observation window
    ends at the last sample — no extrapolation past observed data, same
    closed-interval stance as counters.time_weighted_avg).

    Durations are exact integer microseconds (epoch-µs LEAD differences).
    ``n_entries`` counts transitions INTO the state (first sample of a
    consecutive run), ordered by (ts, id) so same-ts samples break
    deterministically. ``frac_time`` = total_us / series' total observed
    µs — one exact int64/int64 → double division, NULL when the series
    observed zero time (single-sample series).

    Output: series_cols…, state, n_samples (long), n_entries (long),
    total_us (long), frac_time (double).
    """
    scols = list(series_cols)
    events = events.filter(F.col(state_col).isNotNull())
    w = Window.partitionBy(*scols).orderBy(ts_col, id_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    staged = events.select(
        *scols, F.col(state_col).alias("state"),
        F.coalesce(F.lead(us).over(w) - us, F.lit(0)).alias("dur_us"),
        F.when(F.lag(F.col(state_col)).over(w).isNull()
               | (F.lag(F.col(state_col)).over(w) != F.col(state_col)),
               F.lit(1)).otherwise(F.lit(0)).alias("entry"))
    agg = (staged.groupBy(*scols, "state")
           .agg(F.count("*").cast("long").alias("n_samples"),
                F.sum("entry").cast("long").alias("n_entries"),
                F.sum("dur_us").cast("long").alias("total_us")))
    series_total = F.sum("total_us").over(Window.partitionBy(*scols))
    return agg.select(
        *scols, "state", "n_samples", "n_entries", "total_us",
        (F.col("total_us").cast("double")
         / F.nullif(series_total, F.lit(0)).cast("double"))
        .alias("frac_time"))


def heartbeat_agg(events: DataFrame,
                  series_cols: Sequence[str] = ("user_id",),
                  ts_col: str = "ts", id_col: str = "event_id",
                  interval_seconds: int = 600) -> DataFrame:
    """Liveness from heartbeat presence (the TSDB ``heartbeat_agg`` idiom):
    any sample is a heartbeat asserting the series was alive at that
    instant. Over the observed span [first, last] per series, a gap
    between consecutive heartbeats counts as live up to
    ``interval_seconds`` and dead beyond it.

    All sums are exact integer microseconds: live_us = Σ min(gap, I),
    dead_us = span_us − live_us, outages = #{gap > I},
    longest_gap_us = max gap (0 for single-sample series). Timestamps stay
    on the epoch-µs axis (``first_us``/``last_us``) — no timestamp
    round-trip to disagree on.

    Output: series_cols…, n_heartbeats (long), first_us, last_us, span_us,
    live_us, dead_us (long), outages (long), longest_gap_us (long).
    """
    scols = list(series_cols)
    interval_us = int(interval_seconds) * 1_000_000
    w = Window.partitionBy(*scols).orderBy(ts_col, id_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    staged = events.select(
        *scols, us.alias("us"), (us - F.lag(us).over(w)).alias("gap_us"))
    return (staged.groupBy(*scols)
            .agg(F.count("*").cast("long").alias("n_heartbeats"),
                 F.min("us").alias("first_us"),
                 F.max("us").alias("last_us"),
                 (F.max("us") - F.min("us")).alias("span_us"),
                 # least()/LEAST skips NULLs in both engines, so a bare
                 # least(gap, I) would credit the first sample's NULL gap
                 # with a full interval — gate on non-null explicitly
                 F.coalesce(
                     F.sum(F.when(F.col("gap_us").isNotNull(),
                                  F.least(F.col("gap_us"),
                                          F.lit(interval_us)))),
                     F.lit(0)).cast("long").alias("live_us"),
                 F.coalesce(
                     F.sum(F.when(F.col("gap_us") > interval_us, 1)
                           .otherwise(0)),
                     F.lit(0)).cast("long").alias("outages"),
                 F.coalesce(F.max("gap_us"), F.lit(0)).cast("long")
                 .alias("longest_gap_us"))
            .withColumn("dead_us", F.col("span_us") - F.col("live_us"))
            .select(*scols, "n_heartbeats", "first_us", "last_us",
                    "span_us", "live_us", "dead_us", "outages",
                    "longest_gap_us"))
