"""Monitoring-style counter semantics and visualization downsampling over an
event stream — the operational-timeseries face of the engine (the reference's
pipelines consume pre-cleaned arrays; a production ingest has to derive them
from raw counters first; cf. the delta/derivative preprocessing ahead of the
reference's conv/pool stacks, e.g. TSFEDL/data.py's signal conditioning).

All operators are decimal/integer-exact so a SQL engine reproduces every
output bit:

- ``counter_increase`` — Prometheus-style ``increase()`` with counter-reset
  detection, re-aggregated per series × time bucket.
- ``cadence_gaps`` — missing-sample report vs an expected cadence
  (integer-microsecond gap math).
- ``lag_coupling`` — lagged cross-series co-movement on a common time grid
  (exact decimal cross-moments; interval-shift join, not row-lag).
- ``cusum_drift`` — two-sided CUSUM changepoint scores via the closed-form
  prefix-sum ± running-extremum rewrite (no sequential fold).
- ``cusum_episodes`` — maximal runs of consecutive alarming samples
  (gaps-and-islands over the scores), one summarized row per episode.
- ``changepoint_cusum`` — OFFLINE changepoint location per series: the
  classical CUSUM estimator argmax |n·P_τ − τ·P_n|, integer-exact.
- ``last_point`` — the TSDB last()/first() idiom: newest/oldest value per
  series by mergeable struct-MIN/MAX, never a per-series sort.
- ``m4_downsample`` — the M4 width-preserving visualization downsampler
  (Jugel et al., VLDB 2014): first/last/min/max per pixel bucket.
- ``trend_slope`` — per-series OLS trend over the bucket grid, the classic
  normal-equation cross-moments kept exact in 128-bit decimals.
- ``seasonal_baseline`` — hour-of-day seasonal profile with integer-exact
  anomaly flags (division-free cross-multiplied threshold).
- ``histogram_quantile`` — Prometheus quantile over a mergeable le-bucket
  ladder (integer-exact crossing, one-division interpolation).
- ``hampel_filter`` — rolling-median/MAD despiking on a ×2 integer scale
  (no float median anywhere).
- ``bucketed_twa`` — time-weighted average with LOCF segments split
  EXACTLY across the bucket grid (the interpolated-boundary twin of
  ``time_weighted_avg``).
- ``topn_others`` — per-bucket top-N labels with the tail collapsed into
  one ``__other__`` row (fixed panel cardinality at any label count).
- ``rolling_actives`` — trailing-W-bucket distinct-user census (DAU/WAU)
  via per-user interval-union + boundary deltas, never a ×W explode.
- ``spearman_matrix`` — Spearman rank correlation per key pair over
  co-active buckets (×2-integer average-tie ranks, exact moments).
- ``binary_segments`` — depth-2 binary segmentation (the changepoint
  estimator recursed once per half on derived prefixes, one exchange).
- ``retention_cohorts`` — the cohort retention triangle (first-active
  cohorts × offset, exact cells over deduplicated (user, day) pairs).

The per-series operators pay ONE exchange: the window partitioning is a
subset of every later grouping key, so Spark's EnsureRequirements reuses it.
At 100 TB series are the natural unit of parallelism (millions of
users/metrics), and nothing here ever widens beyond a series.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .io import pin


def counter_increase(events: DataFrame,
                     series_cols: Sequence[str] = ("user_id", "event_type"),
                     ts_col: str = "ts", id_col: str = "event_id",
                     value_col: str = "value",
                     bucket: str = "hour") -> DataFrame:
    """Prometheus-``increase()`` semantics over a counter sample stream:
    per series (metric × labels → here the ``series_cols`` tuple), ordered
    by (ts, id), each sample contributes ``value - prev`` — unless the
    counter RESET (value dropped), in which case the counter restarted from
    zero and the contribution is the full current value. Contributions are
    then re-aggregated per series × ``date_trunc(bucket)`` window.

    A delta that crosses a bucket edge belongs to the LATER sample's bucket
    (the sample that observed it) — the same attribution Prometheus uses.

    Arithmetic is decimal(18,2)-exact (the fixture's values carry two
    decimals; the pricing_summary argument), so sums are reproducible
    bit-for-bit by any SQL engine. One exchange: the lag window hashes on
    the series, and the (series, bucket) grouping keys are a superset of
    that partitioning.

    Output: series_cols…, bucket_ts, n_samples, n_resets, increase (double),
    last_value (double).
    """
    if bucket not in ("minute", "hour", "day", "week", "month"):
        # an unrecognized unit makes date_trunc return NULL and every row
        # silently collapses into one NULL bucket per series
        raise ValueError(f"unsupported bucket {bucket!r}")
    scols = list(series_cols)
    w = Window.partitionBy(*scols).orderBy(ts_col, id_col)
    val = F.col(value_col).cast("decimal(18,2)")
    prev = F.lag(val).over(w)
    delta = val - prev
    contrib = (F.when(prev.isNull(), F.lit(0).cast("decimal(18,2)"))
               .when(delta < 0, val)  # reset: counter restarted from 0
               .otherwise(delta))
    reset = F.when(prev.isNotNull() & (delta < 0), F.lit(1)) \
             .otherwise(F.lit(0))
    bucket_ts = F.date_trunc(bucket, F.col(ts_col))
    rn_last = F.row_number().over(
        Window.partitionBy(*scols, bucket_ts)
        .orderBy(F.desc(ts_col), F.desc(id_col)))
    return (events
            .select(*scols, bucket_ts.alias("bucket_ts"),
                    contrib.alias("_contrib"), reset.alias("_reset"),
                    val.alias("_val"), rn_last.alias("_rn_last"))
            .groupBy(*scols, "bucket_ts")
            .agg(F.count("*").cast("long").alias("n_samples"),
                 F.sum("_reset").cast("long").alias("n_resets"),
                 F.sum("_contrib").cast("double").alias("increase"),
                 F.max(F.when(F.col("_rn_last") == 1, F.col("_val")))
                  .cast("double").alias("last_value")))


def cadence_gaps(events: DataFrame,
                 series_cols: Sequence[str] = ("user_id", "event_type"),
                 ts_col: str = "ts", id_col: str = "event_id",
                 cadence_seconds: int = 3600) -> DataFrame:
    """Missing-sample report against an expected cadence — the monitoring
    question "which series have holes, and how big": per series, count the
    inter-sample deltas exceeding the cadence, the total number of missing
    slots they imply, and the longest gap.

    All integer microsecond arithmetic (``delta div cadence_us − 1``
    missing slots per oversized delta — `div` stays exact past 2^53 where
    float division would drift), so any SQL engine reproduces every count.
    One exchange: the lag window and the final grouping share the series
    partitioning.

    Output: series_cols…, n_samples, n_gaps, missing_slots,
    longest_gap_us, span_us.
    """
    if cadence_seconds < 1:
        raise ValueError("cadence_seconds must be >= 1")
    cad_us = int(cadence_seconds) * 1_000_000
    scols = list(series_cols)
    w = Window.partitionBy(*scols).orderBy(ts_col, id_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    delta = us - F.lag(us).over(w)
    staged = events.select(*scols, us.alias("_us"), delta.alias("_d"))
    # when() (not a bare cast) so the first row's NULL delta counts as 0 —
    # a single-sample series must report 0 gaps, not NULL
    is_gap = F.col("_d") > cad_us
    gap_one = F.when(is_gap, F.lit(1)).otherwise(F.lit(0))
    missing = F.when(is_gap, F.expr(f"_d div {cad_us}") - 1) \
               .otherwise(F.lit(0))
    return (staged
            .groupBy(*scols)
            .agg(F.count("*").cast("long").alias("n_samples"),
                 F.sum(gap_one).cast("long").alias("n_gaps"),
                 F.sum(missing).cast("long").alias("missing_slots"),
                 F.max("_d").cast("long").alias("longest_gap_us"),
                 (F.max("_us") - F.min("_us")).cast("long")
                 .alias("span_us")))


def lag_coupling(events: DataFrame, type_a: str = "click",
                 type_b: str = "view", max_lag: int = 2,
                 user_col: str = "user_id", ts_col: str = "ts",
                 type_col: str = "event_type", value_col: str = "value",
                 bucket: str = "hour") -> DataFrame:
    """Lagged cross-series coupling: how much does series A (``type_a``
    events) co-move with series B ``L`` buckets earlier? Per user, both
    series aggregate onto a common ``date_trunc(bucket)`` grid
    (decimal-exact conditional sums), then B is shifted by exact
    ``L × bucket`` intervals and joined back — a TIME-shift, not a
    row-shift, so sparse grids don't silently misalign. Emits, per
    (user, lag), the raw cross-moment Σ aₜ·bₜ₋L and the pair count;
    normalization (Pearson denominators) is left to the caller since
    sqrt is not bit-stable cross-engine.

    Shape: ONE exchange touches raw events (the grid aggregation); the lag
    explode, the (user, bucket) self-join and the final (user, lag) regroup
    all operate on the aggregated grid — orders of magnitude smaller than
    the input (|users| × |active buckets| rows), with the shifted side
    broadcast when it fits. decimal(18,2)×decimal(18,2) products stay
    exact in decimal(38,4).

    Output: user_id, lag, n_pairs, xmoment (double).
    """
    if max_lag < 0:
        raise ValueError("max_lag must be >= 0")
    if bucket not in ("hour", "day"):
        raise ValueError("bucket must be 'hour' or 'day'")
    # both join sides below read the user-bucket grid
    grid = pin(events
               .groupBy(F.col(user_col).alias("user_id"),
                        F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"))
               .agg(F.sum(F.when(F.col(type_col) == type_a,
                                 F.col(value_col).cast("decimal(18,2)")))
                    .cast("decimal(18,2)").alias("a"),
                    F.sum(F.when(F.col(type_col) == type_b,
                                 F.col(value_col).cast("decimal(18,2)")))
                    .cast("decimal(18,2)").alias("b")))
    lags = F.explode(F.sequence(F.lit(0), F.lit(int(max_lag)))).alias("lag")
    # hour buckets: fixed-duration (day-time) interval — hour bucket starts
    # are always 3600 s apart as instants. day buckets: CALENDAR interval —
    # around a DST transition date_trunc('day') starts are 23/25 h apart,
    # so a fixed 24 h shift would miss the join and silently drop pairs
    shift = (F.make_dt_interval(F.lit(0), F.col("lag"))
             if bucket == "hour" else
             F.make_interval(F.lit(0), F.lit(0), F.lit(0), F.col("lag")))
    shifted = (grid.filter(F.col("b").isNotNull())
               .select("user_id", "b", F.col("bucket_ts").alias("_src"), lags)
               .withColumn("bucket_ts", F.col("_src") + shift))
    a_side = grid.filter(F.col("a").isNotNull()).select(
        "user_id", "bucket_ts", "a")
    joined = a_side.join(shifted, ["user_id", "bucket_ts"])
    return (joined
            .groupBy("user_id", "lag")
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.sum(F.col("a") * F.col("b")).cast("double")
                 .alias("xmoment")))


def cusum_drift(events: DataFrame,
                series_cols: Sequence[str] = ("user_id", "event_type"),
                ts_col: str = "ts", id_col: str = "event_id",
                value_col: str = "value",
                target: float = 50.0, threshold: float = 200.0) -> DataFrame:
    """Two-sided CUSUM drift detection (Page 1954) per series, exactly.

    The textbook recurrences are sequential::

        S⁺_t = max(0, S⁺_{t-1} + (x_t − k))      (upward drift)
        S⁻_t = max(0, S⁻_{t-1} − (x_t − k))      (downward drift)

    but both have closed forms over the prefix sums P_t = Σ_{j≤t}(x_j − k):

        S⁺_t = P_t − min(0, min_{j≤t} P_j)
        S⁻_t = max(0, max_{j≤t} P_j) − P_t

    so the whole operator is a cumulative sum plus a running min/max —
    three window functions over ONE per-series partitioning, no sequential
    fold, no UDF. With ``value`` and ``target`` as decimal(18,2), every
    P_t is exact and any SQL engine reproduces each output bit.

    Output: series_cols…, ts, id, cusum_hi, cusum_lo (doubles),
    alarm (1 when either side exceeds ``threshold``).
    """
    scols = list(series_cols)
    # a NULL sample is no observation (engine-wide policy; a leading
    # NULL would otherwise emit NULL scores)
    events = events.filter(F.col(value_col).isNotNull())
    w = (Window.partitionBy(*scols).orderBy(ts_col, id_col)
         .rowsBetween(Window.unboundedPreceding, 0))
    y = (F.col(value_col).cast("decimal(18,2)")
         - F.lit(target).cast("decimal(18,2)"))
    p = F.sum(y).over(w)
    staged = events.select(
        *scols, F.col(ts_col).alias("ts"), F.col(id_col).alias("id"),
        p.alias("_p"))
    wp = (Window.partitionBy(*scols).orderBy("ts", "id")
          .rowsBetween(Window.unboundedPreceding, 0))
    run_min = F.least(F.lit(0).cast("decimal(28,2)"),
                      F.min("_p").over(wp))
    run_max = F.greatest(F.lit(0).cast("decimal(28,2)"),
                         F.max("_p").over(wp))
    hi = (F.col("_p") - run_min).cast("double")
    lo = (run_max - F.col("_p")).cast("double")
    thr = float(threshold)
    return (staged
            .select(*scols, "ts", "id", hi.alias("cusum_hi"),
                    lo.alias("cusum_lo"))
            .withColumn("alarm",
                        ((F.col("cusum_hi") > thr)
                         | (F.col("cusum_lo") > thr)).cast("int")))


def _episodize(flagged: DataFrame, scols: list[str],
               *extra_aggs) -> DataFrame:
    """Shared gaps-and-islands episodeization (cusum_episodes and
    threshold_episodes): ``flagged`` carries the per-series sample rank
    ``_rn`` (computed over ALL samples, before the firing filter), plus
    ``ts``/``id`` and any payload columns ``extra_aggs`` reference.
    Consecutive ranks collapse to one episode row with n_samples/
    start_ts/end_ts/duration_us + the extra aggregates, numbered by
    start_ts per series. Every window/groupBy partitions on (a superset
    of) the series tuple so the caller's single per-series exchange is
    reused end-to-end."""
    w = Window.partitionBy(*scols).orderBy("ts", "id")
    grp = flagged.withColumn("_grp",
                             F.col("_rn") - F.row_number().over(w))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ep = (grp.withColumn("_us", us)
          .groupBy(*scols, "_grp")
          .agg(F.count("*").cast("long").alias("n_samples"),
               F.min("ts").alias("start_ts"),
               F.max("ts").alias("end_ts"),
               (F.max("_us") - F.min("_us")).cast("long")
               .alias("duration_us"),
               *extra_aggs))
    number = F.row_number().over(
        Window.partitionBy(*scols).orderBy("start_ts"))
    return ep.withColumn("episode", number.cast("long"))


def cusum_episodes(events: DataFrame,
                   series_cols: Sequence[str] = ("user_id", "event_type"),
                   ts_col: str = "ts", id_col: str = "event_id",
                   value_col: str = "value",
                   target: float = 50.0,
                   threshold: float = 200.0) -> DataFrame:
    """Alarm EPISODES from the CUSUM scores: maximal runs of consecutive
    alarming samples per series, each summarized once — what an on-call
    pipeline pages on (an episode), not the per-sample stream
    :func:`cusum_drift` emits.

    Composition stays in ONE exchange: the per-sample scores, the global
    sample rank, the within-alarms rank (the gaps-and-islands key
    ``rank − alarm_rank``), the episode aggregation, and the episode
    numbering all partition on (a superset of) the series tuple, so
    EnsureRequirements reuses the single per-series hash exchange
    end-to-end. Every value is decimal/integer-exact (see cusum_drift).

    Output: series_cols…, episode, n_samples, start_ts, end_ts,
    duration_us, peak_hi, peak_lo.
    """
    scols = list(series_cols)
    scored = cusum_drift(events, series_cols=series_cols, ts_col=ts_col,
                         id_col=id_col, value_col=value_col,
                         target=target, threshold=threshold)
    w = Window.partitionBy(*scols).orderBy("ts", "id")
    ranked = scored.withColumn("_rn", F.row_number().over(w))
    ep = _episodize(ranked.filter(F.col("alarm") == 1), scols,
                    F.max("cusum_hi").alias("peak_hi"),
                    F.max("cusum_lo").alias("peak_lo"))
    return ep.select(*scols, "episode", "n_samples",
                     "start_ts", "end_ts", "duration_us",
                     "peak_hi", "peak_lo")


def time_bucket_agg(events: DataFrame, width_seconds: int = 300,
                    series_cols: Sequence[str] = ("user_id", "event_type"),
                    ts_col: str = "ts",
                    value_col: str = "value") -> DataFrame:
    """ARBITRARY-width time bucketing (TimescaleDB ``time_bucket``):
    ``date_trunc`` only speaks calendar units, but the bread-and-butter
    dashboard grain is "5 minutes" / "30 seconds" / "6 hours" — this
    aggregates per series onto epoch-aligned buckets of any whole-second
    width.

    Exactness: the bucket is pure integer arithmetic on microseconds —
    ``us div (width·10⁶) · width·10⁶`` back to a timestamp — so every
    engine lands every sample in the same bucket (no float time, no
    timezone: epoch-aligned on the naive/UTC timestamps the engine
    standardizes on; pre-1970 samples are EXCLUDED — Spark's ``div``
    truncates toward zero while SQL ``//`` floors, so negative epochs
    would bucket differently across engines). Sums ride int64 cents;
    mean is one double division.

    ONE exchange: the (series, bucket) grouping keys hash once.

    Output: series_cols…, bucket_ts, n (long), sum_value, min_value,
    max_value, mean_value (doubles, cents-derived).
    """
    if width_seconds < 1:
        raise ValueError("need width_seconds >= 1")
    scols = list(series_cols)
    events = events.filter(F.col(value_col).isNotNull())
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w_us = int(width_seconds) * 1_000_000
    bucket = F.timestamp_micros(
        F.expr(f"unix_micros(cast({ts_col} as timestamp)) div {w_us}")
        * F.lit(w_us))
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    staged = events.select(*scols, bucket.alias("bucket_ts"),
                           cents.alias("_c"), us.alias("_us"))
    return (staged
            .filter(F.col("_us") >= 0)
            .groupBy(*scols, "bucket_ts")
            .agg(F.count("*").cast("long").alias("n"),
                 (F.sum("_c").cast("double") / F.lit(100.0))
                 .alias("sum_value"),
                 (F.min("_c").cast("double") / F.lit(100.0))
                 .alias("min_value"),
                 (F.max("_c").cast("double") / F.lit(100.0))
                 .alias("max_value"),
                 (F.sum("_c").cast("double")
                  / (F.count("*") * 100).cast("double"))
                 .alias("mean_value")))


def feature_table(events: DataFrame,
                  types: Sequence[str] = ("click", "view", "purchase"),
                  series_cols: Sequence[str] = ("user_id",),
                  ts_col: str = "ts", type_col: str = "event_type",
                  value_col: str = "value",
                  bucket: str = "hour") -> DataFrame:
    """WIDE feature table: every metric of a series aligned onto one time
    grid — the model-input join (one row per (series, bucket), one
    ``sum_<type>``/``n_<type>`` column pair per event type) that
    downstream training pipelines consume, instead of N self-joins of the
    long-format table.

    ``types`` is EXPLICIT so the schema is deterministic (a
    data-dependent ``pivot`` makes the schema a function of the input —
    un-oracle-able, and illegal on a stream); unlisted types are
    excluded. Implemented as conditional aggregation (the portable pivot
    form every SQL engine shares), sums in int64 cents converted once;
    a type absent from a bucket yields 0 count and NULL sum — absence,
    not a fake 0.0 value. ONE exchange: the (series, bucket) grouping.

    Output: series_cols…, bucket_ts, n_total, then per type t:
    n_<t> (long), sum_<t> (double, NULL when absent).
    """
    if not types:
        raise ValueError("need at least one type")
    if len(set(types)) != len(list(types)):
        raise ValueError("duplicate entries in types")
    if bucket not in ("minute", "hour", "day"):
        raise ValueError(f"unsupported bucket {bucket!r}")
    scols = list(series_cols)
    events = events.filter(F.col(value_col).isNotNull())
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    staged = events.select(
        *scols, F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"),
        F.col(type_col).alias("_t"), cents.alias("_c"))
    aggs = [F.count("*").cast("long").alias("n_total")]
    for t in types:
        hit = F.col("_t") == t
        aggs.append(F.sum(F.when(hit, 1).otherwise(0)).cast("long")
                    .alias(f"n_{t}"))
        aggs.append((F.sum(F.when(hit, F.col("_c"))).cast("double")
                     / F.lit(100.0)).alias(f"sum_{t}"))
    return staged.groupBy(*scols, "bucket_ts").agg(*aggs)


def last_point(events: DataFrame,
               series_cols: Sequence[str] = ("user_id", "event_type"),
               ts_col: str = "ts", id_col: str = "event_id",
               value_col: str = "value") -> DataFrame:
    """The TSDB ``last()``/``first()`` idiom: per series, the newest and
    oldest observed values with their timestamps — the "current state of
    every series" panel every monitoring read path serves, answered by
    ONE mergeable partial-aggregating pass over (ts, id, payload) struct
    extremes. Struct min/max has no hash-agg buffer, so Spark plans it as
    SortAggregate — a within-partition sort by the GROUP keys with
    map-side partials before the single exchange (plan-pinned), never a
    per-series raw shuffle-and-sort.

    NULL values are no observations (engine-wide policy): the last POINT
    is the last sample that carried a value. Ties on ts break by id via
    lexicographic MIN/MAX over a (ts, id, payload) struct — the mergeable
    aggregate BOTH engines order identically (pinned; a bare max_by(v, ts)
    is nondeterministic on same-ts samples, and arg_max takes no composite
    key in DuckDB). delta_cents = last − first exactly (the "how far has
    this series moved" column).

    Output: series_cols…, n (long), first_ts, first_value, last_ts,
    last_value, delta_cents (long).
    """
    scols = list(series_cols)
    events = events.filter(F.col(value_col).isNotNull())
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    pt = F.struct(F.col(ts_col).alias("t"), F.col(id_col).alias("i"),
                  F.col(value_col).alias("v"), cents.alias("c"))
    return (events
            .groupBy(*scols)
            .agg(F.count("*").cast("long").alias("n"),
                 F.min(pt).alias("_f"), F.max(pt).alias("_l"))
            .select(*scols, "n",
                    F.col("_f.t").alias("first_ts"),
                    F.col("_f.v").alias("first_value"),
                    F.col("_l.t").alias("last_ts"),
                    F.col("_l.v").alias("last_value"),
                    (F.col("_l.c") - F.col("_f.c")).alias("delta_cents")))


def changepoint_cusum(events: DataFrame,
                      series_cols: Sequence[str] = ("user_id", "event_type"),
                      ts_col: str = "ts", id_col: str = "event_id",
                      value_col: str = "value") -> DataFrame:
    """Offline changepoint LOCATION per series — "where did the level
    shift" — via the classical CUSUM location estimator (Page 1954 /
    Csörgő & Horváth 1997): the binary-segmentation primitive
    (:func:`cusum_drift` scores drift ONLINE; this names the single most
    likely change position after the fact).

    With cents x_1..x_n per series ordered by (ts, id), prefix sums
    P_τ = Σ_{i≤τ} x_i and total S = P_n, the estimator is::

        τ* = argmax_{1 ≤ τ < n} |P_τ − (τ/n)·S|

    Multiplying the objective by the per-series constant n clears the
    division — ``stat(τ) = |n·P_τ − τ·S|`` — so every compared value is
    an EXACT integer (decimal(38,0); |stat| ≤ n²·max_cents, int64
    overflows already at n ≈ 3·10⁷ hundred-cent samples which is why the
    products widen to 128-bit). Ties break to the SMALLEST τ — exact
    integer ordering, so the pick is engine-independent. The emitted
    ``stat`` double converts exactly while |stat| < 2^53 (true at every
    test SF by orders of magnitude; the trend_slope bound argument), and
    the two segment means are single IEEE divisions of exact integers.

    NULL samples are no observations (engine-wide policy); a series needs
    n ≥ 2 to have a candidate split, else it is absent from the output.

    Shape: ONE exchange — the sequential window (prefix sums), the
    whole-partition aggregates (n, S), and the argmax ranking all
    partition on the series tuple, so EnsureRequirements reuses a single
    series-hash exchange; the three orderings are sorts within it. At
    100 TB series are the parallelism unit and nothing widens beyond one.

    Output: series_cols…, n, tau (position of the LAST left-segment
    sample, 1-indexed), split_ts, split_id, stat (double), left_cents,
    right_cents (longs), left_mean, right_mean (doubles, value units).
    """
    scols = list(series_cols)
    events = events.filter(F.col(value_col).isNotNull())
    wseq = Window.partitionBy(*scols).orderBy(ts_col, id_col)
    wall = Window.partitionBy(*scols)
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    staged = events.select(
        *scols, F.col(ts_col).alias("ts"), F.col(id_col).alias("id"),
        F.row_number().over(wseq).alias("_rn"),
        F.sum(cents).over(
            wseq.rowsBetween(Window.unboundedPreceding, 0)).alias("_p"),
        F.count("*").over(wall).alias("_n"),
        F.sum(cents).over(wall).alias("_s"))
    d38 = "decimal(38,0)"
    stat = F.abs(F.col("_n").cast(d38) * F.col("_p").cast(d38)
                 - F.col("_rn").cast(d38) * F.col("_s").cast(d38))
    pick = F.row_number().over(
        Window.partitionBy(*scols)
        .orderBy(F.col("_stat").desc(), F.col("_rn").asc()))
    right = F.col("_s") - F.col("_p")
    return (staged
            .filter(F.col("_rn") < F.col("_n"))
            .withColumn("_stat", stat)
            .withColumn("_pick", pick)
            .filter(F.col("_pick") == 1)
            .select(*scols,
                    F.col("_n").cast("long").alias("n"),
                    F.col("_rn").cast("long").alias("tau"),
                    F.col("ts").alias("split_ts"),
                    F.col("id").alias("split_id"),
                    F.col("_stat").cast("double").alias("stat"),
                    F.col("_p").cast("long").alias("left_cents"),
                    right.cast("long").alias("right_cents"),
                    (F.col("_p").cast("double")
                     / (F.col("_rn") * 100).cast("double"))
                    .alias("left_mean"),
                    (right.cast("double")
                     / ((F.col("_n") - F.col("_rn")) * 100).cast("double"))
                    .alias("right_mean")))


def time_weighted_avg(events: DataFrame,
                      series_cols: Sequence[str] = ("user_id", "event_type"),
                      ts_col: str = "ts", id_col: str = "event_id",
                      value_col: str = "value",
                      bucket: str = "hour") -> DataFrame:
    """Time-weighted average over an IRREGULAR sample stream (the
    TimescaleDB ``time_weight``/LOCF-integral idiom): a plain AVG
    over-weights burst periods — each sample should count for the TIME it
    held, not once per row.

    Semantics: per series ordered by (ts, id), each sample holds its value
    until the next sample (last-observation-carried-forward); the segment
    ``[t_i, t_{i+1})`` contributes ``v_i · (t_{i+1} − t_i)`` and is
    attributed to the bucket of its LEFT endpoint — the sample that held
    the value (counter_increase attributes to the observer; a holding
    segment belongs to the holder). Segments are not split at bucket
    edges; a series' final sample holds nothing (no next observation) and
    contributes only to ``n_samples``. Buckets where every sample is the
    series' last emit NULL twa (0/0), not 0.

    Exactness: the weighted sum is kept as an exact INT64 —
    cents (value × 100, the fixture's two decimals) × microseconds —
    never as a wide decimal: a decimal whose unscaled value passes 2^53
    converts to double through engine-specific software rounding
    (measured: Spark and DuckDB differ by 1 ulp on the same
    decimal(38,2) sum), while int64 → double is the one hardware
    round-to-nearest conversion every engine shares. vw_sum and twa are
    then single IEEE divisions of exactly-converted integers. One
    exchange: the lead window hashes on the series and the
    (series, bucket) grouping keys are a superset.

    Output: series_cols…, bucket_ts, n_samples, held_us (long),
    vw_cents_us (long, exact Σ cents·Δus), vw_sum (double, Σ v·Δt in
    value·seconds), twa (double).
    """
    if bucket not in ("minute", "hour", "day", "week", "month"):
        raise ValueError(f"unsupported bucket {bucket!r}")
    scols = list(series_cols)
    w = Window.partitionBy(*scols).orderBy(ts_col, id_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    nxt = F.lead(us).over(w)
    held = (nxt - us)  # NULL on the series' last sample
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    vw = cents * held
    bucket_ts = F.date_trunc(bucket, F.col(ts_col))
    staged = events.select(
        *scols, bucket_ts.alias("bucket_ts"),
        held.alias("_held"), vw.alias("_vw"))
    sum_vw = F.sum("_vw").cast("long")
    sum_held = F.sum("_held").cast("long")
    return (staged
            .groupBy(*scols, "bucket_ts")
            .agg(F.count("*").cast("long").alias("n_samples"),
                 F.coalesce(sum_held, F.lit(0)).alias("held_us"),
                 sum_vw.alias("vw_cents_us"),
                 (sum_vw.cast("double") / F.lit(1e8)).alias("vw_sum"),
                 (sum_vw.cast("double")
                  / (sum_held * 100).cast("double")).alias("twa")))


def grid_gapfill(events: DataFrame,
                 series_cols: Sequence[str] = ("user_id",),
                 ts_col: str = "ts", id_col: str = "event_id",
                 value_col: str = "value",
                 bucket: str = "hour") -> DataFrame:
    """Regular-grid gap-filling (the TimescaleDB ``time_bucket_gapfill`` +
    ``locf`` idiom): per series, aggregate onto a ``date_trunc(bucket)``
    grid, MATERIALIZE the missing buckets between the series' first and
    last active bucket, and carry the last observed value forward into
    them — dashboards and downstream joins need the empty hours to exist
    as rows, not as absences (the events-table twin of the token-array
    ``kernels.gap_fill``).

    Exactness: bucket stepping is a fixed interval on the grid generator
    in BOTH engines (minute/hour always; day is fixed 24 h on the naive/
    UTC timestamps this engine standardizes on — the lag_coupling DST note
    applies to zoned sessions); per-bucket last value is row_number-pinned
    by (ts, id) desc (min_by/arg_max tie-breaks differ across engines);
    sums ride int64 cents (the time_weighted_avg argument: a wide
    decimal→double conversion past 2^53 unscaled is 1 ulp engine-specific,
    int64→double is the shared hardware rounding), LOCF is a pure value
    carry — no arithmetic.

    Scale shape: ONE exchange total — raw events are hash-spread by the
    SERIES columns up front, and because HashPartitioning on a subset of
    the grouping/window keys satisfies their clustering requirement, the
    per-(series, bucket) aggregation, the per-bucket last-sample
    row_number and the next-anchor lead all reuse that partitioning with
    zero further exchanges. The grid then MATERIALIZES without a join or
    a second window: every anchor row emits itself plus the gap rows up
    to (next anchor − step) from one sequence() explode, and every
    carried value (LOCF cents, interpolation anchors) is already on the
    generating row — the earlier shape paid a grid explode + join-back +
    grid-grain running-last window for the same rows.

    Output: series_cols…, bucket_ts, n_samples (0 on gap rows),
    sum_value (double, NULL on gap rows), locf_value (double),
    interp_value (double — LINEAR interpolation between the surrounding
    observed buckets, the north-star's second gap-fill mode; every gap is
    interior because the grid spans the observed range, and the
    interpolation clears to ONE double division of exact int64s on the
    BUCKET-INDEX axis — pc·m + (nc−pc)·k over m·100, magnitudes bounded
    by cents × retention-bounded gap length, never near the 2^53
    conversion edge the time_weighted_avg note documents), is_gap (int).
    """
    step = {"minute": "interval 1 minute", "hour": "interval 1 hour",
            "day": "interval 1 day"}.get(bucket)
    if step is None:
        raise ValueError(f"unsupported bucket {bucket!r}")
    scols = list(series_cols)
    b = F.date_trunc(bucket, F.col(ts_col))
    rn = F.row_number().over(
        Window.partitionBy(*scols, b)
        .orderBy(F.desc(ts_col), F.desc(id_col)))
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    # ONE exchange: hash-spread raw rows by the series columns; the
    # bucket row_number, the (series, bucket) aggregation and the lead
    # window below all cluster on supersets of this partitioning
    observed = (events
                .repartition(*[F.col(c) for c in scols])
                .select(*scols, b.alias("bucket_ts"),
                        cents.alias("_c"), rn.alias("_rn"))
                .groupBy(*scols, "bucket_ts")
                .agg(F.count("*").cast("long").alias("n_samples"),
                     (F.sum("_c").cast("double") / F.lit(100.0))
                     .alias("sum_value"),
                     F.max(F.when(F.col("_rn") == 1, F.col("_c")))
                     .cast("long").alias("_last_cents")))
    # next-anchor carriers at OBSERVED grain (one lead per series); each
    # anchor then emits ITSELF plus the gap rows strictly between it and
    # the next anchor from one sequence() explode — no grid frame, no
    # join-back, no grid-grain running-last window (the join/window shape
    # this replaces measured 4.0 s; this one 1.6 s at sf1.0,
    # bit-identical at sf0.01/sf0.1). The last anchor (NULL lead) emits
    # only itself via the coalesce bound; sequence() never descends
    # because consecutive distinct buckets differ by ≥ one step.
    wobs = Window.partitionBy(*scols).orderBy("bucket_ts")
    anch = observed.select(
        *scols, "bucket_ts", "n_samples", "sum_value", "_last_cents",
        F.lead("_last_cents").over(wobs).alias("_nc"),
        F.lead("bucket_ts").over(wobs).alias("_nts"))
    emitted = anch.select(
        *scols, "n_samples", "sum_value", "_last_cents", "_nc", "_nts",
        F.col("bucket_ts").alias("_t"),
        F.explode(F.sequence(
            F.col("bucket_ts"),
            F.coalesce(F.col("_nts") - F.expr(step), F.col("bucket_ts")),
            F.expr(step))).alias("bucket_ts"))
    is_obs = F.col("bucket_ts") == F.col("_t")
    pc = F.col("_last_cents")
    locf = pc.cast("double") / F.lit(100.0)
    # linear interpolation on the bucket-INDEX axis; m and k only ever
    # appear as index DIFFERENCES, so they derive exactly from timestamp
    # deltas over the fixed step (grid buckets are exact step multiples;
    # the double division of exact-multiple int64 microseconds is exact)
    su = {"minute": 60_000_000, "hour": 3_600_000_000,
          "day": 86_400_000_000}[bucket]
    nc = F.col("_nc")
    m = ((F.unix_micros(F.col("_nts")) - F.unix_micros(F.col("_t")))
         / F.lit(su)).cast("long")
    k = ((F.unix_micros(F.col("bucket_ts")) - F.unix_micros(F.col("_t")))
         / F.lit(su)).cast("long")
    # observed rows reproduce the old m == 0 branch (own cents / 100);
    # gap rows interpolate between the generating anchor and its next
    # (m ≥ 2 there, both anchors live on the emitting row)
    interp = F.when(is_obs, pc.cast("double") / F.lit(100.0)) \
        .otherwise((pc * m + (nc - pc) * k).cast("double")
                   / (m * 100).cast("double"))
    return (emitted.select(
        *scols, "bucket_ts",
        F.when(is_obs, F.col("n_samples")).otherwise(F.lit(0))
        .cast("long").alias("n_samples"),
        F.when(is_obs, F.col("sum_value")).alias("sum_value"),
        locf.alias("locf_value"),
        interp.alias("interp_value"),
        F.when(is_obs, 0).otherwise(1).cast("int").alias("is_gap")))


def m4_downsample(events: DataFrame, n_buckets: int = 64,
                  series_col: str = "user_id", ts_col: str = "ts",
                  id_col: str = "event_id",
                  value_col: str = "value") -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): split each series' time
    span into ``n_buckets`` equal-width pixel columns and keep, per bucket,
    the first/last/min/max samples — the exact set a line renderer needs to
    draw a pixel-perfect plot of the full-resolution series.

    Bucket index is exact integer arithmetic on microseconds:
    ``(us - min_us) * n_buckets // (span + 1)`` — no float division, so any
    SQL engine lands every sample in the same bucket. First/last are pinned
    by (ts, id) row_number (min_by/arg_min tie-breaks differ across
    engines); min/max are plain double comparisons, no arithmetic.

    ONE exchange for the whole plan: the per-series min/max window, the
    per-(series, bucket) row_numbers, and the final grouping all hash on
    (or on a superset of) the series column.

    Output: series, bucket, n, t_first, v_first, t_last, v_last,
    v_min, v_max.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    # alias BEFORE the first window: renaming the partition column after a
    # window op hides the hashpartitioning from EnsureRequirements and a
    # second exchange appears (measured; the plan test pins 1)
    named = events.select(
        F.col(series_col).alias("series"), F.col(ts_col).alias("t"),
        F.col(id_col).alias("_id"), F.col(value_col).alias("v"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"))
    ws = Window.partitionBy("series")
    lo = F.min("_us").over(ws)
    span = F.max("_us").over(ws) - lo
    staged = named.select(
        "series", "t", "_id", "v",
        ((F.col("_us") - lo) * n_buckets).alias("_num"),
        (span + 1).alias("_den"))
    # `div` is exact int64 division — a float `/`+floor would misbucket
    # once span*n_buckets passes 2^53 (a years-long series at 1024 px)
    staged = staged.withColumn(
        "bucket", F.expr("_num div _den")).drop("_num", "_den")
    wb = Window.partitionBy("series", "bucket")
    rn_a = F.row_number().over(wb.orderBy("t", "_id"))
    rn_d = F.row_number().over(wb.orderBy(F.desc("t"), F.desc("_id")))
    return (staged
            .select("*", rn_a.alias("_ra"), rn_d.alias("_rd"))
            .groupBy("series", "bucket")
            .agg(F.count("*").cast("long").alias("n"),
                 F.max(F.when(F.col("_ra") == 1, F.col("t"))).alias("t_first"),
                 F.max(F.when(F.col("_ra") == 1, F.col("v")))
                  .alias("v_first"),
                 F.max(F.when(F.col("_rd") == 1, F.col("t"))).alias("t_last"),
                 F.max(F.when(F.col("_rd") == 1, F.col("v"))).alias("v_last"),
                 F.min("v").alias("v_min"),
                 F.max("v").alias("v_max")))


def burn_rate(events: DataFrame,
              series_cols: Sequence[str] = ("user_id",),
              ts_col: str = "ts", type_col: str = "event_type",
              error_type: str = "error",
              budget: float = 0.1, threshold: float = 2.0) -> DataFrame:
    """Multi-window SLO burn-rate alerting (the Google SRE workbook
    pattern): per series × hour, the error ratio over the SHORT window
    (that hour) and the LONG window (its containing day), each divided by
    the error ``budget``; the alert fires only when BOTH burn rates exceed
    ``threshold`` — the long window keeps one bad minute from paging, the
    short window ends the page as soon as the burn stops.

    Exactness: counts are exact integers; each ratio/burn is IEEE division
    of exactly-converted int64 (two divisions, same order both engines);
    the alert is a comparison on those doubles.

    Shape: the hourly aggregation is the ONE raw-data exchange and the ONE
    raw scan; the daily totals ride a WINDOW over the hourly rows (the
    bigram_lm single-lineage trick — a groupBy+join branch would
    re-execute the raw scan, measured here too), so the only extra
    exchange moves the tiny hourly grain.

    Output: series_cols…, hour_ts, n, n_err, day_n, day_err,
    burn_short, burn_long (doubles), alert (int).
    """
    if not (0.0 < budget <= 1.0):
        raise ValueError("budget must be in (0, 1]")
    scols = list(series_cols)
    is_err = (F.col(type_col) == error_type).cast("long")
    hour = (events
            .groupBy(*scols,
                     F.date_trunc("hour", F.col(ts_col)).alias("hour_ts"))
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum(is_err).cast("long").alias("n_err")))
    wd = Window.partitionBy(*scols, F.date_trunc("day", F.col("hour_ts")))
    j = (hour
         .withColumn("day_n", F.sum("n").over(wd).cast("long"))
         .withColumn("day_err", F.sum("n_err").over(wd).cast("long")))
    b = F.lit(float(budget))
    burn_s = (F.col("n_err").cast("double") / F.col("n").cast("double")) / b
    burn_l = (F.col("day_err").cast("double")
              / F.col("day_n").cast("double")) / b
    thr = float(threshold)
    return (j.withColumn("burn_short", burn_s)
            .withColumn("burn_long", burn_l)
            .withColumn("alert",
                        ((F.col("burn_short") >= thr)
                         & (F.col("burn_long") >= thr)).cast("int")))


def period_over_period(events: DataFrame,
                       series_cols: Sequence[str] = ("event_type",),
                       ts_col: str = "ts", value_col: str = "value",
                       bucket: str = "hour",
                       period_days: int = 1) -> DataFrame:
    """Period-over-period comparison: each (series, bucket) total next to
    the SAME bucket ``period_days`` earlier (hour vs same-hour-yesterday,
    or 7 for same-hour-last-week) — the dashboard staple behind every
    "vs yesterday" delta, and the seasonal-aware twin of trend_slope's
    global drift.

    The prior period arrives via an exact CALENDAR-interval self-join of
    the aggregated grid (the lag_coupling rule: a row-lag misaligns the
    moment a bucket is missing, and around a DST transition a fixed
    24·3600 s shift misses the join key entirely). Sums ride int64 cents;
    delta is exact int64; the ratio is one guarded exact-int64 IEEE
    division (NULL when there is no or a zero prior bucket, never NaN).

    Shape: ONE raw-data exchange (the grid aggregation); the self-join
    runs at grid grain on (series, bucket) keys — both sides are the same
    aggregated relation, orders of magnitude smaller than the input.

    Output: series_cols…, bucket_ts, n, cents, prev_cents (nullable),
    delta_cents (nullable), ratio (double, NULL without a prior bucket).
    """
    if bucket not in ("minute", "hour", "day"):
        raise ValueError(f"unsupported bucket {bucket!r}")
    if period_days < 1:
        raise ValueError("period_days must be >= 1")
    scols = list(series_cols)
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    # NULL samples are no observations (the hampel/histogram policy): an
    # all-NULL bucket would otherwise emit a grid row with n>0 and NULL
    # cents, poisoning its successor's delta/ratio (review finding)
    events = events.filter(F.col(value_col).isNotNull())
    grid = (events
            .groupBy(*scols,
                     F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"))
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum(cents.cast("decimal(18,0)")).cast("long")
                 .alias("cents")))
    shift = F.make_interval(F.lit(0), F.lit(0), F.lit(0),
                            F.lit(int(period_days)))
    prev = grid.select(*scols,
                       (F.col("bucket_ts") + shift).alias("bucket_ts"),
                       F.col("cents").alias("prev_cents"))
    j = grid.join(prev, scols + ["bucket_ts"], "left")
    return (j.select(
        *scols, "bucket_ts", "n", "cents", "prev_cents",
        (F.col("cents") - F.col("prev_cents")).alias("delta_cents"),
        F.when(F.col("prev_cents") != 0,
               F.col("cents").cast("double")
               / F.col("prev_cents").cast("double")).alias("ratio")))


def hampel_filter(events: DataFrame,
                  series_cols: Sequence[str] = ("user_id", "event_type"),
                  ts_col: str = "ts", id_col: str = "event_id",
                  value_col: str = "value", half_window: int = 2,
                  k_num: int = 3, k_den: int = 1) -> DataFrame:
    """Hampel spike filter: per series, each sample is compared against
    the MEDIAN of its centered rolling window and flagged (and replaced)
    when it deviates more than ``(k_num/k_den)·MAD`` — the standard
    despiking pass ahead of any rolling aggregate, robust where a rolling
    z-score chases its own spikes (the mad_outliers argument, applied
    rolling).

    Exactness: the window's values ride a ×2 integer scale so medians of
    even-length windows stay integers (``med2 = s[⌈n/2⌉] + s[⌊n/2⌋+1]``,
    twice the median), deviations a ×2 on top of that, and the flag is
    the cross-multiplied integer test ``2·|2c − med2|·k_den > k_num·mad4``
    — no float median, no 1.4826 consistency constant baked into the
    arithmetic (fold the Gaussian scaling into ``k_num/k_den`` as a
    rational if desired). The emitted med/mad/filtered are single exact
    divisions. Edge rows use the shrunken available window (deterministic;
    a dropped-edge policy would lose the series' first/last samples).

    Shape: ONE exchange — the collect/sort/select runs inside a single
    per-series sort-window (arrays of ≤ 2·half_window+1 ints, JVM-side
    higher-order functions, no Python); everything stays at row grain.

    Output: series_cols…, ts, id, value (double), med, mad (doubles),
    is_spike (int), filtered (double — med where spiked, else value).
    """
    if half_window < 1:
        raise ValueError("half_window must be >= 1")
    if k_num < 0 or k_den < 1:
        raise ValueError("need k_num >= 0 and k_den >= 1")
    scols = list(series_cols)
    w = (Window.partitionBy(*scols).orderBy(ts_col, id_col)
         .rowsBetween(-half_window, half_window))
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    # NULL samples are dropped up front, explicitly: you can't despike a
    # missing observation, and leaving them in would diverge the engines
    # (Spark's collect_list skips NULLs, DuckDB's list() keeps them)
    events = events.filter(F.col(value_col).isNotNull())
    staged = events.select(
        *scols, F.col(ts_col).alias("ts"), F.col(id_col).alias("id"),
        cents.alias("_c"),
        F.array_sort(F.collect_list(cents).over(w)).alias("_s"))
    n = F.size("_s")
    # 1-based middle indices; int `/` yields double in Spark, so the
    # floor is made explicit with a cast (positive operands: trunc==floor)
    lo_i = ((n + F.lit(1)) / 2).cast("int")
    hi_i = (n / 2 + 1).cast("int")
    med2 = F.element_at("_s", lo_i) + F.element_at("_s", hi_i)
    # dev_i = |2·c_i − med2| = 2·|c_i − median| — the ×2 keeps even-window
    # medians integral without ever forming a float median
    dev = F.transform("_s", lambda x: F.abs(x * 2 - med2))
    dsorted = F.array_sort(dev)
    mad4 = F.element_at(dsorted, lo_i) + F.element_at(dsorted, hi_i)
    staged = staged.select(
        *scols, "ts", "id", "_c", med2.alias("_m2"), mad4.alias("_m4"))
    d_center = F.abs(F.col("_c") * 2 - F.col("_m2"))
    spike = (d_center * (2 * int(k_den))
             > F.col("_m4") * int(k_num)).cast("int")
    med_units = F.col("_m2").cast("double") / F.lit(200.0)
    return (staged
            .withColumn("value", F.col("_c").cast("double") / F.lit(100.0))
            .withColumn("med", med_units)
            .withColumn("mad", F.col("_m4").cast("double") / F.lit(400.0))
            .withColumn("is_spike", spike)
            .withColumn("filtered",
                        F.when(spike == 1, med_units)
                        .otherwise(F.col("value")))
            .select(*scols, "ts", "id", "value", "med", "mad",
                    "is_spike", "filtered"))


def histogram_quantile(events: DataFrame, q_num: int = 9, q_den: int = 10,
                       series_cols: Sequence[str] = ("event_type",),
                       value_col: str = "value",
                       le_cents: Sequence[int] = (2500, 5000, 10000,
                                                  20000, 40000, 80000)
                       ) -> DataFrame:
    """Prometheus ``histogram_quantile`` over an ``le``-bucket ladder: per
    series, samples land in fixed cumulative buckets (the one histogram
    shape that aggregates across hosts — a t-digest can't merge with a
    plain SUM; this ladder can), and the q-quantile is read back by linear
    interpolation inside the bucket where the cumulative count crosses
    ``q·total``.

    Exactness — the estimator is interpolation, but every DECISION and
    the final division are exact:

    * the crossing bucket is chosen by integer cross-multiplication
      (``cum·q_den ≥ q_num·total`` and ``cumPrev·q_den < q_num·total``),
      never by a float rank — the classic off-by-one-bucket bug when
      ``q·total`` lands exactly on a boundary;
    * the interpolated value clears to ONE division of exact int64:
      ``(lo·q_den·cnt + (hi−lo)·(q_num·total − q_den·cumPrev))
      / (q_den·cnt·100)``;
    * Prometheus edge semantics: a crossing in the +Inf bucket returns
      the highest finite bound; the first bucket interpolates from 0.
      Observations are assumed non-negative (the Prometheus contract).

    Shape: ONE raw-data exchange (the per-(series, bucket) count); the
    cumulative window and the crossing filter run at ladder grain
    (≤ |series|·(len(le)+1) rows). Empty ladder buckets need no rows —
    zero counts shift neither the cumulative sums nor the ladder-derived
    lower bound.

    Output: series_cols…, total_n, bucket_idx, bucket_le (double, NULL
    for the +Inf bucket), qvalue (double, value units).
    """
    num, den = int(q_num), int(q_den)
    if not (1 <= num <= den):
        raise ValueError("need 1 <= q_num <= q_den")
    ladder = [int(c) for c in le_cents]
    if not ladder or ladder != sorted(set(ladder)) or ladder[0] <= 0:
        raise ValueError("le_cents must be strictly increasing positive ints")
    nfin = len(ladder)
    scols = list(series_cols)
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    # a NULL observation is no observation — without the filter the
    # when-chain's otherwise() would silently count it in the +Inf bucket
    events = events.filter(F.col(value_col).isNotNull())
    # first ladder bound >= the sample, else the +Inf bucket (index nfin)
    idx = F.lit(nfin)
    for i in range(nfin - 1, -1, -1):
        idx = F.when(cents <= ladder[i], F.lit(i)).otherwise(idx)
    counted = (events
               .select(*scols, idx.alias("bucket_idx"))
               .groupBy(*scols, "bucket_idx")
               .agg(F.count("*").cast("long").alias("_cnt")))
    w = (Window.partitionBy(*scols).orderBy("bucket_idx")
         .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy(*scols)
    cum = F.sum("_cnt").over(w)
    total = F.sum("_cnt").over(wall)
    staged = counted.select(
        *scols, "bucket_idx", "_cnt",
        cum.alias("_cum"), total.alias("total_n"),
        (cum - F.col("_cnt")).alias("_cum_prev"))
    crossing = staged.filter(
        (F.col("_cum") * den >= F.col("total_n") * num)
        & (F.col("_cum_prev") * den < F.col("total_n") * num))
    # clamp the lookup for +Inf-bucket rows (bucket_idx == nfin): their
    # qvalue/bucket_le never read lo/hi, but an unclamped element_at past
    # the array end is an ANSI-mode runtime error even in the untaken
    # CASE branch on some codegen paths
    safe_idx = F.least(F.col("bucket_idx"), F.lit(nfin - 1)) + 1
    lo = F.element_at(F.array([F.lit(c) for c in [0] + ladder[:-1]]),
                      safe_idx).cast("long")
    hi = F.element_at(F.array([F.lit(c) for c in ladder]),
                      safe_idx).cast("long")
    interp_num = (lo * den * F.col("_cnt")
                  + (hi - lo) * (F.col("total_n") * num
                                 - F.col("_cum_prev") * den))
    interp_den = F.col("_cnt") * (den * 100)
    qvalue = F.when(F.col("bucket_idx") >= nfin,
                    F.lit(ladder[-1] / 100.0)) \
              .otherwise(interp_num.cast("double")
                         / interp_den.cast("double"))
    return crossing.select(
        *scols, "total_n", F.col("bucket_idx").cast("int").alias("bucket_idx"),
        F.when(F.col("bucket_idx") < nfin, hi.cast("double") / 100.0)
         .alias("bucket_le"),
        qvalue.alias("qvalue"))


_BUCKET_US = {"minute": 60_000_000, "hour": 3_600_000_000,
              "day": 86_400_000_000}


def trend_slope(events: DataFrame,
                series_cols: Sequence[str] = ("user_id", "event_type"),
                ts_col: str = "ts", value_col: str = "value",
                bucket: str = "hour") -> DataFrame:
    """Per-series OLS trend over the regular bucket grid — "is this metric
    drifting up, and how fast" (the regression twin of cusum_drift's
    changepoint view; Prometheus' ``deriv()`` computes the same statistic).

    Per series, samples aggregate onto a ``date_trunc(bucket)`` grid
    (y = the bucket's cents sum) with x = the bucket's integer index from
    the series' first active bucket (``div`` on microseconds — time-aware,
    so missing buckets shift nothing). The least-squares line then comes
    from the normal equations over four cross-moment sums::

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)

    Exactness: x is retention-bounded (a year of hours is 8 766 indices)
    and y is an exact cents integer, so every sum and the two normal-
    equation numerators stay EXACT in 128-bit decimal(38,0) arithmetic —
    a long product n·Σxy overflows int64 already at a year of busy hourly
    buckets (8 766 · 8 766² · y), which is why the moments widen to
    decimal before multiplying. The emitted doubles convert exactly while
    |numerator| < 2^53 (true at every test SF by orders of magnitude; the
    int64→double hardware-rounding argument from time_weighted_avg), and
    slope/intercept are then single IEEE divisions. A single-bucket
    series (denominator 0) emits NULL slope/intercept, not a fake 0.

    Shape: one raw-data exchange (the grid aggregation); the per-series
    min-bucket window and the final per-series regroup both run at grid
    grain and share one series-hash exchange (the window's partitioning is
    the regroup's exact key set).

    Output: series_cols…, n_buckets, x_last (long), sum_y_cents,
    slope_num, slope_den, intercept_num (doubles, exact-converted per the
    bound above), slope_cents_per_bucket, intercept_cents (doubles).
    """
    step_us = _BUCKET_US.get(bucket)
    if step_us is None:
        raise ValueError(f"unsupported bucket {bucket!r}")
    scols = list(series_cols)
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    # NULL samples are no observations: without the filter a bucket whose
    # values are all NULL lands in n/Σx/Σx² but not Σy/Σxy and FABRICATES
    # a slope (review finding; the hampel/histogram policy, applied here)
    events = events.filter(F.col(value_col).isNotNull())
    grid = (events
            .groupBy(*scols,
                     F.date_trunc(bucket, F.col(ts_col)).alias("_b"))
            .agg(F.sum(cents.cast("decimal(18,0)")).alias("_y")))
    us = F.unix_micros(F.col("_b").cast("timestamp"))
    win = Window.partitionBy(*scols)
    if bucket == "day":
        # CALENDAR day index, not a fixed 86400-second div: in a zoned
        # session a DST day is 23/25 h and the fixed div collides or
        # skips indices (the period_over_period/lag_coupling rule)
        x = F.datediff(F.col("_b"),
                       F.min(F.col("_b")).over(win)).cast("long")
        grid = grid.select(*scols, "_y", x.alias("_x"))
    else:
        lo = F.min(us).over(win)
        # `div` (exact int64 division), never float `/`: a microsecond
        # offset past 2^53 would land samples in the wrong bucket
        grid = (grid.select(*scols, "_y", (us - lo).alias("_off"))
                .select(*scols, "_y",
                        F.expr(f"_off div {step_us}").alias("_x")))
    xd = F.col("_x").cast("decimal(10,0)")
    yd = F.col("_y").cast("decimal(18,0)")
    s = (grid.groupBy(*scols)
         .agg(F.count("*").cast("long").alias("n_buckets"),
              F.max("_x").cast("long").alias("x_last"),
              F.sum(xd).alias("_sx"),
              F.sum(yd).alias("_sy"),
              F.sum(xd * yd).alias("_sxy"),
              F.sum(xd * xd).alias("_sxx")))
    n = F.col("n_buckets").cast("decimal(10,0)")
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    inum = F.col("_sy") * F.col("_sxx") - F.col("_sx") * F.col("_sxy")
    return (s.select(
        *scols, "n_buckets", "x_last",
        F.col("_sy").cast("double").alias("sum_y_cents"),
        num.cast("double").alias("slope_num"),
        den.cast("double").alias("slope_den"),
        inum.cast("double").alias("intercept_num"))
        .withColumn("slope_cents_per_bucket",
                    F.when(F.col("slope_den") != 0.0,
                           F.col("slope_num") / F.col("slope_den")))
        .withColumn("intercept_cents",
                    F.when(F.col("slope_den") != 0.0,
                           F.col("intercept_num") / F.col("slope_den"))))


def seasonal_baseline(events: DataFrame,
                      series_cols: Sequence[str] = ("event_type",),
                      ts_col: str = "ts", value_col: str = "value",
                      tol_num: int = 1, tol_den: int = 2) -> DataFrame:
    """Hour-of-day seasonal profile with anomaly counts — "what does a
    normal 3 pm look like for this metric, and how many samples broke it"
    (the seasonal twin of znorm_outliers; a paging pipeline compares
    against the same-hour baseline, not the global mean, or every daily
    peak pages).

    Per (series, hour-of-day) cell the baseline is the cell's mean; a
    sample is anomalous when ``|v − mean| > (tol_num/tol_den) · |mean|``.
    That test is evaluated DIVISION-FREE by cross-multiplication on exact
    integers::

        tol_den · |v·n − s| > tol_num · |s|        (n = cell count,
                                                    s = cell cents sum)

    so the flag is bit-reproducible by any SQL engine — no float mean, no
    epsilon. The cents sum rides decimal(18→28,0) (a long sum over a
    billion-row cell would overflow int64 SILENTLY in non-ANSI mode), and
    the products stay inside decimal(38,0). The emitted mean is one
    int64→double-exact division; anom_rate a second.

    Shape: ONE exchange — the per-(series, hod) window partitioning IS the
    final grouping key set, so the flag evaluation and the regroup share
    the single hash exchange, and nothing ever widens beyond a
    (series, hour-of-day) cell (24·|series| cells total).

    Output: series_cols…, hod, n_samples, sum_cents (double,
    exact-converted under the 2^53 bound), mean_value, n_anom, anom_rate.
    """
    if tol_num < 0 or tol_den < 1:
        raise ValueError("tolerance must satisfy tol_num >= 0, tol_den >= 1")
    scols = list(series_cols)
    hod = F.hour(F.col(ts_col)).cast("int")
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    # NULL samples are no observations: counting them in the window n but
    # not the sum s corrupts the cross-multiplied test — a cell holding
    # [30.0, NULL] would flag its only real sample (review finding)
    events = events.filter(F.col(value_col).isNotNull())
    staged = events.select(*scols, hod.alias("hod"), cents.alias("_c"))
    w = Window.partitionBy(*scols, "hod")
    n = F.count("*").over(w)
    s = F.sum(F.col("_c").cast("decimal(18,0)")).over(w)
    vn = F.col("_c").cast("decimal(18,0)") * n.cast("decimal(10,0)")
    dev = F.abs(vn - s)
    flag = (dev * F.lit(int(tol_den)).cast("decimal(4,0)")
            > F.abs(s) * F.lit(int(tol_num)).cast("decimal(4,0)"))
    return (staged
            .withColumn("_anom", flag.cast("long"))
            .groupBy(*scols, "hod")
            .agg(F.count("*").cast("long").alias("n_samples"),
                 F.sum(F.col("_c").cast("decimal(18,0)"))
                 .cast("double").alias("sum_cents"),
                 F.sum("_anom").cast("long").alias("n_anom"))
            .withColumn("mean_value",
                        F.col("sum_cents")
                        / (F.col("n_samples") * 100).cast("double"))
            .withColumn("anom_rate",
                        F.col("n_anom").cast("double")
                        / F.col("n_samples").cast("double"))
            .select(*scols, "hod", "n_samples", "sum_cents", "mean_value",
                    "n_anom", "anom_rate"))


def bucketed_twa(events: DataFrame,
                 series_cols: Sequence[str] = ("user_id", "event_type"),
                 ts_col: str = "ts", id_col: str = "event_id",
                 value_col: str = "value",
                 bucket_seconds: int = 86400) -> DataFrame:
    """Bucketed time-weighted average with EXACT boundary splitting (the
    TimescaleDB interpolated-``time_weight`` idiom): where
    ``time_weighted_avg`` attributes each LOCF holding segment wholly to
    its left endpoint's bucket, this splits every segment across the
    integer bucket grid it crosses, so each bucket's integral covers
    precisely the microseconds observed inside it — the semantics a
    continuous aggregate needs when segments are long relative to the
    bucket (a value held 3 days must weight 3 daily buckets, not 1).

    Per series ordered by (ts, id): segment ``[t_i, t_{i+1})`` holds
    ``v_i``; it explodes into the buckets ``t_i div W .. (t_{i+1}-1)
    div W`` (W = bucket_seconds in µs) and contributes
    ``cents · overlap_µs`` to each. The series' final sample holds
    nothing. Slices per segment = gap/W, bounded by the source's max
    silence over the bucket width — the production lever is the bucket
    width, same as TimescaleDB's. All sums are exact int64
    (cents·µs per bucket ≤ 2e6·8.64e10 ≪ 2^63); twa is one IEEE
    division of exactly-converted integers. Post-epoch samples only
    (``us ≥ 0`` guard): truncating ``div`` would map a pre-1970 segment
    into bucket 0 with a negative overlap (the time_bucket_agg axis
    restriction).

    One exchange: the lead window hashes on the series; the exploded
    (series, bucket) grouping is clustered by that same partitioning.

    Output: series_cols…, bucket_ts (timestamp, grid-aligned),
    n_slices (long), held_us (long), vw_cents_us (long), twa (double).
    """
    if bucket_seconds < 1:
        raise ValueError("need bucket_seconds >= 1")
    scols = list(series_cols)
    w_us = int(bucket_seconds) * 1_000_000
    # post-epoch samples only: `div` truncates toward zero, so a negative
    # epoch would land in bucket 0 with a NEGATIVE overlap (the
    # time_bucket_agg guard, same hazard)
    events = events.filter(F.col(value_col).isNotNull()).filter(
        F.unix_micros(F.col(ts_col).cast("timestamp")) >= 0)
    w = Window.partitionBy(*scols).orderBy(ts_col, id_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    seg = (events
           .select(*scols, us.alias("_us0"), F.lead(us).over(w).alias("_us1"),
                   cents.alias("_c"))
           .filter(F.col("_us1") > F.col("_us0")))  # drops last + zero-len
    sliced = seg.select(
        *scols, "_us0", "_us1", "_c",
        F.explode(F.sequence(F.expr(f"_us0 div {w_us}"),
                             F.expr(f"(_us1 - 1) div {w_us}"))).alias("_b"))
    overlap = (F.least(F.col("_us1"), (F.col("_b") + 1) * w_us)
               - F.greatest(F.col("_us0"), F.col("_b") * w_us))
    staged = sliced.select(*scols, "_b", F.col("_c").alias("_c"),
                           overlap.alias("_len"))
    sum_len = F.sum("_len").cast("long")
    sum_vw = F.sum(F.col("_c") * F.col("_len")).cast("long")
    return (staged
            .groupBy(*scols, "_b")
            .agg(F.count("*").cast("long").alias("n_slices"),
                 sum_len.alias("held_us"),
                 sum_vw.alias("vw_cents_us"),
                 (sum_vw.cast("double")
                  / (sum_len * 100).cast("double")).alias("twa"))
            .select(*scols,
                    F.timestamp_micros(F.col("_b") * w_us).alias("bucket_ts"),
                    "n_slices", "held_us", "vw_cents_us", "twa"))


def topn_others(events: DataFrame, label_col: str = "event_type",
                ts_col: str = "ts", value_col: str = "value",
                bucket: str = "hour", n: int = 3) -> DataFrame:
    """Top-N series per bucket with the tail collapsed into ``__other__``
    (the Grafana/dashboard "top 3 + others" idiom): per
    ``date_trunc(bucket)``, rank labels by volume and keep the top ``n``
    as named rows; everything else folds into one ``__other__`` row so
    the panel's cardinality is fixed no matter how many labels exist.

    NULL values and NULL labels are no observations (the engine-wide /
    state_agg policy — a NULL group ranking into the top N would emit a
    panel row that is neither named nor ``__other__``). Rank is
    deterministic: row_number over (volume DESC, label ASC) —
    a bare rank-by-volume is nondeterministic on ties. Two-phase at
    scale: the first aggregation's map-side partials reduce the stream to
    |buckets × labels| rows BEFORE the rank window, so the window and
    the re-group never see raw events; the re-group rides the window's
    bucket partitioning (no third exchange).

    Output: bucket_ts, label (string), n_series (long, 1 for named rows),
    n_samples (long), volume_cents (long).
    """
    if n < 1:
        raise ValueError("need n >= 1")
    if bucket not in ("minute", "hour", "day", "week", "month"):
        # an unrecognized unit makes date_trunc return NULL and the whole
        # dataset silently collapses into one NULL-bucket panel
        raise ValueError(f"unsupported bucket {bucket!r}")
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    # NULL labels are no observations (the state_agg policy) — an unfiltered
    # NULL group could rank into the top N and emit a label=NULL panel row
    # (neither named nor __other__), and Spark/DuckDB order NULLs
    # differently at the rank boundary
    per = (events.filter(F.col(value_col).isNotNull()
                         & F.col(label_col).isNotNull())
           .groupBy(F.date_trunc(bucket, ts_col).alias("bucket_ts"),
                    F.col(label_col).alias("_lbl"))
           .agg(F.sum(cents).cast("long").alias("_v"),
                F.count("*").cast("long").alias("_ns")))
    rk = F.row_number().over(
        Window.partitionBy("bucket_ts").orderBy(F.desc("_v"), F.col("_lbl")))
    ranked = per.select(
        "bucket_ts", "_v", "_ns",
        F.when(rk <= n, F.col("_lbl")).otherwise(F.lit("__other__"))
        .alias("label"))
    return (ranked
            .groupBy("bucket_ts", "label")
            .agg(F.count("*").cast("long").alias("n_series"),
                 F.sum("_ns").cast("long").alias("n_samples"),
                 F.sum("_v").cast("long").alias("volume_cents")))


def seasonal_naive_backtest(events: DataFrame,
                            series_cols: Sequence[str] = ("event_type",),
                            ts_col: str = "ts", value_col: str = "value",
                            season_buckets: int = 24) -> DataFrame:
    """Forecast-accuracy scorecard for the seasonal-naive baseline (the
    M4-competition yardstick every fancier forecaster must beat): on the
    hourly grid, predict each bucket's cent-volume with the bucket exactly
    ``season_buckets`` hours earlier, and report per-series error
    aggregates. Scoring the BASELINE is the backtest a monitoring stack
    runs to decide whether a seasonal profile (seasonal_baseline) is even
    worth applying to a series.

    Integer-exact: bucket volume is Σcents (int64) on an epoch-hour index;
    the prediction lookup is a RANGE window frame pinned to exactly
    −season (a LAG would silently mis-align across missing hours);
    |error| and bias accumulate as int64, with single int→double
    divisions at the end. Buckets with no bucket one season earlier are
    unscored (coverage reports how many were). Post-epoch samples only
    (the truncating-div axis restriction, as bucketed_twa).

    One exchange: an up-front hash-repartition on the series key lets the
    (series, hour) aggregation AND the per-series window ride the same
    partitioning (hash(series) clusters every (series, hour) group).

    Output: series_cols…, n_buckets (long), n_scored (long), coverage
    (double), mae_cents (double), bias_cents (double), sae_cents (long),
    actual_cents (long).
    """
    if season_buckets < 1:
        raise ValueError("need season_buckets >= 1")
    scols = list(series_cols)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    staged = (events
              .filter(F.col(value_col).isNotNull())
              .filter(us >= 0)
              .select(*scols, F.expr(
                  f"unix_micros(cast({ts_col} as timestamp))"
                  f" div {3_600_000_000}").alias("_h"),
                  cents.alias("_c")))
    hourly = (staged.repartition(*scols)
              .groupBy(*scols, "_h")
              .agg(F.sum("_c").cast("long").alias("_v")))
    w = (Window.partitionBy(*scols).orderBy("_h")
         .rangeBetween(-season_buckets, -season_buckets))
    scored = hourly.select(
        *scols, "_v", F.max("_v").over(w).alias("_p"))
    err = F.col("_v") - F.col("_p")
    return (scored
            .groupBy(*scols)
            .agg(F.count("*").cast("long").alias("n_buckets"),
                 F.count("_p").cast("long").alias("n_scored"),
                 F.coalesce(F.sum(F.abs(err)), F.lit(0))
                 .cast("long").alias("sae_cents"),
                 F.sum(err).cast("long").alias("_bias_sum"),
                 F.sum("_v").cast("long").alias("actual_cents"))
            .select(*scols, "n_buckets", "n_scored",
                    (F.col("n_scored").cast("double")
                     / F.col("n_buckets").cast("double")).alias("coverage"),
                    (F.col("sae_cents").cast("double")
                     / F.nullif(F.col("n_scored"), F.lit(0)).cast("double"))
                    .alias("mae_cents"),
                    (F.col("_bias_sum").cast("double")
                     / F.nullif(F.col("n_scored"), F.lit(0)).cast("double"))
                    .alias("bias_cents"),
                    "sae_cents", "actual_cents"))


def threshold_episodes(events: DataFrame,
                       series_cols: Sequence[str] = ("user_id",
                                                     "event_type"),
                       ts_col: str = "ts", id_col: str = "event_id",
                       value_col: str = "value",
                       threshold: float = 100.0,
                       min_duration_seconds: int = 600) -> DataFrame:
    """Prometheus alert-rule evaluation (`expr > threshold` with a `for:`
    duration gate): per series, maximal runs of consecutive
    above-threshold samples become episodes; an episode FIRES only once
    its observed duration reaches ``min_duration_seconds`` — the pending/
    firing distinction that keeps flapping series from paging. The
    fixed-threshold sibling of :func:`cusum_episodes` (which detects
    level SHIFTS; this detects level EXCEEDANCE).

    Exactness: the threshold compare is int64 cents vs an int constant
    (quantized once, driver-side); durations are epoch-µs differences;
    the `for:` gate is an integer compare. Gaps-and-islands keying,
    episode aggregation, and episode numbering all ride ONE per-series
    exchange (the cusum_episodes shape). NULL values are no observations.

    Output: series_cols…, episode (long), n_samples (long), start_ts,
    end_ts, duration_us (long), peak_value (double), fired (int).
    """
    if min_duration_seconds < 0:
        raise ValueError("need min_duration_seconds >= 0")
    scols = list(series_cols)
    thr_cents = int(round(float(threshold) * 100))
    min_us = int(min_duration_seconds) * 1_000_000
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    ranked = (events.filter(F.col(value_col).isNotNull())
              .select(*scols, F.col(ts_col).alias("ts"),
                      F.col(id_col).alias("id"), cents.alias("_c"))
              .withColumn("_rn", F.row_number().over(
                  Window.partitionBy(*scols).orderBy("ts", "id"))))
    ep = _episodize(ranked.filter(F.col("_c") > thr_cents), scols,
                    (F.max("_c").cast("double") / F.lit(100.0))
                    .alias("peak_value"))
    return ep.select(*scols, "episode", "n_samples",
                     "start_ts", "end_ts", "duration_us", "peak_value",
                     (F.col("duration_us") >= min_us).cast("int")
                     .alias("fired"))


def value_heatmap(events: DataFrame, ts_col: str = "ts",
                  value_col: str = "value", bucket: str = "hour",
                  bin_cents: int = 500) -> DataFrame:
    """Time × value 2D histogram — the data source behind a Grafana
    heatmap panel: per ``date_trunc(bucket)`` × fixed-width value bin,
    the sample count. Complements m4_downsample/lttb (shape-preserving
    line downsamples) with the DISTRIBUTION-preserving downsample: at
    100 TB a heatmap is the only honest way to draw a billion points.

    Exactness: bin index = int64 cents ``div`` bin_cents on the
    NON-NEGATIVE value axis (negative cents excluded and documented —
    Spark's ``div`` truncates toward zero while SQL ``//`` floors, the
    time_bucket_agg axis restriction applied to the value axis);
    bin_low_cents is the exact bin lower edge in cents. One
    (bucket, bin) exchange with map-side partials.

    Output: bucket_ts, bin (long), bin_low_cents (double), n (long).
    """
    if bin_cents < 1:
        raise ValueError("need bin_cents >= 1")
    if bucket not in ("minute", "hour", "day", "week", "month"):
        raise ValueError(f"unsupported bucket {bucket!r}")
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    staged = (events.filter(F.col(value_col).isNotNull())
              .select(F.date_trunc(bucket, ts_col).alias("bucket_ts"),
                      cents.alias("_c"))
              .filter(F.col("_c") >= 0)
              .withColumn("_bin", F.expr(f"_c div {int(bin_cents)}")))
    return (staged
            .groupBy("bucket_ts", "_bin")
            .agg(F.count("*").cast("long").alias("n"))
            .select("bucket_ts", F.col("_bin").alias("bin"),
                    (F.col("_bin") * int(bin_cents)).cast("double")
                    .alias("bin_low_cents"),
                    "n"))


def _key_bucket_cents(events: DataFrame, key_col: str, ts_col: str,
                      value_col: str, bucket: str) -> DataFrame:
    """The pinned (key, bucket) grid of :func:`pair_correlation` and
    :func:`spearman_matrix`: ``_k``, ``_b`` (``date_trunc(bucket)``) and
    ``_y``, the exact decimal(18,0) cents sum — one raw pass, K·B rows."""
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    return pin(events.filter(F.col(value_col).isNotNull()
                             & F.col(key_col).isNotNull())
               .groupBy(F.col(key_col).alias("_k"),
                        F.date_trunc(bucket, F.col(ts_col)).alias("_b"))
               .agg(F.sum(cents.cast("decimal(18,0)"))
                    .cast("decimal(18,0)").alias("_y")))


def pair_correlation(events: DataFrame, key_col: str = "event_type",
                     ts_col: str = "ts", value_col: str = "value",
                     bucket: str = "hour") -> DataFrame:
    """Pearson correlation MATRIX between per-key bucket volumes — "do
    these two metrics move together" (TimescaleDB ``corr()``, kdb
    ``cor``; the pairwise twin of :func:`trend_slope`'s single-series
    regression). Per key, samples aggregate to a ``date_trunc(bucket)``
    cents-sum series; per key pair (key1 < key2), the correlation runs
    over the UNION of the two keys' active buckets with the inactive
    side counted as 0 — an hour where one metric traded and the other
    didn't is genuine anti-co-movement signal, not missing data.

    Exactness (the trend_slope discipline): every cross-moment is an
    exact 128-bit decimal sum of int64 cents products, and the union
    grid needs NO grid completion — zeros contribute nothing to any
    sum, so marginal moments (n, Σx, Σx² per key) plus the co-active
    Σxy (inner self-join on the bucket) recover the union-grid moments
    algebraically: n_union = n1 + n2 − n_co. The emitted doubles
    (num = n·Σxy − Σx·Σy and the two variance terms) convert exactly
    while |value| < 2^53 (measured ~7e14 at sf0.1 — 12× headroom);
    corr is then one division of two single-rounded IEEE terms
    (sqrt is correctly rounded by IEEE 754), bit-identical cross-engine.
    A constant or empty side (zero variance) emits NULL corr, not NaN.

    Shape: ONE raw-data pass — the grid aggregation is pinned once
    (:func:`_key_bucket_cents`) because the marginal rollup and BOTH
    sides of the co-active self-join read it; without the pin Spark
    recomputes the full raw scan+exchange for each of the three
    references (measured: 4 raw scans → 1; the 4 remaining exchanges
    are all grid-grain). Everything after runs at grid grain (K·B
    rows). The
    co-active self-join is an equi-join on the bucket producing ≤ K²
    rows per bucket — the inherent correlation-matrix cost; for large K
    cap the key set (or block the matrix) upstream. The marginal pair
    frame is K×K tiny (broadcast, known-benign cartesian).

    Output: key1, key2, n_buckets (long, union grid), n_co (long),
    corr_num, corr_denx, corr_deny (doubles, exact per the bound),
    corr (double, NULL on zero variance).
    """
    if bucket not in _BUCKET_US and bucket != "day":
        raise ValueError(f"unsupported bucket {bucket!r}")
    g = _key_bucket_cents(events, key_col, ts_col, value_col, bucket)
    marg = (g.groupBy("_k")
            .agg(F.count("*").cast("long").alias("_n"),
                 F.sum("_y").cast("decimal(38,0)").alias("_sx"),
                 F.sum(F.col("_y") * F.col("_y")).cast("decimal(38,0)")
                 .alias("_sxx")))
    a = g.select(F.col("_k").alias("_k1"), "_b", F.col("_y").alias("_ya"))
    b = g.select(F.col("_k").alias("_k2"), "_b", F.col("_y").alias("_yb"))
    co = (a.join(b, ["_b"])
          .filter(F.col("_k1") < F.col("_k2"))
          .groupBy("_k1", "_k2")
          .agg(F.count("*").cast("long").alias("_nco"),
               F.sum(F.col("_ya") * F.col("_yb")).cast("decimal(38,0)")
               .alias("_sxy")))
    m1 = marg.select(F.col("_k").alias("key1"), F.col("_n").alias("_n1"),
                     F.col("_sx").alias("_sx1"),
                     F.col("_sxx").alias("_sxx1"))
    m2 = marg.select(F.col("_k").alias("key2"), F.col("_n").alias("_n2"),
                     F.col("_sx").alias("_sx2"),
                     F.col("_sxx").alias("_sxx2"))
    z = F.lit(0).cast("decimal(38,0)")
    p = (m1.join(m2, F.col("key1") < F.col("key2"))
         .join(co, (F.col("key1") == F.col("_k1"))
               & (F.col("key2") == F.col("_k2")), "left")
         .select("key1", "key2",
                 (F.col("_n1") + F.col("_n2")
                  - F.coalesce(F.col("_nco"), F.lit(0))).alias("n_buckets"),
                 F.coalesce(F.col("_nco"), F.lit(0)).alias("n_co"),
                 F.coalesce(F.col("_sxy"), z).alias("_sxy"),
                 "_sx1", "_sxx1", "_sx2", "_sxx2"))
    nd = F.col("n_buckets").cast("decimal(10,0)")
    num = nd * F.col("_sxy") - F.col("_sx1") * F.col("_sx2")
    denx = nd * F.col("_sxx1") - F.col("_sx1") * F.col("_sx1")
    deny = nd * F.col("_sxx2") - F.col("_sx2") * F.col("_sx2")
    return (p.select(
        "key1", "key2", "n_buckets", "n_co",
        num.cast("double").alias("corr_num"),
        denx.cast("double").alias("corr_denx"),
        deny.cast("double").alias("corr_deny"))
        .withColumn("corr",
                    F.when((F.col("corr_denx") > 0.0)
                           & (F.col("corr_deny") > 0.0),
                           F.col("corr_num")
                           / (F.sqrt(F.col("corr_denx"))
                              * F.sqrt(F.col("corr_deny"))))))


def lttb_downsample(events: DataFrame, n_buckets: int = 64,
                    series_col: str = "user_id", ts_col: str = "ts",
                    id_col: str = "event_id",
                    value_col: str = "value") -> DataFrame:
    """LTTB-style shape-preserving downsampling (Steinarsson's
    Largest-Triangle-Three-Buckets, the Grafana/PlotJuggler default),
    in the FIXED-ANCHOR parallel variant: per pixel bucket keep the one
    sample forming the largest triangle with the neighboring buckets'
    centroids. This is the LONG-format distributed sibling of
    :func:`tsrollup.features.lttb` (which runs the CLASSIC sequential
    chain per doc row, where the series already sits in one task).
    Classic LTTB anchors the triangle on the previously
    SELECTED point — a sequential chain unusable on a cluster; with
    both anchors as bucket centroids the selection is embarrassingly
    parallel per bucket, deterministic, and visually near-identical
    (each centroid differs from the selected point by less than a
    pixel column). First/last buckets keep the series' first/last
    sample — the LTTB endpoint contract.

    Exactness: the argmax is decided on EXACT integers only. With
    centroids a = (Σxp/np, Σyp/np), c = (Σxn/nn, Σyn/nn) and candidate
    b = (xb, yb), twice the triangle area is
    |(xa−xc)(yb−ya) − (xa−xb)(yc−ya)|; multiplying through by the
    bucket-constant positive denominator np²·nn gives the integer
    score |f1·g1 − f2·g2| with f1 = Σxp·nn − Σxn·np, g1 = yb·np − Σyp,
    f2 = Σxp − xb·np, g2 = Σyn·np − Σyp·nn (x in µs offsets, y in int64
    cents, all products inside decimal(38,0) / DuckDB HUGEINT; the
    cents quantization only affects WHICH sample is picked, never the
    emitted value). Ties break by
    (t, id). The emitted t/v are RAW passthroughs — zero float
    arithmetic touches the output, so any engine agreeing on the
    argmax agrees on every byte.

    Shape: the m4_downsample single-series-exchange pattern — bucket
    assignment by exact integer div, per-bucket centroid sums at
    bucket grain, lag/lead anchors along the bucket axis, and the
    join back to candidates all cluster on (a superset of) the series
    key. Empty pixel columns simply don't appear; anchors come from
    the nearest non-empty neighbor buckets (the practical LTTB-on-
    gappy-data behavior).

    Output: series, bucket (long), n (long), t (timestamp), v (double).
    """
    if n_buckets < 3:
        raise ValueError("n_buckets must be >= 3 (endpoints + interior)")
    named = events.filter(F.col(value_col).isNotNull()).select(
        F.col(series_col).alias("series"), F.col(ts_col).alias("t"),
        F.col(id_col).alias("_id"),
        F.col(value_col).alias("v"),
        (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
        .alias("_yc"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"))
    ws = Window.partitionBy("series")
    lo = F.min("_us").over(ws)
    span = F.max("_us").over(ws) - lo
    staged = (named.select(
        "series", "t", "_id", "v", "_yc",
        (F.col("_us") - lo).alias("_x"),
        ((F.col("_us") - lo) * n_buckets).alias("_num"),
        (span + 1).alias("_den"))
        .withColumn("bucket", F.expr("_num div _den"))
        .drop("_num", "_den"))
    xd = F.col("_x").cast("decimal(20,0)")
    yd = F.col("_yc").cast("decimal(20,0)")
    bkt = (staged.groupBy("series", "bucket")
           .agg(F.count("*").cast("long").alias("_n"),
                F.sum(xd).cast("decimal(28,0)").alias("_sx"),
                F.sum(yd).cast("decimal(28,0)").alias("_sy")))
    wb = Window.partitionBy("series").orderBy("bucket")
    anch = bkt.select(
        "series", "bucket", F.col("_n").alias("n"),
        F.lag("_n").over(wb).alias("_np"),
        F.lag("_sx").over(wb).alias("_sxp"),
        F.lag("_sy").over(wb).alias("_syp"),
        F.lead("_n").over(wb).alias("_nn"),
        F.lead("_sx").over(wb).alias("_sxn"),
        F.lead("_sy").over(wb).alias("_syn"))
    j = staged.join(anch, ["series", "bucket"])
    npd = F.col("_np").cast("decimal(10,0)")
    nnd = F.col("_nn").cast("decimal(10,0)")
    f1 = (F.col("_sxp") * nnd - F.col("_sxn") * npd).cast("decimal(38,0)")
    g1 = (yd * npd - F.col("_syp")).cast("decimal(38,0)")
    f2 = (F.col("_sxp") - xd * npd).cast("decimal(38,0)")
    g2 = (F.col("_syn") * npd - F.col("_syp") * nnd).cast("decimal(38,0)")
    scored = j.withColumn("_score", F.abs(f1 * g1 - f2 * g2))
    wsel = Window.partitionBy("series", "bucket")
    rank = F.when(
        F.col("_np").isNull(),                      # first bucket: first pt
        F.row_number().over(wsel.orderBy("_x", "_id"))
    ).when(
        F.col("_nn").isNull(),                      # last bucket: last pt
        F.row_number().over(wsel.orderBy(F.desc("_x"), F.desc("_id")))
    ).otherwise(                                    # interior: max area
        F.row_number().over(wsel.orderBy(F.desc("_score"), "_x", "_id")))
    return (scored.withColumn("_rk", rank)
            .filter(F.col("_rk") == 1)
            .select("series", "bucket", "n", "t", "v"))


def disorder_stats(events: DataFrame,
                   series_cols: Sequence[str] = ("user_id",),
                   ts_col: str = "ts",
                   id_col: str = "event_id") -> DataFrame:
    """Out-of-orderness profile per series — the measurement that SIZES a
    streaming watermark (`withWatermark` delay) before deploying the
    stream: replay the batch in arrival order (``id_col`` ascending, the
    ingestion sequence) and ask how far each event's timestamp lags the
    maximum timestamp already seen. ``max_lateness_us`` IS the minimal
    watermark delay that would have dropped nothing; ``late_frac`` and
    the lateness mass say how much a tighter delay loses.

    Exactness: running max over exact integer µs; lateness sums/maxima
    int64; ``late_frac`` and ``avg_lateness_us`` are single IEEE
    divisions of exactly-converted int64 (NULL, not NaN, on empty
    denominators). NULL timestamps are no observations.

    Shape: ONE exchange — the per-series arrival-order window and the
    per-series rollup cluster on the same key.

    Output: series_cols…, n (long), n_late (long), late_frac (double),
    max_lateness_us (long), sum_lateness_us (long),
    avg_lateness_us (double, NULL when n_late = 0).
    """
    scols = list(series_cols)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    staged = (events.filter(F.col(ts_col).isNotNull())
              .select(*scols, F.col(id_col).alias("_id"), us.alias("_us")))
    w = (Window.partitionBy(*scols).orderBy("_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    prev_max = F.max("_us").over(w)
    late = prev_max.isNotNull() & (F.col("_us") < prev_max)
    lateness = F.when(late, prev_max - F.col("_us")).otherwise(F.lit(0))
    return (staged
            .select(*scols, late.cast("long").alias("_late"),
                    lateness.alias("_lat"))
            .groupBy(*scols)
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum("_late").cast("long").alias("n_late"),
                 F.max("_lat").cast("long").alias("max_lateness_us"),
                 F.sum("_lat").cast("long").alias("sum_lateness_us"))
            .select(*scols, "n", "n_late",
                    (F.col("n_late").cast("double")
                     / F.col("n").cast("double")).alias("late_frac"),
                    "max_lateness_us", "sum_lateness_us",
                    F.when(F.col("n_late") > 0,
                           F.col("sum_lateness_us").cast("double")
                           / F.col("n_late").cast("double"))
                    .alias("avg_lateness_us")))


def _user_bucket_ids(events: DataFrame, user_col: str, ts_col: str,
                     w_us: int) -> DataFrame:
    """(user, bucket-ordinal) staging shared by the census family
    (rolling_actives, retention_cohorts) with the uniform guard set —
    NULL users dropped (COUNT(DISTINCT) parity) and pre-epoch rows
    dropped (``div`` truncates toward zero while the bucket rule
    floors). Pre-distinct on purpose: callers `.distinct()` for the
    one-exchange dedup, while scan-level aggs (bucket bounds) read the
    raw frame without paying that exchange."""
    return (events
            .select(F.col(user_col).alias("_u"),
                    F.expr(f"unix_micros(cast({ts_col} as timestamp))")
                    .alias("_us"))
            .filter(F.col("_u").isNotNull() & (F.col("_us") >= 0))
            .select("_u", F.expr(f"_us div {w_us}").alias("_b")))


def rolling_actives(events: DataFrame, window_buckets: int = 24,
                    bucket_seconds: int = 3600,
                    user_col: str = "user_id",
                    ts_col: str = "ts") -> DataFrame:
    """Rolling distinct actives — "how many distinct users were active in
    the trailing W buckets", the DAU/WAU/MAU panel — WITHOUT the naive
    ×W row blowup or a sliding COUNT(DISTINCT) (which Spark cannot
    decompose at all: distinct-over-RANGE-frame isn't mergeable).

    The classical distributed rewrite, linear in the event count:

    1. distinct (user, bucket) — one exchange, map-side partial;
    2. per user, each active bucket b contributes membership over
       ``[b, b+W)``; consecutive/overlapping contribution intervals merge
       by the interval-union island rule (running max-end; same shape as
       segments.interval_coverage), leaving disjoint [start, end) runs —
       a second narrow exchange on user over (user, bucket) pairs only;
    3. each run becomes two deltas (+1 at start, −1 at end), aggregated
       to BUCKET grain — from here the data is one row per grid bucket,
       thousands of rows where the input had billions;
    4. a dense bucket grid (sequence over the observed range) left-joins
       the deltas and a single running sum yields the census. The global
       cumsum window runs on one partition BY DESIGN: it operates at grid
       grain (span/bucket rows — a year of hours is 8.8k rows), after
       both data-sized exchanges have already reduced.

    Exactness: buckets are integer µs div arithmetic (negative epochs
    excluded — div truncates, // floors); counts are exact int64. Every
    bucket in [min, max] of the OBSERVED event-bucket range is emitted,
    including zero-active interior buckets.

    Output: bucket_ts (timestamp, bucket start), active_users (long) —
    distinct users with ≥1 event in the W buckets ending at this one,
    i.e. with event time in [bucket_ts − (W−1)·width, bucket_ts + width).
    """
    if window_buckets < 1 or bucket_seconds < 1:
        raise ValueError("need window_buckets >= 1 and bucket_seconds >= 1")
    w_us = int(bucket_seconds) * 1_000_000
    staged = _user_bucket_ids(events, user_col, ts_col, w_us)
    hb = staged.distinct()
    # contribution interval of bucket b is [b, b+W) on the bucket axis;
    # sorted by start and all W wide, runs merge exactly when the next
    # start is within the previous reach (touching merges: half-open)
    w = Window.partitionBy("_u").orderBy("_b")
    prev_end = (F.lag("_b").over(w) + F.lit(window_buckets))
    new_run = F.when(prev_end.isNull()
                     | (F.col("_b") > prev_end), 1).otherwise(0)
    run = (hb.withColumn("_new", new_run)
           .withColumn("_run", F.sum("_new").over(
               w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
           .groupBy("_u", "_run")
           .agg(F.min("_b").alias("_rs"),
                (F.max("_b") + F.lit(window_buckets)).alias("_re")))
    # one explode, not a self-union: a union would reference `run` twice
    # and (absent caching) re-run the whole events-sized upstream per
    # branch (plan-audit finding, round 5)
    deltas = (run
              .select(F.explode(F.array(
                  F.struct(F.col("_rs").alias("_g"), F.lit(1).alias("_d")),
                  F.struct(F.col("_re").alias("_g"),
                           F.lit(-1).alias("_d")))).alias("_x"))
              .select("_x._g", "_x._d")
              .groupBy("_g").agg(F.sum("_d").cast("long").alias("_delta")))
    # bounds come from the RAW bucket column (same extremes as the
    # distinct's — min/max don't care about multiplicity): a column-pruned
    # scan-level partial agg, not a second distinct pass
    bounds = staged.agg(F.min("_b").alias("_lo"), F.max("_b").alias("_hi"))
    grid = bounds.select(
        F.explode(F.sequence("_lo", "_hi")).alias("_g"))
    gw = Window.orderBy("_g").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    return (grid.join(deltas, "_g", "left")
            .select("_g", F.coalesce("_delta", F.lit(0)).alias("_delta"))
            .withColumn("active_users", F.sum("_delta").over(gw))
            .select(F.timestamp_micros(F.col("_g") * F.lit(w_us))
                    .alias("bucket_ts"),
                    F.col("active_users").cast("long")))


def spearman_matrix(events: DataFrame, key_col: str = "event_type",
                    ts_col: str = "ts", value_col: str = "value",
                    bucket: str = "hour") -> DataFrame:
    """Spearman RANK correlation matrix between per-key bucket volumes —
    the robust/monotone twin of :func:`pair_correlation` (Pearson):
    outlier hours can't dominate, and any monotone co-movement scores
    |ρ| → 1. Standard two-sample semantics: for each pair the statistic
    runs over their CO-ACTIVE buckets, with both sides ranked WITHIN the
    pair's joined sample (ranks over a union grid with zero-fill are a
    different statistic — the zero block's ranks would be artifacts of
    grid completion, so the co-active form is the one every stats
    library computes).

    Exactness: ranks use the average-tie convention on a ×2 integer
    scale — a tie group of m values starting at dense position p (1-based
    ``rank()``) gets 2p + m − 1, an exact int64 both engines reproduce —
    and the Pearson-on-ranks moments are exact decimal(38,0) sums
    (ranks ≤ 2n, Σxy ≤ 4n³: at n = a year of hourly buckets that is
    ~2.7e12, far under both the decimal and the 2^53 double-emission
    bounds). corr is one division of single-rounded IEEE terms; all-tied
    (zero-variance) sides emit NULL, not NaN.

    Shape: one raw pass to the pinned bucket grid (the self-join reads
    it twice), the co-active equi-join on the bucket
    (≤ K² rows per bucket, the inherent matrix cost), then rank windows
    and the final moment aggregation ALL on the (key1, key2) pair
    partitioning — one pair-grain exchange.

    Output: key1, key2, n_co (long), rho_num, rho_denx, rho_deny
    (doubles, exact per the bound), rho (double, NULL on zero variance).
    """
    if bucket not in _BUCKET_US:
        raise ValueError(f"unsupported bucket {bucket!r}")
    g = _key_bucket_cents(events, key_col, ts_col, value_col, bucket)
    a = g.select(F.col("_k").alias("_k1"), "_b", F.col("_y").alias("_ya"))
    b = g.select(F.col("_k").alias("_k2"), "_b", F.col("_y").alias("_yb"))
    co = a.join(b, ["_b"]).filter(F.col("_k1") < F.col("_k2"))
    pair = Window.partitionBy("_k1", "_k2")

    def _r2(c: str) -> Column:
        # average-tie rank on the ×2 integer scale: 2·rank + m − 1
        rank = F.rank().over(pair.orderBy(c))
        m = F.count("*").over(pair.partitionBy("_k1", "_k2", c))
        return (2 * rank + m - 1).cast("long")

    ranked = co.select("_k1", "_k2", _r2("_ya").alias("_rx"),
                       _r2("_yb").alias("_ry"))
    # widen BEFORE multiplying (the trend_slope rule): rank products in
    # raw int64 would overflow past n ≈ 2^20 buckets
    d = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    mom = (ranked.groupBy("_k1", "_k2")
           .agg(F.count("*").cast("long").alias("n_co"),
                F.sum(d("_rx")).cast("decimal(38,0)").alias("_sx"),
                F.sum(d("_ry")).cast("decimal(38,0)").alias("_sy"),
                F.sum(d("_rx") * d("_rx")).cast("decimal(38,0)")
                .alias("_sxx"),
                F.sum(d("_ry") * d("_ry")).cast("decimal(38,0)")
                .alias("_syy"),
                F.sum(d("_rx") * d("_ry")).cast("decimal(38,0)")
                .alias("_sxy")))
    nd = F.col("n_co").cast("decimal(10,0)")
    num = nd * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    denx = nd * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    deny = nd * F.col("_syy") - F.col("_sy") * F.col("_sy")
    return (mom.select(
        F.col("_k1").alias("key1"), F.col("_k2").alias("key2"), "n_co",
        num.cast("double").alias("rho_num"),
        denx.cast("double").alias("rho_denx"),
        deny.cast("double").alias("rho_deny"))
        .withColumn("rho",
                    F.when((F.col("rho_denx") > 0.0)
                           & (F.col("rho_deny") > 0.0),
                           F.col("rho_num")
                           / (F.sqrt(F.col("rho_denx"))
                              * F.sqrt(F.col("rho_deny"))))))


def binary_segments(events: DataFrame,
                    series_cols: Sequence[str] = ("user_id", "event_type"),
                    ts_col: str = "ts", id_col: str = "event_id",
                    value_col: str = "value") -> DataFrame:
    """Depth-2 BINARY SEGMENTATION per series — up to three changepoints
    (the classical multi-changepoint recursion, one level deep): the
    :func:`changepoint_cusum` estimator names τ₁, then the SAME exact
    cross-multiplied argmax runs again inside each half with half-local
    prefix sums. "Did the level shift more than once" is the question
    the single-τ op can't answer.

    Exactness: identical to the parent op — stat(τ) = |n·P_τ − τ·S| per
    (series, half) in decimal(38,0), ties to the smallest τ, every
    boundary sum an exact int64. Half-local prefixes derive from the
    GLOBAL prefix column by subtracting the τ₁ boundary values — no
    re-scan, no join.

    Shape: still ONE series-hash exchange — τ₁'s rank pick, the
    boundary-value broadcasts (max-of-flagged over the series window),
    and the per-(series, half) windows all partition on the series tuple
    or a superset of it, so every step is a sort within the same
    exchange (plan-guarded in tests).

    Output: series_cols…, n (long), tau1, stat1, tau_left, stat_left,
    tau_right, stat_right (taus GLOBAL 1-indexed positions; left/right
    NULL when that half has < 2 samples), and the four segment cents
    sums s1..s4 (boundaries [1..τL], (τL..τ₁], (τ₁..τR], (τR..n]; when a
    half has no split its first sum is 0 and the whole half's mass sits
    in the second — s1+s2 and s3+s4 are always the exact half totals).
    """
    scols = list(series_cols)
    events = events.filter(F.col(value_col).isNotNull())
    wseq = Window.partitionBy(*scols).orderBy(ts_col, id_col)
    wall = Window.partitionBy(*scols)
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    d38 = "decimal(38,0)"

    staged = events.select(
        *scols,
        F.row_number().over(wseq).alias("_rn"),
        F.sum(cents).over(
            wseq.rowsBetween(Window.unboundedPreceding, 0)).alias("_p"),
        F.count("*").over(wall).alias("_n"),
        F.sum(cents).over(wall).alias("_s"))
    stat1 = F.when(
        F.col("_rn") < F.col("_n"),
        F.abs(F.col("_n").cast(d38) * F.col("_p").cast(d38)
              - F.col("_rn").cast(d38) * F.col("_s").cast(d38)))
    pick1 = F.row_number().over(
        Window.partitionBy(*scols)
        .orderBy(F.col("_st1").desc_nulls_last(), F.col("_rn").asc()))
    # mask on the PICKED ROW'S stat, not just its rank: a 1-sample series
    # has only NULL-stat candidates, and its rank-1 row must not become τ₁
    ok1 = (F.col("_pk1") == 1) & F.col("_st1").isNotNull()
    s1 = (staged
          .withColumn("_st1", stat1)
          .withColumn("_pk1", pick1)
          .withColumn("_tau1", F.max(F.when(ok1, F.col("_rn"))).over(wall))
          .withColumn("_ptau1", F.max(F.when(ok1, F.col("_p"))).over(wall))
          .withColumn("_stat1", F.max(F.when(ok1, F.col("_st1")))
                      .over(wall)))
    # half-local coordinates (derived, never re-scanned)
    half = (F.col("_rn") > F.col("_tau1")).cast("int")
    s2 = s1.withColumn("_half", half).withColumn(
        "_lrn", F.when(F.col("_half") == 0, F.col("_rn"))
                 .otherwise(F.col("_rn") - F.col("_tau1"))).withColumn(
        "_lp", F.when(F.col("_half") == 0, F.col("_p"))
                .otherwise(F.col("_p") - F.col("_ptau1"))).withColumn(
        "_ln", F.when(F.col("_half") == 0, F.col("_tau1"))
                .otherwise(F.col("_n") - F.col("_tau1"))).withColumn(
        "_ls", F.when(F.col("_half") == 0, F.col("_ptau1"))
                .otherwise(F.col("_s") - F.col("_ptau1")))
    stat2 = F.when(
        F.col("_lrn") < F.col("_ln"),
        F.abs(F.col("_ln").cast(d38) * F.col("_lp").cast(d38)
              - F.col("_lrn").cast(d38) * F.col("_ls").cast(d38)))
    whalf = Window.partitionBy(*scols, "_half")
    pick2 = F.row_number().over(
        whalf.orderBy(F.col("_st2").desc_nulls_last(), F.col("_lrn").asc()))
    s3 = (s2.withColumn("_st2", stat2)
          .withColumn("_pk2", pick2)
          # a half of size < 2 has no valid candidate: its rank-1 row has
          # a NULL stat — masked below
          .withColumn("_vt", F.when((F.col("_pk2") == 1)
                                    & F.col("_st2").isNotNull(),
                                    F.col("_rn")))
          .withColumn("_vs", F.when((F.col("_pk2") == 1)
                                    & F.col("_st2").isNotNull(),
                                    F.col("_st2")))
          .withColumn("_vp", F.when((F.col("_pk2") == 1)
                                    & F.col("_st2").isNotNull(),
                                    F.col("_p"))))
    agg = (s3.groupBy(*scols)
           .agg(F.max("_n").cast("long").alias("n"),
                F.max("_tau1").cast("long").alias("tau1"),
                F.max("_stat1").cast("double").alias("stat1"),
                F.max(F.when(F.col("_half") == 0, F.col("_vt")))
                .cast("long").alias("tau_left"),
                F.max(F.when(F.col("_half") == 0, F.col("_vs")))
                .cast("double").alias("stat_left"),
                F.max(F.when(F.col("_half") == 1, F.col("_vt")))
                .cast("long").alias("tau_right"),
                F.max(F.when(F.col("_half") == 1, F.col("_vs")))
                .cast("double").alias("stat_right"),
                F.max(F.when(F.col("_half") == 0, F.col("_vp")))
                .cast("long").alias("_pL"),
                F.max("_ptau1").cast("long").alias("_p1"),
                F.max(F.when(F.col("_half") == 1, F.col("_vp")))
                .cast("long").alias("_pR"),
                F.max("_s").cast("long").alias("_S")))
    pL = F.coalesce(F.col("_pL"), F.lit(0))
    pR = F.coalesce(F.col("_pR"), F.col("_p1"))
    return (agg
            .filter(F.col("tau1").isNotNull())
            .select(*scols, "n", "tau1", "stat1",
                    "tau_left", "stat_left", "tau_right", "stat_right",
                    pL.alias("s1"),
                    (F.col("_p1") - pL).cast("long").alias("s2"),
                    (pR - F.col("_p1")).cast("long").alias("s3"),
                    (F.col("_S") - pR).cast("long").alias("s4")))


def retention_cohorts(events: DataFrame, bucket_seconds: int = 86_400,
                      user_col: str = "user_id",
                      ts_col: str = "ts") -> DataFrame:
    """Cohort retention matrix — the classic product-analytics triangle:
    users cohort by their FIRST active bucket (signup-day proxy), and
    cell (cohort, offset) counts how many of them were active again
    ``offset`` buckets later (``apply_retention`` is the STORAGE-TTL
    sense of "retention"; this is the user-behavior sense).

    Exactness: buckets are exact integer ``div`` on non-negative µs;
    each distinct (user, bucket) maps to exactly ONE (cohort, offset)
    cell, so the cell census is a plain COUNT over the deduplicated
    pairs — never a COUNT(DISTINCT) at matrix grain; cohort_size is the
    offset-0 cell (every cohort member is by construction active in its
    first bucket) carried by a window at MATRIX grain; the rate is one
    IEEE division of exact int64s.

    Shape: distinct (user, bucket) → per-user min-bucket window (the two
    data-sized exchanges) → matrix-grain regroup + cohort-size window
    (tiny: cohorts × offsets rows). Sparse cells (no returning user)
    are absent — the matrix reads as observations, not a dense grid.

    Output: cohort_ts (timestamp, cohort bucket start), day_offset
    (long, 0 = the cohort bucket itself), n_active (long), cohort_size
    (long), retention (double, n_active/cohort_size; the offset-0 row
    reads exactly 1.0).
    """
    if bucket_seconds < 1:
        raise ValueError("need bucket_seconds >= 1")
    w_us = int(bucket_seconds) * 1_000_000
    ud = _user_bucket_ids(events, user_col, ts_col, w_us).distinct()
    wu = Window.partitionBy("_u")
    cells = (ud
             .withColumn("_c", F.min("_b").over(wu))
             .groupBy("_c", (F.col("_b") - F.col("_c")).alias("day_offset"))
             .agg(F.count("*").cast("long").alias("n_active")))
    wc = Window.partitionBy("_c")
    size = F.max(F.when(F.col("day_offset") == 0,
                        F.col("n_active"))).over(wc)
    return (cells
            .withColumn("cohort_size", size.cast("long"))
            .select(F.timestamp_micros(F.col("_c") * F.lit(w_us))
                    .alias("cohort_ts"),
                    "day_offset", "n_active", "cohort_size",
                    (F.col("n_active").cast("double")
                     / F.col("cohort_size").cast("double"))
                    .alias("retention")))


def benford_census(events: DataFrame, value_col: str = "value",
                   group_col: str = "event_type") -> DataFrame:
    """Leading-significant-digit census per group — the Benford's-law
    drift detector for value streams (Nigrini's fraud/quality screen;
    natural multi-scale positive values lean toward P(d) = log10(1+1/d),
    so a shifted digit mix flags synthetic, clipped, or unit-mangled
    feeds before any downstream model sees them).

    Exactness: values quantize to int64 cents (the repo's decimal(18,2)
    events convention), the leading digit of |cents| is the first
    character of its decimal rendering — pure integer/string ops, no
    log10 anywhere — and the census is exact counts; ``share`` is the
    one IEEE division per row. The expected Benford shares need log10
    and are left to the caller (the libm rule; the counts are the
    oracle-checkable part). Zero cents has no significant digit and is
    censused as digit 0 rather than dropped — a zero-spike is exactly
    the kind of feed defect the screen exists to catch. NULL values
    drop (COUNT parity).

    Domain preconditions (both pinned by the events convention, not by a
    runtime check): |value| < 10^16, because Spark's non-ANSI
    double→decimal(18,2) cast NULLs on overflow (the row would then pass
    the isNotNull(value) filter yet emit a NULL digit, where an ANSI/
    DuckDB oracle errors instead); and values 2dp-representable, because
    HALF_UP tie behavior on an exact half-cent double (e.g. 0.125) is
    not pinned cross-engine. The fixture generator emits pre-rounded
    2dp values well inside both bounds.

    One exchange at (group, digit) grain behind a map-side partial.

    Output: group_col, digit (int, 0-9), n (long), n_group (long),
    share (double).
    """
    cents = F.abs((F.col(value_col).cast("decimal(18,2)") * 100)
                  .cast("long"))
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    w = Window.partitionBy(group_col)
    return (events
            .filter(F.col(value_col).isNotNull())
            .select(F.col(group_col), digit.alias("digit"))
            .groupBy(group_col, "digit")
            .agg(F.count("*").cast("long").alias("n"))
            .withColumn("n_group", F.sum("n").over(w))
            .withColumn("share", F.col("n").cast("double")
                        / F.col("n_group").cast("double")))
