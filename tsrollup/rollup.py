"""The rollup engine: gap-fill → base-tier windowed features → tier re-agg.

Three execution paths, all producing bit-identical rolled-up points:

1. ``rollup_sequences`` — the scale path. Each input row already holds one whole
   document's token array, so base-tier windowing is embarrassingly parallel:
   ``mapInArrow`` with ZERO shuffle, consuming token arrays as zero-copy slices
   of the Arrow list buffers. All retention tiers are computed in the same
   single pass per document (operator pipelining, SURVEY §4), so a 100 TB scan
   is read exactly once and never exchanged.

2. ``rollup_grouped`` — for documents chunked across rows (long sequences).
   Chunks re-assemble JVM-side (sort_array over collected structs — the one
   shuffle), then the same scale path runs on the reassembled docs.

3. ``reaggregate_tier`` — the continuous-aggregate maintenance path: computes a
   parent tier from a STORED child tier using pure DataFrame expressions (never
   re-reading raw tokens) — the analog of the reference's frozen-subgraph reuse
   (``arrythmia_experiment.py:191-193``). Integer partials re-aggregate in any
   order (exact); float partials use a window_start-sorted sequential fold so
   the result is bit-identical to the kernel's ``np.add.reduceat``.

Skew: no engine path repartitions its input — ``rollup_sequences`` is one
``mapInArrow`` with no exchange, and each doc's output depends on that doc
alone, so the rows are the same under any input partitioning.
``per_source_stats`` salts its first aggregation phase so a heavy source
spreads over many reducers, and adaptive execution splits skewed join
partitions at run time (``session.get_spark`` turns it on).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import BASE_WINDOW, N_BANDS, TIER_FACTOR
from .arrowbuf import binary_buffers, list_views, rows_array
from .kernels import (batch_tier_chain, batch_window_partials, derive_stats,
                      gap_fill)

ROLLUP_SCHEMA = (
    "doc_id string, source string, tier string, window_start long, "
    "count long, sum long, sumsq long, min int, max int, "
    "mean double, var double, "
    "spec_energy double, spec_mass double, spec_centroid double, "
    "band_energy array<double>"
)


_OUT_COLS = ("doc_id", "source", "tier", "window_start", "count", "sum",
             "sumsq", "min", "max", "mean", "var", "spec_energy", "spec_mass",
             "spec_centroid")


def _arrow_gap_filled_docs(rb, has_mask: bool
                           ) -> tuple[list[np.ndarray], np.ndarray]:
    """Gap-fill every doc of an Arrow RecordBatch; returns (non-empty filled
    signals, boolean keep-mask over the batch rows). Null token rows count as
    empty; a null gap_mask row means 'no gaps'."""
    tflat, toffs, tvalid = list_views(rb.column("tokens"))
    tflat = tflat.astype(np.int32, copy=False)
    if has_mask:
        mflat, moffs, mvalid = list_views(rb.column("gap_mask"))
        mflat = mflat.astype(bool, copy=False)
    n = rb.num_rows
    filled: list[np.ndarray] = []
    keep = np.zeros(n, dtype=bool)
    for i in range(n):
        if not tvalid[i]:
            continue
        t = tflat[toffs[i]:toffs[i + 1]]
        m = None
        if has_mask and mvalid[i]:
            m = mflat[moffs[i]:moffs[i + 1]]
        t = gap_fill(t, m)
        if t.shape[0]:
            filled.append(t)
            keep[i] = True
    return filled, keep


def _acc_record_batch(acc: dict[str, list]):
    """Concatenate the batch accumulator ONCE into an Arrow RecordBatch —
    band_energy as a list column built from its flat buffer (no per-row
    Python lists)."""
    import pyarrow as pa

    if not acc["count"]:
        return None
    arrs = []
    for c in _OUT_COLS:
        v = np.concatenate(acc[c])
        if c == "min" or c == "max":
            arrs.append(pa.array(v, type=pa.int32()))
        else:
            arrs.append(pa.array(v))
    arrs.append(rows_array(np.concatenate(acc["band_energy"], axis=0)))
    return pa.RecordBatch.from_arrays(arrs, list(_OUT_COLS) + ["band_energy"])


def _map_docs(df: DataFrame, window: int, tiers: dict[str, int],
              assemble, schema: str) -> DataFrame:
    """The front end both rollup maps share: ``mapInArrow`` over the pruned
    doc columns (doc_id, tokens, source[, gap_mask]) running, per Arrow
    batch, gap-fill → base-window partials → tier chain over the batch's
    non-empty docs. ``assemble(chain, doc_ids, sources)`` then builds the
    map's own output RecordBatch (None: nothing to emit)."""
    has_mask = "gap_mask" in df.columns
    cols = ["doc_id", "tokens", "source"] + (["gap_mask"] if has_mask else [])

    def run(batches):
        for rb in batches:
            filled, keep = _arrow_gap_filled_docs(rb, has_mask)
            if not filled:
                continue
            base, nw = batch_window_partials(filled, window)
            out = assemble(
                batch_tier_chain(base, nw, tiers),
                rb.column("doc_id").to_numpy(zero_copy_only=False)[keep],
                rb.column("source").to_numpy(zero_copy_only=False)[keep])
            if out is not None:
                yield out

    return df.select(*cols).mapInArrow(run, schema)


def _assemble_points(chain, doc_ids, srcs):
    """One flat ROLLUP_SCHEMA row per (doc, tier, window)."""
    acc: dict[str, list] = {c: [] for c in _OUT_COLS + ("band_energy",)}
    for tier, (p, tnw) in chain.items():
        d = derive_stats(p)
        total = int(tnw.sum())
        acc["doc_id"].append(np.repeat(doc_ids, tnw))
        acc["source"].append(np.repeat(srcs, tnw))
        acc["tier"].append(np.repeat(tier, total))
        for f in ("window_start", "count", "sum", "sumsq", "min",
                  "max", "spec_energy", "spec_mass"):
            acc[f].append(p[f])
        for f in ("mean", "var", "spec_centroid"):
            acc[f].append(d[f])
        acc["band_energy"].append(p["band_energy"])
    return _acc_record_batch(acc)


def rollup_sequences(df: DataFrame, window: int = BASE_WINDOW,
                     tiers: dict[str, int] = TIER_FACTOR) -> DataFrame:
    """Zero-shuffle rollup of a doc-per-row sequences table.

    Input columns: doc_id, tokens, source[, gap_mask]. Only those are read
    (column pruning reaches the parquet scan — verify with .explain()).

    Executes as ``mapInArrow``: token arrays are consumed as the Arrow list
    column's (flat values, offsets) pair — zero-copy NumPy slices per doc —
    instead of a pandas object column holding one materialized ndarray per
    row. Measured 3.2× faster end-to-end than a pandas-batch map at equal
    pinned cores; values are bit-identical (same kernels, same floats).
    """
    return _map_docs(df, window, tiers, _assemble_points, ROLLUP_SCHEMA)


def rollup_grouped(df: DataFrame, window: int = BASE_WINDOW,
                   tiers: dict[str, int] = TIER_FACTOR) -> DataFrame:
    """Rollup for chunked documents: rows are (doc_id, chunk_id, tokens, source
    [, gap_mask]); chunks of one doc are concatenated in chunk_id order JVM-side
    (sort_array over collected (chunk_id, tokens) structs → flatten — the one
    shuffle this engine ever does), then the reassembled doc-per-row table goes
    through the SAME zero-shuffle batched-kernel path as rollup_sequences.

    This shape beats a grouped pandas reassembly by ~20×: that form
    pays one Python invocation per GROUP (per doc), while here Python sees
    whole Arrow batches of reassembled docs — cf. the reference's grouped
    forward pass (SURVEY §3.2).
    """
    has_mask = "gap_mask" in df.columns
    parts = F.sort_array(F.collect_list(F.struct(
        F.col("chunk_id").alias("cid"),
        F.col("tokens").alias("t"),
        *([F.col("gap_mask").alias("m")] if has_mask else []),
    )))
    aggs = [
        F.flatten(F.transform(parts, lambda s: s["t"])).alias("tokens"),
        F.any_value("source").alias("source"),  # constant within a doc
    ]
    if has_mask:
        # a null chunk mask means "no gaps in this chunk": substitute an
        # all-False run of the chunk's length, else flatten over a null
        # nested array would null the WHOLE doc's mask (silent corruption)
        chunk_mask = lambda s: F.coalesce(  # noqa: E731
            s["m"], F.array_repeat(F.lit(False), F.size(s["t"])))
        aggs.append(
            F.when(F.every(F.isnull("gap_mask")), F.lit(None))
            .otherwise(F.flatten(F.transform(parts, chunk_mask)))
            .alias("gap_mask"))
    reassembled = df.groupBy("doc_id").agg(*aggs)
    return rollup_sequences(reassembled, window, tiers)


COMPRESSED_SCHEMA = (
    "doc_id string, source string, tier string, n_windows int, "
    "window_start binary, count binary, sum binary, sumsq binary, "
    "min binary, max binary, "
    "mean binary, var binary, spec_energy binary, spec_mass binary, "
    "spec_centroid binary, band_energy binary"
)

_INT_FIELDS = ("window_start", "count", "sum", "sumsq", "min", "max")
_FLOAT_FIELDS = ("mean", "var", "spec_energy", "spec_mass", "spec_centroid")


def is_packed(df: DataFrame) -> bool:
    """True iff ``df`` holds codec-packed rows (:data:`COMPRESSED_SCHEMA`)
    rather than flat rollup points."""
    return "n_windows" in df.columns


def _assemble_packed(chain, doc_ids, srcs):
    """One COMPRESSED_SCHEMA row per (doc, tier), partials codec-packed."""
    import pyarrow as pa

    from .codec import dod_encode_many, gorilla_encode_many

    meta: dict[str, list] = {"doc_id": [], "source": [], "tier": [],
                             "n_windows": []}
    blobs: dict[str, list[np.ndarray]] = {
        f: [] for f in _INT_FIELDS + _FLOAT_FIELDS + ("band_energy",)}
    for tier, (p, tnw) in chain.items():
        d = derive_stats(p)
        ends = np.cumsum(tnw)
        starts = ends - tnw
        meta["doc_id"].append(doc_ids)
        meta["source"].append(srcs)
        meta["tier"].append(np.repeat(tier, tnw.shape[0]))
        meta["n_windows"].append(tnw.astype(np.int32))
        for f in _INT_FIELDS:
            arr = p[f].astype(np.int64)
            blobs[f].extend(arr[s:e] for s, e in zip(starts, ends))
        for f in _FLOAT_FIELDS:
            arr = d[f] if f in d else p[f]
            blobs[f].extend(arr[s:e] for s, e in zip(starts, ends))
        flat_be = p["band_energy"].reshape(-1)
        blobs["band_energy"].extend(
            flat_be[s * N_BANDS:e * N_BANDS] for s, e in zip(starts, ends))
    names = list(meta.keys())
    arrs = [pa.array(np.concatenate(meta[k])) if k != "n_windows"
            else pa.array(np.concatenate(meta[k]), type=pa.int32())
            for k in names]
    for f in _INT_FIELDS:
        names.append(f)
        arrs.append(pa.array(dod_encode_many(blobs[f]), type=pa.binary()))
    for f in _FLOAT_FIELDS + ("band_energy",):
        names.append(f)
        arrs.append(pa.array(gorilla_encode_many(blobs[f]), type=pa.binary()))
    return pa.RecordBatch.from_arrays(arrs, names)


def rollup_compressed(df: DataFrame, window: int = BASE_WINDOW,
                      tiers: dict[str, int] = TIER_FACTOR) -> DataFrame:
    """Rollup with at-rest compression, still ZERO shuffle: one output row per
    (doc, tier) holding codec-packed columns — delta-of-delta+varint for the
    int partials (window_start is monotone → ~1 byte/point), stream-split
    Gorilla XOR for the float aggregates (north_star compression requirement).
    """
    return _map_docs(df, window, tiers, _assemble_packed, COMPRESSED_SCHEMA)


def decompress_rollup(df: DataFrame) -> DataFrame:
    """Unpack codec-packed tier rows back to the flat ROLLUP_SCHEMA; exact
    inverse of rollup_compressed (codec round-trips are bit-exact).

    Executes as ``mapInArrow``: each packed column is decoded straight from
    its Arrow offsets and data buffers into one flat array per batch, and
    the per-row columns are repeated with one Arrow ``take``."""
    from .codec import dod_decode_flat, gorilla_decode_flat

    names = [c.split(" ")[0] for c in ROLLUP_SCHEMA.split(", ")]
    packed = ("doc_id", "source", "tier", "n_windows") + _INT_FIELDS \
        + _FLOAT_FIELDS + ("band_energy",)

    def run(batches):
        import pyarrow as pa

        for rb in batches:
            if not rb.num_rows:
                continue
            nws = rb.column("n_windows").to_numpy(zero_copy_only=False)
            rows = pa.array(np.repeat(np.arange(rb.num_rows), nws))
            arrs = [rb.column(c).take(rows) for c in ("doc_id", "source",
                                                      "tier")]
            for f in _INT_FIELDS:
                v = dod_decode_flat(*binary_buffers(rb.column(f)))
                arrs.append(pa.array(v.astype(np.int32) if f in ("min", "max")
                                     else v))
            for f in _FLOAT_FIELDS:
                arrs.append(pa.array(
                    gorilla_decode_flat(*binary_buffers(rb.column(f)))))
            be = gorilla_decode_flat(*binary_buffers(rb.column("band_energy")))
            arrs.append(rows_array(be.reshape(-1, N_BANDS)))
            yield pa.RecordBatch.from_arrays(arrs, names)

    return df.select(*packed).mapInArrow(run, ROLLUP_SCHEMA)


def reaggregate_tier(child: DataFrame, parent_tier: str, parent_factor: int,
                     window: int = BASE_WINDOW,
                     child_factor: int = 1) -> DataFrame:
    """Continuous aggregate: parent tier from a stored child tier, pure DataFrame.

    Never touches raw tokens. Integer partials (count/sum/sumsq/min/max) use
    native partial aggregation (exact in any order). Float partials
    (spec_energy/spec_mass/band_energy) fold sequentially in window_start
    order via sort_array(collect_list(struct)) + aggregate(), bit-matching
    the kernel's left-to-right accumulation (_seq_group_sum).

    Strategy note (A/B-measured on this box, 500k-child stored tier): the
    list-collect fold beats a fixed-width conditional aggregation (any_value
    per child slot) at BOTH factor 4 (1.3s vs 2.2s) and factor 60 (0.8s vs
    8.0s) — the slot form pays O(factor) CASE evaluations per input row and
    an O(factor)-wide aggregation buffer, while collect_list is O(1) per row
    plus an O(factor·log factor) per-group sort of a BOUNDED list (≤1440
    structs). ObjectHashAggregate partial-combines map-side and spills
    sort-based under pressure, so the shape holds at scale.

    ``parent_factor`` and ``child_factor`` are both relative to the BASE
    window (e.g. 1h from 1m: parent 60, child 1; 1d from stored 1h: parent
    1440, child 60). parent_factor must be a multiple of child_factor, same
    contract as kernels.tier_chain; the ordered fold itself is spacing-
    agnostic (it folds whatever children fall in the parent span).
    """
    assert parent_factor % child_factor == 0, \
        f"parent factor {parent_factor} not a multiple of child {child_factor}"
    span = window * parent_factor
    grouped = (
        child
        .withColumn("_pw", (F.col("window_start") / F.lit(span)).cast("long"))
        .groupBy("doc_id", "source", "_pw")
        .agg(
            F.min("window_start").alias("window_start"),
            F.sum("count").alias("count"),
            F.sum("sum").alias("sum"),
            F.sum("sumsq").alias("sumsq"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            F.sort_array(F.collect_list(F.struct(
                F.col("window_start").alias("ws"),
                F.col("spec_energy").alias("se"),
                F.col("spec_mass").alias("sm"),
                F.col("band_energy").alias("be"),
            ))).alias("_parts"),
        )
    )
    zero_bands = F.array(*[F.lit(0.0) for _ in range(N_BANDS)])
    folded = grouped.select(
        "doc_id", "source",
        F.lit(parent_tier).alias("tier"),
        "window_start", "count", "sum", "sumsq", "min", "max",
        F.aggregate("_parts", F.lit(0.0), lambda acc, p: acc + p["se"])
         .alias("spec_energy"),
        F.aggregate("_parts", F.lit(0.0), lambda acc, p: acc + p["sm"])
         .alias("spec_mass"),
        F.aggregate(
            "_parts", zero_bands,
            lambda acc, p: F.zip_with(acc, p["be"], lambda a, b: a + b),
        ).alias("band_energy"),
    )
    return derive_columns(folded)


def derive_columns(partials: DataFrame) -> DataFrame:
    """Derived mean/var/spec_centroid as Spark expressions, in the SAME pinned
    float op order as kernels.derive_stats (IEEE-deterministic either way)."""
    cnt = F.col("count").cast("double")
    s = F.col("sum").cast("double")
    sq = F.col("sumsq").cast("double")
    return partials.select(
        "doc_id", "source", "tier", "window_start",
        "count", "sum", "sumsq", "min", "max",
        (s / cnt).alias("mean"),
        (sq / cnt - (s / cnt) * (s / cnt)).alias("var"),
        "spec_energy", "spec_mass",
        F.when(F.col("spec_energy") > 0.0,
               F.col("spec_mass") / F.col("spec_energy"))
         .otherwise(F.lit(0.0)).alias("spec_centroid"),
        "band_energy",
    )


def per_source_stats(rolled: DataFrame, salt_buckets: int = 32) -> DataFrame:
    """Per-(source, tier) metrics over rolled-up points with SKEW-SAFE
    two-phase aggregation (SURVEY §4: AQE fixes skewed joins, but a skewed
    groupBy needs explicit salting): phase 1 aggregates per
    (source, tier, salt) so a Zipf-heavy source spreads over ``salt_buckets``
    reducers; phase 2 merges the decomposable partials. Results are exact —
    count/sum/min/max compose associatively and the derived mean uses one
    final division.
    """
    salt = F.pmod(F.xxhash64("doc_id", "window_start"), F.lit(salt_buckets))
    phase1 = (
        rolled
        .groupBy("source", "tier", salt.alias("_salt"))
        .agg(F.count("*").alias("n"),
             F.sum("count").alias("tok"),
             F.sum("sum").alias("s"),
             F.min("min").alias("mn"),
             F.max("max").alias("mx"))
    )
    return (
        phase1.groupBy("source", "tier")
        .agg(F.sum("n").cast("long").alias("n_points"),
             F.sum("tok").cast("long").alias("n_tokens"),
             (F.sum("s").cast("double") / F.sum("tok").cast("double"))
             .alias("token_mean"),
             F.min("mn").cast("long").alias("token_min"),
             F.max("mx").cast("long").alias("token_max"))
    )


#: default quantile set: label -> (numerator, denominator) of the exact
#: rational probability — rank = ceil(p·n) computed in integer arithmetic
QUANTILES_DEFAULT = {"p25": (1, 4), "p50": (1, 2),
                     "p75": (3, 4), "p90": (9, 10)}


def group_quantiles(df: DataFrame, group_cols=("source",),
                    value_col: str = "n_chars",
                    quantiles: dict[str, tuple[int, int]] | None = None
                    ) -> DataFrame:
    """EXACT per-group quantiles of a discrete-domain column, at scale.

    Definition (the lower / inverted-CDF quantile, DuckDB's
    ``quantile_disc``): q_p = the rank-⌈p·n⌉ value in sort order — an
    actual element, never an interpolation, so the result is exact-integer
    and any SQL engine reproduces it bit-for-bit. Probabilities are
    RATIONALS (num, den): rank = (num·n + den − 1) div den — no float
    ceil, whose 0.9·n is off-by-one at n = 10 (0.9 is not a binary
    fraction).

    Scale shape — histogram selection, NOT a per-group sort: raw rows
    aggregate to a (group, value) histogram first (map-side partials; the
    only exchange that touches raw data), then the cumulative-count window
    and the rank probes run over the histogram — |distinct values| rows
    per group, not |rows|. A window-over-raw-rows formulation would sort
    every row of a group on ONE reducer (a Zipf-heavy source at 100 TB is
    a straight OOM); this never materializes a group's rows in one place.
    Contract: the value domain is discrete/bounded (token counts, char
    lengths, status codes) so the histogram is small; for unbounded
    continuous domains use percentile_approx (sketch-mergeable) instead.

    Output: group_cols…, n_rows, n_distinct, vmin, vmax, one column per
    quantile label.
    """
    qs = dict(quantiles if quantiles is not None else QUANTILES_DEFAULT)
    for label, (num, den) in qs.items():
        if not (0 < num <= den):
            raise ValueError(f"quantile {label}: need 0 < num <= den, "
                             f"got {num}/{den}")
    groups = list(group_cols)
    hist = (df.groupBy(*groups, F.col(value_col).alias("_v"))
            .agg(F.count("*").cast("long").alias("_c")))
    wg = Window.partitionBy(*groups)
    cum = F.sum("_c").over(wg.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, 0))
    n = F.sum("_c").over(wg)
    probed = hist.select(*groups, "_v", "_c", cum.alias("_cum"),
                         n.alias("_n"))
    aggs = [F.sum("_c").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_distinct"),
            F.min("_v").alias("vmin"), F.max("_v").alias("vmax")]
    for label, (num, den) in qs.items():
        rank = F.expr(f"({num} * _n + {den} - 1) div {den}")
        aggs.append(F.min(F.when(F.col("_cum") >= rank, F.col("_v")))
                    .alias(label))
    return probed.groupBy(*groups).agg(*aggs)


def mad_outliers(df: DataFrame, group_cols=("source",),
                 value_col: str = "n_chars", k: int = 3) -> DataFrame:
    """Robust per-group outlier detection via MAD (median absolute
    deviation) — the estimator that doesn't move when the outliers do
    (z-scores feed the anomaly into its own threshold; znorm_outliers'
    documented weakness).

    EXACT and single-raw-pass: the (group, value) histogram is the only
    thing computed from raw rows; the median is a histogram selection
    (cumulative-count window + the ⌈n/2⌉ rank, the group_quantiles
    machinery), the deviation distribution |v − median| is DERIVED from
    the same histogram (re-keyed at histogram grain — values collapse in
    pairs, counts add), MAD is a second selection over it, and the outlier
    census Σ count·[dev > k·MAD] is integer arithmetic. No float
    quantiles, no second scan of raw data, no per-group sort of raw rows.

    Output: group_cols…, n_rows, median (long), mad (long),
    n_outliers (long, rows with |v − median| > k·MAD),
    outlier_frac (double, one IEEE division).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    groups = list(group_cols)
    hist = (df.groupBy(*groups, F.col(value_col).alias("_v"))
            .agg(F.count("*").cast("long").alias("_c")))
    wg = Window.partitionBy(*groups)
    n = F.sum("_c").over(wg)
    cum = F.sum("_c").over(wg.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, 0))
    rank = F.expr("(1 * _n + 1) div 2")
    staged = (hist.select(*groups, "_v", "_c", n.alias("_n"),
                          cum.alias("_cum"))
              .withColumn("_med",
                          F.min(F.when(F.col("_cum") >= rank,
                                       F.col("_v"))).over(wg)))
    devh = (staged
            .select(*groups, "_n", "_med",
                    F.abs(F.col("_v") - F.col("_med")).alias("_d"), "_c")
            .groupBy(*groups, "_d")
            .agg(F.max("_n").alias("_n"), F.max("_med").alias("_med"),
                 F.sum("_c").cast("long").alias("_c")))
    cum2 = F.sum("_c").over(wg.orderBy("_d").rowsBetween(
        Window.unboundedPreceding, 0))
    staged2 = (devh.withColumn("_cum", cum2)
               .withColumn("_mad",
                           F.min(F.when(F.col("_cum") >= rank,
                                        F.col("_d"))).over(wg)))
    out_c = F.when(F.col("_d") > F.lit(int(k)) * F.col("_mad"),
                   F.col("_c")).otherwise(F.lit(0))
    return (staged2.groupBy(*groups)
            .agg(F.max("_n").cast("long").alias("n_rows"),
                 F.max("_med").cast("long").alias("median"),
                 F.max("_mad").cast("long").alias("mad"),
                 F.sum(out_c).cast("long").alias("n_outliers"))
            .withColumn("outlier_frac",
                        F.col("n_outliers").cast("double")
                        / F.col("n_rows").cast("double")))


RETENTION_DEFAULT = {"1m": 1440, "1h": 168, "1d": 365}


def route_tier(range_positions: int, max_points: int,
               window: int = BASE_WINDOW,
               tiers: dict[str, int] = TIER_FACTOR) -> str:
    """Continuous-aggregate QUERY ROUTING: pick the FINEST tier whose
    per-doc point count over a token-position range fits ``max_points``
    (the Grafana maxDataPoints / TimescaleDB CAGG read rule — a dashboard
    asking for a year at 500 points should hit the day tier, never scan
    the minute tier and throw 99.97% of it away). Falls back to the
    COARSEST tier when even it exceeds the budget (the caller gets the
    cheapest over-budget answer rather than an error).

    Pure driver-side arithmetic: points(tier) = ⌈range / (window·factor)⌉
    over the same ``tiers`` dict the rollup writes, so routing can never
    name a tier the store doesn't have."""
    if range_positions < 1 or max_points < 1:
        raise ValueError("need range_positions >= 1 and max_points >= 1")
    if not tiers:
        raise ValueError("need at least one tier")
    coarsest = None
    for name, f in sorted(tiers.items(), key=lambda kv: kv[1]):
        if -(-range_positions // (window * f)) <= max_points:
            return name
        coarsest = name
    return coarsest


def read_routed(rolled: DataFrame, start_pos: int, end_pos: int,
                max_points: int, window: int = BASE_WINDOW,
                tiers: dict[str, int] = TIER_FACTOR) -> DataFrame:
    """Read the rolled store at the tier :func:`route_tier` picks for
    ``[start_pos, end_pos)`` — the read-path twin of the tier chain. The
    tier equality and window_start range land as plain column predicates,
    so a (tier, window_start)-partitioned/sorted store prunes partitions
    and row groups for free; windows are tagged by their START position, so a
    window straddling ``start_pos`` from before is excluded — the
    half-open bucket convention the tiers are built on.

    The pruning also holds on the real-time view of a codec-packed store:
    :func:`~tsrollup.checkpoint.read_realtime` tags each tier's decode
    branch with a literal tier, so the tier predicate drops every other
    tier's scan and decode (the minute tier is never read for a day-tier
    answer)."""
    if end_pos <= start_pos:
        raise ValueError("need end_pos > start_pos")
    t = route_tier(end_pos - start_pos, max_points, window, tiers)
    return rolled.filter((F.col("tier") == t)
                         & (F.col("window_start") >= start_pos)
                         & (F.col("window_start") < end_pos))


def apply_retention(rolled: DataFrame,
                    keep_windows: dict[str, int] = RETENTION_DEFAULT
                    ) -> DataFrame:
    """Retention policy over a rolled-up tier store: per (doc, tier) keep only
    the trailing ``keep_windows[tier]`` windows — finer tiers age out sooner,
    the TS-database retention contract (e.g. 1440 base windows ≈ one "day" of
    the finest tier, 365 of the coarsest). Tiers absent from the policy are
    kept whole.

    Expressed as rank-from-the-end over (doc, tier): one shuffle on the group
    keys; at the store level the same policy runs as a partition-pruned
    DELETE on the (tier, window_start) metadata, so no data file outside the
    horizon is ever rewritten.
    """
    rk = F.row_number().over(
        Window.partitionBy("doc_id", "tier").orderBy(F.desc("window_start")))
    out = rolled.withColumn("_rk", rk)
    cond = ~F.col("tier").isin(*list(keep_windows.keys()))
    for tier, n in keep_windows.items():
        cond = cond | ((F.col("tier") == tier) & (F.col("_rk") <= n))
    return out.filter(cond).drop("_rk")


def pyramid_tiles(a_units: int, b_units: int,
                  factors: dict[str, int]) -> dict[str, list[tuple[int, int]]]:
    """Greedy pyramid decomposition of ``[a_units, b_units)`` (base-window
    units) into aligned tier tiles — the continuous-aggregate READ planner:
    the largest tier whose aligned tiles fit covers the interior, finer
    tiers fill the edges, the factor-1 tier completes the remainder.
    Purely arithmetic (no data): the driver plans the tiling, executors
    only ever see the resulting range predicates.

    ``factors`` maps tier name → factor (MUST contain a factor-1 tier;
    each factor must divide every coarser one, the ``tier_chain``
    alignment contract — it guarantees an edge left by a coarse tier is
    itself aligned for the next finer one's greedy pass).

    Returns tier → list of half-open unit ranges [lo, hi) (hi − lo a
    multiple of the factor; empty tiers omitted). The ranges of all tiers
    together partition [a_units, b_units) exactly (property-tested).
    """
    ordered = sorted(factors.items(), key=lambda kv: -kv[1])
    if not ordered or ordered[-1][1] != 1:
        raise ValueError("factors must include a factor-1 (base) tier")
    for (_, coarse), (_, fine) in zip(ordered, ordered[1:]):
        if coarse % fine != 0:
            raise ValueError(f"factor {fine} does not divide {coarse}")
    out: dict[str, list[tuple[int, int]]] = {}
    pending = [(a_units, b_units)]
    for name, f in ordered:
        rest: list[tuple[int, int]] = []
        for lo, hi in pending:
            t0 = -(-lo // f) * f       # ceil to alignment
            t1 = (hi // f) * f         # floor to alignment
            if t0 < t1:
                out.setdefault(name, []).append((t0, t1))
                if lo < t0:
                    rest.append((lo, t0))
                if t1 < hi:
                    rest.append((t1, hi))
            else:
                rest.append((lo, hi))
        pending = [r for r in rest if r[0] < r[1]]
    assert not pending, "factor-1 tier must consume every remainder"
    return out


def read_range(rolled: DataFrame, a: int, b: int,
               window: int = BASE_WINDOW,
               factors: dict[str, int] | None = None,
               validate: bool = True) -> DataFrame:
    """Aggregate an arbitrary position range ``[a, b)`` from a stored tier
    pyramid — the hypertable/continuous-aggregate range-read path: a
    year-wide query touches a handful of coarse rows plus fine edges
    instead of re-scanning the finest tier end to end. Complements
    :func:`read_routed` (which picks ONE tier to fit a point budget and
    returns per-window rows): this op returns the EXACT aggregate of the
    range, stitched across tiers.

    ``rolled`` is a tier store in the ``rollup_sequences`` output shape
    (doc_id, tier, window_start, count/sum/sumsq/min/max partials);
    ``factors`` maps the store's tier names to their factors (defaults to
    the engine's TIER_FACTOR). ``a``/``b`` must be multiples of
    ``window`` — the finest stored grain IS the addressable resolution.

    Shape: ONE scan of the store under one OR-of-range predicate
    ((tier = t AND lo ≤ window_start < hi) …) — static, pushdown-eligible
    all the way to the parquet/Iceberg scan (range predicates over the
    (tier, window_start) layout prune row groups), then one doc-grain
    aggregation. No joins, no window functions.

    Exactness: count/sum/sumsq/min/max are INTEGER partials, so their
    re-aggregation is tiling-independent and bit-equal to a flat
    finest-tier aggregation; mean/var derive from the exact integers.
    The float spectral partials are deliberately NOT served here — their
    sequential fold is grouping-sensitive, so cross-tier mixes are the
    fixed-tier reaggregate_tier path's job (same rule the codec family
    follows: exact-or-absent).

    Docs shorter than ``b`` contribute their covered prefix (count says
    how much); docs with no window in range emit no row.

    ``validate`` (default on) checks that every PLANNED tier name exists
    in the store before reading: a ``factors`` map naming tiers the store
    never materialized would otherwise silently drop that tile's whole
    interior — an empty-or-partial answer from a function whose contract
    is exactness (review finding, round 5). The check is one
    ``select(tier).distinct()`` action — partition-listing-grade on a
    tier-partitioned layout; pass ``validate=False`` on hot paths that
    have already pinned the store's tier set.
    """
    if factors is None:
        factors = dict(TIER_FACTOR)
    if a % window or b % window:
        raise ValueError(f"range bounds must be multiples of window={window}")
    if a >= b or a < 0:
        raise ValueError("need 0 <= a < b")
    tiles = pyramid_tiles(a // window, b // window, factors)
    if validate:
        stored = {r[0] for r in rolled.select("tier").distinct().collect()}
        missing = sorted(set(tiles) - stored)
        if missing:
            raise ValueError(
                f"planned tier(s) {missing} absent from the store "
                f"(stored: {sorted(stored)}) — the stitched answer would "
                "silently lose their tiles; fix `factors` or materialize "
                "the tiers")
    pred = None
    for name, ranges in tiles.items():
        for lo, hi in ranges:
            p = ((F.col("tier") == name)
                 & (F.col("window_start") >= lo * window)
                 & (F.col("window_start") < hi * window))
            pred = p if pred is None else (pred | p)
    return (rolled
            .filter(pred)
            .groupBy("doc_id")
            .agg(F.sum("count").cast("long").alias("count"),
                 F.sum("sum").cast("long").alias("sum"),
                 F.sum("sumsq").cast("long").alias("sumsq"),
                 F.min("min").cast("long").alias("min"),
                 F.max("max").cast("long").alias("max"))
            .withColumn("mean", F.col("sum").cast("double")
                        / F.col("count").cast("double"))
            .withColumn("var", F.col("sumsq").cast("double")
                        / F.col("count").cast("double")
                        - (F.col("sum").cast("double")
                           / F.col("count").cast("double"))
                        * (F.col("sum").cast("double")
                           / F.col("count").cast("double"))))
