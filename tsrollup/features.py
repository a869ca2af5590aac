"""Per-sequence representation features: PAA, SAX, and exact autocorrelation.

The reference extracts learned features from fixed-length windows of a
signal (conv/pool stacks over the ``(N, T, V)`` tensor, e.g.
``TSFEDL/models_keras.py:59-63``); the classical, training-free counterparts
of that feature map are Piecewise Aggregate Approximation (Keogh et al.,
KAIS 2001), its SAX symbolization (Lin et al., DMKD 2007), and the
autocorrelation function — the standard pre-deep-learning representations
of the very same per-window statistics this engine rolls up.

Scale shape: the per-doc operators (PAA/SAX/ACF/LTTB/matrix-profile/HRV/
shape/energy) are pure per-row computations on the token ARRAY —
``F.slice`` / ``F.aggregate`` / ``F.zip_with`` higher-order functions,
never a position explode — so a 100 TB corpus pays a scan and zero
exchanges; the only row amplification is a constant per doc (``frames``
PAA rows, ``max_lag`` ACF rows), exploded AFTER the per-frame math so the
amplified rows are already tiny scalars. The corpus-grain operators
(source_drift_tv, ks_drift, ordinal_census) pay exactly ONE exchange at
their census grain, always behind a map-side partial aggregate.

Cross-engine determinism (every op has a DuckDB value oracle in
__spark_entry__.py):

* frame assignment is exact integer arithmetic — position ``p`` of an
  ``n``-token doc lands in frame ``p·F div n`` (the standard PAA index set,
  equal-width within ±1);
* frame sums / lengths / lag cross-moments are exact int64 (tokens are
  word lengths ≤ a few hundred, docs ≤ a few thousand tokens: products sit
  far below 2^53);
* the only floats are single IEEE divisions of exact integers (PAA mean,
  lag mean-product), bitwise identical in any engine;
* SAX symbols avoid the classical z-normalize→breakpoint lookup (whose
  sqrt/σ is libm-unsafe cross-engine): with integer breakpoints ``b`` the
  compare is the exact cross-multiplication ``frame_sum > b · frame_len``
  — no division at all. The alphabet is ordinal: symbol = number of
  breakpoints strictly below the frame mean.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .arrowbuf import row_slices
from .io import pin

#: default SAX breakpoints in token-value space (word-length tokens cluster
#: around 3-8; three integer breakpoints give a 4-letter alphabet a..d)
SAX_BREAKPOINTS = (3, 5, 7)


def paa(df: DataFrame, frames: int = 8,
        tokens_col: str = "tokens") -> DataFrame:
    """Piecewise Aggregate Approximation: split each doc's token series into
    ``frames`` equal-width frames (±1 position) and emit one row per
    non-empty frame with its exact sum/length and IEEE mean.

    Frame f covers positions [ceil(f·n/F), ceil((f+1)·n/F)) — the exact
    complement of the assignment ``p·F div n``, so a SQL engine grouping
    exploded positions by that quotient reproduces every row.

    Output: doc_id, frame, frame_len (long), frame_sum (long),
    paa (double = frame_sum / frame_len).
    """
    if frames < 1:
        raise ValueError("frames must be >= 1")
    n = F.size(tokens_col).cast("long")
    f = F.col("frame")
    # ceil(a/b) = (a + b - 1) div b on non-negative ints — exact
    start = F.expr(f"(frame * _n + {frames} - 1) div {frames}")
    nxt = F.expr(f"((frame + 1) * _n + {frames} - 1) div {frames}")
    length = (nxt - start).cast("int")
    frame_slice = F.slice(tokens_col, (start + 1).cast("int"), length)
    fsum = F.aggregate(frame_slice, F.lit(0).cast("long"),
                       lambda acc, x: acc + x.cast("long"))
    return (df
            .select("doc_id", tokens_col, n.alias("_n"),
                    F.explode(F.sequence(F.lit(0), F.lit(frames - 1)))
                    .alias("frame"))
            .select("doc_id", f.cast("int").alias("frame"),
                    length.alias("_len"), fsum.alias("frame_sum"))
            .filter(F.col("_len") > 0)
            .select("doc_id", "frame",
                    F.col("_len").cast("long").alias("frame_len"),
                    "frame_sum",
                    (F.col("frame_sum").cast("double")
                     / F.col("_len").cast("double")).alias("paa")))


def sax_symbol(frame_sum: Column, frame_len: Column,
               breakpoints: Sequence[int]) -> Column:
    """Ordinal SAX symbol for one frame: the number of breakpoints strictly
    below the frame mean, via the exact integer cross-multiplication
    ``frame_sum > b · frame_len`` (no division, no z-normalize — see module
    docstring)."""
    sym = F.lit(0)
    for b in breakpoints:
        sym = sym + F.when(frame_sum > F.lit(int(b)) * frame_len,
                           F.lit(1)).otherwise(F.lit(0))
    return sym.cast("int")


def paa_sax(df: DataFrame, frames: int = 8,
            breakpoints: Sequence[int] = SAX_BREAKPOINTS,
            tokens_col: str = "tokens") -> DataFrame:
    """PAA frames + SAX symbol per frame. Output adds ``symbol`` (int,
    0..len(breakpoints)) to :func:`paa`'s columns."""
    bps = [int(b) for b in breakpoints]
    if bps != sorted(set(bps)):
        raise ValueError("breakpoints must be strictly increasing")
    p = paa(df, frames=frames, tokens_col=tokens_col)
    return p.withColumn(
        "symbol", sax_symbol(F.col("frame_sum"), F.col("frame_len"), bps))


def sax_words(df: DataFrame, frames: int = 8,
              breakpoints: Sequence[int] = SAX_BREAKPOINTS,
              tokens_col: str = "tokens") -> DataFrame:
    """One SAX word per doc — the per-frame symbols as letters a, b, c, …
    concatenated in frame order. Array-native: the whole word is computed
    inside one row (transform over the frame sequence), so the operator is
    a pure map — zero shuffle, zero row amplification.

    Output: doc_id, n_frames (int, frames actually non-empty), sax_word.
    """
    bps = [int(b) for b in breakpoints]
    if bps != sorted(set(bps)):
        raise ValueError("breakpoints must be strictly increasing")
    if frames < 1:
        raise ValueError("frames must be >= 1")
    n = F.size(tokens_col).cast("long")

    def letter(f: Column) -> Column:
        # ceil via floor((a + F - 1)/F): the / is a double divide inside the
        # lambda (expr-div can't see the lambda variable), exact here —
        # f·n + F − 1 ≤ frames·4096 ≪ 2^53
        start = F.floor(((f * n) + frames - 1) / frames)
        nxt = F.floor((((f + 1) * n) + frames - 1) / frames)
        length = (nxt - start).cast("int")
        fsum = F.aggregate(
            F.slice(tokens_col, (start + 1).cast("int"), length),
            F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long"))
        sym = sax_symbol(fsum, length.cast("long"), bps)
        # chr(97 + symbol): 'a' + ordinal — identical in DuckDB chr()
        return F.when(length > 0, F.char(sym + 97)).otherwise(F.lit(""))

    fseq = F.sequence(F.lit(0), F.lit(frames - 1))
    word = F.array_join(F.transform(fseq, letter), "")
    return df.select(
        "doc_id",
        F.least(n, F.lit(frames)).cast("int").alias("n_frames"),
        word.alias("sax_word")).filter(F.col("n_frames") > 0)


def acf_moments(df: DataFrame, max_lag: int = 4,
                tokens_col: str = "tokens") -> DataFrame:
    """Exact autocorrelation raw moments per doc at lags 1..``max_lag``.

    For lag L over an n-token doc the n−L aligned pairs (x_t, x_{t+L})
    yield the exact integer moments

        n_pairs = n − L,   sxy = Σ x_t·x_{t+L},
        sx = Σ_{t<n−L} x_t,   sy = Σ_{t≥L} x_t,
        cov_num = n_pairs·sxy − sx·sy            (the covariance numerator)

    — everything int64-exact, so any SQL engine reproduces each bit. The
    one float, ``mean_prod = sxy / n_pairs``, is a single IEEE division.
    Normalization (÷ σ², a sqrt-free variance ratio) is left to the caller:
    like lag_coupling's Pearson denominators it is not bit-stable as a
    hash target, while the numerators are.

    Plan shape: pure per-row map — lags explode to ``max_lag`` rows per doc
    BEFORE the slice/zip_with math, but the arrays never explode; zero
    exchanges at any scale.

    Output: doc_id, lag, n_pairs, sxy, sx, sy, cov_num (longs),
    mean_prod (double). Docs shorter than lag+1 emit no row for that lag.
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    n = F.size(tokens_col)
    lag = F.col("lag")
    m = (n - lag).cast("int")  # pair count, > 0 after the filter
    head = F.slice(tokens_col, 1, m)
    tail = F.slice(tokens_col, lag + 1, m)

    def s(arr: Column) -> Column:
        return F.aggregate(arr, F.lit(0).cast("long"),
                           lambda acc, x: acc + x.cast("long"))

    sxy = s(F.zip_with(head, tail,
                       lambda a, b: a.cast("long") * b.cast("long")))
    sx, sy = s(head), s(tail)
    return (df
            .select("doc_id", tokens_col, n.alias("_n"),
                    F.explode(F.sequence(F.lit(1), F.lit(max_lag)))
                    .alias("lag"))
            .filter(F.col("_n") > lag)
            .select("doc_id", lag.cast("int").alias("lag"),
                    m.cast("long").alias("n_pairs"),
                    sxy.alias("sxy"), sx.alias("sx"), sy.alias("sy"))
            .withColumn("cov_num",
                        F.col("n_pairs") * F.col("sxy")
                        - F.col("sx") * F.col("sy"))
            .withColumn("mean_prod",
                        F.col("sxy").cast("double")
                        / F.col("n_pairs").cast("double")))


def _source_value_grid(df: DataFrame, group_col: str,
                       tokens_col: str) -> DataFrame:
    """The COMPLETE source × token-value grid of :func:`source_drift_tv`
    and :func:`ks_drift`: ``source``, ``v``, ``rt`` (the source's token
    total), ``ct`` (the value's total), ``o`` (the (source, value) count,
    NULL where the source never emits the value) and ``n`` (the corpus
    total). The (source, value) histogram is the one raw-token exchange;
    it is pinned because both marginals and the grid join read it."""
    t = df.select(F.col(group_col).alias("source"),
                  F.explode(tokens_col).alias("v"))
    hist = pin(t.groupBy("source", "v")
               .agg(F.count("*").cast("long").alias("o")))
    vals = hist.groupBy("v").agg(F.sum("o").cast("long").alias("ct"))
    srcs = hist.groupBy("source").agg(F.sum("o").cast("long").alias("rt"))
    n1 = vals.agg(F.sum("ct").cast("long").alias("n"))
    return (srcs.crossJoin(F.broadcast(vals))
            .join(hist, ["source", "v"], "left")
            .crossJoin(F.broadcast(n1)))


def source_drift_tv(df: DataFrame, group_col: str = "source",
                    tokens_col: str = "tokens") -> DataFrame:
    """Distribution drift of each source vs the whole corpus, as EXACT
    total-variation distance over the token-value histogram — the
    distribution-space twin of counters.cusum_drift (which detects drift
    in time): has a source's token distribution diverged from the mix?

    Chi-squared / KL need per-cell division or logs (libm-unsafe); TV
    clears to ONE common denominator per source:

        TV(s) = ½ Σ_v |o_sv/rt_s − ct_v/N|
              = Σ_v |o_sv·N − rt_s·ct_v|  /  (2·rt_s·N)

    The numerator sum is exact integer arithmetic in decimal(38,0)
    (products of two decimal(18,0) totals — safe past int64 for
    trillion-token corpora), the distance is one division of two exact
    values, so any SQL engine reproduces every bit at fixture scale.

    Scale shape: raw tokens hit ONE exchange — the (source, value)
    histogram aggregation with map-side partials. TV needs the COMPLETE
    source × value grid (a value a source never emits still contributes
    |0 − rt·ct|), so the histogram expands against the cross join of the
    two marginal tables — all at histogram grain (|sources| × |distinct
    values| rows, tiny; the value domain is discrete/bounded, the
    group_quantiles contract), with the grand total as a broadcast 1-row
    aggregate.

    Output: source, n_tokens, n_values (observed distinct values),
    linf_num, tv_num, tv (doubles exact below 2^53; tv ∈ [0, 1]).
    """
    d18 = "decimal(18,0)"
    grid = _source_value_grid(df, group_col, tokens_col).withColumn(
        "_o", F.coalesce(F.col("o"), F.lit(0)).cast(d18))
    dev = F.abs(F.col("_o") * F.col("n").cast(d18)
                - F.col("rt").cast(d18) * F.col("ct").cast(d18))
    probed = grid.select("source", "rt", "n", "_o", dev.alias("_dev"))
    return (probed.groupBy("source")
            .agg(F.max("rt").alias("n_tokens"),
                 F.sum(F.when(F.col("_o") > 0, 1).otherwise(0))
                 .cast("long").alias("n_values"),
                 F.max("_dev").cast("double").alias("linf_num"),
                 F.sum("_dev").cast("double").alias("tv_num"),
                 (F.sum("_dev").cast("double")
                  / (F.lit(2).cast(d18) * F.max("rt").cast(d18)
                     * F.max("n").cast(d18)).cast("double")).alias("tv")))


# ------------------------------------------------------------- LTTB ---------

def _map_series(df: DataFrame, tokens_col: str, per_doc,
                schema: str) -> DataFrame:
    """``mapInArrow`` over (doc_id, tokens): ``per_doc(y)`` maps each
    non-empty doc's int64 series to its output columns after doc_id, as
    equal-length arrays (None: no rows), and doc_id is repeated onto them
    with one Arrow ``take``."""
    names = [c.split(" ")[0] for c in schema.split(", ")]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            outs = [(i, per_doc(y)) for i, y in
                    zip(*row_slices(rb.column(tokens_col), np.int64))]
            outs = [(i, o) for i, o in outs if o is not None]
            if not outs:
                continue
            rows = np.concatenate([np.full(len(o[0]), i) for i, o in outs])
            yield pa.RecordBatch.from_arrays(
                [rb.column("doc_id").take(pa.array(rows))]
                + [pa.array(np.concatenate(c))
                   for c in zip(*(o for _, o in outs))], names)

    return df.select("doc_id", tokens_col).mapInArrow(run, schema)


def lttb_indices(y: np.ndarray, n_out: int) -> np.ndarray:
    """Largest-Triangle-Three-Buckets selection (Steinarsson 2013) over one
    integer series, made fully DETERMINISTIC: position index is x, the
    classical float bucket bounds and bucket-average anchor are replaced by
    exact integer arithmetic —

    * interior bucket bounds use the same ceil-division rule as PAA
      (positions 1..n−2 split into n_out−2 frames);
    * the triangle-area argmax clears the next-bucket-average denominator:
      with (sx, sy, c) the next bucket's sums/count and (xa, ya) the
      previously selected point, the compared magnitude is
      ``|(xa·c − sx)·(y_p − ya) − (xa − x_p)·(sy − c·ya)|`` — exact int64
      (positions and word-length tokens keep every product ≪ 2^63);
    * ties break to the SMALLEST position (np.argmax's first-hit rule).

    Returns the sorted selected positions (always includes 0 and n−1).
    """
    n = len(y)
    if n_out < 3:
        raise ValueError("n_out must be >= 3")
    if n <= n_out:
        return np.arange(n, dtype=np.int64)
    nb = n_out - 2
    m = n - 2  # interior positions 1..n-2
    # bucket k covers positions [1+ceil(k*m/nb), 1+ceil((k+1)*m/nb))
    bounds = 1 + (np.arange(nb + 1, dtype=np.int64) * m + nb - 1) // nb
    y = np.asarray(y, dtype=np.int64)
    sel = np.empty(n_out, dtype=np.int64)
    sel[0], sel[-1] = 0, n - 1
    xa, ya = 0, int(y[0])
    for k in range(nb):
        lo, hi = int(bounds[k]), int(bounds[k + 1])
        if k + 1 < nb:  # anchor: average of the NEXT bucket (sums, exact)
            nlo, nhi = int(bounds[k + 1]), int(bounds[k + 2])
            c = nhi - nlo
            sx = (nlo + nhi - 1) * c // 2  # sum of consecutive positions
            sy = int(y[nlo:nhi].sum())
        else:  # last interior bucket: anchor is the fixed last point
            c, sx, sy = 1, n - 1, int(y[n - 1])
        xs = np.arange(lo, hi, dtype=np.int64)
        ys = y[lo:hi]
        area2c = np.abs((xa * c - sx) * (ys - ya) - (xa - xs) * (sy - c * ya))
        pick = lo + int(np.argmax(area2c))
        sel[k + 1] = pick
        xa, ya = pick, int(y[pick])
    return sel


def lttb(df: DataFrame, n_out: int = 32,
         tokens_col: str = "tokens") -> DataFrame:
    """LTTB downsampling of every doc's token series to ``n_out`` visually
    representative points — the perceptual companion of counters.m4_downsample
    (M4 keeps extremes per pixel; LTTB keeps the max-triangle-area shape).

    Scale shape: the series is already one row (the engine's data model),
    so this is a pure ``mapInArrow`` — zero shuffle, embarrassingly
    parallel per doc. Inside a batch the bucket math is vectorized NumPy
    per doc (the doc loop is per-SERIES, not per-element — the same grain
    as the rollup kernels). Selection is integer-exact (see
    :func:`lttb_indices`), so results are bit-stable across platforms and
    pytest-pinned against an independent reference implementation; the
    sequential cross-bucket dependence has no SQL analog, so the query is
    rows-only by the documented convention.

    Output: doc_id, k (0..n_out−1 selection index), pos, val.
    """
    if n_out < 3:
        raise ValueError("n_out must be >= 3")

    def select(y):
        idx = lttb_indices(y, n_out)
        return (np.arange(len(idx), dtype=np.int32), idx.astype(np.int32),
                y[idx].astype(np.int32))

    return _map_series(df, tokens_col, select,
                       "doc_id string, k int, pos int, val int")


def matrix_profile_ref(y: np.ndarray, m: int,
                       excl: int) -> list[tuple[int, int, int]]:
    """Brute-force O(n²m) reference for :func:`matrix_profile` over one
    series — the independent double-loop implementation the vectorized
    kernel is pytest-pinned against. Returns (pos, mp_d2, mp_j) tuples."""
    y = np.asarray(y, dtype=np.int64)
    nw = len(y) - m + 1
    out = []
    for i in range(nw):
        best_d, best_j = None, None
        for j in range(nw):
            if abs(i - j) < excl:
                continue
            d = int(((y[i:i + m] - y[j:j + m]) ** 2).sum())
            if best_d is None or d < best_d:
                best_d, best_j = d, j
        if best_d is not None:
            out.append((i, best_d, best_j))
    return out


def matrix_profile(df: DataFrame, m: int = 16, max_positions: int = 256,
                   excl: int | None = None,
                   tokens_col: str = "tokens") -> DataFrame:
    """Matrix profile (Yeh et al., ICDM 2016) of every doc's token series:
    for each length-``m`` subsequence, the squared Euclidean distance to its
    nearest NON-TRIVIAL neighbor in the same series, plus that neighbor's
    position. The profile's minimum marks the series' best motif pair
    (repeated pattern); its maximum marks the discord (the subsequence least
    like any other) — the classical motif/anomaly-discovery companion of the
    rollup features (the reference mines the same per-window structure with
    learned conv filters, e.g. TSFEDL/models_keras.py:59-63; the matrix
    profile is its training-free counterpart).

    Deviations from the z-normalized original, both for cross-engine
    exactness: distances are UN-normalized squared Euclidean — tokens share
    one scale here, and integer d² is bit-reproducible by any SQL engine
    where the z-normalized variant's per-window σ division is not — and the
    trivial-match exclusion zone is ``excl = max(1, m // 2)`` (|i−j| < excl
    skipped; the original's m/4..m/2 convention, pinned to one exact rule).
    Ties break to the SMALLEST neighbor position (np.argmin first-hit ==
    SQL ``MIN(j) FILTER (d2 = min)``).

    Series are truncated to ``max_positions`` tokens, bounding the per-doc
    O(w²) pair space to (max_positions − m + 1)² — the same small-projection
    convention as the window=4 spectral oracle; realistic window sizes are
    pinned against :func:`matrix_profile_ref` in pytest.

    Scale shape: a doc is one row, so this is a pure ``mapInArrow`` — zero
    shuffle, embarrassingly parallel, constant row amplification (≤ w rows
    out per doc). Inside a batch each doc is one vectorized NumPy pass: the
    w×w distance matrix comes from ONE int64 Gram matmul via
    ``D = ‖Wᵢ‖² + ‖Wⱼ‖² − 2·W Wᵀ`` (exact: word-length tokens and m ≤ 256
    keep every entry ≪ 2^63), never a per-pair Python loop.

    Output: doc_id, pos, mp_d2 (long), mp_j (int). A window with no valid
    neighbor produces no row — that happens exactly when the exclusion band
    covers its whole row (interior windows of a short series: nw ≤ 2·excl;
    every window when nw ≤ excl) — the exact complement of the SQL
    oracle's inner join, which also drops neighbor-less windows.
    """
    if m < 2:
        raise ValueError("m must be >= 2")
    if max_positions < m:
        raise ValueError("max_positions must be >= m")
    if excl is None:
        excl = max(1, m // 2)
    if excl < 1:
        raise ValueError("excl must be >= 1 (0 would match a window to "
                         "itself at distance 0 everywhere)")

    def profile(y):
        from numpy.lib.stride_tricks import sliding_window_view

        y = y[:max_positions]
        nw = len(y) - m + 1
        if nw <= excl:  # no window has a non-trivial neighbor
            return None
        w = sliding_window_view(y, m)  # (nw, m) view, zero-copy
        g = w @ w.T  # int64 Gram — exact
        ss = np.diagonal(g)
        d = ss[:, None] + ss[None, :] - 2 * g
        # mask the trivial-match band |i-j| < excl with a sentinel
        # above any real d² (max token ~few hundred ⇒ d² ≪ 2^62)
        i_idx = np.arange(nw)
        band = np.abs(i_idx[:, None] - i_idx[None, :]) < excl
        d[band] = np.int64(2) ** 62
        j = d.argmin(axis=1)  # first hit == smallest j on ties
        best = d[i_idx, j]
        # a window can still lack ANY valid neighbor when the band
        # covers its whole row (nw <= 2*excl puts interior windows
        # inside every exclusion zone) — drop sentinel rows, the
        # exact complement of the SQL oracle's inner join
        ok = best < np.int64(2) ** 62
        if not ok.any():
            return None
        return (i_idx[ok].astype(np.int32), best[ok],
                j[ok].astype(np.int32))

    return _map_series(df, tokens_col, profile,
                       "doc_id string, pos int, mp_d2 long, mp_j int")


def ks_drift(df: DataFrame, group_col: str = "source",
             tokens_col: str = "tokens") -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift of each source vs the REST of
    the corpus, over the token-value distribution — the CDF/ordinal twin
    of :func:`source_drift_tv` (TV weighs every histogram cell equally;
    KS is the max CDF gap, the classic location/shift detector, and
    "rest" rather than "whole" keeps the two samples independent — a
    dominant source can't mask its own drift by dragging the mixture).

    Division- and libm-free until the last step:

        KS(s) = max_v |C_s(v)/n_s − C_r(v)/n_r|
              = max_v |C_s(v)·n_r − C_r(v)·n_s|  /  (n_s·n_r)

    with C the cumulative counts at every value of the UNION domain (the
    max can land on a value the source never emits — its CDF plateaus
    while the rest's climbs). The cross-multiplied argmax is exact
    decimal(38,0); ks is then one double division (both operands exact
    below 2^53 — the source_drift_tv bound). ``ks_at`` reports the value
    achieving the max (ties → smallest value) via a struct-max — a
    mergeable aggregate, no per-source sort.

    Scale shape: raw tokens hit ONE exchange (the (source, value)
    histogram with map-side partials — shared shape with
    source_drift_tv); everything after runs at grid grain
    (|sources| × |union values| rows): two cumulative windows partitioned
    per source / globally-at-value-grain, one struct-max regroup.

    Output: source, n_tokens (long), ks_num (double), ks (double,
    ∈ [0, 1]), ks_at (long, the argmax value).
    """
    from pyspark.sql import Window

    d18 = "decimal(18,0)"
    grid = _source_value_grid(df, group_col, tokens_col).withColumn(
        "_o", F.coalesce(F.col("o"), F.lit(0)))
    # the COMPLETE grid makes the per-source cumsum of the value totals
    # equal the GLOBAL cumulative at every value — no second join
    ws = (Window.partitionBy("source").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (grid
           .withColumn("_cs", F.sum("_o").over(ws).cast(d18))
           .withColumn("_cg", F.sum("ct").over(ws).cast(d18)))
    ns = F.col("rt").cast(d18)
    nr = (F.col("n") - F.col("rt")).cast(d18)
    cr = F.col("_cg") - F.col("_cs")
    num = F.abs(F.col("_cs") * nr - cr * ns).cast("decimal(38,0)")
    probed = cum.select("source", "rt", "n", F.col("v").cast("long").alias("v"),
                        num.alias("_num"))
    best = (probed.groupBy("source")
            .agg(F.max("rt").cast("long").alias("n_tokens"),
                 F.max("n").alias("_n"),
                 F.max(F.struct(F.col("_num"), (-F.col("v")).alias("_mv")))
                 .alias("_b")))
    den = (F.col("n_tokens").cast(d18)
           * (F.col("_n") - F.col("n_tokens")).cast(d18))
    return best.select(
        "source", "n_tokens",
        F.col("_b._num").cast("double").alias("ks_num"),
        F.when(den > 0,
               F.col("_b._num").cast("double") / den.cast("double"))
        .alias("ks"),
        (-F.col("_b._mv")).cast("long").alias("ks_at"))


def hrv_poincare(df: DataFrame, tokens_col: str = "tokens",
                 nn_threshold: int = 2) -> DataFrame:
    """Poincaré-plot / HRV difference-domain moments per doc — the
    classical descriptors of the reference's actual domain (every TSFEDL
    architecture consumes RR-interval/ECG windows; RMSSD, SD1/SD2 and
    pNN50 are THE features cardiology computed before deep learning,
    Brennan et al., IEEE TBME 2001). Token value = signal sample,
    successive difference d_t = x_{t+1} − x_t = the "ΔRR" axis.

    Everything a downstream caller needs arrives as EXACT int64 moments:

        n_d      = n − 1 successive pairs
        sum_d    = Σ d_t          (telescopes to x_n − x_1 — pinned in tests)
        sum_d2   = Σ d_t²         (RMSSD² numerator; SD1² = var(d)/2)
        sum_abs  = Σ |d_t|        (mean-abs-change numerator, tsfresh)
        nn_thr   = #{|d_t| > θ}   (the pNNθ census, θ = ``nn_threshold``)
        sx, sx2  = Σ x, Σ x²      (SD2² = 2·var(x) − SD1² needs var(x))
        var_x_num = n·sx2 − sx²,  var_d_num = n_d·sum_d2 − sum_d²

    sqrt/σ normalizations are libm-unsafe as hash targets (the SAX
    argument above), so the only floats are two single IEEE divisions of
    exact int64: ``mean_abs_d`` and ``pnn``. Docs with fewer than 2
    tokens carry no difference signal and emit no row.

    Plan: pure per-row map over the token array (slice/zip_with/
    aggregate) — zero exchanges at any scale, like the rest of the module.
    """
    n = F.size(tokens_col)
    m = (n - 1).cast("int")
    head = F.slice(tokens_col, 1, m)
    tail = F.slice(tokens_col, 2, m)
    d = F.zip_with(head, tail, lambda a, b: b.cast("long") - a.cast("long"))

    def s(arr: Column) -> Column:
        return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + x)

    sum_d = s(d)
    sum_d2 = s(F.transform(d, lambda x: x * x))
    sum_abs = s(F.transform(d, lambda x: F.abs(x)))
    nn_thr = F.size(F.filter(d, lambda x: F.abs(x) > nn_threshold)) \
        .cast("long")
    sx = s(F.transform(F.col(tokens_col), lambda x: x.cast("long")))
    sx2 = s(F.transform(F.col(tokens_col),
                        lambda x: x.cast("long") * x.cast("long")))
    n_d = m.cast("long")
    return (df
            .filter(n >= 2)
            .select("doc_id",
                    n.cast("long").alias("n_tok"), n_d.alias("n_d"),
                    sum_d.alias("sum_d"), sum_d2.alias("sum_d2"),
                    sum_abs.alias("sum_abs"), nn_thr.alias("nn_thr"),
                    sx.alias("sx"), sx2.alias("sx2"))
            .withColumn("var_x_num",
                        F.col("n_tok") * F.col("sx2") - F.col("sx") * F.col("sx"))
            .withColumn("var_d_num",
                        F.col("n_d") * F.col("sum_d2")
                        - F.col("sum_d") * F.col("sum_d"))
            .withColumn("mean_abs_d",
                        F.col("sum_abs").cast("double")
                        / F.col("n_d").cast("double"))
            .withColumn("pnn",
                        F.col("nn_thr").cast("double")
                        / F.col("n_d").cast("double")))


def ordinal_census(df: DataFrame, tokens_col: str = "tokens",
                   group_col: str = "source") -> DataFrame:
    """Bandt–Pompe ordinal-pattern census (m = 3) per group: every
    consecutive triple (a, b, c) classifies into one of the ≤ 13 feasible
    sign patterns and the census counts each per ``group_col`` — the
    histogram behind permutation entropy (Bandt & Pompe, PRL 2002), the
    standard complexity measure for exactly the physiological signals the
    reference models.

    Ties break NOTHING here: instead of forcing a permutation (the
    classical tie-ambiguous rank map), the pattern id encodes all three
    pairwise comparisons exactly —

        pattern_id = 9·(sign(b−a)+1) + 3·(sign(c−b)+1) + (sign(c−a)+1)

    so equal neighbours get their own classes and the census is
    integer-exact cross-engine (signum on int64 is exact; no rank, no
    float). ``share`` is the one IEEE division, over the group total.

    Plan: per-doc pattern ids via a transform over the index sequence
    (no token explode — ids are born as a per-row array), then ONE
    exchange at (group, pattern) grain after map-side partial count.
    The explode amplifies to n rows per doc but partial aggregation
    collapses each task's output to ≤ |groups|·27 rows before shuffle.
    """
    n = F.size(tokens_col)
    e = lambda i: F.element_at(F.col(tokens_col), i).cast("long")  # noqa: E731
    sgn = lambda x: F.signum(x).cast("int")  # noqa: E731 — exact on int64
    pid = (lambda i: (sgn(e(i + 1) - e(i)) + 1) * 9
           + (sgn(e(i + 2) - e(i + 1)) + 1) * 3
           + (sgn(e(i + 2) - e(i)) + 1))
    ids = F.transform(F.sequence(F.lit(1), n - 2), pid)
    w = Window.partitionBy(group_col)
    return (df
            .filter(n >= 3)
            .select(group_col, F.explode(ids).alias("pattern_id"))
            .groupBy(group_col, "pattern_id")
            .agg(F.count("*").cast("long").alias("n_triples"))
            .withColumn("n_group", F.sum("n_triples").over(w))
            .withColumn("share",
                        F.col("n_triples").cast("double")
                        / F.col("n_group").cast("double")))


def shape_features(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """tsfresh-style shape descriptors per doc, each integer-exact:

    * ``n_cross`` — mean crossings WITHOUT computing the float mean:
      r_t = n·x_t − Σx is the residual scaled by n (exact int64), and a
      crossing is a strict sign flip r_t·r_{t+1} < 0 — the
      cross-multiplication trick the SAX breakpoints use.
    * ``n_peaks`` — strict local maxima x_{t−1} < x_t > x_{t+1}.
    * ``longest_incr`` — the longest run of consecutive strictly
      increasing steps (a struct-accumulator fold: (current, best)).
    * ``abs_energy`` — Σ x² (tsfresh abs_energy, exact).
    * ``mean_abs_change`` — Σ|Δ| / (n−1), the single IEEE division.

    Plan: per-row array math only; zero exchanges. Docs need n ≥ 2 (one
    difference); peaks degrade to 0 at n = 2 rather than dropping the
    doc, while a 2-point doc with distinct values counts one mean
    crossing (r_1·r_2 = −(x1−x2)² < 0 — implementation and oracle agree).
    """
    def s(arr: Column) -> Column:
        return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + x)

    # STAGING, two projections deep: the residual transform reads Σx from
    # the STAGED ``_sx`` attribute — referencing the aggregate expression
    # inside the lambda would re-sum the whole array per element (the
    # O(n)→O(n²) trap energy_profile documents), and HOFs are interpreted
    # so that cost is real (measured 1.56 s → 0.86 s at sf1.0 for this
    # staging alone, bit-identical). Every staged column is passed
    # through the next projection alongside its first use, so
    # CollapseProject (which counts syntactic references) never inlines
    # an aggregate back into a lambda.
    n0 = F.size(tokens_col)
    p1 = (df.filter(n0 >= 2)
          .select("doc_id", F.col(tokens_col).alias("_tok"),
                  n0.cast("long").alias("_n"),
                  s(F.transform(tokens_col, lambda x: x.cast("long")))
                  .alias("_sx"),
                  s(F.transform(tokens_col,
                                lambda x: x.cast("long") * x.cast("long")))
                  .alias("_sx2")))
    tok = F.col("_tok")
    n = F.col("_n")
    m = (n - 1).cast("int")
    e = lambda i: F.element_at(tok, i).cast("long")  # noqa: E731
    # residuals r_t = n·x_t − Σx and the step differences, staged once
    p2 = p1.select(
        "doc_id", "_tok", "_n", "_sx", "_sx2",
        F.transform(tok, lambda x: n * x.cast("long") - F.col("_sx"))
        .alias("_r"),
        F.zip_with(F.slice(tok, 1, m), F.slice(tok, 2, m),
                   lambda a, b: b.cast("long") - a.cast("long")).alias("_d"))
    r = F.col("_r")
    d = F.col("_d")
    sum_abs = s(F.transform(d, lambda x: F.abs(x)))
    # strict sign-flip census over residual pairs
    n_cross = F.size(F.filter(
        F.zip_with(F.slice(r, 1, m), F.slice(r, 2, m), lambda a, b: a * b),
        lambda p: p < 0)).cast("long")
    # n = 2 guard: Spark's sequence(2, 1) would count DOWN ([2, 1]) and
    # index past the array — peaks need three points anyway
    n_peaks = F.when(n >= 3, F.size(F.filter(
        F.sequence(F.lit(2), (n - 1).cast("int")),
        lambda i: (e(i - 1) < e(i)) & (e(i) > e(i + 1))))) \
        .otherwise(F.lit(0)).cast("long")
    run0 = F.struct(F.lit(0).cast("long").alias("cur"),
                    F.lit(0).cast("long").alias("best"))
    longest = F.aggregate(
        d, run0,
        lambda acc, x: F.struct(
            F.when(x > 0, acc.cur + 1).otherwise(F.lit(0).cast("long"))
            .alias("cur"),
            F.greatest(acc.best,
                       F.when(x > 0, acc.cur + 1)
                       .otherwise(F.lit(0).cast("long"))).alias("best")),
        lambda acc: acc.best)
    return (p2
            .select("doc_id", n.alias("n_tok"),
                    n_cross.alias("n_cross"), n_peaks.alias("n_peaks"),
                    longest.alias("longest_incr"),
                    F.col("_sx2").alias("abs_energy"),
                    (sum_abs.cast("double") / m.cast("double"))
                    .alias("mean_abs_change")))


def energy_profile(df: DataFrame, chunks: int = 4,
                   tokens_col: str = "tokens") -> DataFrame:
    """The tsfresh energy/mass family per doc, integer-exact throughout:

    * ``chunk_energy`` — Σ x² per equal-width chunk (tsfresh
      energy_ratio_by_chunks numerators; chunk assignment is the PAA rule
      ``p·C div n``, so the SQL twin is a plain quotient GROUP BY). The
      ratio itself is the one IEEE division per row.
    * ``imq_num`` — tsfresh index_mass_quantile(q=0.5) WITHOUT floats:
      the first 1-based position where the running mass reaches half the
      total, by the cross-multiplication ``2·cumsum ≥ Σx``. Emitted at
      doc grain on every chunk row (constant per doc).
    * ``c3_num``/``c3_n`` — Schreiber–Schmitz nonlinearity c3(lag=1):
      Σ x_t·x_{t+1}·x_{t+2} and its term count (mean = one division,
      left to the caller like the ACF normalizations).

    Output grain: one row per (doc, chunk). Zero exchanges — array
    HOFs only; the explode amplifies to ``chunks`` scalar rows per doc
    AFTER the per-chunk math. Docs with n < 1 emit nothing; chunks are
    capped at n so every row has mass.
    """
    if chunks < 1:
        raise ValueError("chunks must be >= 1")
    n = F.size(tokens_col)
    tok = F.col(tokens_col)

    def s(arr: Column) -> Column:
        return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + x)

    x2 = F.transform(tok, lambda x: x.cast("long") * x.cast("long"))
    total = s(F.transform(tok, lambda x: x.cast("long")))
    total_energy = s(x2)
    # first 1-based p with 2·(running sum) >= total: fold carrying
    # (running, found-index); found stays once set. The fold reads the
    # STAGED ``_total`` column, not the ``total`` aggregate expression —
    # an aggregate referenced inside the lambda would re-sum the whole
    # array per element (O(n²))
    acc0 = F.struct(F.lit(0).cast("long").alias("run"),
                    F.lit(0).cast("long").alias("idx"),
                    F.lit(0).cast("long").alias("pos"))
    imq = F.aggregate(
        tok, acc0,
        lambda acc, x: F.struct(
            (acc.run + x.cast("long")).alias("run"),
            F.when((acc.idx == 0)
                   & (2 * (acc.run + x.cast("long")) >= F.col("_total")),
                   acc.pos + 1).otherwise(acc.idx).alias("idx"),
            (acc.pos + 1).alias("pos")),
        lambda acc: acc.idx)
    e = lambda i: F.element_at(tok, i).cast("long")  # noqa: E731
    c3_terms = F.when(n >= 3, F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: e(i) * e(i + 1) * e(i + 2)))
    c3_num = F.coalesce(s(c3_terms), F.lit(0).cast("long"))
    c3_n = F.greatest(n - 2, F.lit(0)).cast("long")
    # per-chunk energy: chunk c covers positions [ceil(c·n/C), ceil((c+1)·n/C))
    ch = F.col("chunk")
    start = F.expr(f"(chunk * _n + {chunks} - 1) div {chunks}")
    nxt = F.expr(f"((chunk + 1) * _n + {chunks} - 1) div {chunks}")
    clen = (nxt - start).cast("int")
    chunk_energy = s(F.transform(
        F.slice(tok, (start + 1).cast("int"), clen),
        lambda x: x.cast("long") * x.cast("long")))
    return (df
            .filter(n >= 1)
            .select("doc_id", tok.alias(tokens_col),
                    n.cast("long").alias("_n"), total.alias("_total"),
                    total_energy.alias("total_energy"),
                    c3_num.alias("c3_num"), c3_n.alias("c3_n"))
            .select("doc_id", tokens_col, "_n", "total_energy",
                    imq.alias("imq_num"), "c3_num", "c3_n")
            .select("doc_id", tokens_col, "_n", "total_energy",
                    "imq_num", "c3_num", "c3_n",
                    F.explode(F.sequence(F.lit(0), F.lit(chunks - 1)))
                    .alias("chunk"))
            .select("doc_id", F.col("_n").alias("n_tok"),
                    ch.cast("int").alias("chunk"), "total_energy",
                    "imq_num", "c3_num", "c3_n",
                    clen.cast("long").alias("chunk_len"),
                    chunk_energy.alias("chunk_energy"))
            .filter(F.col("chunk_len") > 0)
            .withColumn("energy_ratio",
                        F.when(F.col("total_energy") > 0,
                               F.col("chunk_energy").cast("double")
                               / F.col("total_energy").cast("double"))))
