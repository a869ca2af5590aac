"""Weighted rolling aggregates (the Conv1D analog) and recurrent scans.

SURVEY §2.4 calls the sliding dot-product "the heart of the mapping":
``Conv1D(filters, k, stride)`` ≙ out[t] = Σᵢ w[i]·x[t·s+i] — a weighted
rolling aggregate (reference ``models_keras.py:137``, 44 Keras + 70 Torch
uses; uniform kernel = ``moving_average`` at ``IGN_experiment.py:190-205``).
§2.5's LSTM/GRU scans ≙ ordered stateful recurrences; their deterministic
engine analog is EWMA / running extrema computed as a strictly sequential
fold (``F.aggregate``), which pins float order so a SQL oracle folding the
same list reproduces the bits.

Padding conventions (pinned, §2.4):
  'valid' — output length T−(k−1)·d (no padding; reference models_keras.py:386)
  'same'  — output length ⌈T/stride⌉; Keras/TF SAME padding exactly at EVERY
            stride: pad_total = max((⌈T/s⌉−1)·s + (k−1)·d + 1 − T, 0),
            ⌊pad_total/2⌋ zeros left, the rest right (input-length-dependent,
            reference models_keras.py:202 and strided same-conv
            models_pytorch.py:2232; at stride=1 this is the centered span//2
            split)
  'full'  — output length T+(k−1); zero-pad k−1 both ends (reference
            utils.py:107-130 full_convolution)

Everything is JVM-side higher-order functions (sequence/transform/
aggregate/slice) — zero Python in the hot path; weights enter the plan as
literals (constant-folded by Catalyst).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _window_dot(tok: Column, start: Column, weights: Sequence[float],
                dilation: int = 1) -> Column:
    """Σᵢ w[i] · tok[start + i·dilation]  (start is 0-based; strictly
    sequential left-to-right fold → pinned float order)."""
    terms = F.transform(
        F.sequence(F.lit(0), F.lit(len(weights) - 1)),
        lambda i: F.element_at(tok, start + i * dilation + 1).cast("double")
        * F.element_at(F.array(*[F.lit(float(w)) for w in weights]), i + 1))
    return F.aggregate(terms, F.lit(0.0), lambda a, x: a + x)


def conv1d(df: DataFrame, weights: Sequence[float], stride: int = 1,
           padding: str = "valid", dilation: int = 1,
           tokens_col: str = "tokens") -> DataFrame:
    """Weighted rolling aggregate over each doc's token signal.

    Returns (doc_id, pos, y) flat rows: y[p] = Σᵢ w[i]·x[p·stride + i·dilation]
    under the chosen padding convention. A uniform kernel w=1/k is the
    reference's moving_average; arbitrary kernels are its learned conv filters.
    """
    k = len(weights)
    span = (k - 1) * dilation
    tok = F.col(tokens_col)
    padded = tok
    if padding == "full":
        padded = F.concat(F.array_repeat(F.lit(0), span), tok,
                          F.array_repeat(F.lit(0), span))
    elif padding == "same":
        # Keras/TF SAME semantics exactly, INCLUDING stride>1: out_len =
        # ⌈T/s⌉, pad_total = max((out_len−1)·s + k_eff − T, 0), split
        # left = ⌊pad_total/2⌋ (input-length-dependent — the pad amounts are
        # Columns). At stride=1 this reduces to span//2 left / rest right
        # (the round-2 behavior). Padded zeros contribute literal 0·w terms
        # to the fold — exact (+0.0 for w>0, −0.0 absorbed by the
        # left-to-right fold).
        n0 = F.size(tok)
        out_len = F.ceil(n0 / F.lit(stride)).cast("int")
        pad_total = F.greatest((out_len - 1) * stride + span + 1 - n0,
                               F.lit(0))
        pad_left = F.floor(pad_total / 2).cast("int")
        padded = F.concat(F.array_repeat(F.lit(0), pad_left), tok,
                          F.array_repeat(F.lit(0), pad_total - pad_left))
    # STAGE the (possibly padded) signal as a column before the window
    # transform: an expression referenced inside a lambda body re-evaluates
    # per element, so an inlined concat would rebuild the padded array once
    # per window position × tap — O(T²) per doc (measured ~4× on 'same').
    staged = df.select("doc_id", padded.alias("_pt"))
    pt = F.col("_pt")
    n = F.size(pt)
    starts = F.sequence(F.lit(0), n - 1 - span, F.lit(stride))
    y = lambda s: _window_dot(pt, s, weights, dilation)  # noqa: E731
    out = staged.filter(n > span).select(
        "doc_id",
        F.posexplode(F.transform(starts, y)).alias("pos", "y"))
    return out.select("doc_id", F.col("pos").cast("long").alias("pos"), "y")


def conv1d_dilations(df: DataFrame, weights: Sequence[float],
                     stride: int = 1, dilations: Sequence[int] = (1, 2),
                     tokens_col: str = "tokens") -> DataFrame:
    """'valid' conv at SEVERAL dilation rates in one corpus scan (reference
    dilated convs models_pytorch.py — dilation_rate kwarg throughout the
    TCN-style blocks), aligned by output position: every rate reads window
    start = pos·stride, so rows line up exactly; a wider-span rate has fewer
    valid positions and carries NULL past its last one.

    Columns: ``y`` for dilations[0], ``y_d{d}`` for each further rate.
    ``dilations`` must be strictly increasing so the first rate has the most
    positions (it defines the exploded sequence). One select, one explode —
    the established single-scan merge shape; running conv1d once per rate
    would scan the corpus len(dilations) times."""
    if (not dilations or list(dilations) != sorted(set(dilations))
            or dilations[0] < 1):
        raise ValueError(
            "dilations must be strictly increasing positive ints (rate 0 "
            "would re-read one tap, negative rates read earlier positions)")
    k = len(weights)
    spans = [(k - 1) * d for d in dilations]
    staged = df.select("doc_id", F.col(tokens_col).alias("_pt"))
    pt = F.col("_pt")
    n = F.size(pt)
    base = spans[0]
    starts = F.sequence(F.lit(0), n - 1 - base, F.lit(stride))

    def entry(s):
        fields = [_window_dot(pt, s, weights, dilations[0]).alias("y")]
        for d, sp in zip(dilations[1:], spans[1:]):
            fields.append(
                F.when(s <= n - 1 - sp, _window_dot(pt, s, weights, d))
                .alias(f"y_d{d}"))
        return F.struct(*fields)

    out = staged.filter(n > base).select(
        "doc_id", F.posexplode(F.transform(starts, entry)).alias("pos", "_v"))
    cols = ["y"] + [f"y_d{d}" for d in dilations[1:]]
    return out.select("doc_id", F.col("pos").cast("long").alias("pos"),
                      *[F.col(f"_v.{c}").alias(c) for c in cols])


def conv1d_same_with_ma(df: DataFrame, weights: Sequence[float],
                        ma_taps: int = 4,
                        tokens_col: str = "tokens") -> DataFrame:
    """'same'-padding stride-1 conv MERGED with a uniform ``ma_taps``-tap
    'valid' moving average (reference IGN_experiment.py:190-205
    np.convolve/ones(w)) in ONE corpus scan: rows are the same-conv
    positions 0..T−1; ``y_ma`` carries the moving average whose window
    STARTS at the same position, NULL past its shorter valid range
    (pos > T−ma_taps). ``weights`` must have odd length (the centered-pad
    split below assumes it; even-k Keras SAME pads asymmetrically on a
    different formula)."""
    k = len(weights)
    if k % 2 == 0:
        raise ValueError("conv1d_same_with_ma needs an odd kernel length")
    span = k - 1
    pad_left = span // 2
    tok = F.col(tokens_col)
    padded = F.concat(F.array_repeat(F.lit(0), pad_left), tok,
                      F.array_repeat(F.lit(0), span - pad_left))
    staged = df.select("doc_id", padded.alias("_pt"),
                       F.size(tok).alias("_n0"))
    pt, n0 = F.col("_pt"), F.col("_n0")
    starts = F.sequence(F.lit(0), n0 - 1)
    ma_w = tuple(1.0 / ma_taps for _ in range(ma_taps))

    def entry(s):
        # original tok[j] sits at padded[j + pad_left]: the MA reads
        # unpadded taps through the one staged padded array
        return F.struct(
            _window_dot(pt, s, weights).alias("y"),
            F.when(s <= n0 - ma_taps,
                   _window_dot(pt, s + pad_left, ma_w)).alias("y_ma"))

    out = staged.filter(n0 > 0).select(
        "doc_id", F.posexplode(F.transform(starts, entry)).alias("pos", "_v"))
    return out.select("doc_id", F.col("pos").cast("long").alias("pos"),
                      F.col("_v.y").alias("y"), F.col("_v.y_ma").alias("y_ma"))


def dense(df: DataFrame, weights: Sequence[Sequence[float]],
          bias: Sequence[float], tokens_col: str = "tokens") -> DataFrame:
    """Dense y = Wx + b over the first-k token window (reference
    layers.Dense, e.g. models_keras.py:69): m literal weighted folds, one
    output column per unit — the declarative JVM-side form of a (m×k) matmul.
    Docs shorter than k are filtered ('valid' convention). Literal weights
    constant-fold in Catalyst; fold order is pinned left-to-right, so doubles
    reproduce bit-for-bit in a SQL oracle."""
    k = len(weights[0])
    assert all(len(w) == k for w in weights) and len(bias) == len(weights)
    tok = F.col(tokens_col)
    outs = []
    for j, (w, b) in enumerate(zip(weights, bias)):
        acc = F.lit(float(b))
        for i, wi in enumerate(w):
            acc = acc + F.element_at(tok, i + 1).cast("double") * F.lit(float(wi))
        outs.append(acc.alias(f"y{j}"))
    return df.filter(F.size(tok) >= k).select("doc_id", *outs)


def pool1d(df: DataFrame, pool: int = 2, stride: int | None = None,
           agg: str = "max", tokens_col: str = "tokens") -> DataFrame:
    """MaxPooling1D/AveragePooling1D analog (reference models_keras.py:59,
    blocks_keras.py:25): rolling window extreme/mean then decimate by stride.
    stride == pool is the tumbling rollup; stride < pool is the overlapping
    variant (e.g. pool=2, stride=1 at models_keras.py:452). 'valid' windows.
    """
    stride = pool if stride is None else stride
    tok = F.col(tokens_col)
    n = F.size(tok)
    starts = F.sequence(F.lit(0), n - pool, F.lit(stride))
    win = lambda s: F.slice(tok, s + 1, pool)  # noqa: E731
    if agg == "max":
        val = lambda s: F.array_max(win(s)).cast("long")  # noqa: E731
    elif agg == "min":
        val = lambda s: F.array_min(win(s)).cast("long")  # noqa: E731
    elif agg == "avg":
        val = lambda s: (F.aggregate(win(s), F.lit(0).cast("long"),  # noqa: E731
                                     lambda a, x: a + x).cast("double")
                         / F.lit(float(pool)))
    else:
        raise ValueError(agg)
    return (df.filter(n >= pool)
            .select("doc_id", F.posexplode(F.transform(starts, val))
                    .alias("pos", "y"))
            .select("doc_id", F.col("pos").cast("long").alias("pos"), "y"))


def _ewma_fold(tok: Column, alpha: float) -> Column:
    """Strictly sequential EWMA fold over an array column (init = first
    element) — the kernel of the forward and backward scans."""
    first = F.element_at(tok, 1).cast("double")
    rest = F.slice(tok, 2, F.greatest(F.size(tok) - 1, F.lit(0)))
    a = F.lit(float(alpha))
    return F.aggregate(rest, first,
                       lambda acc, x: a * x.cast("double") + (F.lit(1.0) - a) * acc)


def holt_last(df: DataFrame, alpha: float = 0.5, beta: float = 0.25,
              tokens_col: str = "tokens") -> DataFrame:
    """Holt double-exponential smoothing (level + trend), final state +
    one-step forecast per doc — the trend-aware upgrade of the EWMA scan
    (the reference's seq→vector recurrent readout with a 2-d hidden
    state). Textbook recurrences, strictly sequential::

        l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}

    init l₁ = x₁, b₁ = x₂ − x₁ (b₁ = 0 for single-token docs).

    Runs as ONE ``F.aggregate`` fold with a struct accumulator — pure
    JVM per-row, zero shuffle, float op order pinned so the pytest
    replica matches bit-for-bit. Rows-only query by the documented
    convention: a 2-state fold has no SQL analog (DuckDB 1.0's
    list_reduce takes no initial value and its accumulator must share
    the element type — probed).

    Output: doc_id, n_tok, holt_level, holt_trend, holt_forecast
    (= level + trend, the 1-step-ahead prediction).
    """
    if not (0.0 < alpha <= 1.0) or not (0.0 <= beta <= 1.0):
        raise ValueError("need 0 < alpha <= 1 and 0 <= beta <= 1")
    tok = F.col(tokens_col)
    x1 = F.element_at(tok, 1).cast("double")
    x2 = F.element_at(tok, 2).cast("double")
    b1 = F.when(F.size(tok) >= 2, x2 - x1).otherwise(F.lit(0.0))
    # the fold consumes x_2.. onward only when it exists; for n==1 the
    # init IS the final state
    rest = F.slice(tok, 2, F.greatest(F.size(tok) - 1, F.lit(0)))
    a, bt = F.lit(float(alpha)), F.lit(float(beta))
    init = F.struct(x1.alias("l"), b1.alias("b"))

    def step(acc: Column, x: Column) -> Column:
        nl = a * x.cast("double") + (F.lit(1.0) - a) * (acc["l"] + acc["b"])
        nb = bt * (nl - acc["l"]) + (F.lit(1.0) - bt) * acc["b"]
        return F.struct(nl.alias("l"), nb.alias("b"))

    state = F.aggregate(rest, init, step)
    return (df.filter(F.size(tok) > 0)
            .select("doc_id",
                    F.size(tok).cast("long").alias("n_tok"),
                    state["l"].alias("holt_level"),
                    state["b"].alias("holt_trend"),
                    (state["l"] + state["b"]).alias("holt_forecast")))


def ewma_scan_features(df: DataFrame, alpha: float = 0.125,
                       tokens_col: str = "tokens") -> DataFrame:
    """EWMA scan features per non-empty doc: the forward fold's final value
    (``ewma_last``) ≙ the reference's LSTM/GRU seq→vector scans
    (return_sequences=False, models_keras.py:109-111), the running max/min,
    the last token, and the same fold over reverse(tokens) (``ewma_bwd``)
    ≙ Bidirectional(LSTM) (models_keras.py:510). Strictly sequential
    F.aggregate folds ⇒ float order is pinned and SQL-oracle-reproducible.
    One select, one scan (the 100 TB form of 'compute every scan feature in
    a single corpus pass')."""
    tok = F.col(tokens_col)
    return (df.filter(F.size(tok) > 0)
            .select("doc_id",
                    _ewma_fold(tok, alpha).alias("ewma_last"),
                    F.array_max(tok).cast("long").alias("run_max"),
                    F.array_min(tok).cast("long").alias("run_min"),
                    F.element_at(tok, -1).cast("long").alias("last_tok"),
                    _ewma_fold(F.reverse(tok), alpha).alias("ewma_bwd")))
