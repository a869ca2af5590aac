"""Attention gating, activations and the en_loss reduction — elementwise
multiply paths, each reduced to per-doc checksums in one scan.

* ``attention_softmax_features`` ≙ the reference's RTA attention block
  (``blocks_keras.py:201-202``: ``x = multiply([x2, attention_map]);
  x = add([x, x1])``): an attention weight per position is multiplied onto
  the signal and the result residual-added back. The engine's deterministic
  attention map is linear normalization w_i = x_i / Σx (division — IEEE-exact
  cross-engine). The same scan computes a softmax head: max-subtracted
  exponent args are integers, so round-9 exp is bit-verified cross-engine
  and the partition function / max probability are hash-exact (the one
  libm-unsafe piece, ln(z) for entropy, is a rows-only column).

* ``activation_features`` ≙ tanh/sigmoid (``models_keras.py:455``,
  ``blocks_keras.py:167``) and ReLU/LeakyReLU (``models_keras.py:27``,
  ``:636``). tanh and sigmoid are rounded to 9 decimals per element —
  verified bit-identical across JVM and DuckDB libm over the integer token
  domain (DuckDB lacks tanh, its oracle uses the exp form, which agrees
  after rounding); ReLU and LeakyReLU are exact piecewise-linear maps.

* ``residual_en_features`` ≙ a residual branch (``blocks_keras.py:157-161``)
  and YiboGao's custom loss (``models_keras.py:1538-1550``): clip → −log →
  pow(γ) → class-select → mean. libm log/pow differ from DuckDB's in the
  last ulp, so each per-element term is rounded to 9 decimals (verified
  bit-identical across both engines over the full token domain); the pinned
  sequential fold then makes the doc-level mean hash-exact.

Everything is JVM-side higher-order functions — zero Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def multiply_gate(tokens: Column, gate: Column) -> Column:
    """Elementwise multiply of an attention map onto a signal
    (reference layers.multiply, blocks_keras.py:201)."""
    return F.zip_with(tokens, gate, lambda x, g: x.cast("double") * g)


def _gated_arr(t: Column, sd: Column) -> Column:
    """gated_i = x_i·(x_i/Σx) + x_i — the attention-gate expression."""
    att = F.transform(t, lambda x: x.cast("double") / sd)
    return F.zip_with(multiply_gate(t, att), t,
                      lambda g, x: g + x.cast("double"))


def attention_softmax_features(df: DataFrame,
                               tokens_col: str = "tokens") -> DataFrame:
    """Linear-attention gate + residual add and a softmax head
    (models_keras.py:70) in ONE scan, per non-empty doc with Σx > 0:
    (doc_id, n_tok, gate_sum, gate_max, softmax_z, softmax_pmax,
    softmax_entropy), where gated_i = x_i·(x_i/Σx) + x_i.

    The softmax trick: after max subtraction the exponent arguments
    d = x − max(x) are INTEGERS, so per-element exp(d) lives on an
    enumerable domain and the round-9 convention applies (same argument as
    tanh/sigmoid/en_loss — verified bit-identical JVM↔DuckDB); the
    partition function z is then a pinned fold of exact values and
    p_max = max(e)/z one exact IEEE division — softmax normalization
    becomes hash-exact cross-engine. The entropy
    H = −Σ pᵢ ln pᵢ = ln z − (Σ eᵢ·dᵢ)/z: Σ eᵢ·dᵢ is a pinned fold of exact
    products, but the final ln(z) of a CONTINUOUS argument is libm-ulp-
    unsafe, so ``softmax_entropy`` is rows-only — NumPy-pinned in pytest
    and dropped by the oracle-hashed query (q_attention_gate). Both the Σx
    and max(x) aggregates are STAGED as columns — inside the per-element
    lambdas they would re-evaluate per element (O(n²), the HOF staging
    trap; the round-2 softmax query had exactly that bug on its max)."""
    t = F.col(tokens_col)
    staged = (df.filter(F.size(t) > 0)
              .select("doc_id", t.alias("_t"),
                      F.aggregate(t, F.lit(0).cast("long"),
                                  lambda a, x: a + x).alias("_s"),
                      F.array_max(t).alias("_mx"))
              .filter(F.col("_s") > 0))
    mx = F.col("_mx")
    gated = _gated_arr(F.col("_t"), F.col("_s").cast("double"))
    ex = F.transform(
        "_t", lambda x: F.round(F.exp((x - mx).cast("double")), 9))
    # stage _ex FIRST, aggregate the staged column: embedding the transform
    # in both the column and the fold would evaluate the exp array twice per
    # row (HOF expressions are CodegenFallback — no guaranteed CSE)
    staged2 = (staged
               .select("doc_id", "_t", "_s", "_mx", gated.alias("_g"),
                       ex.alias("_ex"))
               .select("doc_id", "_t", "_s", "_mx", "_g", "_ex",
                       F.aggregate("_ex", F.lit(0.0), lambda a, x: a + x)
                       .alias("softmax_z")))
    sed = F.aggregate(
        F.zip_with("_ex", "_t", lambda e, x: e * (x - mx).cast("double")),
        F.lit(0.0), lambda a, x: a + x)
    return staged2.select(
        "doc_id",
        F.size("_t").cast("long").alias("n_tok"),
        F.aggregate("_g", F.lit(0.0), lambda a, x: a + x).alias("gate_sum"),
        F.array_max("_g").alias("gate_max"),
        F.col("softmax_z"),
        (F.array_max("_ex") / F.col("softmax_z")).alias("softmax_pmax"),
        (F.log("softmax_z") - sed / F.col("softmax_z"))
        .alias("softmax_entropy"))


def activation_features(df: DataFrame, threshold: int = 8,
                        leaky_alpha: float = 0.01,
                        tokens_col: str = "tokens") -> DataFrame:
    """tanh/sigmoid AND ReLU/LeakyReLU checksums in ONE scan, per non-empty
    doc: n_tok, the pinned-fold sums of round-9 tanh and sigmoid, and of
    y = max(x − threshold, 0) (``relu_sum``, with ``n_active`` its positive
    count) and of leaky y = x − threshold if > 0 else α·(x − threshold)
    (``leaky_sum``) — both exact cross-engine (integer compare + one
    literal multiplication). One select, no join: a 100 TB feature pass
    computes every activation family in a single read of the corpus."""
    t = F.col(tokens_col)
    th = F.transform(t, lambda x: F.round(F.tanh(x.cast("double")), 9))
    sg = F.transform(t, lambda x: F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-x.cast("double"))), 9))
    act = F.transform(t, lambda x: F.greatest(x - threshold, F.lit(0)))
    a = F.lit(float(leaky_alpha))
    leaky = F.transform(
        t, lambda x: F.when(x > threshold, (x - threshold).cast("double"))
        .otherwise(a * (x - threshold).cast("double")))
    return (df.filter(F.size(t) > 0)
            .select("doc_id",
                    F.size(t).cast("long").alias("n_tok"),
                    F.aggregate(th, F.lit(0.0), lambda a_, x: a_ + x)
                     .alias("tanh_sum"),
                    F.aggregate(sg, F.lit(0.0), lambda a_, x: a_ + x)
                     .alias("sigmoid_sum"),
                    F.aggregate(act, F.lit(0).cast("long"), lambda a_, x: a_ + x)
                     .alias("relu_sum"),
                    F.size(F.filter(act, lambda y: y > 0)).cast("long")
                     .alias("n_active"),
                    F.aggregate(leaky, F.lit(0.0), lambda a_, x: a_ + x)
                     .alias("leaky_sum")))


def _en_term(gamma: float, eps: float, scale: float):
    """Per-element en_loss term: p = clip(x/scale, ε, 1−ε), term =
    (−log p)^γ if x is odd (the class-1 branch) else (−log(1−p))^γ, each
    rounded to 9 decimals for cross-engine bit-exactness."""
    g = F.lit(float(gamma))

    def term(x):
        p = F.least(F.greatest(x.cast("double") / F.lit(float(scale)),
                               F.lit(float(eps))),
                    F.lit(1.0 - float(eps)))
        pos = F.round(F.pow(-F.log(p), g), 9)
        neg = F.round(F.pow(-F.log(F.lit(1.0) - p), g), 9)
        return F.when(x % 2 == 1, pos).otherwise(neg)

    return term


def residual_en_features(df: DataFrame, gamma: float = 0.3,
                         eps: float = 1.0e-7, scale: float = 100.0,
                         tokens_col: str = "tokens") -> DataFrame:
    """Residual-add checksums and en_loss in ONE scan, one row per
    non-empty doc. The residual branch (avg-pool/2 → upsample×2 → crop →
    zip_with add, reference residual blocks blocks_keras.py:157-161) needs
    ≥2 positions, so single-token docs carry NULL n_res/res_sum — the same
    NULL-past-narrower-range convention as the conv1d merges; en_loss
    (models_keras.py:1538-1550, the mean of :func:`_en_term` over the doc)
    covers every non-empty doc."""
    t = F.col(tokens_col)
    n = F.size(t)
    half = F.transform(
        F.sequence(F.lit(0), (F.floor(n / 2) - 1).cast("int")),
        lambda i: (F.element_at(t, 2 * i + 1) + F.element_at(t, 2 * i + 2))
        .cast("double") / F.lit(2.0))
    up = F.flatten(F.transform(half, lambda v: F.array(v, v)))
    res = F.zip_with(F.slice(t, 1, F.size(up)), up,
                     lambda x, u: x.cast("double") + u)
    staged = (df.filter(n > 0)
              .select("doc_id",
                      F.when(n >= 2, res).alias("_res"),
                      F.transform(t, _en_term(gamma, eps, scale))
                      .alias("_terms")))
    return staged.select(
        "doc_id",
        F.size("_res").cast("long").alias("n_res"),
        F.aggregate("_res", F.lit(0.0), lambda a, x: a + x).alias("res_sum"),
        F.size("_terms").cast("long").alias("n_tok"),
        (F.aggregate("_terms", F.lit(0.0), lambda a, x: a + x)
         / F.size("_terms").cast("double")).alias("en_loss"))
