"""Mergeable approximate-distinct sketches: KMV (bottom-k) and
HyperLogLog registers — the decomposable twins of COUNT(DISTINCT).

COUNT(DISTINCT key) is the one classic aggregate Spark cannot roll up
across retention tiers (rolling_actives documents the same wall: a
distinct is not mergeable, so every re-grain pays a full re-scan of the
raw events). Both sketches here ARE mergeable continuous aggregates:

- **KMV / bottom-k** (``kmv_sketch``): per group, the k smallest
  DISTINCT 60-bit hashes of the key. Merging = union + re-take-k, and
  "k smallest of a union of per-part k-smallest sets" is EXACTLY the
  global k smallest (same theorem as distributed top-k), so a sketch
  merged minute→hour→day is bit-identical to one built from raw events.
  Estimate: exact count when fewer than k hashes were seen, else the
  classical (k−1)·R / h_(k) with R = 2^60 the hash range and h_(k) the
  k-th minimum (relative error ≈ 1/√(k−2)).
- **HyperLogLog registers** (``hll_registers``): per group, m = 2^p
  registers each holding max(ρ) where ρ = leading-zero-count + 1 of the
  hash remainder. Register merge = element-wise max — associative, so
  tier re-agg is exact by construction. The raw estimate
  α·m²/Σ 2^(−ρ_j) is emitted via a SINGLE double division of two
  exactly-representable operands (integer-scaled denominator, literal
  numerator), so it is bit-reproducible cross-engine. The small-range
  (linear counting) correction needs ln(), which is libm-unsafe for
  hash oracles (same call as softmax entropy, COVERAGE §2.3), so the
  raw estimate plus the zero-register count are emitted and callers
  apply ``m·ln(m/V)`` downstream when n ≲ 2.5m.

Cross-engine determinism: hashes are the repo-standard 60-bit md5 slice
(dedup._h60 — ``conv(substr(md5(x),1,15),16,10)`` in Spark,
``('0x'||substr(md5(x),1,15))::BIGINT`` in DuckDB); ρ uses
``length(bin(w))`` (verified identical in both engines, including
bin(0)='0'); all sums are int64 (with p=8, Σ 2^(53−ρ) ≤ 256·2^53 = 2^61
fits comfortably), and each estimate is one literal-over-integer double
division — no transcendental anywhere.

Scale shape (100 TB): both sketches reduce events-sized input to
sketch-sized state in ONE exchange with map-side partial aggregation
(HLL: groupBy max; KMV: distinct then a spillable per-group sort). The
stored sketch table is tiny (buckets × m rows / buckets × k entries),
and every coarser tier is computed from the stored sketch — never from
raw events — which is the whole point.

Reference analog: the per-window summary statistics the reference
computes per segment (TSFEDL/data.py windowing + feature summaries);
here the summary is a cardinality sketch so the rollup stays mergeable.

This module also keeps the FREQUENCY sketch family: the two-pass EXACT
heavy-hitters operator (``heavy_hitters`` below — Misra-Gries candidate
summaries per partition, mergeable-summaries reduce, then an exact
recount of only the candidates). Distinct sketches bound the state of
COUNT(DISTINCT); the MG sketch bounds the state of the top-of-the-
frequency-curve GROUP BY the same way — both exist so a 100 TB key
stream never materializes |distinct keys| aggregation state.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tsrollup.arrowbuf import rows_df
from tsrollup.dedup import _h60
from tsrollup.text import words

HASH_RANGE = 1 << 60  # _h60 yields 15 hex chars = [0, 2^60)


def kmv_sketch(df: DataFrame, key_col: str, group_cols: list[str],
               k: int = 64, key_is_hash: bool = False) -> DataFrame:
    """Bottom-k sketch: the ``k`` smallest distinct 60-bit key hashes
    per group, as a sorted array column ``kmv`` (ascending; shorter
    than k means the group's exact distinct count is the array size).

    Plan: NO full-table distinct exchange — the k smallest DISTINCT
    hashes are selected with ``dense_rank() <= k`` (duplicate hashes
    share a rank, so every copy of the k smallest distinct values
    survives the cut and the final ``collect_set`` dedups them). Spark's
    WindowGroupLimit applies the rank cut per map partition BEFORE the
    exchange, so the one shuffle carries ≤ ~k·partitions candidate rows
    per group instead of every distinct (group, hash) row — the earlier
    distinct-then-row_number shape paid a full-table exchange just to
    dedup rows the rank cut was about to discard (interleaved A/B on
    the sketch_distinct row at sf1.0: 6.3 s vs 8.0 s min, new form
    faster on every pass, bit-identical).

    ``key_is_hash=True`` declares ``key_col`` already holds the 60-bit
    hash — the hash-once-sketch-many path: a pipeline feeding several
    sketches (or several groupings) stages ``dedup._h60`` once and every
    sketch reads the staged column instead of re-running md5 per sketch.
    """
    if k < 2:
        raise ValueError("need k >= 2 (the estimator divides by k-1)")
    h = (F.col(key_col) if key_is_hash
         else _h60(F.col(key_col).cast("string")))
    hashed = (df.select(*group_cols, h.alias("_h"))
              .filter(F.col("_h").isNotNull()))  # COUNT(DISTINCT) parity
    w = Window.partitionBy(*group_cols).orderBy("_h")
    return (hashed
            .withColumn("_rn", F.dense_rank().over(w))
            .filter(F.col("_rn") <= k)
            .groupBy(*group_cols)
            .agg(F.array_sort(F.collect_set("_h")).alias("kmv")))


def kmv_merge(sketch: DataFrame, group_cols: list[str],
              k: int = 64) -> DataFrame:
    """Merge sketches to a coarser grouping: union the hash sets and
    re-take the k smallest. Exact: per-part bottom-k sets cover the
    global bottom-k, so the merged sketch equals one built from raw."""
    exploded = sketch.select(*group_cols, F.explode("kmv").alias("_h"))
    w = Window.partitionBy(*group_cols).orderBy("_h")
    return (exploded.distinct()
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .groupBy(*group_cols)
            .agg(F.array_sort(F.collect_list("_h")).alias("kmv")))


def kmv_estimate(sketch: DataFrame, k: int = 64) -> Column:
    """Distinct-count estimate column for a ``kmv`` sketch row: the
    exact array size when the group saw fewer than k hashes, else
    (k−1)·2^60 / h_(k). The numerator (k−1)·2^60 is an exact double for
    any k ≤ 2^53 (trailing zero bits are free), so the estimate is one
    deterministic division."""
    n = F.size("kmv")
    hk = F.element_at("kmv", k).cast("double")
    num = float((k - 1) * HASH_RANGE)  # exact: (k-1) · 2^60
    return (F.when(n < k, n.cast("double"))
            .otherwise(F.lit(num) / hk))


def hll_registers(df: DataFrame, key_col: str, group_cols: list[str],
                  p: int = 8, key_is_hash: bool = False) -> DataFrame:
    """HyperLogLog register table: one row per (group, register index)
    with the register value r = max over keys of ρ(hash remainder).

    With a 60-bit hash and m = 2^p registers: idx = h mod m, the
    remainder w = h div m has 60−p bits, and ρ = (60−p) − bitlen(w) + 1
    (ρ = 61−p for w = 0). bitlen via length(bin(w)) — engine-portable
    and integer-exact, no log2 anywhere.

    One exchange, map-side partial max; the output is the mergeable
    continuous aggregate (merge = groupBy coarser grain, max(r)).
    ``key_is_hash`` as in :func:`kmv_sketch` — the column already holds
    the 60-bit hash, staged once upstream.
    """
    if not 4 <= p <= 14:
        raise ValueError("need 4 <= p <= 14")
    h = (F.col(key_col) if key_is_hash
         else _h60(F.col(key_col).cast("string")))
    # stage the hash once so md5 isn't evaluated per derived column
    staged = (df.select(*group_cols, h.alias("_h"))
              .filter(F.col("_h").isNotNull()))  # COUNT(DISTINCT) parity
    idx, rho = hll_idx_rho(p)
    return (staged
            .select(*group_cols, idx, rho)
            .groupBy(*group_cols, "idx")
            .agg(F.max("_rho").alias("r")))


def hll_idx_rho(p: int) -> tuple[Column, Column]:
    """The (idx, _rho) derivation over a staged ``_h`` hash column —
    shared by the batch register builder and the streaming twin
    (:func:`tsrollup.streaming.stream_hll_actives`) so their registers
    agree by construction, not by parallel maintenance."""
    if not 4 <= p <= 14:
        raise ValueError("need 4 <= p <= 14")
    m = 1 << p
    q = 60 - p  # remainder bits
    w_rem = F.expr(f"_h div {m}")
    rho = (F.when(w_rem == 0, F.lit(q + 1))
           .otherwise(F.lit(q + 1) - F.length(F.bin(w_rem))))
    return (F.col("_h") % m).alias("idx"), rho.cast("int").alias("_rho")


def hll_merge(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge register tables to a coarser grouping: element-wise max —
    associative and exact, so tier re-agg equals direct-from-raw."""
    return (regs.groupBy(*group_cols, "idx")
            .agg(F.max("r").alias("r")))


def hll_estimate(regs: DataFrame, group_cols: list[str],
                 p: int = 8) -> DataFrame:
    """Raw HLL estimate per group from a register table.

    Integer-scaled harmonic sum: with Q = 61−p the max ρ, a register
    holding r contributes 2^(Q−r) and each of the (m − hit) absent
    registers contributes 2^Q, so S = Σ 2^(Q−ρ_j) · (exactly) and
    est = α_m·m²·2^Q / S — numerator a Python-float literal, S an int64
    (p = 8: S ≤ 256·2^53 = 2^61), one double division: bit-reproducible.

    Output: group_cols…, hll_est (double, raw — apply linear counting
    downstream when est ≲ 2.5m using n_zero), n_hit (long, registers
    set), s_scaled (long, the exact integer denominator — what a store
    would persist next to the registers).
    """
    m = 1 << p
    q_max = 61 - p
    alpha = 0.7213 / (1 + 1.079 / m)
    num = alpha * m * m * float(1 << q_max)
    agg = (regs.groupBy(*group_cols)
           .agg(F.sum(F.expr(f"shiftleft(1L, {q_max} - r)"))
                .alias("_s_hit"),
                F.count("*").cast("long").alias("n_hit")))
    s = (F.col("_s_hit")
         + (F.lit(m) - F.col("n_hit")) * F.lit(1 << q_max).cast("long"))
    return agg.select(*group_cols,
                      (F.lit(num) / s.cast("double")).alias("hll_est"),
                      "n_hit", s.alias("s_scaled"))


def _mg(k: int):
    """Misra-Gries summarizer for mapInArrow, both levels of the
    heavy_hitters sketch pass: batches of int64 ``h`` keys, each row one
    occurrence (the per-partition pass), or with a ``cnt`` column a
    summary to merge, where a NULL ``h`` carries a processed-row total.
    Keeps ≤ ``k`` counters and emits them as (h, cnt) rows plus one
    (NULL, N) row, so the caller learns N without a second scan.

    Batches merge via the mergeable-summaries rule: add the batch's exact
    counts, then if more than ``k`` counters remain, subtract the
    (k+1)-th largest value from all and drop the non-positive — the total
    decrement stays ≤ N/(k+1), which is the survival guarantee, through
    the partition pass and the merge alike.
    """
    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa

        summary: dict[int, int] = {}
        total = 0
        for rb in batches:
            h = rb.column("h")
            valid = h.is_valid().to_numpy(zero_copy_only=False)
            if "cnt" in rb.schema.names:
                cnt = rb.column("cnt").to_numpy()
                total += int(cnt[~valid].sum())
            else:
                cnt = np.ones(rb.num_rows, dtype=np.int64)
                total += rb.num_rows
            keys, inv = np.unique(h.fill_null(0).to_numpy()[valid],
                                  return_inverse=True)
            sums = np.zeros(keys.shape[0], dtype=np.int64)
            np.add.at(sums, inv, cnt[valid])
            for w, c in zip(keys.tolist(), sums.tolist()):
                summary[w] = summary.get(w, 0) + c
            if len(summary) > k:
                counts = np.fromiter(summary.values(), dtype=np.int64,
                                     count=len(summary))
                m = int(np.partition(counts, -(k + 1))[-(k + 1)])
                summary = {w: c - m for w, c in summary.items() if c > m}
        yield pa.RecordBatch.from_arrays(
            [pa.array(list(summary) + [None], pa.int64()),
             pa.array(list(summary.values()) + [total], pa.int64())],
            ["h", "cnt"])

    return run


def heavy_hitters(df: DataFrame, threshold_num: int = 1,
                  threshold_den: int = 200, text_col: str = "text",
                  sketch_k: int | None = None,
                  token_arr=None) -> DataFrame:
    """All words whose corpus occurrence count strictly exceeds
    ``(threshold_num/threshold_den) · N`` (N = total word count), with the
    EXACT count — computed via the two-pass sketch-then-recount algorithm
    (module docstring), never a full-vocabulary aggregation.

    ``sketch_k`` defaults to ``2·⌈den/num⌉`` — twice the minimum that
    makes the MG survival bound (freq > N/(k+1)) cover the threshold, so
    candidates are a provable superset with slack.

    The per-partition summaries REDUCE through a second, single-partition
    MG merge (weighted — the mergeable-summaries theorem keeps the
    survival guarantee through the merge), so the driver collect that
    seeds pass 2 is bounded by ``k + 1`` rows regardless of partition
    count — not ``k·partitions`` (40M rows at 10⁵ partitions). Collecting
    once is the price of running pass 2 as exactly one more scan instead
    of re-executing pass 1 per downstream branch (Spark re-runs a
    DataFrame's lineage for every branch — the bigram_lm finding).

    Output: word, n_occ (long, exact), n_corpus (long), share (double,
    one exact-int64 division). Empty-string words count like any other
    (the split keeps empties — oracle parity).

    ``token_arr`` overrides the item stream with any array<string>
    Column (e.g. word n-grams) — the regime the sketch exists for: n-gram
    key cardinality dwarfs a word vocabulary, so the full-groupBy
    alternative's aggregation state grows combinatorially while the
    sketch stays at k counters.
    """
    num, den = int(threshold_num), int(threshold_den)
    if num < 1 or den < 1 or num >= den:
        raise ValueError("need 1 <= threshold_num < threshold_den")
    k = int(sketch_k) if sketch_k is not None else 2 * math.ceil(den / num)
    if k + 1 < den / num:
        raise ValueError(
            f"sketch_k={k} cannot guarantee the threshold {num}/{den}: "
            f"MG only preserves items with freq > N/(k+1)")
    arr = token_arr if token_arr is not None else words(text_col)
    exploded = df.select(F.explode(arr).alias("word"))
    # the sketch pass streams xxhash64 KEYS, not the strings: the hash is
    # generated code, the Python boundary carries 8-byte ints, and
    # value_counts on int64 beats the string path (measured 2.5 s vs
    # 3.4 s on the bigram row at 2x sf1.0). A hash collision only MERGES
    # two counters — counts never shrink, so the MG survival bound still
    # covers every true heavy item, and the exact recount (pass 2, on the
    # real strings) discards any collision-inflated candidate.
    hashed = exploded.select(F.xxhash64("word").alias("h"))
    summary = hashed.mapInArrow(_mg(k), "h long, cnt long")
    merged = summary.repartition(1).mapInArrow(_mg(k), "h long, cnt long")
    rows = merged.collect()  # bounded: <= k + 1 rows
    n_corpus = sum(r.cnt for r in rows if r.h is None)
    cand = sorted(r.h for r in rows if r.h is not None)
    spark = df.sparkSession
    if not cand or n_corpus == 0:
        return rows_df(spark, [],
                       "word string, n_occ long, n_corpus long, share double")
    cand_df = rows_df(spark, [(h,) for h in cand], "h long")
    return (exploded
            .withColumn("h", F.xxhash64("word"))
            .join(F.broadcast(cand_df), "h")
            # keyed on the real string, never on h: collided words must
            # recount separately
            .groupBy("word")
            .agg(F.count("*").cast("long").alias("n_occ"))
            .filter(F.col("n_occ") * den > F.lit(n_corpus) * num)
            .select("word", "n_occ",
                    F.lit(n_corpus).cast("long").alias("n_corpus"),
                    (F.col("n_occ").cast("double")
                     / F.lit(n_corpus).cast("double")).alias("share")))
