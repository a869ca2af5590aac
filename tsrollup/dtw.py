"""Dynamic-time-warping k-nearest-neighbour search over token series.

DTW is the classical elastic similarity measure for time series — the
reference's learned models compare series through conv/recurrent features
(e.g. TSFEDL/models_keras.py OhShuLih / LSTM blocks consume the raw aligned
window); DTW-kNN is the canonical training-free retrieval counterpart
(Rakthanmanon et al., KDD 2012 "Searching and Mining Trillions of Time
Series Subsequences under Dynamic Time Warping" — the UCR suite).

Exactness conventions (house rules — everything integer, bit-reproducible):

* series = the first ``length`` tokens as int64; docs shorter than
  ``length`` are EXCLUDED (fixed-length DTW keeps the Sakoe-Chiba band and
  the LB_Keogh envelope exact and precomputable; the fixtures' docs are far
  longer than the default 64).
* step cost = squared integer difference; band ``|i-j| <= r``; distance =
  DP over the banded lattice. Word-length tokens and length ≤ a few hundred
  keep every cell ≪ 2^60 — no float appears anywhere.
* ties break to the SMALLEST doc_id at equal distance.

Scale shape — the three-scan UCR-style exact prune, never all-pairs:

1. **LB scan** (full corpus, one pass): per doc × query, the LB_Keogh
   lower bound from the query's precomputed band envelope — vectorized
   NumPy inside ``mapInArrow``, slim (qid, doc_id, lb) rows out, tokens
   never duplicated across queries.
2. **seed fetch**: the k best-by-LB candidates per query (window rank over
   the slim LB rows) are broadcast-joined back to the corpus for their
   tokens; exact DTW on those k gives tau_q = max exact distance — an upper
   bound on the true kth distance because ANY k exact distances bound it.
3. **survivor fetch**: only candidates with ``lb <= tau_q`` (LB_Keogh is a
   true lower bound, so everything else provably cannot enter the top-k,
   ties included: excluded docs have dtw >= lb > tau >= d_k) are fetched
   and exactly evaluated; final top-k by (dtw, doc_id).

The two fetches are broadcast-semi-joins on doc_id (candidate lists are
k·|Q| + |lb <= tau| rows — small by the pruning contract), so the only
full-corpus work is the one LB scan. Queries are collected driver-side and
closure-shipped (bounded small by contract, same as the IVF probe set).

Although the lazy plan REFERENCES the LB stream three times (seed window,
survivor filter, anti-join), Spark's ReuseExchange deduplicates the
identical shuffle subtrees within the job, so the scan executes once —
do not "fix" that by hand. Considered and REJECTED (round 5, measured
interleaved at sf0.1): (a) an eager three-job restructure with the
survivor DP fused into the LB scan — splitting into separate jobs loses
exactly that exchange reuse (9.1 s vs 4.9 s); (b) JVM-side
``F.slice(tokens, 1, length)`` before the Arrow boundary — the per-row
array copy in the repeated projection costs more than the transfer it
saves (4.5 s vs 3.5 s min-of-3). On fixtures whose token series are
narrow-range word lengths the envelope prunes little and the operator
honestly degrades toward brute force — the prune pays off exactly when
series differ enough for the bound to bite.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .arrowbuf import fixed_rows
from .io import pin

_INF = np.int64(1) << 60


def dtw_ref(a, b, r: int) -> int:
    """Brute-force banded-DTW reference (plain double loop) — the
    independent implementation the vectorized kernel is pytest-pinned
    against. Squared-difference step cost, Sakoe-Chiba band radius ``r``."""
    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    n = len(a)
    if len(b) != n:
        raise ValueError("fixed-length DTW: len(a) must equal len(b)")
    D = np.full((n + 1, n + 1), _INF, dtype=np.int64)
    D[0, 0] = 0
    for i in range(1, n + 1):
        for j in range(max(1, i - r), min(n, i + r) + 1):
            c = int(a[i - 1] - b[j - 1]) ** 2
            D[i, j] = c + min(D[i - 1, j], D[i, j - 1], D[i - 1, j - 1])
    return int(D[n, n])


def envelope(q: np.ndarray, r: int) -> tuple[np.ndarray, np.ndarray]:
    """Keogh band envelope of a query: U[i]=max(q[i-r..i+r]),
    L[i]=min(q[i-r..i+r])."""
    n = len(q)
    U = np.empty(n, dtype=np.int64)
    L = np.empty(n, dtype=np.int64)
    for i in range(n):
        lo, hi = max(0, i - r), min(n, i + r + 1)
        U[i] = q[lo:hi].max()
        L[i] = q[lo:hi].min()
    return U, L


def lb_keogh(U: np.ndarray, L: np.ndarray, c: np.ndarray) -> int:
    """LB_Keogh(q, c): a true lower bound of banded DTW(q, c) — candidate
    points outside the query envelope pay at least their squared distance
    to it on any warping path inside the band."""
    over = np.maximum(c - U, 0)
    under = np.maximum(L - c, 0)
    return int((over * over + under * under).sum())


def _dtw_batch(qarr: np.ndarray, cand: np.ndarray, r: int) -> np.ndarray:
    """Exact banded DTW for P (query, candidate) row pairs at once:
    ``qarr``/``cand`` are (P, L) int64. The i/j lattice loop is scalar
    Python (L·(2r+1) steps) but every step is a vector op over all P
    pairs — never a per-pair Python DP."""
    P, n = qarr.shape
    prev = np.full((P, n + 1), _INF, dtype=np.int64)
    prev[:, 0] = 0
    for i in range(1, n + 1):
        cur = np.full((P, n + 1), _INF, dtype=np.int64)
        for j in range(max(1, i - r), min(n, i + r) + 1):
            c = qarr[:, i - 1] - cand[:, j - 1]
            best = np.minimum(np.minimum(prev[:, j], cur[:, j - 1]),
                              prev[:, j - 1])
            cur[:, j] = c * c + best
        prev = cur
    return prev[:, n]


def _collect_queries(queries: DataFrame, id_col: str, tokens_col: str,
                     length: int) -> tuple[list, np.ndarray]:
    """Driver-side query set (bounded small by contract). Queries shorter
    than ``length`` are rejected loudly — fixed-length DTW has no exact
    semantics for them."""
    rows = queries.select(id_col, tokens_col).collect()
    ids, vecs = [], []
    for row in rows:
        toks = row[tokens_col]
        if toks is None or len(toks) < length:
            raise ValueError(
                f"query {row[id_col]!r} has {0 if toks is None else len(toks)}"
                f" tokens; fixed-length DTW needs >= {length}")
        ids.append(row[id_col])
        vecs.append(np.asarray(toks[:length], dtype=np.int64))
    if not ids:
        raise ValueError("empty query set")
    return ids, np.stack(vecs)


def dtw_knn(df: DataFrame, queries: DataFrame, k: int = 5, r: int = 8,
            length: int = 64, id_col: str = "doc_id",
            tokens_col: str = "tokens") -> DataFrame:
    """Exact DTW k-nearest neighbours of each query series in the corpus,
    via the LB_Keogh two-phase prune described in the module docstring.

    Output: (qid, doc_id, dtw_d2 long, rnk int) — the k corpus docs per
    query with smallest banded-DTW squared distance, ties to smallest
    doc_id, rnk 1..k. A query doc present in the corpus matches itself at
    distance 0 (callers wanting "other" docs filter qid != doc_id). Corpus
    docs shorter than ``length`` are excluded (documented convention)."""
    if k < 1 or r < 0 or length < 1:
        raise ValueError("need k >= 1, r >= 0, length >= 1")
    qids, qvecs = _collect_queries(queries, id_col, tokens_col, length)
    envs = [envelope(q, r) for q in qvecs]
    U = np.stack([e[0] for e in envs])   # (Q, L)
    Lo = np.stack([e[1] for e in envs])  # (Q, L)
    nq = len(qids)
    qid_of = {i: qids[i] for i in range(nq)}

    # FOUR jobs read the filtered corpus (the seed DP, the tau collect,
    # the survivor DP and the final union); unpinned, each re-runs the
    # upstream tokenize (an interpreted HOF over every doc)
    corpus = pin(df.select(F.col(id_col).alias("doc_id"),
                           F.col(tokens_col).alias("toks"))
                 .filter(F.size("toks") >= length))

    def lb_scan(batches: Iterator[pa.RecordBatch]
                ) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            nd = rb.num_rows
            mats = fixed_rows(rb.column("toks"), length, np.int64)  # (P, L)
            # (Q, P, L) envelope excess — vectorized over docs AND queries
            over = np.maximum(mats[None, :, :] - U[:, None, :], 0)
            under = np.maximum(Lo[:, None, :] - mats[None, :, :], 0)
            lb = (over * over + under * under).sum(axis=2)  # (Q, P)
            yield pa.RecordBatch.from_arrays([
                pa.array(np.repeat(np.arange(nq, dtype=np.int32), nd)),
                rb.column("doc_id").take(pa.array(np.tile(np.arange(nd), nq))),
                pa.array(lb.reshape(-1).astype(np.int64)),
            ], ["qi", "doc_id", "lb"])

    # the seed window, the survivor filter and the final ranking read the
    # LB table, so the NumPy envelope scan runs once per invocation
    lb_df = pin(corpus.mapInArrow(lb_scan, "qi int, doc_id string, lb long"))

    def exact(cand_ids: DataFrame) -> DataFrame:
        """Exact DTW for a (qi, doc_id) candidate list: broadcast-join the
        ids back to the corpus for tokens, one vectorized DP batch."""
        fetched = corpus.join(F.broadcast(cand_ids), "doc_id")

        def run(batches: Iterator[pa.RecordBatch]
                ) -> Iterator[pa.RecordBatch]:
            for rb in batches:
                qi = rb.column("qi").to_numpy()
                cand = fixed_rows(rb.column("toks"), length, np.int64)
                d2 = _dtw_batch(qvecs[qi], cand, r)
                yield pa.RecordBatch.from_arrays(
                    [rb.column("qi"), rb.column("doc_id"), pa.array(d2)],
                    ["qi", "doc_id", "dtw_d2"])

        return fetched.mapInArrow(run, "qi int, doc_id string, dtw_d2 long")

    by_lb = Window.partitionBy("qi").orderBy("lb", "doc_id")
    seeds = lb_df.withColumn("n", F.row_number().over(by_lb)) \
                 .filter(F.col("n") <= k).select("qi", "doc_id")
    seed_d = exact(seeds)
    # tau_q = max of k exact distances — a valid upper bound on the true
    # kth distance whatever k docs seeded it; LB-ordering only makes it
    # tight. Tiny (one row per query): collected to a literal map so the
    # survivor filter needs no join.
    taus = {int(row["qi"]): int(row["tau"])
            for row in seed_d.groupBy("qi")
                             .agg(F.max("dtw_d2").alias("tau")).collect()}
    tau_entries: list = []
    for qi_val, tau in sorted(taus.items()):
        tau_entries += [F.lit(qi_val), F.lit(tau)]
    tau_col = (F.element_at(F.create_map(*tau_entries), F.col("qi"))
               if tau_entries else F.lit(-1))
    survivors = lb_df.filter(F.col("lb") <= tau_col) \
        .join(F.broadcast(seeds), ["qi", "doc_id"], "left_anti") \
        .select("qi", "doc_id")
    all_d = seed_d.unionByName(exact(survivors))
    by_d = Window.partitionBy("qi").orderBy("dtw_d2", "doc_id")
    qid_entries: list = []
    for i in range(nq):
        qid_entries += [F.lit(i), F.lit(str(qid_of[i]))]
    return (all_d.withColumn("rnk", F.row_number().over(by_d))
            .filter(F.col("rnk") <= k)
            .select(F.element_at(F.create_map(*qid_entries),
                                 F.col("qi")).alias("qid"),
                    "doc_id", "dtw_d2", F.col("rnk").cast("int").alias("rnk")))


def dtw_knn_brute(df: DataFrame, queries: DataFrame, k: int = 5, r: int = 8,
                  length: int = 64, id_col: str = "doc_id",
                  tokens_col: str = "tokens") -> DataFrame:
    """Quadratic verification baseline: exact DTW against EVERY corpus doc
    (no LB prune). Same output contract as :func:`dtw_knn` — the pruned
    path must match this bit-for-bit (tested)."""
    qids, qvecs = _collect_queries(queries, id_col, tokens_col, length)
    nq = len(qids)
    corpus = df.select(F.col(id_col).alias("doc_id"),
                       F.col(tokens_col).alias("toks")) \
               .filter(F.size("toks") >= length)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            cand = fixed_rows(rb.column("toks"), length, np.int64)
            for qi in range(nq):
                q = np.broadcast_to(qvecs[qi], cand.shape).copy()
                yield pa.RecordBatch.from_arrays([
                    pa.array(np.full(rb.num_rows, qi, dtype=np.int32)),
                    rb.column("doc_id"), pa.array(_dtw_batch(q, cand, r))],
                    ["qi", "doc_id", "dtw_d2"])

    d = corpus.mapInArrow(run, "qi int, doc_id string, dtw_d2 long")
    by_d = Window.partitionBy("qi").orderBy("dtw_d2", "doc_id")
    qid_entries: list = []
    for i in range(nq):
        qid_entries += [F.lit(i), F.lit(str(qids[i]))]
    return (d.withColumn("rnk", F.row_number().over(by_d))
            .filter(F.col("rnk") <= k)
            .select(F.element_at(F.create_map(*qid_entries),
                                 F.col("qi")).alias("qid"),
                    "doc_id", "dtw_d2", F.col("rnk").cast("int").alias("rnk")))
