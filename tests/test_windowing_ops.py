"""forecast windows + attention gate + activations + en_loss vs a NumPy
reference."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def toks_df(spark):
    rng = np.random.default_rng(17)
    rows = [(f"d{i:03d}",
             rng.integers(1, 30, rng.integers(1, 60)).astype(int).tolist(),
             "t")
            for i in range(60)]
    rows.append(("empty", [], "t"))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "tokens", "source"]))


def test_forecast_windows_match_numpy(spark, toks_df):
    from tsrollup.windowing import forecast_window_aggs

    length, label_length, shift, stride = 8, 4, 8, 4
    got = {(r["doc_id"], r["win_start"]): r
           for r in forecast_window_aggs(
               toks_df, length, label_length, shift, stride).collect()}
    n_pairs = 0
    for _, r in toks_df.toPandas().iterrows():
        x = np.asarray(r["tokens"], dtype=np.int64)
        total = max(length, shift + label_length)
        for s in range(0, len(x) - total + 1, stride):
            n_pairs += 1
            g = got.pop((r["doc_id"], s))
            xin, lab = x[s:s + length], x[s + shift:s + shift + label_length]
            assert (g["in_sum"], g["in_min"], g["in_max"]) == \
                (xin.sum(), xin.min(), xin.max())
            assert g["label_start"] == s + shift
            assert (g["label_sum"], g["label_min"], g["label_max"]) == \
                (lab.sum(), lab.min(), lab.max())
    assert n_pairs > 0 and not got  # no extra windows produced


def test_attention_gate_matches_numpy(spark, toks_df):
    from tsrollup.gating import attention_softmax_features

    got = {r["doc_id"]: r
           for r in attention_softmax_features(toks_df).collect()}
    for _, r in toks_df.toPandas().iterrows():
        x = np.asarray(r["tokens"], dtype=np.float64)
        if not len(x):
            assert r["doc_id"] not in got
            continue
        s = float(np.asarray(r["tokens"], dtype=np.int64).sum())
        gated = x * (x / s) + x
        acc = 0.0
        for v in gated:
            acc = acc + v  # pinned left fold, like the Spark aggregate
        g = got[r["doc_id"]]
        assert g["n_tok"] == len(x)
        assert g["gate_sum"] == acc
        assert g["gate_max"] == gated.max()


def test_en_loss_matches_numpy(spark, toks_df):
    from tsrollup.gating import residual_en_features

    got = {r["doc_id"]: r for r in residual_en_features(toks_df).collect()}
    for _, r in toks_df.toPandas().iterrows():
        x = r["tokens"]
        if not len(x):
            assert r["doc_id"] not in got
            continue
        acc = 0.0
        for v in x:
            p = min(max(v / 100.0, 1.0e-7), 1.0 - 1.0e-7)
            t = (-math.log(p)) ** 0.3 if v % 2 == 1 \
                else (-math.log(1.0 - p)) ** 0.3
            acc = acc + round(t, 9)
        assert got[r["doc_id"]]["n_tok"] == len(x)
        assert got[r["doc_id"]]["en_loss"] == acc / len(x)


def test_attention_softmax_features_match_numpy(spark, toks_df):
    """Merged attention+softmax head: z = Σ round9(exp(x−max)) and
    p_max = max(e)/z reproduce the scalar reference exactly (integer
    exponent domain ⇒ round-9 exp is the pinned convention)."""
    import numpy as np

    from tsrollup.gating import attention_softmax_features

    got = {r["doc_id"]: r
           for r in attention_softmax_features(toks_df).collect()}
    for _, row in toks_df.toPandas().iterrows():
        x = np.asarray(row["tokens"], dtype=np.int64)
        if x.size == 0 or x.sum() <= 0:
            assert row["doc_id"] not in got
            continue
        e = np.round(np.exp((x - x.max()).astype(np.float64)), 9)
        z = 0.0
        for v in e:  # pinned left fold
            z = z + v
        g = got[row["doc_id"]]
        assert g["softmax_z"] == z
        assert g["softmax_pmax"] == float(e.max() / z)
        # entropy H = ln z − (Σ eᵢ·dᵢ)/z: the folds are pinned, the final
        # ln is libm — compare to the same formula within 1 ulp-ish rtol
        d = (x - x.max()).astype(np.float64)
        sed = 0.0
        for v in e * d:
            sed = sed + v
        want_h = np.log(z) - sed / z
        np.testing.assert_allclose(g["softmax_entropy"], want_h, rtol=1e-12)
        # sanity: entropy of an n-point distribution lies in [0, ln n]
        assert -1e-9 <= g["softmax_entropy"] <= np.log(x.size) + 1e-9


def test_attention_query_excludes_entropy_column(spark, tmp_path):
    """The oracle-hashed query drops the libm-unsafe entropy column."""
    import __spark_entry__ as entrymod

    pd.DataFrame({"doc_id": [1, 2], "text": ["a bb", "ccc dd e"]}) \
        .to_parquet(tmp_path / "documents.parquet")
    cols = entrymod.q_attention_gate(spark, str(tmp_path)).columns
    assert cols == ["doc_id", "n_tok", "gate_sum", "gate_max", "softmax_z",
                    "softmax_pmax"]


def test_activation_features_match_numpy(spark, toks_df):
    """tanh/sigmoid sums of round-9 values and ReLU/LeakyReLU checksums
    against a scalar reference with the same pinned left folds: at the
    query's threshold=8 and at 20, where the leaky branch sums negative
    α·(x − t) terms over most tokens (tokens are 1..29)."""
    from tsrollup.gating import activation_features

    alpha = 0.01
    pdf = toks_df.toPandas()
    for thr in (8, 20):
        got = {r["doc_id"]: r
               for r in activation_features(toks_df, threshold=thr,
                                            leaky_alpha=alpha).collect()}
        n_neg = 0
        for _, r in pdf.iterrows():
            x = [int(v) for v in r["tokens"]]
            if not x:
                assert r["doc_id"] not in got
                continue
            tanh_s = sig_s = leaky_s = 0.0
            for v in x:
                tanh_s = tanh_s + round(math.tanh(float(v)), 9)
                sig_s = sig_s + round(1.0 / (1.0 + math.exp(-float(v))), 9)
                leaky_s = leaky_s + (float(v - thr) if v > thr
                                     else alpha * float(v - thr))
            n_neg += sum(v < thr for v in x)
            g = got[r["doc_id"]]
            assert g["n_tok"] == len(x)
            assert g["tanh_sum"] == tanh_s and g["sigmoid_sum"] == sig_s
            assert g["relu_sum"] == sum(max(v - thr, 0) for v in x)
            assert g["n_active"] == sum(v > thr for v in x)
            assert g["leaky_sum"] == leaky_s
        assert n_neg > 0


def test_residual_en_single_token_doc_matches_oracle(spark):
    """Cross-engine parity on the SINGLE-TOKEN edge the fixtures happen not
    to contain: Spark's residual columns are NULL (the branch needs ≥2
    positions) and the DuckDB oracle must agree — DuckDB's
    list_prepend(0.0, NULL) is [0.0], so an unguarded list_reduce would
    return 0.0 where Spark returns NULL (found in round-5 review)."""
    import duckdb
    import numpy as np
    import pandas as pd

    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    from tsrollup.gating import residual_en_features

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["one", "two words", "a bb ccc dddd"],
    })
    sdf = (spark.createDataFrame(docs)
           .select(F.col("doc_id").cast("string").alias("doc_id"),
                   F.transform(F.split("text", " "),
                               lambda w: F.length(w)).alias("tokens")))
    got = residual_en_features(sdf).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)

    con = duckdb.connect()
    con.register("documents", docs)
    sql = entrymod.oracle_sql()["residual_add"]
    want = con.sql(sql).df().sort_values("doc_id").reset_index(drop=True)
    assert list(got.columns) == list(want.columns) == \
        ["doc_id", "n_res", "res_sum", "n_tok", "en_loss"]
    for c in got.columns:
        gv, wv = got[c].values, want[c].values
        for g, w in zip(gv, wv):
            if pd.isna(g) or pd.isna(w):
                assert pd.isna(g) and pd.isna(w), (c, g, w)
            else:
                assert g == w, (c, g, w)
    # the single-token doc: residual NULL, en_loss present
    one = got[got["doc_id"] == "1"].iloc[0]
    assert pd.isna(one["n_res"]) and pd.isna(one["res_sum"])
    assert one["n_tok"] == 1 and not pd.isna(one["en_loss"])


def test_pack_offsets_planted(spark):
    """Hand-computed placement on one bucket (n_buckets=1 ⇒ global concat
    order by doc_id): offsets are the running sum, chunk grid is integer
    division, a zero-length doc occupies no tokens but still reports one
    chunk span by convention."""
    from tsrollup.windowing import pack_offsets

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4],
                      "n_tok": [3, 0, 2048, 5]}))
    got = {r["doc_id"]: r
           for r in pack_offsets(df, capacity=4, n_buckets=1).collect()}
    # doc 1: tokens [0,3) → chunks 0..0
    assert (got[1]["tok_offset"], got[1]["chunk_first"],
            got[1]["chunk_last"], got[1]["n_chunks"]) == (0, 0, 0, 1)
    # doc 2: zero tokens at offset 3 → degenerate single-chunk span
    assert (got[2]["tok_offset"], got[2]["chunk_first"],
            got[2]["chunk_last"], got[2]["n_chunks"]) == (3, 0, 0, 1)
    # doc 3: tokens [3, 2051) → chunks 0..512 (513 spanned)
    assert (got[3]["tok_offset"], got[3]["chunk_first"],
            got[3]["chunk_last"], got[3]["n_chunks"]) == (3, 0, 512, 513)
    # doc 4: tokens [2051, 2056) → chunks 512..513
    assert (got[4]["tok_offset"], got[4]["chunk_first"],
            got[4]["chunk_last"], got[4]["n_chunks"]) == (2051, 512, 513, 2)
    assert all(r["bucket"] == 0 for r in got.values())


def test_pack_offsets_bucket_streams_contiguous(spark):
    """With many buckets each stream is independently gapless: within a
    bucket, docs sorted by id tile [0, sum(n_tok)) exactly, and the bucket
    assignment is the dedup family's md5 hash (cross-engine stable)."""
    import hashlib

    from tsrollup.windowing import pack_offsets

    rng = np.random.default_rng(5)
    ids = list(range(200))
    lens = rng.integers(0, 50, len(ids)).astype(int).tolist()
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "n_tok": lens}))
    rows = pack_offsets(df, capacity=16, n_buckets=8).collect()
    assert len(rows) == len(ids)
    by_bucket: dict[int, list] = {}
    for r in rows:
        want_b = int(hashlib.md5(str(r["doc_id"]).encode())
                     .hexdigest()[:15], 16) % 8
        assert r["bucket"] == want_b
        by_bucket.setdefault(r["bucket"], []).append(r)
    for rs in by_bucket.values():
        rs.sort(key=lambda r: r["doc_id"])
        pos = 0
        for r in rs:
            assert r["tok_offset"] == pos
            assert r["chunk_first"] == pos // 16
            assert r["chunk_last"] == (pos + max(r["n_tok"] - 1, 0)) // 16
            assert r["n_chunks"] == r["chunk_last"] - r["chunk_first"] + 1
            pos += r["n_tok"]


def test_pack_offsets_matches_oracle(spark):
    """Cross-engine parity of the full q_pack_offsets pipeline (whitespace
    token count → hash-bucketed pack) against the registered DuckDB oracle
    on a synthetic documents table — the same contract the driver checks on
    the sf fixtures, minus the parquet round-trip."""
    import duckdb

    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F
    from tsrollup.text import words
    from tsrollup.windowing import pack_offsets

    docs = pd.DataFrame({
        "doc_id": list(range(40)),
        "text": [" ".join(f"w{j}" for j in range(3 * i % 17 + 1))
                 for i in range(40)],
    })
    counted = (spark.createDataFrame(docs)
               .select("doc_id",
                       F.size(words("text")).cast("long").alias("n_tok")))
    got = (pack_offsets(counted, capacity=2048, n_buckets=32).toPandas()
           .sort_values("doc_id").reset_index(drop=True))

    con = duckdb.connect()
    con.register("documents", docs)
    want = (con.sql(entrymod.oracle_sql()["pack_offsets"]).df()
            .sort_values("doc_id").reset_index(drop=True))
    assert list(got.columns) == list(want.columns)
    for c in got.columns:
        assert (got[c].values == want[c].values).all(), c


class TestRobustNormStats:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id string, tokens array<int>")

    def test_hand_built_odd_and_even(self, spark):
        from tsrollup.windowing import robust_norm_stats

        out = {r.doc_id: r for r in robust_norm_stats(self._docs(spark, [
            ("odd", [5, 1, 3, 2, 4]),       # sorted 1 2 3 4 5
            ("even", [4, 1, 3, 2]),         # sorted 1 2 3 4
        ])).collect()}
        o = out["odd"]
        # median 3 → 6; halves of m=3: [1,2,3] & [3,4,5] → hinges 2, 4
        assert (o.median2, o.h1x2, o.h2x2, o.iqr2) == (6, 4, 8, 4)
        e = out["even"]
        # median (2+3) = 5; halves m=2: [1,2] & [3,4] → 3, 7
        assert (e.median2, e.h1x2, e.h2x2, e.iqr2) == (5, 3, 7, 4)

    def test_fence_census(self, spark):
        from tsrollup.windowing import robust_norm_stats

        # sorted 1..7 + spike 100: med2=9, m=4, h1x2=2+3=5? halves
        # [1,2,3,4] & [5,6,7,100]: h1x2=5, h2x2=13, iqr2=8
        # fence: 2|2t-9| > 24 → t ≥ 11 or t ≤ -1 → only the spike
        r = robust_norm_stats(self._docs(
            spark, [("d", [1, 2, 3, 4, 5, 6, 7, 100])])).collect()[0]
        assert (r.median2, r.h1x2, r.h2x2, r.iqr2) == (9, 5, 13, 8)
        assert r.n_outliers == 1

    def test_constant_doc_no_outliers(self, spark):
        from tsrollup.windowing import robust_norm_stats

        r = robust_norm_stats(self._docs(
            spark, [("c", [7] * 10)])).collect()[0]
        assert r.iqr2 == 0 and r.n_outliers == 0

    def test_empty_doc_null_stats(self, spark):
        from tsrollup.windowing import robust_norm_stats

        r = robust_norm_stats(self._docs(spark, [("e", [])])).collect()[0]
        assert r.n_tok == 0 and r.median2 is None and r.n_outliers == 0

    def test_single_token(self, spark):
        from tsrollup.windowing import robust_norm_stats

        r = robust_norm_stats(self._docs(spark, [("s", [9])])).collect()[0]
        assert (r.median2, r.h1x2, r.h2x2, r.iqr2) == (18, 18, 18, 0)
        assert r.n_outliers == 0
