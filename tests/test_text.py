"""Text operators on planted inputs: lang-ID picks the planted language,
quality/quantity metrics are exact, fingerprints collide only on equality."""

from __future__ import annotations

import pandas as pd
import pytest


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (1, "the cat sat on the mat and it was happy for the rest of the day"),
        (2, "der hund und die katze sind nicht mit dem ball von den kindern"),
        (3, "le chat et le chien sont dans la maison avec les enfants"),
        (4, "el perro y el gato con los juguetes para una siesta del verano"),
        (5, "zzz qqq xxx www"),  # no stopwords anywhere
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_lang_id_planted(spark, docs_df):
    from tsrollup.text import quality_lang

    got = {r["doc_id"]: r for r in quality_lang(docs_df).collect()}
    assert [got[i]["pred_lang"] for i in (1, 2, 3, 4)] == \
        ["en", "de", "fr", "es"]
    # "the" ×4 + of/and/it/was/for, each an English stopword
    assert got[1]["stop_hits"] == 9


def test_token_stats_exact(spark, docs_df):
    import re

    from tsrollup.text import BPE_PATTERN, text_profile

    r = text_profile(docs_df).filter("doc_id = 1").collect()[0]
    text = "the cat sat on the mat and it was happy for the rest of the day"
    assert r["n_words"] == len(text.split(" "))
    assert r["bpe_tokens"] == len(re.findall(BPE_PATTERN, text))
    assert r["n_chars_meas"] == len(text)
    assert r["bpe_est"] == len(text) / 4.0
    assert r["max_word_len"] == max(len(w) for w in text.split(" "))


def test_quality_score_exact(spark, docs_df):
    from tsrollup.text import quality_lang

    r = quality_lang(docs_df).filter("doc_id = 1").collect()[0]
    words = "the cat sat on the mat and it was happy for the rest of the day" \
        .split(" ")
    en = {"the", "of", "and", "to", "in", "is", "that", "it", "was", "for"}
    n_stop = sum(w in en for w in words)
    assert r["n_stopwords"] == n_stop
    assert r["stop_ratio"] == n_stop / len(words)
    mean_wl = len(" ".join(words)) / len(words)
    assert r["mean_word_len"] == mean_wl
    assert r["quality"] == (n_stop / len(words)) * 2.0 + 1.0 / mean_wl
    z = quality_lang(docs_df).filter("doc_id = 5").collect()[0]
    assert z["n_stopwords"] == 0


def test_fingerprint_unique_unless_equal(spark, docs_df):
    from tsrollup.text import text_profile

    two = docs_df.union(docs_df.filter("doc_id = 1"))
    fp = text_profile(two).toPandas()
    assert fp["md5"].nunique() == 5  # 6 rows, one duplicated text
    assert fp.groupby("md5")["fp60"].nunique().max() == 1


def test_repetition_stats_planted(spark):
    """Hand-computed Gopher repetition values on planted docs, including
    the short-doc NULL edge and a pure-repetition doc."""
    from tsrollup.text import repetition_stats

    df = spark.createDataFrame(pd.DataFrame([
        (1, "spam spam spam spam ham"),  # 2g: 3x"spam spam","spam ham"
        (2, "a b c d"),                  # all distinct
        (3, "x"),                        # <2 words -> zero grams, NULLs
        (4, "go go go go"),              # single repeated 2-/3-gram
    ], columns=["doc_id", "text"]))
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}

    assert out[1]["n2_grams"] == 4
    assert out[1]["dup2_frac"] == (4 - 2) / 4
    assert out[1]["top2_frac"] == 3 / 4
    assert out[1]["n3_grams"] == 3
    assert out[1]["dup3_frac"] == (3 - 2) / 3
    assert out[1]["top3_frac"] == 2 / 3

    assert out[2]["dup2_frac"] == 0.0 and out[2]["top2_frac"] == 1 / 3
    assert out[2]["dup3_frac"] == 0.0 and out[2]["top3_frac"] == 1 / 2

    assert out[3]["n2_grams"] == 0 and out[3]["n3_grams"] == 0
    assert out[3]["dup2_frac"] is None and out[3]["top3_frac"] is None

    assert out[4]["n2_grams"] == 3
    assert out[4]["dup2_frac"] == (3 - 1) / 3 and out[4]["top2_frac"] == 1.0
    assert out[4]["dup3_frac"] == (2 - 1) / 2 and out[4]["top3_frac"] == 1.0


def test_repetition_stats_matches_python_counter(spark, docs_df):
    """Cross-check the array-fold implementation against a naive
    collections.Counter reference on every fixture doc."""
    from collections import Counter

    from tsrollup.text import repetition_stats

    texts = {r["doc_id"]: r["text"] for r in docs_df.collect()}
    for r in repetition_stats(docs_df).collect():
        ws = texts[r["doc_id"]].split(" ")
        for n in (2, 3):
            grams = [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]
            c = Counter(grams)
            assert r[f"n{n}_grams"] == len(grams)
            if grams:
                assert r[f"dup{n}_frac"] == (len(grams) - len(c)) / len(grams)
                assert r[f"top{n}_frac"] == max(c.values()) / len(grams)
            else:
                assert r[f"dup{n}_frac"] is None


def test_repetition_stats_random_corpus_sweep(spark):
    """Seeded random corpus over a 3-word alphabet (forcing heavy gram
    collisions) + length sweep 0..12 words, all verified against the
    Counter reference in ONE Spark job."""
    import random
    from collections import Counter

    from tsrollup.text import repetition_stats

    rng = random.Random(42)
    texts = [" ".join(rng.choice("ab ba c".split(" "))
                      for _ in range(rng.randrange(0, 13)))
             for _ in range(150)]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(150), "text": texts}))
    for r in repetition_stats(df).collect():
        ws = texts[r["doc_id"]].split(" ")
        for n in (2, 3):
            grams = [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]
            c = Counter(grams)
            assert r[f"n{n}_grams"] == len(grams)
            if grams:
                assert r[f"dup{n}_frac"] == (len(grams) - len(c)) / len(grams)
                assert r[f"top{n}_frac"] == max(c.values()) / len(grams)
            else:
                assert r[f"dup{n}_frac"] is None
                assert r[f"top{n}_frac"] is None


def test_vocab_topk_planted(spark):
    """Exact counts + document frequency on a planted corpus, and the
    k-cut boundary: ties at the cut resolve by the total (count desc,
    word asc) order, so the selected set is deterministic."""
    from tsrollup.text import vocab_topk

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["a a a b b c", "a b c d", "e e d"],
    }))
    rows = vocab_topk(df, k=3).collect()
    # counts: a=4(2 docs) b=3(2) e=2(1) c=2(2) d=2(2); order by count
    # desc then word asc → a, b, c (c beats d and e alphabetically at 2)
    assert [(r["word"], r["n_occ"], r["n_docs"]) for r in rows] == \
        [("a", 4, 2), ("b", 3, 2), ("c", 2, 2)]
    full = vocab_topk(df, k=100).collect()
    assert [(r["word"], r["n_occ"], r["n_docs"]) for r in full] == \
        [("a", 4, 2), ("b", 3, 2), ("c", 2, 2), ("d", 2, 2), ("e", 2, 1)]


def test_mixture_sample_matches_hashlib_reference(spark):
    """The keep decision is the salted md5 threshold, reproducible outside
    Spark; rate 0 keeps nothing, rate 1 keeps everything, and the default
    applies to unlisted sources."""
    import hashlib

    from tsrollup.text import mixture_sample

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(300)),
        "source": [f"s{i % 3}" for i in range(300)],
    }))
    rates = {"s0": 0.0, "s1": 1.0, "s2": 0.4}
    rows = mixture_sample(df, rates, default=0.9).collect()
    assert len(rows) == 300
    for r in rows:
        h = int(hashlib.md5(f"7|{r['doc_id']}".encode())
                .hexdigest()[:15], 16) % 10000
        want = h < int(rates.get(r["source"], 0.9) * 10000)
        assert r["keep"] == want, r
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r["keep"])
    assert not any(by_src["s0"])          # rate 0: nothing survives
    assert all(by_src["s1"])              # rate 1: everything survives
    frac = sum(by_src["s2"]) / len(by_src["s2"])
    assert 0.2 < frac < 0.6               # rate 0.4 lands in a sane band


class TestBigramLM:
    def test_planted_counts_and_continuation(self, spark):
        from tsrollup.text import bigram_lm_counts

        docs = spark.createDataFrame(
            [(1, "a b a b c"), (2, "a b x"), (3, "z b q")],
            "doc_id long, text string")
        out = {(r.w1, r.w2): r for r in
               bigram_lm_counts(docs, k=100).collect()}
        ab = out[("a", "b")]
        # "a b" occurs twice in doc 1, once in doc 2
        assert ab.n_occ == 3 and ab.n_docs == 2
        # continuation N1+(. b): distinct left contexts of "b" = {a, z}
        assert ab.n_left_contexts == 2
        assert out[("z", "b")].n_left_contexts == 2
        # "b a" (doc 1) has continuation N1+(. a) = {b} only
        assert out[("b", "a")].n_left_contexts == 1

    def test_single_word_and_empty_docs_yield_no_pairs(self, spark):
        from tsrollup.text import bigram_lm_counts

        docs = spark.createDataFrame(
            [(1, "solo"), (2, "x y")], "doc_id long, text string")
        out = bigram_lm_counts(docs, k=10).collect()
        assert len(out) == 1 and (out[0].w1, out[0].w2) == ("x", "y")

    def test_k_cut_total_order(self, spark):
        from tsrollup.text import bigram_lm_counts

        # four bigrams with equal counts: cut must take the (w1, w2)
        # lexicographic head deterministically
        docs = spark.createDataFrame(
            [(1, "a a"), (2, "a b"), (3, "b a"), (4, "b b")],
            "doc_id long, text string")
        out = bigram_lm_counts(docs, k=2).collect()
        assert sorted((r.w1, r.w2) for r in out) == [("a", "a"), ("a", "b")]

    def test_rejects_bad_k(self, spark):
        from tsrollup.text import bigram_lm_counts

        with pytest.raises(ValueError):
            bigram_lm_counts(spark.range(1), k=0)


class TestPiiScan:
    def test_planted_pii_counted_and_redacted(self, spark):
        from tsrollup.text import pii_scan

        docs = spark.createDataFrame(
            [(1, "mail a.b+x@foo.co now, backup c@d.org"),
             (2, "host 192.168.0.1 dialed 555-123-4567"),
             (3, "clean text only"),
             (4, "almost: 1.2.3 and 555-12-34567 and a@b")],
            "doc_id long, text string")
        out = {r.doc_id: r for r in pii_scan(docs).collect()}
        assert out[1].n_email == 2 and out[1].n_pii == 2
        assert out[2].n_ipv4 == 1 and out[2].n_phone == 1
        assert out[3].n_pii == 0
        assert out[3].redacted_len == out[3].text_len
        # near-misses must NOT match (partial IP, bad phone, bare a@b)
        assert out[4].n_pii == 0
        # redaction replaced two emails with the 5-char mask
        t1 = docs.filter("doc_id = 1").collect()[0].text
        assert out[1].redacted_len == len(t1) - len("a.b+x@foo.co") \
            - len("c@d.org") + 2 * 5

    def test_custom_pattern_class(self, spark):
        from tsrollup.text import pii_scan

        docs = spark.createDataFrame(
            [(1, "key sk-abcdef0123456789 leaked")],
            "doc_id long, text string")
        out = pii_scan(docs, patterns={
            "secret": r"\bsk-[A-Za-z0-9]{16}\b"}).collect()[0]
        assert out.n_secret == 1 and out.n_pii == 1

    def test_rejects_empty_patterns(self, spark):
        from tsrollup.text import pii_scan

        with pytest.raises(ValueError):
            pii_scan(spark.range(1), patterns={})

    def test_zero_exchange_plan(self, spark):
        from tsrollup.planaudit import formatted_plan, n_data_exchanges
        from tsrollup.text import pii_scan

        docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        plan = formatted_plan(pii_scan(docs))
        assert n_data_exchanges(plan) == 0, plan


class TestTfidfTopk:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_hand_computed_scores_and_ranks(self, spark):
        from tsrollup.text import tfidf_topk
        # N=3; "cat" in d1 only (df=1), "the" in all (df=3)
        df = self._docs(spark, [
            (1, "the cat cat"), (2, "the dog"), (3, "the bird")])
        out = {(r.doc_id, r.word): r for r in tfidf_topk(df, k=3).collect()}
        r = out[(1, "cat")]
        assert (r.tf, r.df_docs, r.score) == (2, 1, 6.0)  # 2*3/1
        assert r.rank == 1
        assert out[(1, "the")].score == 1.0  # 1*3/3
        assert out[(2, "dog")].rank == 1 and out[(2, "dog")].score == 3.0

    def test_tie_breaks_on_word_asc(self, spark):
        from tsrollup.text import tfidf_topk
        df = self._docs(spark, [(1, "b a"), (2, "a b")])
        out = {r.word: r.rank for r in
               tfidf_topk(df, k=2).where("doc_id = 1").collect()}
        assert out == {"a": 1, "b": 2}  # equal scores, word asc

    def test_k_cut(self, spark):
        from tsrollup.text import tfidf_topk
        df = self._docs(spark, [(1, "a b c d e f g")])
        assert tfidf_topk(df, k=3).count() == 3

    def test_ln_variant_numpy_parity(self, spark):
        # approx, not ==: JVM Math.log(3.0) is 1 ulp off glibc's — the
        # exact libm instability that keeps the ln variant OUT of the
        # value oracle (module docstring)
        import math
        import pytest as _pytest
        from tsrollup.text import tfidf_topk
        df = self._docs(spark, [
            (1, "x x y the"), (2, "the y"), (3, "the z")])
        out = {(r.doc_id, r.word): r.score
               for r in tfidf_topk(df, k=10, idf="ln").collect()}
        assert out[(1, "x")] == _pytest.approx(
            2.0 * math.log(3.0), rel=1e-14)
        assert out[(1, "the")] == 0.0

    def test_validation(self, spark):
        from tsrollup.text import tfidf_topk
        import pytest as _pytest
        with _pytest.raises(ValueError):
            tfidf_topk(self._docs(spark, []), k=0)
        with _pytest.raises(ValueError):
            tfidf_topk(self._docs(spark, []), idf="log10")


class TestOovRate:
    def test_coverage_against_planted_vocab(self, spark):
        from tsrollup.text import oov_rate
        # "a" x4 and "b" x3 dominate; vocab_size=2 -> {a, b}
        docs = [("1", "s1", "a a b x"), ("2", "s1", "a b y y"),
                ("3", "s2", "a b")]
        df = spark.createDataFrame(docs, "doc_id string, source string, "
                                         "text string")
        out = {r.source: r for r in oov_rate(df, vocab_size=2).collect()}
        # s1: 8 words, oov = {x, y, y} -> 3 occ, 2 types
        assert out["s1"].n_words == 8 and out["s1"].n_oov == 3
        assert out["s1"].n_oov_types == 2
        assert out["s1"].oov_rate == 3 / 8
        # s2 fully covered
        assert out["s2"].n_oov == 0 and out["s2"].oov_rate == 0.0

    def test_vocab_cut_is_total_order(self, spark):
        from tsrollup.text import oov_rate
        # tie at the boundary: "b" and "c" both appear twice; word asc
        # breaks the tie so vocab_size=2 -> {a, b}, "c" is OOV
        docs = [("1", "s", "a a a b b c c")]
        df = spark.createDataFrame(docs, "doc_id string, source string, "
                                         "text string")
        r = oov_rate(df, vocab_size=2).collect()[0]
        assert r.n_oov == 2 and r.n_oov_types == 1

    def test_validation(self, spark):
        from tsrollup.text import oov_rate
        df = spark.createDataFrame([], "doc_id string, source string, "
                                       "text string")
        import pytest as _pytest
        with _pytest.raises(ValueError):
            oov_rate(df, vocab_size=0)

    def test_vocab_ships_broadcast(self, spark):
        from tsrollup.planaudit import count_op, formatted_plan
        from tsrollup.text import oov_rate
        df = spark.createDataFrame([("1", "s", "a b")],
                                   "doc_id string, source string, "
                                   "text string")
        plan = formatted_plan(oov_rate(df))
        assert count_op(plan, "BroadcastHashJoin") >= 1, plan
        assert count_op(plan, "SortMergeJoin") == 0, plan


class TestCollocations:
    def _docs(self, spark, texts):
        import pandas as pd
        return spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))

    def test_planted_collocation_ranks_first(self, spark):
        from tsrollup.text import collocations

        # "new york" always together; "the", "a" everywhere (high count,
        # low lift); filler independent
        texts = ["new york " * 6 + "the a the a b c",
                 "the b a c new york the a new york",
                 "a the c b the a"]
        out = collocations(self._docs(spark, texts), k=5,
                           min_count=3).toPandas()
        assert (out.iloc[0].w1, out.iloc[0].w2) == ("new", "york")
        r = out.iloc[0]
        # exact lift: n_bg * N / (n_new * n_york)
        assert r.n_occ == 8 and r.n_w1 == 8 and r.n_w2 == 8
        N = sum(len(t.split()) for t in texts)
        assert r.lift == 8 * N / (8 * 8)

    def test_min_count_drops_hapax(self, spark):
        from tsrollup.text import collocations

        texts = ["unique pairing " + "x y " * 5] * 1
        out = collocations(self._docs(spark, texts), k=10,
                           min_count=2).toPandas()
        pairs = set(zip(out.w1, out.w2))
        assert ("unique", "pairing") not in pairs  # count 1 < min_count
        assert ("x", "y") in pairs

    def test_validation(self, spark):
        import pytest as _pytest

        from tsrollup.text import collocations

        df = self._docs(spark, ["a b"])
        with _pytest.raises(ValueError):
            collocations(df, k=0)
        with _pytest.raises(ValueError):
            collocations(df, min_count=0)


class TestTokenBudget:
    def _docs(self, spark):
        rows = [(i, f"t{i}", "en", "a" if i < 4 else "b", 100)
                for i in range(8)]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
                  "n_tok long")

    def test_rates_hit_budget_in_expectation(self, spark):
        from tsrollup.text import token_budget

        # source a: 400 tokens, budget 100 -> 2500 bp, expect 100
        out = {r.source: r for r in token_budget(
            self._docs(spark), budgets={"a": 100}).collect()}
        assert out["a"].total_tokens == 400
        assert out["a"].rate_bp == 2500
        assert out["a"].expected_tokens == 100
        # unbudgeted source keeps everything
        assert out["b"].budget_tokens is None
        assert out["b"].rate_bp == 10000
        assert out["b"].expected_tokens == 400

    def test_budget_over_total_uncapped_and_zero_drops(self, spark):
        from tsrollup.text import token_budget

        out = {r.source: r for r in token_budget(
            self._docs(spark), budgets={"a": 0, "b": 999_999}).collect()}
        assert out["a"].rate_bp == 0 and out["a"].expected_tokens == 0
        assert out["b"].rate_bp == 10000

    def test_default_budget_applies(self, spark):
        from tsrollup.text import token_budget

        out = {r.source: r for r in token_budget(
            self._docs(spark), budgets={}, default_budget=200).collect()}
        assert out["a"].rate_bp == 5000 and out["b"].rate_bp == 5000

    def test_negative_budget_rejected(self, spark):
        import pytest as _pytest

        from tsrollup.text import token_budget

        with _pytest.raises(ValueError):
            token_budget(self._docs(spark), budgets={"a": -1})


class TestStratifiedSplit:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, source string")

    def test_exact_proportions_per_stratum(self, spark):
        from tsrollup.text import stratified_split

        rows = [(i, "a") for i in range(100)] + \
               [(1000 + i, "b") for i in range(7)]
        out = stratified_split(self._docs(spark, rows),
                               weights=(("train", 8), ("val", 1),
                                        ("test", 1))).collect()
        counts = {}
        for r in out:
            counts[(r.source, r.split)] = counts.get((r.source, r.split),
                                                     0) + 1
        assert counts[("a", "train")] == 80
        assert counts[("a", "val")] == 10 and counts[("a", "test")] == 10
        # n=7, W=10: every split count within 1 of ideal 5.6/0.7/0.7
        assert counts[("b", "train")] == 6
        assert counts.get(("b", "val"), 0) == 1
        assert counts.get(("b", "test"), 0) == 0 or \
            counts.get(("b", "test"), 0) == 1

    def test_deterministic_and_order_invariant(self, spark):
        from tsrollup.text import stratified_split

        rows = [(i, "s") for i in range(50)]
        a = {r.doc_id: r.split for r in stratified_split(
            self._docs(spark, rows)).collect()}
        b = {r.doc_id: r.split for r in stratified_split(
            self._docs(spark, list(reversed(rows))).repartition(7)
        ).collect()}
        assert a == b

    def test_bad_weights_rejected(self, spark):
        from tsrollup.text import stratified_split

        df = self._docs(spark, [(1, "s")])
        with pytest.raises(ValueError):
            stratified_split(df, weights=(("a", 1),))
        with pytest.raises(ValueError):
            stratified_split(df, weights=(("a", 1), ("b", 0)))


class TestUnigramSurprisal:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_numpy_parity_hand_built(self, spark):
        import numpy as np

        from tsrollup.text import unigram_surprisal

        rows = [(1, "a a b"), (2, "b c"), (3, "a")]
        # corpus counts: a=3, b=2, c=1, N=6
        out = {r.doc_id: r for r in
               unigram_surprisal(self._docs(spark, rows)).collect()}
        ln = np.log
        want1 = -(2 * ln(3 / 6) + ln(2 / 6)) / 3
        want2 = -(ln(2 / 6) + ln(1 / 6)) / 2
        want3 = -ln(3 / 6)
        assert out[1].n_tok == 3 and out[2].n_tok == 2 and out[3].n_tok == 1
        np.testing.assert_allclose(
            [out[1].surprisal_nats, out[2].surprisal_nats,
             out[3].surprisal_nats], [want1, want2, want3], rtol=1e-14)
        np.testing.assert_allclose(
            out[2].bits_per_token, want2 / ln(2.0), rtol=1e-14)

    def test_common_word_docs_score_lower(self, spark):
        from tsrollup.text import unigram_surprisal

        rows = ([(i, "the the the the") for i in range(10)]
                + [(99, "zyx wvu tsr qpo")])
        out = {r.doc_id: r.surprisal_nats for r in
               unigram_surprisal(self._docs(spark, rows)).collect()}
        assert out[0] < out[99]          # common words are cheap
        assert out[0] == out[1]          # identical docs score identically

    def test_partitioning_invariance(self, spark):
        from tsrollup.text import unigram_surprisal

        rows = [(i, f"w{i % 7} w{i % 3} shared") for i in range(40)]
        a = (unigram_surprisal(self._docs(spark, rows)).toPandas()
             .sort_values("doc_id").reset_index(drop=True))
        b = (unigram_surprisal(self._docs(spark, list(reversed(rows)))
                               .repartition(11)).toPandas()
             .sort_values("doc_id").reset_index(drop=True))
        pd.testing.assert_frame_equal(a, b)


class TestGroupSample:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, source string")

    def test_k_per_group_and_reproducible(self, spark):
        from tsrollup.text import group_sample

        rows = [(i, f"s{i % 3}") for i in range(60)]
        a = (group_sample(self._docs(spark, rows), k=4, id_col="doc_id")
             .toPandas().sort_values(["source", "sample_rank"])
             .reset_index(drop=True))
        assert (a.groupby("source").size() == 4).all()
        # same rows regardless of input order/partitioning
        b = (group_sample(self._docs(spark, list(reversed(rows)))
                          .repartition(7), k=4, id_col="doc_id")
             .toPandas().sort_values(["source", "sample_rank"])
             .reset_index(drop=True))
        assert a[["doc_id", "source", "sample_rank"]].equals(
            b[["doc_id", "source", "sample_rank"]])

    def test_small_group_returned_whole(self, spark):
        from tsrollup.text import group_sample

        rows = [(1, "tiny"), (2, "tiny")]
        out = group_sample(self._docs(spark, rows), k=10).toPandas()
        assert len(out) == 2 and set(out.sample_rank) == {1, 2}

    def test_rejects_bad_k(self, spark):
        from tsrollup.text import group_sample

        with pytest.raises(ValueError):
            group_sample(self._docs(spark, [(1, "s")]), k=0)


class TestLengthHistogram:
    def test_hand_buckets_and_partition_identity(self, spark):
        """bucket = bit_length(n_words); bucket b covers [2^(b-1), 2^b);
        per-source doc counts partition the corpus exactly."""
        from tsrollup.text import length_histogram

        rows = [("a", "x"), ("a", "x y"), ("a", "x y z"),   # 1 -> b1; 2,3 -> b2
                ("a", "a b c d e f g h"),                    # 8 -> b4
                ("b", "")]                                   # split('') -> [''] = 1 word
        df = spark.createDataFrame(rows, "source string, text string")
        got = {(r.source, r.bucket): (r.lo, r.n_docs, r.n_words_sum,
                                      r.n_group, r.share)
               for r in length_histogram(df).collect()}
        assert got == {
            ("a", 1): (1, 1, 1, 4, 0.25),
            ("a", 2): (2, 2, 5, 4, 0.5),
            ("a", 4): (8, 1, 8, 4, 0.25),
            ("b", 1): (1, 1, 1, 1, 1.0),
        }

    def test_replica_parity(self, spark):
        import numpy as np

        from tsrollup.text import length_histogram

        rng = np.random.default_rng(31)
        rows = [(f"s{i % 3}", " ".join("w" * 1 for _ in range(int(k))))
                for i, k in enumerate(rng.integers(1, 300, 120))]
        df = spark.createDataFrame(rows, "source string, text string")
        got = {(r.source, r.bucket): r.n_docs
               for r in length_histogram(df).collect()}
        import collections
        want = collections.Counter()
        for s, t in rows:
            want[(s, len(t.split(" ")).bit_length())] += 1
        assert got == dict(want)
