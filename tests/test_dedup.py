"""Dedup semantics on planted duplicates: exact copies collapse, near-dups
surface through Jaccard and LSH, SimHash distance tracks similarity."""

from __future__ import annotations

import random

import pandas as pd
import pytest

BASE = ("the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep dark forest to find some food for its hungry cubs")


@pytest.fixture(scope="module")
def docs_df(spark):
    near = BASE.replace("hungry", "starving")  # one-word edit
    rows = [
        (1, BASE), (2, BASE),                      # exact dup pair
        (3, near),                                  # near-dup of 1/2
        (4, "completely different text about spark query engines and "
            "columnar execution with vectorized operators at scale"),
        (5, "yet another unrelated document mentioning gorilla compression "
            "and delta encoding of monotone offsets in tiered storage"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup_collapses_copies(spark, docs_df):
    from tsrollup.dedup import exact_dedup

    out = exact_dedup(docs_df).toPandas()
    assert len(out) == 4  # 5 docs, one exact-dup pair
    dup = out[out["n_copies"] == 2]
    assert len(dup) == 1 and dup["keep_doc_id"].iloc[0] == 1


def test_jaccard_finds_near_dup(spark, docs_df):
    from tsrollup.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(docs_df, n=3, threshold=0.5).toPandas()
    pairs = {(a, b): j for a, b, j in
             zip(out["doc_a"], out["doc_b"], out["jaccard"])}
    assert pairs[(1, 2)] == 1.0          # exact dup
    assert 0.5 <= pairs[(1, 3)] < 1.0    # near dup
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_lsh_candidates_cover_duplicates(spark, docs_df):
    from tsrollup.dedup import lsh_candidate_pairs

    got = set(map(tuple, lsh_candidate_pairs(
        docs_df, k=8, bands=4, n=3).toPandas().values))
    # identical docs share every band; the near-dup shares ≥1 with high prob
    assert (1, 2) in got
    assert (1, 3) in got or (2, 3) in got


def test_simhash_distance_tracks_similarity(spark, docs_df):
    from tsrollup.dedup import simhash

    sig = dict(simhash(docs_df, bits=32).toPandas().values)
    assert sig[1] == sig[2]  # identical text → identical fingerprint
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sig[1], sig[3]) < ham(sig[1], sig[4])


def test_jaccard_df_cap_drops_hot_shingles(spark):
    from tsrollup.dedup import ngram_jaccard_pairs

    # a corpus-common boilerplate shingle ("lorem ipsum dolor") appears in
    # every doc; with the DF cap it must not connect otherwise-unrelated docs
    boiler = "lorem ipsum dolor"
    rows = [(i, f"{boiler} unique{i} tail{i} words{i} here{i}")
            for i in range(10)]
    rows += [(100, f"{boiler} shared shared shared extra"),
             (101, f"{boiler} shared shared shared other")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    uncapped = ngram_jaccard_pairs(df, n=3, threshold=0.01).toPandas()
    capped = ngram_jaccard_pairs(df, n=3, threshold=0.01, max_df=5).toPandas()
    # uncapped: the boilerplate shingle links every doc pair (quadratic)
    assert len(uncapped) == 12 * 11 // 2
    # capped: only the genuinely-similar 100/101 pair survives
    pairs = set(zip(capped["doc_a"], capped["doc_b"]))
    assert pairs == {(100, 101)}


def test_lsh_bucket_cap_excludes_dup_clusters(spark):
    from tsrollup.dedup import lsh_candidate_pairs

    # 12 identical docs = one giant bucket (a dup CLUSTER); with the cap the
    # cluster's ~n^2 pairs are excluded while a small dup pair still surfaces
    rows = [(i, BASE) for i in range(12)]
    rows += [(100, "totally different text " + "x y z " * 10),
             (101, "totally different text " + "x y z " * 10)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = set(map(tuple, lsh_candidate_pairs(
        df, k=8, bands=4, n=3, max_bucket=5).toPandas().values))
    assert (100, 101) in got
    assert not any(a < 12 and b < 12 for a, b in got)


# ---- near_dup_clusters --------------------------------------------------

def _planted():
    return ([(1, 2), (2, 3), (3, 4), (10, 11)], [1, 2, 3, 4, 10, 11, 20, 21])


def _random_graph(rng):
    """A random sparse graph plus one long path (diameter stress)."""
    nodes = list(range(60))
    edges = [tuple(sorted(rng.sample(nodes, 2))) for _ in range(40)]
    path = rng.sample(nodes, 12)
    return edges + [tuple(sorted(p)) for p in zip(path, path[1:])], nodes


def _path30():
    rng = random.Random(99)
    nodes = list(range(80))
    edges = [tuple(sorted(rng.sample(nodes, 2))) for _ in range(50)]
    path = rng.sample(nodes, 30)  # diameter 29
    return edges + [tuple(sorted(p)) for p in zip(path, path[1:])], nodes


def _no_edges():
    return [], [0, 1, 2, 3, 4]


def _union_find_rows(edges, nodes):
    """Reference ``(doc_id, cluster_rep, cluster_sz)`` rows, sorted."""
    from collections import Counter

    parent = {x: x for e in edges for x in e}
    parent.update({x: x for x in nodes or ()})

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rep = {x: find(x) for x in parent}
    size = Counter(rep.values())
    return sorted((x, rep[x], size[rep[x]]) for x in rep)


def test_near_dup_clusters_planted_components(spark):
    """Connected components over a planted edge graph: a 4-node PATH
    (1-2, 2-3, 3-4 — diameter 3, forces >1 propagation round), a pair
    (10-11), and edge-free singletons supplied via ``nodes``."""
    from tsrollup.dedup import near_dup_clusters

    edges = spark.createDataFrame(
        pd.DataFrame([(1, 2), (2, 3), (3, 4), (10, 11)],
                     columns=["doc_a", "doc_b"]))
    nodes = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 10, 11, 20, 21]}))
    out = near_dup_clusters(edges, nodes).toPandas() \
        .set_index("doc_id").sort_index()
    assert out.loc[[1, 2, 3, 4], "cluster_rep"].tolist() == [1, 1, 1, 1]
    assert out.loc[[10, 11], "cluster_rep"].tolist() == [10, 10]
    assert out.loc[[20, 21], "cluster_rep"].tolist() == [20, 21]
    assert out.loc[[1, 2, 3, 4], "cluster_sz"].tolist() == [4, 4, 4, 4]
    assert out.loc[[10, 11], "cluster_sz"].tolist() == [2, 2]
    assert out.loc[[20, 21], "cluster_sz"].tolist() == [1, 1]
    # keep/drop decision: exactly one representative per component
    keep = out[out.index == out["cluster_rep"]]
    assert sorted(keep.index.tolist()) == [1, 10, 20, 21]


def test_near_dup_clusters_without_nodes_covers_edge_docs_only(spark):
    from tsrollup.dedup import near_dup_clusters

    edges = spark.createDataFrame(
        pd.DataFrame([(5, 3), (3, 9)], columns=["doc_a", "doc_b"]))
    out = near_dup_clusters(edges).toPandas().set_index("doc_id").sort_index()
    assert out.index.tolist() == [3, 5, 9]
    assert out["cluster_rep"].tolist() == [3, 3, 3]
    assert out["cluster_sz"].tolist() == [3, 3, 3]


def test_near_dup_clusters_random_graphs_match_union_find(spark):
    """Property: on random edge graphs (including long paths and multi-way
    merges), min-label propagation must reproduce a reference union-find's
    components exactly — reps, membership, and sizes."""
    from tsrollup.dedup import near_dup_clusters

    rng = random.Random(1234)
    for trial in range(3):
        edges, nodes = _random_graph(rng)
        edf = spark.createDataFrame(
            pd.DataFrame(edges, columns=["doc_a", "doc_b"]))
        ndf = spark.createDataFrame(pd.DataFrame({"doc_id": nodes}))
        got = sorted(map(tuple, near_dup_clusters(edf, ndf).collect()))
        assert got == _union_find_rows(edges, nodes), trial


def test_near_dup_clusters_reliable_checkpoints(spark, tmp_path):
    """reliable_checkpoints=True materializes through sc.checkpoint (HDFS-
    grade, executor-loss tolerant) and must produce the same components."""
    from tsrollup.dedup import near_dup_clusters

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    edges = spark.createDataFrame(
        pd.DataFrame([(1, 2), (2, 3), (10, 11)], columns=["doc_a", "doc_b"]))
    nodes = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2, 3, 10, 11, 7]}))
    out = near_dup_clusters(edges, nodes, reliable_checkpoints=True) \
        .toPandas().set_index("doc_id").sort_index()
    assert out["cluster_rep"].tolist() == [1, 1, 1, 7, 10, 10]
    assert out["cluster_sz"].tolist() == [3, 3, 3, 1, 2, 2]


def test_near_dup_clusters_matches_union_find(spark):
    """near_dup_clusters must agree with the reference union-find on a
    random graph, including a LONG PATH (the shape min-label propagation
    is slowest on): cluster_rep is the component minimum and cluster_sz
    the component size."""
    from tsrollup.dedup import near_dup_clusters

    edges, nodes = _path30()
    edf = spark.createDataFrame(pd.DataFrame(edges, columns=["doc_a", "doc_b"]))
    ndf = spark.createDataFrame(pd.DataFrame({"doc_id": nodes}))
    got = sorted(map(tuple, near_dup_clusters(edf, ndf).collect()))
    assert [r[0] for r in got] == nodes
    assert got == _union_find_rows(edges, nodes)


FIXPOINT, DRIVER = -1, 1 << 30  # budgets that force each branch


def _run_branch(spark, monkeypatch, budget, edf, ndf, **kw):
    """Sorted rows of ``near_dup_clusters`` under ``budget``, asserting the
    branch the budget selects is the one that ran."""
    import tsrollup.dedup as dd

    ran = []
    drv, fix = dd._driver_labels, dd._fixpoint_labels

    def spy_drv(*a):
        out = drv(*a)
        ran.append("driver" if out is not None else "fallback")
        return out

    def spy_fix(*a):
        ran.append("fixpoint")
        return fix(*a)

    monkeypatch.setattr(dd, "DRIVER_FINISH_EDGES", budget)
    monkeypatch.setattr(dd, "_driver_labels", spy_drv)
    monkeypatch.setattr(dd, "_fixpoint_labels", spy_fix)
    rows = sorted(tuple(r) for r in
                  dd.near_dup_clusters(edf, ndf, **kw).collect())
    assert ran == (["fixpoint"] if budget == FIXPOINT else ["driver"]), ran
    return rows


@pytest.mark.parametrize("graph", [_planted,
                                   lambda: _random_graph(random.Random(1234)),
                                   _path30, _no_edges],
                         ids=["planted", "random", "path30", "no_edges"])
def test_near_dup_clusters_driver_finish_matches_fixpoint(
        spark, monkeypatch, tmp_path, graph):
    """Both branches give the same rows, equal to a reference union-find:
    with and without ``nodes``, and with reliable checkpoints."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    edges, nodes = graph()
    edf = spark.createDataFrame(edges, "doc_a long, doc_b long")
    ndf = spark.createDataFrame([(x,) for x in nodes], "doc_id long")
    for with_nodes, reliable in ((True, False), (False, False), (True, True)):
        want = _union_find_rows(edges, nodes if with_nodes else None)
        for budget in (FIXPOINT, DRIVER):
            got = _run_branch(spark, monkeypatch, budget, edf,
                              ndf if with_nodes else None,
                              reliable_checkpoints=reliable)
            assert got == want, (budget, with_nodes, reliable)
    if not edges:  # every node a singleton
        assert {r[2] for r in want} == {1}


def test_near_dup_clusters_driver_finish_string_ids(spark, monkeypatch):
    """String ids label by the same order on the driver as in Spark."""
    edges = [("b", "c"), ("a", "é"), ("c", "z"), ("B", "é")]
    edf = spark.createDataFrame(edges, "doc_a string, doc_b string")
    rows = [_run_branch(spark, monkeypatch, b, edf, None)
            for b in (FIXPOINT, DRIVER)]
    assert rows[0] == rows[1] == _union_find_rows(edges, None)


def test_near_dup_clusters_null_ids_take_the_fixpoint(spark, monkeypatch):
    """A NULL id fails the driver finish's check, so the fixpoint runs."""
    import tsrollup.dedup as dd

    edf = spark.createDataFrame([(1, 2), (2, None)], "doc_a long, doc_b long")
    ran = []
    fix = dd._fixpoint_labels
    monkeypatch.setattr(dd, "DRIVER_FINISH_EDGES", DRIVER)
    monkeypatch.setattr(dd, "_fixpoint_labels",
                        lambda *a: ran.append(1) or fix(*a))
    dd.near_dup_clusters(edf).collect()
    assert ran == [1]


def test_contamination_matches_planted_probe(spark):
    """Planted contamination: docs sharing a probe 4-gram are flagged with
    exact hit counts; clean docs are absent; the probe side broadcasts
    (plan-guarded — the corpus-side stream must not shuffle pre-join)."""
    from tsrollup.dedup import contamination_matches

    probes = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0],
        "text": ["the secret benchmark question about spark internals"],
    }))
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [100, 101, 102],
        "text": [
            # contains 2 distinct probe 4-grams
            "intro text the secret benchmark question about more words",
            # contains zero probe 4-grams (shares only shorter spans)
            "the secret benchmark answer is completely different here",
            # exact copy → every probe 4-gram hits (7 words → 4 grams)
            "the secret benchmark question about spark internals",
        ],
    }))
    from tsrollup.planaudit import formatted_plan

    matched = contamination_matches(docs, probes, n=4)
    out = matched.toPandas().set_index("doc_id").sort_index()
    assert out.index.tolist() == [100, 102]
    assert out.loc[100, "n_hits"] == 2
    assert out.loc[102, "n_hits"] == 4
    assert "BroadcastHashJoin" in formatted_plan(matched)


class TestDuplicatedSpanStats:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id string, text string")

    def test_shared_span_is_covered_in_both_docs(self, spark):
        from tsrollup.dedup import duplicated_span_stats
        # docs share the 3-gram "x y z"; the rest differs
        df = self._docs(spark, [("a", "p q x y z r"), ("b", "s x y z t u")])
        out = {r.doc_id: r for r in
               duplicated_span_stats(df, n=3).collect()}
        for d in ("a", "b"):
            assert out[d].n_dup_starts == 1
            assert out[d].covered_words == 3
            assert out[d].dup_frac == 3 / 6

    def test_overlapping_spans_union_not_sum(self, spark):
        from tsrollup.dedup import duplicated_span_stats
        # "x y z w" shared -> two dup 3-gram starts in each doc, overlapping:
        # union covers 4 words, not 6
        df = self._docs(spark, [("a", "x y z w a b"), ("b", "c d x y z w")])
        out = {r.doc_id: r for r in
               duplicated_span_stats(df, n=3).collect()}
        assert out["a"].n_dup_starts == 2
        assert out["a"].covered_words == 4

    def test_within_doc_repeat_is_not_cross_doc(self, spark):
        from tsrollup.dedup import duplicated_span_stats
        # "x y z" twice in ONE doc, absent elsewhere: not cross-doc dup
        df = self._docs(spark, [("a", "x y z q x y z"), ("b", "m n o p")])
        out = {r.doc_id: r for r in
               duplicated_span_stats(df, n=3).collect()}
        assert out["a"].n_dup_starts == 0 and out["a"].covered_words == 0
        assert out["b"].n_dup_starts == 0

    def test_fully_duplicated_doc(self, spark):
        from tsrollup.dedup import duplicated_span_stats
        df = self._docs(spark, [("a", "x y z w"), ("b", "x y z w")])
        out = {r.doc_id: r for r in
               duplicated_span_stats(df, n=2).collect()}
        assert out["a"].dup_frac == 1.0 and out["b"].dup_frac == 1.0

    def test_short_docs_emit_nothing(self, spark):
        from tsrollup.dedup import duplicated_span_stats
        df = self._docs(spark, [("a", "x y")])
        assert duplicated_span_stats(df, n=3).count() == 0

    def test_validation(self, spark):
        from tsrollup.dedup import duplicated_span_stats
        with pytest.raises(ValueError):
            duplicated_span_stats(self._docs(spark, []), n=0)


class TestNoveltyStats:
    def _docs(self, spark, rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text"]))

    def test_exact_copy_has_zero_novelty(self, spark):
        from tsrollup.dedup import novelty_stats

        df = self._docs(spark, [(1, "a b c d e"), (2, "a b c d e"),
                                (3, "p q r s t")])
        out = {r.doc_id: r for r in novelty_stats(df, n=3).collect()}
        assert out[1].novelty == 1.0          # first arrival owns its grams
        assert out[2].novelty == 0.0          # exact copy: nothing new
        assert out[3].novelty == 1.0          # disjoint text: all new
        assert out[1].n_grams == out[2].n_grams == 3

    def test_partial_overlap_counts_new_grams_only(self, spark):
        from tsrollup.dedup import novelty_stats

        # doc 2 shares the "a b c" gram with doc 1, adds two of its own
        df = self._docs(spark, [(1, "a b c d"), (2, "z a b c y")])
        out = {r.doc_id: r for r in novelty_stats(df, n=3).collect()}
        assert out[1].n_grams == 2 and out[1].n_new == 2
        assert out[2].n_grams == 3 and out[2].n_new == 2
        assert out[2].novelty == 2.0 / 3.0

    def test_new_credit_sums_to_vocabulary_size(self, spark):
        from tsrollup.dedup import novelty_stats, word_shingles
        import numpy as np
        import random

        rng = random.Random(7)
        words = [f"w{i}" for i in range(30)]
        rows = [(i, " ".join(rng.choices(words, k=40))) for i in range(20)]
        df = self._docs(spark, rows)
        out = novelty_stats(df, n=3).toPandas()
        vocab = (word_shingles(df, 3).select("shingle").distinct().count())
        assert int(out["n_new"].sum()) == vocab
        assert (out["novelty"].to_numpy()
                == out["n_new"].to_numpy(np.float64)
                / out["n_grams"].to_numpy(np.float64)).all()

    def test_two_exchanges(self, spark):
        from tsrollup.dedup import novelty_stats
        from tsrollup.planaudit import formatted_plan, n_data_exchanges

        df = self._docs(spark, [(1, "a b c d"), (2, "b c d e")])
        plan = formatted_plan(novelty_stats(df))
        assert n_data_exchanges(plan) == 2, plan


class TestTileDedup:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_first_occurrence_survives_and_docs_rebuild(self, spark):
        from tsrollup.dedup import tile_dedup

        # n=2 tiles: doc 1 = [a b][c d], doc 2 = [c d][e f], doc 3 = [a b]
        df = self._docs(spark, [(1, "a b c d"), (2, "c d e f"), (3, "a b")])
        out = {r.doc_id: r for r in tile_dedup(df, n=2).collect()}
        assert out[1].clean_text == "a b c d"            # all first
        assert out[1].n_tiles == 2 and out[1].n_kept == 2
        assert out[2].clean_text == "e f"                # "c d" re-occurs
        assert out[2].n_tiles == 2 and out[2].n_kept == 1
        assert out[3].clean_text == ""                   # fully deduped
        assert out[3].n_tiles == 1 and out[3].n_kept == 0

    def test_within_doc_repeat_keeps_earliest(self, spark):
        from tsrollup.dedup import tile_dedup

        df = self._docs(spark, [(1, "a b a b c")])
        r = tile_dedup(df, n=2).collect()[0]
        # tiles [a b][a b][c]: the idx-0 copy survives, idx-1 drops
        assert r.clean_text == "a b c"
        assert r.n_tiles == 3 and r.n_kept == 2

    def test_ragged_tail_tile_participates(self, spark):
        from tsrollup.dedup import tile_dedup

        # doc 1's ragged tail "z" == doc 2's ragged tail "z" → doc 2 drops
        # it; a tail is NOT equal to a full tile starting with the same word
        df = self._docs(spark, [(1, "a b z"), (2, "c d z"), (3, "z q")])
        out = {r.doc_id: r for r in tile_dedup(df, n=2).collect()}
        assert out[1].clean_text == "a b z"
        assert out[2].clean_text == "c d"
        assert out[3].clean_text == "z q"  # "z q" ≠ tail "z"

    def test_order_is_tile_order_not_alphabetical(self, spark):
        from tsrollup.dedup import tile_dedup

        df = self._docs(spark, [(1, "z z a a m m")])
        r = tile_dedup(df, n=2).collect()[0]
        assert r.clean_text == "z z a a m m"

    def test_rejects_bad_n(self, spark):
        from tsrollup.dedup import tile_dedup

        with pytest.raises(ValueError):
            tile_dedup(self._docs(spark, [(1, "a")]), n=0)
