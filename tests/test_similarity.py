"""Similarity search: brute-force exactness vs NumPy, LSH bucket health and
recall of near-duplicate pairs (the dedup use case LSH exists for)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tsrollup.planaudit import formatted_plan

DIM = 16


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, DIM))
    rows = [(i, base[i].astype(np.float32).tolist()) for i in range(40)]
    # planted near-duplicates: 100/101 and 102/103 are tiny perturbations
    for vid, src in ((100, 0), (101, 0), (102, 1), (103, 1)):
        v = base[src] + rng.standard_normal(DIM) * 1e-3
        rows.append((vid, v.astype(np.float32).tolist()))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]))


def test_brute_force_topk_matches_numpy(spark, emb_df):
    from tsrollup.similarity import cosine_topk_pairs

    got = cosine_topk_pairs(emb_df, k=3).toPandas()
    pdf = emb_df.toPandas().set_index("vec_id")["embedding"]
    ids = sorted(pdf.index)
    best = []
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            va = np.asarray(pdf[a], dtype=np.float64)
            vb = np.asarray(pdf[b], dtype=np.float64)
            cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            best.append((a, b, cos))
    best.sort(key=lambda t: (-t[2], t[0], t[1]))
    want = [(a, b) for a, b, _ in best[:3]]
    assert list(zip(got["id_a"], got["id_b"])) == want
    np.testing.assert_allclose(got["cos_sim"], [c for _, _, c in best[:3]],
                               rtol=1e-12)


def test_lsh_finds_planted_near_duplicates(spark, emb_df):
    from tsrollup.similarity import ann_lsh_topk

    # k=6: each planted twin also near-matches its source vector (0 or 1),
    # so the duplicate clusters occupy the top six pairs
    got = ann_lsh_topk(emb_df, k=6, n_planes=8, dim=DIM).toPandas()
    pairs = set(zip(got["id_a"], got["id_b"]))
    # near-identical vectors share every hyperplane sign → must be candidates
    # in every band and must outrank everything else
    assert (100, 101) in pairs and (102, 103) in pairs
    assert got["cos_sim"].iloc[0] > 0.999


def test_lsh_adaptive_planes_still_find_duplicates(spark, emb_df):
    from tsrollup.similarity import ann_lsh_topk

    # n_planes=None → scaled from corpus size (44 vecs, target 8 → 4 planes)
    got = ann_lsh_topk(emb_df, k=6, dim=DIM, target_bucket=8).toPandas()
    pairs = set(zip(got["id_a"], got["id_b"]))
    assert (100, 101) in pairs and (102, 103) in pairs


def test_lsh_plan_has_no_global_candidate_sort(spark, emb_df):
    from tsrollup.similarity import ann_lsh_topk

    df = ann_lsh_topk(emb_df, k=6, n_planes=8, dim=DIM)
    plan = formatted_plan(df)
    # global merge is a bounded TakeOrderedAndProject, and a per-bucket
    # window rank prunes candidates before it — never a full Sort+limit of
    # the raw candidate pair set
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" in plan, plan
    assert "row_number" in plan, plan


def test_knn_ranks_are_exact(spark, emb_df):
    from tsrollup.similarity import cosine_topk_for_queries

    q = emb_df.filter("vec_id = 100")
    got = cosine_topk_for_queries(emb_df, q, k=3).toPandas()
    assert list(got["rank"]) == [1, 2, 3]
    # nearest two must be its duplicate cluster: source 0 and twin 101
    assert set(got["id"].iloc[:2]) == {0, 101}


def test_cosine_near_dups_finds_planted(spark):
    """Embedding-cosine near-dup dedup: planted near-identical vectors are
    recovered (recall ≥ 0.9 vs brute force at cos ≥ 0.95) and every emitted
    pair really clears the threshold (no false positives by construction —
    exact cosine re-check inside the op)."""
    import numpy as np
    import pandas as pd

    from tsrollup.similarity import cosine_near_dups

    rng = np.random.default_rng(7)
    dim = 32
    base = rng.normal(size=(120, dim))
    rows = [(i, base[i].tolist()) for i in range(120)]
    planted = []
    for j in range(25):  # near-dup of vector j with tiny noise
        v = base[j] + rng.normal(scale=0.01, size=dim)
        rows.append((1000 + j, v.tolist()))
        planted.append((j, 1000 + j))
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]))

    got = {(r["id_a"], r["id_b"])
           for r in cosine_near_dups(emb, threshold=0.95, dim=dim,
                                     n_hint=len(rows)).collect()}
    # brute-force truth
    x = np.array([r[1] for r in rows])
    ids = [r[0] for r in rows]
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = xn @ xn.T
    truth = {(ids[i], ids[j])
             for i in range(len(ids)) for j in range(len(ids))
             if ids[i] < ids[j] and sims[i, j] >= 0.95}
    assert truth, "fixture must plant real near-dups"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, (recall, len(truth), len(got))
    for r in cosine_near_dups(emb, threshold=0.95, dim=dim,
                              n_hint=len(rows)).collect():
        assert r["cos_sim"] >= 0.95


def test_near_dup_recall_near_threshold(spark):
    """Recall-driven band count: pairs sitting just ABOVE the cosine
    threshold (planted at exact cos 0.97 via u·cosθ + w⊥·sinθ) are still
    recovered at high rate — the property the auto-derived L protects as the
    corpus-scaled plane count grows."""
    import numpy as np
    import pandas as pd

    from tsrollup.similarity import cosine_near_dups

    rng = np.random.default_rng(23)
    dim = 32
    c = 0.97
    base = rng.normal(size=(150, dim))
    rows = [(i, base[i].tolist()) for i in range(150)]
    for j in range(40):
        u = base[j] / np.linalg.norm(base[j])
        r = rng.normal(size=dim)
        w = r - (r @ u) * u
        w /= np.linalg.norm(w)
        v = c * u + np.sqrt(1 - c * c) * w  # exact cosine c with base[j]
        rows.append((2000 + j, v.tolist()))
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    got = {(r["id_a"], r["id_b"])
           for r in cosine_near_dups(emb, threshold=0.95, dim=dim,
                                     n_hint=len(rows)).collect()}
    planted = {(j, 2000 + j) for j in range(40)}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.8, recall


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF-Flat ANN (the inverted-file twin of the LSH path): per-query
    top-k from nprobe probed cells overlaps the exact brute-force top-k, and
    emitted cosines are exact (same _dot re-rank)."""
    import numpy as np
    import pandas as pd

    from tsrollup.similarity import (cosine_topk_for_queries,
                                     ivf_topk_for_queries)

    rng = np.random.default_rng(3)
    dim = 32
    # clustered corpus: IVF's natural regime (8 gaussian blobs)
    centers = rng.normal(size=(8, dim)) * 3
    rows = []
    for i in range(400):
        c = centers[i % 8]
        rows.append((i, (c + rng.normal(size=dim)).tolist()))
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    q = emb.filter("vec_id < 4")

    got = ivf_topk_for_queries(emb, q, k=5, n_centroids=8, nprobe=3,
                               dim=dim).toPandas()
    want = cosine_topk_for_queries(emb, q, k=5).toPandas()
    assert set(got["qid"]) == set(want["qid"]) == {0, 1, 2, 3}
    total_overlap = 0
    for qid in range(4):
        g = set(got[got["qid"] == qid]["id"])
        w = set(want[want["qid"] == qid]["id"])
        assert len(g) == 5
        total_overlap += len(g & w)
    assert total_overlap >= 14, total_overlap  # ≥70% of 20 exact neighbours

    # exact cosine on emitted pairs: spot-check one against NumPy
    pdf = emb.toPandas().set_index("vec_id")["embedding"]
    r0 = got[got["qid"] == 0].iloc[0]
    a = np.asarray(pdf[0], dtype=np.float64)
    b = np.asarray(pdf[int(r0["id"])], dtype=np.float64)
    a, b = a / np.linalg.norm(a), b / np.linalg.norm(b)
    assert abs(float(r0["cos_sim"]) - float(a @ b)) < 1e-9


def test_ivf_centroids_deterministic(spark):
    import numpy as np
    import pandas as pd

    from tsrollup.similarity import train_ivf_centroids

    rng = np.random.default_rng(4)
    rows = [(i, rng.normal(size=16).tolist()) for i in range(200)]
    emb = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    c1 = train_ivf_centroids(emb, n_centroids=6, dim=16)
    c2 = train_ivf_centroids(emb, n_centroids=6, dim=16)
    assert (c1 == c2).all()
    np.testing.assert_allclose(np.linalg.norm(c1, axis=1), 1.0, rtol=1e-12)


def test_plan_builders_are_pure_no_eager_jobs(spark, emb_df, tmp_path):
    """Constructing ann_lsh_topk / cosine_near_dups runs ZERO Spark jobs:
    the plane count comes from n_hint or Catalyst plan statistics, never an
    eager df.count(). File-backed inputs without statistics raise instead of
    silently scanning."""
    from tsrollup.similarity import ann_lsh_topk, cosine_near_dups

    sc = spark.sparkContext
    grp = "pure-plan-builder"
    sc.setJobGroup(grp, "constructing similarity plans")
    try:
        # LocalRelation: Catalyst stats carry rowCount — bare call works
        ann_lsh_topk(emb_df, k=5, dim=DIM)
        cosine_near_dups(emb_df, threshold=0.9, dim=DIM)
        # explicit hint: also pure
        ann_lsh_topk(emb_df, k=5, dim=DIM, n_hint=44)
    finally:
        sc.setJobGroup(None, None)
    jobs = spark._jsc.sc().statusTracker().getJobIdsForGroup(grp)
    assert len(jobs) == 0, list(jobs)

    # a parquet scan has no plan-time row count: bare construction raises
    # with guidance instead of running a hidden count job
    path = str(tmp_path / "emb.parquet")
    emb_df.write.parquet(path)
    scan = spark.read.parquet(path)
    with pytest.raises(ValueError, match="n_hint"):
        ann_lsh_topk(scan, k=5, dim=DIM)
    assert ann_lsh_topk(scan, k=5, dim=DIM, n_hint=44).count() > 0


def test_ivf_reuses_stored_centroids(spark, emb_df, tmp_path, monkeypatch):
    """The stored-index path trains the Lloyd quantizer EXACTLY once per
    store: a second call loads it (no corpus sample collect, no training),
    returns identical cells, and the full query path works from the stored
    quantizer."""
    import tsrollup.similarity as S

    store = str(tmp_path / "ivf_centroids")
    calls = []
    orig = S.train_ivf_centroids
    monkeypatch.setattr(
        S, "train_ivf_centroids",
        lambda *a, **k: (calls.append(1), orig(*a, **k))[1])
    c1 = S.ivf_centroids_for(emb_df, store, n_centroids=4, dim=DIM)
    assert calls == [1]
    c2 = S.ivf_centroids_for(emb_df, store, n_centroids=4, dim=DIM)
    assert calls == [1], "second call must load, not retrain"
    np.testing.assert_array_equal(c1, c2)
    out = S.ivf_topk_for_queries(
        emb_df, emb_df.filter("vec_id < 2"), k=3, dim=DIM,
        centroids=c2).toPandas()
    assert set(out["qid"]) == {0, 1}
    assert (out.groupby("qid")["rank"].max() == 3).all()


class TestPca:
    def _numpy_fit(self, X, k, whiten=True, eps=1e-9):
        n = len(X)
        mean = X.mean(axis=0)
        cov = (X.T @ X) / n - np.outer(mean, mean)
        w, v = np.linalg.eigh(cov)
        idx = np.argsort(w)[::-1][:k]
        eigvals = np.maximum(w[idx], 0.0)
        comps = v[:, idx].T
        flip = comps[np.arange(len(comps)),
                     np.abs(comps).argmax(axis=1)] < 0
        comps[flip] *= -1.0
        if whiten:
            comps = comps / np.sqrt(eigvals + eps)[:, None]
        return mean, eigvals, comps

    def test_fit_matches_single_node_numpy(self, spark, emb_df):
        from tsrollup.similarity import pca_fit

        model = pca_fit(emb_df, dim=DIM, k=4)
        pdf = emb_df.toPandas()
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        mean, eigvals, comps = self._numpy_fit(X, k=4)
        assert model["n"] == len(X)
        np.testing.assert_allclose(model["mean"], mean, atol=1e-10)
        np.testing.assert_allclose(model["eigvals"], eigvals, atol=1e-10)
        np.testing.assert_allclose(model["components"], comps, atol=1e-8)

    def test_partitioning_invariance(self, spark, emb_df):
        from tsrollup.similarity import pca_fit

        m1 = pca_fit(emb_df.repartition(1), dim=DIM, k=3)
        m7 = pca_fit(emb_df.repartition(7), dim=DIM, k=3)
        np.testing.assert_allclose(m1["components"], m7["components"],
                                   atol=1e-9)

    def test_whitened_projection_has_identity_covariance(self, spark,
                                                         emb_df):
        from tsrollup.similarity import pca_fit, pca_project

        model = pca_fit(emb_df, dim=DIM, k=4, whiten=True)
        out = pca_project(emb_df, model, out_col="proj").toPandas()
        Y = np.stack(out["proj"].to_numpy())
        cov = (Y.T @ Y) / len(Y) - np.outer(Y.mean(0), Y.mean(0))
        np.testing.assert_allclose(cov, np.eye(4), atol=1e-5)

    def test_sign_pin(self, spark, emb_df):
        from tsrollup.similarity import pca_fit

        model = pca_fit(emb_df, dim=DIM, k=4, whiten=False)
        comps = model["components"]
        picked = comps[np.arange(len(comps)), np.abs(comps).argmax(axis=1)]
        assert (picked > 0).all()

    def test_fit_rejects_tiny_corpus(self, spark, emb_df):
        from tsrollup.similarity import pca_fit

        with pytest.raises(ValueError):
            pca_fit(emb_df.limit(1), dim=DIM, k=2)


def test_pca_fit_empty_corpus_raises_cleanly(spark, emb_df):
    from tsrollup.similarity import pca_fit

    with pytest.raises(ValueError, match="need >= 2"):
        pca_fit(emb_df.filter("vec_id < 0"), dim=DIM, k=2)


def test_nan_components_stay_nan(spark):
    """The Arrow UDFs keep NaN where the former pandas UDFs returned NULL
    (pandas→Arrow reads NaN as missing): a NaN component projects to NaN,
    and the LSH path scores a NaN vector NaN, as the brute-force path
    always did. A NULL component reads as NaN too."""
    import math

    from tsrollup.arrowbuf import rows_df
    from tsrollup.similarity import (_plane_dir, _srp_candidates,
                                     cosine_topk_pairs, pca_project)

    # v lies below hyperplane 0, so it shares bucket 0 with the NaN vector
    v = [-1.0 if _plane_dir(0, c) else 1.0 for c in range(2)]
    df = rows_df(spark, [(0, [float("nan"), 1.0]), (1, v), (2, [None, 1.0])],
                 "vec_id long, embedding array<double>")
    proj = pca_project(df, {"mean": np.zeros(2), "components": np.eye(2)}) \
        .orderBy("vec_id").collect()
    assert proj[1].proj == v
    assert all(math.isnan(x) for r in (proj[0], proj[2]) for x in r.proj)
    pair = df.filter("vec_id < 2")
    lsh = _srp_candidates(pair, 1, 2, 1, 32, None, "vec_id",
                          "embedding").collect()
    brute = cosine_topk_pairs(pair, k=1).collect()
    assert len(lsh) == 1 and math.isnan(lsh[0].cos_sim)
    assert math.isnan(brute[0].cos_sim)
