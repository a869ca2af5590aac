"""Canned pipelines (SURVEY §2.13): shape/semantics goldens vs direct NumPy."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def toks_df(spark):
    rng = np.random.default_rng(17)
    rows = [("d%03d" % i,
             rng.integers(0, 1000, rng.integers(8, 200)).astype(int).tolist())
            for i in range(50)]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "tokens"]))


@pytest.fixture(scope="module")
def zoo_rows(toks_df):
    """One zoo pass over ``toks_df``: every (doc, arch) row."""
    from tsrollup.pipelines import pipeline_features_multi

    return pipeline_features_multi(toks_df).collect()


@pytest.mark.parametrize("pipeline", ["ohshulih", "shihaotian", "autoenc",
                                      "caiwenjuan", "kimmingu"])
def test_pipeline_features_match_numpy(toks_df, zoo_rows, pipeline):
    from tsrollup.pipelines import run_pipeline

    got = {r["doc_id"]: r for r in zoo_rows if r["arch"] == pipeline}
    for _, row in toks_df.toPandas().iterrows():
        h = run_pipeline(np.asarray(row["tokens"], dtype=np.float64), pipeline)
        if h.shape[0] == 0:
            assert row["doc_id"] not in got
            continue
        g = got[row["doc_id"]]
        assert g["f_len"] == h.shape[0]
        assert g["f_mean"] == float(h.mean())
        assert g["f_var"] == float(h.var())
        assert g["f_min"] == float(h.min()) and g["f_max"] == float(h.max())
        assert g["f_last"] == float(h[-1])


def test_pipeline_shapes():
    """Shape contracts mirror the reference stacks: 3 pool halvings ÷8 for
    ohshulih (models_keras.py:59-63); time-concat for ShiHaotian (:645);
    autoenc residual bounded by input length."""
    from tsrollup.pipelines import run_pipeline

    x = np.arange(80, dtype=np.float64)
    oh = run_pipeline(x, "ohshulih")
    # full conv adds k-1=2 each stage before halving: n -> (n+2)//2
    n = 80
    for _ in range(3):
        n = (n + 2) // 2
    assert oh.shape[0] == n
    sh = run_pipeline(x, "shihaotian")
    assert sh.shape[0] == (80 + 2) + (80 + 4) + (80 + 6)
    ae = run_pipeline(x, "autoenc")
    assert ae.shape[0] == 80  # 80 ÷4 ×4 = 80
    cw = run_pipeline(x, "caiwenjuan")
    # branch concat: identity + full-conv k=3 + full-conv k=5 + maxpool/2
    assert cw.shape[0] == 80 + (80 + 2) + (80 + 4) + 40
    km = run_pipeline(x, "kimmingu")
    # ensemble average trimmed to the shortest branch: (80+2)//2 = 41
    assert km.shape[0] == 41


def test_ewma_batch_bitwise_matches_scalar():
    from tsrollup.pipelines import _ewma_batch

    def scalar_ewma(x, alpha=0.125):
        out = np.empty_like(x)
        acc = x[0]
        out[0] = acc
        for i in range(1, x.shape[0]):
            acc = alpha * x[i] + (1 - alpha) * acc
            out[i] = acc
        return out

    rng = np.random.default_rng(3)
    seqs = [rng.standard_normal(int(n)) for n in rng.integers(1, 50, 30)]
    seqs.append(np.empty(0, np.float64))  # empty lane passes through
    batched = _ewma_batch(seqs)
    assert batched[-1].shape[0] == 0
    for s, b in zip(seqs[:-1], batched[:-1]):
        assert (b == scalar_ewma(s)).all()


def test_all_25_architectures_run_and_match(spark, toks_df):
    """Every reference model has a spec; one zoo pass over all 25 equals the
    per-doc oracle for each (doc, arch) (spot-checked on
    f_mean/f_len/f_last to keep runtime bounded)."""
    from tsrollup.pipelines import (PIPELINES, pipeline_features_multi,
                                    run_pipeline)

    assert len(PIPELINES) == 25
    pdf = toks_df.toPandas().head(10)
    got = {(r["doc_id"], r["arch"]): r for r in pipeline_features_multi(
        spark.createDataFrame(pdf)).collect()}
    for arch in PIPELINES:
        produced = 0
        for _, row in pdf.iterrows():
            h = run_pipeline(np.asarray(row["tokens"], dtype=np.float64), arch)
            if h.shape[0] == 0:
                assert (row["doc_id"], arch) not in got
                continue
            produced += 1
            g = got.pop((row["doc_id"], arch))
            assert g["f_len"] == h.shape[0], arch
            assert g["f_mean"] == float(h.mean()), arch
            assert g["f_last"] == float(h[-1]), arch
        assert produced > 0, arch
    assert not got  # no row for an unknown (doc, arch)
