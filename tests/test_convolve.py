"""conv1d/pool1d/ewma vs a NumPy reference, covering the padding conventions
and dilation the DuckDB oracles don't reach ('same', 'full', dilation=2)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def toks_df(spark):
    rng = np.random.default_rng(13)
    rows = [("d%03d" % i,
             rng.integers(0, 100, rng.integers(1, 40)).astype(int).tolist(),
             "t")
            for i in range(80)]
    rows.append(("empty", [], "t"))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "tokens", "source"]))


def np_conv(x, w, stride, padding, dilation=1):
    x = np.asarray(x, dtype=np.float64)
    w = np.asarray(w, dtype=np.float64)
    k = len(w)
    span = (k - 1) * dilation
    if padding == "full":
        x = np.concatenate([np.zeros(span), x, np.zeros(span)])
    elif padding == "same":  # Keras/TF SAME incl. stride>1
        T = len(x)
        out_len = -(-T // stride)
        pad_total = max((out_len - 1) * stride + span + 1 - T, 0)
        x = np.concatenate([np.zeros(pad_total // 2), x,
                            np.zeros(pad_total - pad_total // 2)])
    out = []
    starts = range(0, len(x) - span, stride) if len(x) > span else []
    for s in starts:
        acc = 0.0
        for i in range(k):
            acc += x[s + i * dilation] * w[i]
        out.append(acc)
    return out


def _collect(df):
    got = {}
    for r in df.collect():
        got.setdefault(r["doc_id"], {})[r["pos"]] = r["y"]
    return {d: [v[p] for p in sorted(v)] for d, v in got.items()}


@pytest.mark.parametrize("padding,stride,dilation", [
    ("valid", 1, 1), ("valid", 3, 1), ("valid", 1, 2),
    ("same", 1, 1), ("same", 2, 1), ("same", 3, 1), ("same", 1, 2),
    ("full", 1, 1), ("full", 2, 2),
])
def test_conv1d_matches_numpy(spark, toks_df, padding, stride, dilation):
    from tsrollup.convolve import conv1d

    w = (0.5, -0.25, 0.125)
    got = _collect(conv1d(toks_df, w, stride, padding, dilation))
    pdf = toks_df.toPandas()
    n_docs_with_output = 0
    for _, r in pdf.iterrows():
        want = np_conv(r["tokens"], w, stride, padding, dilation)
        if want:
            n_docs_with_output += 1
            assert got.get(r["doc_id"]) == want, r["doc_id"]
        else:
            assert r["doc_id"] not in got
    assert n_docs_with_output > 0


@pytest.mark.parametrize("pool,stride,agg", [(2, 2, "max"), (3, 1, "max"),
                                             (2, 2, "avg"), (4, 2, "min")])
def test_pool1d_matches_numpy(spark, toks_df, pool, stride, agg):
    from tsrollup.convolve import pool1d

    got = _collect(pool1d(toks_df, pool, stride, agg))
    fn = {"max": max, "min": min,
          "avg": lambda w: float(sum(w)) / len(w)}[agg]
    for _, r in toks_df.toPandas().iterrows():
        x = r["tokens"]
        want = [fn(x[s:s + pool]) for s in range(0, len(x) - pool + 1, stride)]
        if want:
            assert got.get(r["doc_id"]) == want, r["doc_id"]
        else:
            assert r["doc_id"] not in got


def test_ewma_matches_numpy(spark, toks_df):
    from tsrollup.convolve import ewma_scan_features

    a = 0.125
    got = {r["doc_id"]: r for r in ewma_scan_features(toks_df, a).collect()}
    for _, r in toks_df.toPandas().iterrows():
        x = r["tokens"]
        if not len(x):
            assert r["doc_id"] not in got
            continue
        acc = float(x[0])
        for v in x[1:]:
            acc = a * float(v) + (1 - a) * acc
        g = got[r["doc_id"]]
        assert g["ewma_last"] == acc
        assert g["run_max"] == max(x) and g["run_min"] == min(x)
        assert g["last_tok"] == x[-1]


def test_ewma_bidir_and_scan_features_match_numpy(spark, toks_df):
    """The backward fold of ewma_scan_features (no self-join: the same
    select folds reverse(tokens)) reproduces the scalar fold exactly."""
    from tsrollup.convolve import ewma_scan_features

    a = 0.125
    feat = {r["doc_id"]: r for r in ewma_scan_features(toks_df, a).collect()}
    for _, r in toks_df.toPandas().iterrows():
        x = list(r["tokens"])[::-1]
        if not x:
            continue
        acc = float(x[0])
        for v in x[1:]:
            acc = a * float(v) + (1 - a) * acc
        assert feat[r["doc_id"]]["ewma_bwd"] == acc


def test_conv1d_dilations_single_scan_matches_per_rate_runs(spark, toks_df):
    """The one-scan multi-dilation merge equals running conv1d separately at
    each rate: y == conv1d(dilation=1), y_d2 == conv1d(dilation=2) at shared
    positions and NULL past the dilated variant's shorter valid range."""
    from tsrollup.convolve import conv1d, conv1d_dilations

    w, stride = (0.25, 0.5, 0.25), 2
    got = (conv1d_dilations(toks_df, w, stride=stride, dilations=(1, 2))
           .toPandas().set_index(["doc_id", "pos"]).sort_index())
    base = (conv1d(toks_df, w, stride=stride, padding="valid", dilation=1)
            .toPandas().set_index(["doc_id", "pos"]).sort_index())
    dil = (conv1d(toks_df, w, stride=stride, padding="valid", dilation=2)
           .toPandas().set_index(["doc_id", "pos"]).sort_index())
    assert got.index.equals(base.index)
    np.testing.assert_array_equal(got["y"].values, base["y"].values)
    have = got["y_d2"].dropna()
    assert have.index.equals(dil.index)  # NULL exactly past the dilated range
    np.testing.assert_array_equal(have.values, dil["y"].values)


def test_conv1d_dilations_rejects_bad_rates(spark, toks_df):
    from tsrollup.convolve import conv1d_dilations

    with pytest.raises(ValueError):
        conv1d_dilations(toks_df, (0.5, 0.5), dilations=(2, 1))
    with pytest.raises(ValueError):
        conv1d_dilations(toks_df, (0.5, 0.5), dilations=())
    # non-positive rates would silently read the same tap (0) or earlier
    # positions (negative) — must be rejected, not computed
    with pytest.raises(ValueError):
        conv1d_dilations(toks_df, (0.5, 0.5), dilations=(0, 2))
    with pytest.raises(ValueError):
        conv1d_dilations(toks_df, (0.5, 0.5), dilations=(-1, 1))


def test_conv1d_same_with_ma_matches_separate_ops(spark, toks_df):
    """The same+moving-average merge equals conv1d('same') and the uniform
    4-tap 'valid' conv run separately, with y_ma NULL exactly past the MA's
    shorter valid range."""
    from tsrollup.convolve import conv1d, conv1d_same_with_ma

    got = (conv1d_same_with_ma(toks_df, (0.25, 0.5, 0.25), ma_taps=4)
           .toPandas().set_index(["doc_id", "pos"]).sort_index())
    same = (conv1d(toks_df, (0.25, 0.5, 0.25), stride=1, padding="same")
            .toPandas().set_index(["doc_id", "pos"]).sort_index())
    ma = (conv1d(toks_df, (0.25, 0.25, 0.25, 0.25), stride=1,
                 padding="valid")
          .toPandas().set_index(["doc_id", "pos"]).sort_index())
    assert got.index.equals(same.index)
    np.testing.assert_array_equal(got["y"].values, same["y"].values)
    have = got["y_ma"].dropna()
    assert have.index.equals(ma.index)
    np.testing.assert_array_equal(have.values, ma["y"].values)
    with pytest.raises(ValueError):
        conv1d_same_with_ma(toks_df, (0.5, 0.5))  # even kernel


@pytest.mark.parametrize("stride,dilations", [(1, (1, 2)), (2, (1, 3)),
                                              (3, (2, 5)), (1, (1, 2, 4))])
def test_conv1d_dilations_property_vs_numpy(spark, toks_df, stride,
                                            dilations):
    """Every dilation column of the merged single-scan frame equals the
    NumPy 'valid' conv at that rate, aligned by shared start = pos·stride,
    for arbitrary stride/rate combinations."""
    from tsrollup.convolve import conv1d_dilations

    w = (0.5, -0.25, 0.125)
    got = (conv1d_dilations(toks_df, w, stride=stride, dilations=dilations)
           .toPandas())
    pdf = toks_df.toPandas().set_index("doc_id")["tokens"]
    cols = ["y"] + [f"y_d{d}" for d in dilations[1:]]
    checked = 0
    for doc_id, g in got.groupby("doc_id"):
        g = g.sort_values("pos").reset_index(drop=True)
        x = pdf[doc_id]
        for col, d in zip(cols, dilations):
            want = np_conv(x, w, stride, "valid", dilation=d)
            have = g[col].dropna()
            assert list(have.index) == list(range(len(want))), (doc_id, col)
            np.testing.assert_array_equal(have.values, np.asarray(want))
            checked += 1
    assert checked > 50


class TestHoltLast:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id string, tokens array<int>")

    @staticmethod
    def _ref(xs, a, b):
        l = float(xs[0])
        bb = float(xs[1]) - float(xs[0]) if len(xs) > 1 else 0.0
        for x in xs[1:]:
            nl = a * float(x) + (1.0 - a) * (l + bb)
            nb = b * (nl - l) + (1.0 - b) * bb
            l, bb = nl, nb
        return l, bb

    def test_matches_bitwise_python_replica(self, spark):
        import numpy as np
        from tsrollup.convolve import holt_last
        rng = np.random.default_rng(31)
        rows = [(f"d{i}", rng.integers(0, 40, size=int(m)).tolist())
                for i, m in enumerate(rng.integers(1, 150, size=12))]
        out = {r.doc_id: r for r in
               holt_last(self._docs(spark, rows), 0.5, 0.25).collect()}
        for doc_id, xs in rows:
            l, b = self._ref(xs, 0.5, 0.25)
            r = out[doc_id]
            assert (r.holt_level, r.holt_trend) == (l, b), doc_id
            assert r.holt_forecast == l + b

    def test_linear_trend_is_tracked_exactly(self, spark):
        from tsrollup.convolve import holt_last
        # a pure linear ramp: with init b1 = x2-x1 the recurrences keep
        # level on the line and trend at the slope for any alpha/beta —
        # exactly so in floats only when alpha/beta are binary fractions
        # (0.3/0.7 would drift a few ulp off the line)
        df = self._docs(spark, [("d1", list(range(0, 40, 2)))])
        r = holt_last(df, 0.5, 0.25).collect()[0]
        assert r.holt_trend == 2.0
        assert r.holt_level == 38.0
        assert r.holt_forecast == 40.0

    def test_single_token_doc(self, spark):
        from tsrollup.convolve import holt_last
        r = holt_last(self._docs(spark, [("d1", [9])])).collect()[0]
        assert (r.holt_level, r.holt_trend, r.holt_forecast) == (9.0, 0.0, 9.0)

    def test_empty_doc_emits_nothing(self, spark):
        from tsrollup.convolve import holt_last
        assert holt_last(self._docs(spark, [("d1", [])])).count() == 0

    def test_validation(self, spark):
        import pytest as _pytest
        from tsrollup.convolve import holt_last
        with _pytest.raises(ValueError):
            holt_last(self._docs(spark, []), alpha=0.0)
        with _pytest.raises(ValueError):
            holt_last(self._docs(spark, []), beta=1.5)

    def test_shuffle_free(self, spark):
        from tsrollup.convolve import holt_last
        from tsrollup.planaudit import formatted_plan, n_data_exchanges
        df = self._docs(spark, [("d1", [1, 2, 3])])
        assert n_data_exchanges(formatted_plan(holt_last(df))) == 0
