"""Unit tests for the shared NumPy kernels (oracle side of the parity contract).

Mirrors the reference's shape-golden + determinism discipline
(test/test_keras.py:160-171, :84-91) with hand-computed goldens.
"""

from __future__ import annotations

import numpy as np
import pytest

from tsrollup.kernels import (
    base_window_partials, derive_stats, gap_fill, reaggregate,
)


def test_gap_fill_no_mask_identity():
    x = np.array([5, 6, 7], dtype=np.int32)
    out = gap_fill(x, None)
    np.testing.assert_array_equal(out, x)
    assert out.dtype == np.int32


def test_gap_fill_linear_interior():
    x = np.array([10, 0, 0, 0, 50], dtype=np.int32)
    mask = np.array([False, True, True, True, False])
    np.testing.assert_array_equal(gap_fill(x, mask), [10, 20, 30, 40, 50])


def test_gap_fill_edges_clamp():
    x = np.array([0, 0, 7, 9, 0], dtype=np.int32)
    mask = np.array([True, True, False, False, True])
    np.testing.assert_array_equal(gap_fill(x, mask), [7, 7, 7, 9, 9])


def test_gap_fill_all_missing_zeros():
    x = np.array([3, 4], dtype=np.int32)
    mask = np.array([True, True])
    np.testing.assert_array_equal(gap_fill(x, mask), [0, 0])


def test_gap_fill_rounding_banker():
    # midpoint between 0 and 1 → np.rint rounds to even (0)
    x = np.array([0, 0, 1], dtype=np.int32)
    mask = np.array([False, True, False])
    np.testing.assert_array_equal(gap_fill(x, mask), [0, 0, 1])


def test_base_partials_exact_small():
    x = np.array([1, 2, 3, 4, 5, 6, 7], dtype=np.int32)
    p = base_window_partials(x, window=3)
    np.testing.assert_array_equal(p["window_start"], [0, 3, 6])
    np.testing.assert_array_equal(p["count"], [3, 3, 1])
    np.testing.assert_array_equal(p["sum"], [6, 15, 7])
    np.testing.assert_array_equal(p["sumsq"], [14, 77, 49])
    np.testing.assert_array_equal(p["min"], [1, 4, 7])
    np.testing.assert_array_equal(p["max"], [3, 6, 7])
    d = derive_stats(p)
    np.testing.assert_allclose(d["mean"], [2.0, 5.0, 7.0])
    # population variance of [1,2,3] is 2/3 via pinned formula
    assert d["var"][0] == 14 / 3 - 2.0 * 2.0


def test_spectral_parseval_full_window():
    # constant signal → all AC bins zero → spec_energy 0, centroid 0
    x = np.full(64, 100, dtype=np.int32)
    p = base_window_partials(x, window=64)
    assert p["spec_energy"][0] == 0.0
    assert derive_stats(p)["spec_centroid"][0] == 0.0
    # pure cosine at bin 4 → all energy in bin 4 → centroid == 4
    t = np.arange(64)
    sig = np.rint(1000 * np.cos(2 * np.pi * 4 * t / 64)).astype(np.int32)
    p = base_window_partials(sig, window=64)
    c = derive_stats(p)["spec_centroid"][0]
    assert abs(c - 4.0) < 0.01
    assert p["band_energy"][0, 0] > 0.999 * p["spec_energy"][0]


def test_band_energy_sums_to_spec_energy():
    rng = np.random.default_rng(7)
    x = rng.integers(0, 1000, 200).astype(np.int32)
    p = base_window_partials(x, window=64)
    np.testing.assert_allclose(p["band_energy"].sum(axis=1), p["spec_energy"],
                               rtol=1e-12)


def test_reaggregate_matches_direct_integer_partials():
    rng = np.random.default_rng(3)
    x = rng.integers(0, 5000, 64 * 7 + 13).astype(np.int32)
    base = base_window_partials(x, window=64)
    re2 = reaggregate(base, 4)
    np.testing.assert_array_equal(re2["count"],
                                  np.add.reduceat(base["count"], [0, 4]))
    assert re2["sum"].sum() == base["sum"].sum()
    assert re2["min"].min() == base["min"].min()
    assert re2["max"].max() == base["max"].max()
    np.testing.assert_array_equal(re2["window_start"], [0, 256])


def test_tier_chain_is_hierarchical():
    # Canonical semantics (pinned): 1d re-aggregates 1h, never the base
    # directly — float sums are order-sensitive, so tier_chain's output must
    # bit-match the explicit two-hop route (the maintenance path's order),
    # and the int partials must also equal the one-hop route.
    from tsrollup.kernels import tier_chain

    rng = np.random.default_rng(11)
    x = rng.integers(0, 5000, 64 * 60 * 30).astype(np.int32)
    base = base_window_partials(x, window=64)
    chain = tier_chain(base, {"1m": 1, "1h": 60, "1d": 1440})
    h = reaggregate(base, 60)
    d_via_h = reaggregate(h, 24)
    for k in d_via_h:
        np.testing.assert_array_equal(chain["1d"][k], d_via_h[k])
        np.testing.assert_array_equal(chain["1h"][k], h[k])
    d_direct = reaggregate(base, 1440)
    for k in ("count", "sum", "sumsq", "min", "max", "window_start"):
        np.testing.assert_array_equal(d_via_h[k], d_direct[k])


def test_empty_input():
    p = base_window_partials(np.empty(0, np.int32), 64)
    assert p["count"].shape == (0,)
    r = reaggregate(p, 60)
    assert r["count"].shape == (0,)


def test_batch_kernels_bit_identical_to_scalar():
    """batch_* kernels must reproduce per-doc kernels bit-for-bit on ragged
    random docs (the Spark scale path uses the batch forms; the oracle keeps
    the per-doc forms — this test is the bridge)."""
    import numpy as np

    from tsrollup.kernels import (base_window_partials, batch_tier_chain,
                                  batch_window_partials, tier_chain)

    rng = np.random.default_rng(3)
    docs = [rng.integers(0, 50000, rng.integers(1, 700)).astype(np.int32)
            for _ in range(120)]
    docs += [np.array([7], dtype=np.int32),
             np.arange(64 * 7, dtype=np.int32)]  # exact multiple of window
    tiers = {"a": 1, "b": 4, "c": 16}

    got_base, got_nw = batch_window_partials(docs, window=64)
    got_chain = batch_tier_chain(got_base, got_nw, tiers)

    offs = {t: 0 for t in tiers}
    for d in docs:
        want_chain = tier_chain(base_window_partials(d, 64), tiers)
        for t in tiers:
            want = want_chain[t]
            n = want["count"].shape[0]
            gp, _ = got_chain[t]
            o = offs[t]
            for f in want:
                g = gp[f][o:o + n]
                assert g.dtype == want[f].dtype, (t, f)
                assert g.tobytes() == want[f].tobytes(), (t, f)
            offs[t] = o + n
    for t in tiers:
        assert offs[t] == got_chain[t][0]["count"].shape[0]
