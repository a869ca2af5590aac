"""Shared NumPy per-window kernels.

These functions are imported by BOTH the single-node oracle (``tsrollup.oracle``)
and the Spark Arrow UDFs (``tsrollup.rollup``), so Spark↔oracle parity holds by
construction: the same floating-point operations run in the same order on both
sides. Everything is vectorized over all windows of a document at once — no
per-element Python loops (BASELINE input_hint: "no per-row Python").

Pinned policies (documented once, tested in tests/test_kernels.py):

* Tumbling windows of ``W`` positions; the trailing window may be partial
  (count < W). Sums/min/max are computed over the *actual* elements via
  ``np.*.reduceat`` (ragged tail handled natively); spectral features
  zero-pad the trailing window to length W first — the same truncate/zero-pad
  convention as the reference's segment fixing (reference ``TSFEDL/data.py:79-84``).
* Spectral features exclude the DC bin (k=0): band energies and the centroid
  partials run over rFFT bins 1..W//2. Bands are 4 equal contiguous bin ranges.
* Gap-fill: interior gaps are linearly interpolated between the nearest valid
  neighbours; leading gaps take the first valid value, trailing gaps the last
  valid value (``np.interp`` clamping); an all-gap document fills with 0.
  Filled values are rounded to nearest int (``np.rint``, banker's rounding)
  so the token array stays int32 — this is the engine's explicit replacement
  for the reference's window-exclusion zones
  (``experiments/timeseries_batch_generator.py:238-256``).
* Variance is population variance derived from decomposable partials in the
  pinned order ``sumsq/count - (sum/count)*(sum/count)`` (float64).
"""

from __future__ import annotations

import numpy as np

from . import BASE_WINDOW, N_BANDS

# Partial (decomposable) aggregate field names, in output order. mean/var are
# DERIVED from these; tiers re-aggregate partials only, never raw tokens
# (SURVEY.md §2.7 "partial+final aggregation").
PARTIAL_FIELDS = (
    "count", "sum", "sumsq", "min", "max",
    "spec_energy", "spec_mass", "band_energy",
)


def gap_fill(x: np.ndarray, mask: np.ndarray | None) -> np.ndarray:
    """Fill missing positions (mask==True) of an int token signal. Returns int32.

    Linear interpolation interior, edge-clamp (bfill/ffill) at the ends,
    zeros if everything is missing.
    """
    x = np.asarray(x)
    if mask is None:
        return x.astype(np.int32, copy=False)
    mask = np.asarray(mask, dtype=bool)
    if not mask.any():
        return x.astype(np.int32, copy=False)
    valid = ~mask
    if not valid.any():
        return np.zeros(x.shape[0], dtype=np.int32)
    idx = np.arange(x.shape[0], dtype=np.float64)
    filled = np.interp(idx, idx[valid], x[valid].astype(np.float64))
    out = np.rint(filled).astype(np.int32)
    out[valid] = x[valid]
    return out


def base_window_partials(x: np.ndarray, window: int = BASE_WINDOW) -> dict[str, np.ndarray]:
    """Tumbling-window decomposable partials for one gap-filled signal.

    Returns arrays of length n_windows = ceil(len(x)/window):
      window_start int64, count int64, sum int64, sumsq int64, min int32,
      max int32, spec_energy float64, spec_mass float64,
      band_energy float64 (n_windows, N_BANDS).

    Sum-like aggregates are exact int64; spectral partials use one pinned
    float64 reduction order (np.add.reduce over the bin axis of a
    C-contiguous (n_windows, bins) array).
    """
    x = np.asarray(x)
    n = x.shape[0]
    if n == 0:
        return {
            "window_start": np.empty(0, np.int64),
            "count": np.empty(0, np.int64),
            "sum": np.empty(0, np.int64),
            "sumsq": np.empty(0, np.int64),
            "min": np.empty(0, np.int32),
            "max": np.empty(0, np.int32),
            "spec_energy": np.empty(0, np.float64),
            "spec_mass": np.empty(0, np.float64),
            "band_energy": np.empty((0, N_BANDS), np.float64),
        }
    nw = -(-n // window)
    starts = np.arange(nw, dtype=np.int64) * window
    bounds = starts.astype(np.intp)
    x64 = x.astype(np.int64, copy=False)
    counts = np.full(nw, window, dtype=np.int64)
    counts[-1] = n - (nw - 1) * window
    sums = np.add.reduceat(x64, bounds)
    sumsqs = np.add.reduceat(x64 * x64, bounds)
    mins = np.minimum.reduceat(x, bounds).astype(np.int32)
    maxs = np.maximum.reduceat(x, bounds).astype(np.int32)

    # Spectral: zero-pad tail to full window (data.py:79-84 convention), rFFT
    # per window, energies over bins 1..W//2 (DC excluded).
    padded = np.zeros(nw * window, dtype=np.float64)
    padded[:n] = x
    spec = np.fft.rfft(padded.reshape(nw, window), axis=1)
    power = (spec.real * spec.real + spec.imag * spec.imag)[:, 1:]  # drop DC
    nbins = power.shape[1]
    k = np.arange(1, nbins + 1, dtype=np.float64)
    spec_energy = np.add.reduce(power, axis=1)
    spec_mass = np.add.reduce(power * k, axis=1)
    # 4 equal contiguous bands over bins 1..W//2.
    edges = np.linspace(0, nbins, N_BANDS + 1).astype(np.intp)
    band_energy = np.empty((nw, N_BANDS), dtype=np.float64)
    for b in range(N_BANDS):
        band_energy[:, b] = np.add.reduce(power[:, edges[b]:edges[b + 1]], axis=1)
    return {
        "window_start": starts,
        "count": counts,
        "sum": sums,
        "sumsq": sumsqs,
        "min": mins,
        "max": maxs,
        "spec_energy": spec_energy,
        "spec_mass": spec_mass,
        "band_energy": band_energy,
    }


def _seq_group_sum(x: np.ndarray, factor: int) -> np.ndarray:
    """Strictly LEFT-TO-RIGHT sequential sum of consecutive blocks of ``factor``
    elements (ragged tail ok) — vectorized ACROSS groups, sequential WITHIN a
    group. Pinned so the float accumulation order bit-matches a Spark
    ``aggregate()`` fold over the same values (np.add.reduceat would be
    pairwise, which does not). Values must be non-negative-zero-safe
    (zero-padding the tail relies on x + 0.0 == x)."""
    n = x.shape[0]
    np_parent = -(-n // factor)
    pad_shape = (np_parent * factor,) + x.shape[1:]
    padded = np.zeros(pad_shape, dtype=np.float64)
    padded[:n] = x
    blocks = padded.reshape((np_parent, factor) + x.shape[1:])
    acc = blocks[:, 0].copy()
    for j in range(1, factor):
        acc += blocks[:, j]
    return acc


def reaggregate(partials: dict[str, np.ndarray], factor: int) -> dict[str, np.ndarray]:
    """Hierarchical tier re-aggregation from child-tier partials (never raw data).

    Groups consecutive blocks of ``factor`` child windows (the analog of a
    stacked pooling stage, reference models_keras.py:59-63). Ragged tail is a
    partial parent window, same convention as base_window_partials. Integer
    partials use reduceat (exact in any order); float partials use the pinned
    sequential order (see _seq_group_sum).
    """
    nw = partials["count"].shape[0]
    if nw == 0:
        return {k: v.copy() for k, v in partials.items()}
    np_parent = -(-nw // factor)
    bounds = (np.arange(np_parent, dtype=np.intp) * factor)
    out = {
        "window_start": partials["window_start"][bounds],
        "count": np.add.reduceat(partials["count"], bounds),
        "sum": np.add.reduceat(partials["sum"], bounds),
        "sumsq": np.add.reduceat(partials["sumsq"], bounds),
        "min": np.minimum.reduceat(partials["min"], bounds),
        "max": np.maximum.reduceat(partials["max"], bounds),
        "spec_energy": _seq_group_sum(partials["spec_energy"], factor),
        "spec_mass": _seq_group_sum(partials["spec_mass"], factor),
        "band_energy": _seq_group_sum(partials["band_energy"], factor),
    }
    return out


def tier_chain(base: dict[str, np.ndarray],
               tiers: dict[str, int]) -> dict[str, dict[str, np.ndarray]]:
    """Compute every retention tier HIERARCHICALLY: each tier re-aggregates the
    previous (finer) tier, never the base directly. This is the pinned canonical
    semantics — float accumulation order then matches the maintenance path
    (1d from stored 1h) bit-for-bit. Tier factors must divide evenly in
    ascending order (e.g. 1, 60, 1440)."""
    out: dict[str, dict[str, np.ndarray]] = {}
    prev_factor = None
    prev = None
    for tier, factor in sorted(tiers.items(), key=lambda kv: kv[1]):
        if factor == 1:
            cur = base
        else:
            parent_of = prev if prev is not None else base
            pf = prev_factor if prev_factor is not None else 1
            assert factor % pf == 0, f"tier factor {factor} not multiple of {pf}"
            cur = reaggregate(parent_of, factor // pf)
        out[tier] = cur
        prev, prev_factor = cur, factor
    return out


def derive_stats(partials: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """Derived mean/var/spec_centroid from decomposable partials (pinned order)."""
    count = partials["count"].astype(np.float64)
    s = partials["sum"].astype(np.float64)
    sq = partials["sumsq"].astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        mean = s / count
        var = sq / count - (s / count) * (s / count)
        centroid = np.where(
            partials["spec_energy"] > 0.0,
            partials["spec_mass"] / partials["spec_energy"],
            0.0,
        )
    return {"mean": mean, "var": var, "spec_centroid": centroid}


# ------------------------------------------------ batched (cross-doc) -------
#
# The per-doc kernels above are the ORACLE semantics. The batch_* variants
# below compute the identical partials for a whole Arrow batch of documents
# in one set of vector ops (global reduceat bounds, one rFFT matrix, padded
# segmented folds) — bit-identical output (tested in test_kernels), ~10-30
# NumPy calls per BATCH instead of per DOC. The Spark scale path uses these;
# the oracle keeps the per-doc forms so parity stays independently derived.


def _within(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(0..c_i-1 concatenated over groups, first global index of each group)."""
    firsts = np.zeros(counts.shape[0], dtype=np.intp)
    firsts[1:] = np.cumsum(counts)[:-1]
    total = int(counts.sum())
    return np.arange(total, dtype=np.intp) - np.repeat(firsts, counts), firsts


def batch_window_partials(docs: list[np.ndarray],
                          window: int = BASE_WINDOW
                          ) -> tuple[dict[str, np.ndarray], np.ndarray]:
    """base_window_partials for many non-empty docs at once.

    Returns (partials with concatenated per-window arrays, windows-per-doc).
    Bit-identical to concatenating per-doc base_window_partials results:
    reduceat segments hold identical content, and the rFFT matrix rows equal
    the per-doc padded rows.
    """
    lens = np.array([d.shape[0] for d in docs], dtype=np.intp)
    nw = -(-lens // window)
    total_w = int(nw.sum())
    doc_off = np.zeros(lens.shape[0], dtype=np.intp)
    doc_off[1:] = np.cumsum(lens)[:-1]
    within_w, w_firsts = _within(nw)
    bounds = np.repeat(doc_off, nw) + within_w * window

    x = np.concatenate(docs)
    x64 = x.astype(np.int64, copy=False)
    counts = np.full(total_w, window, dtype=np.int64)
    counts[w_firsts + nw - 1] = lens - (nw - 1) * window
    sums = np.add.reduceat(x64, bounds)
    sumsqs = np.add.reduceat(x64 * x64, bounds)
    mins = np.minimum.reduceat(x, bounds).astype(np.int32)
    maxs = np.maximum.reduceat(x, bounds).astype(np.int32)

    # one zero-padded (total_windows, window) matrix for the whole batch
    padded = np.zeros(total_w * window, dtype=np.float64)
    pw_off = w_firsts * window
    for i in range(lens.shape[0]):  # one slice-assign per doc
        padded[pw_off[i]:pw_off[i] + lens[i]] = x[doc_off[i]:doc_off[i] + lens[i]]
    spec = np.fft.rfft(padded.reshape(total_w, window), axis=1)
    power = (spec.real * spec.real + spec.imag * spec.imag)[:, 1:]
    nbins = power.shape[1]
    k = np.arange(1, nbins + 1, dtype=np.float64)
    spec_energy = np.add.reduce(power, axis=1)
    spec_mass = np.add.reduce(power * k, axis=1)
    edges = np.linspace(0, nbins, N_BANDS + 1).astype(np.intp)
    band_energy = np.empty((total_w, N_BANDS), dtype=np.float64)
    for b in range(N_BANDS):
        band_energy[:, b] = np.add.reduce(power[:, edges[b]:edges[b + 1]], axis=1)

    return {
        "window_start": (within_w * window).astype(np.int64),
        "count": counts,
        "sum": sums,
        "sumsq": sumsqs,
        "min": mins,
        "max": maxs,
        "spec_energy": spec_energy,
        "spec_mass": spec_mass,
        "band_energy": band_energy,
    }, nw


def batch_reaggregate(partials: dict[str, np.ndarray], nw: np.ndarray,
                      factor: int) -> tuple[dict[str, np.ndarray], np.ndarray]:
    """reaggregate for many docs at once (same pinned float fold order)."""
    pnw = -(-nw // factor)
    total_p = int(pnw.sum())
    within_p, p_firsts = _within(pnw)
    child_firsts = np.zeros(nw.shape[0], dtype=np.intp)
    child_firsts[1:] = np.cumsum(nw)[:-1]
    bounds = np.repeat(child_firsts, pnw) + within_p * factor

    # floats: stacked (total_child, 2+N_BANDS) → zero-padded (total_p, factor,
    # 2+N_BANDS) → strictly left-to-right fold over the factor axis, exactly
    # the scalar _seq_group_sum order per field
    M = np.column_stack([partials["spec_energy"], partials["spec_mass"],
                         partials["band_energy"]])
    buf = np.zeros((total_p * factor, M.shape[1]), dtype=np.float64)
    for i in range(nw.shape[0]):  # one slice-assign per doc
        buf[p_firsts[i] * factor:p_firsts[i] * factor + nw[i]] = \
            M[child_firsts[i]:child_firsts[i] + nw[i]]
    blocks = buf.reshape(total_p, factor, M.shape[1])
    acc = blocks[:, 0].copy()
    for j in range(1, factor):
        acc += blocks[:, j]

    out = {
        "window_start": partials["window_start"][bounds],
        "count": np.add.reduceat(partials["count"], bounds),
        "sum": np.add.reduceat(partials["sum"], bounds),
        "sumsq": np.add.reduceat(partials["sumsq"], bounds),
        "min": np.minimum.reduceat(partials["min"], bounds),
        "max": np.maximum.reduceat(partials["max"], bounds),
        "spec_energy": acc[:, 0],
        "spec_mass": acc[:, 1],
        "band_energy": np.ascontiguousarray(acc[:, 2:]),
    }
    return out, pnw


def batch_tier_chain(base: dict[str, np.ndarray], nw: np.ndarray,
                     tiers: dict[str, int]
                     ) -> dict[str, tuple[dict[str, np.ndarray], np.ndarray]]:
    """tier_chain for many docs at once: each tier re-aggregates the previous
    (finer) tier, same hierarchy contract as the scalar version."""
    out: dict[str, tuple[dict[str, np.ndarray], np.ndarray]] = {}
    prev_factor = None
    prev: tuple[dict[str, np.ndarray], np.ndarray] | None = None
    for tier, factor in sorted(tiers.items(), key=lambda kv: kv[1]):
        if factor == 1:
            cur = (base, nw)
        else:
            parent_of, pn = prev if prev is not None else (base, nw)
            pf = prev_factor if prev_factor is not None else 1
            assert factor % pf == 0, f"tier factor {factor} not multiple of {pf}"
            cur = batch_reaggregate(parent_of, pn, factor // pf)
        out[tier] = cur
        prev, prev_factor = cur, factor
    return out
