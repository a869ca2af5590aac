"""Compressed tier storage round-trip: decompress(rollup_compressed(x)) must
equal rollup_sequences(x) exactly, and the packed bytes must actually be
smaller than raw encoding (the point of Gorilla/delta-of-delta at rest)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tsrollup.rollup import decompress_rollup, rollup_compressed, rollup_sequences
from tests.test_rollup_spark import assert_exact_match


@pytest.fixture(scope="module")
def seq_df(spark, sequences_path):
    return spark.read.parquet(sequences_path)


def test_compressed_roundtrip_exact(spark, seq_df):
    flat = rollup_sequences(seq_df).toPandas()
    packed = rollup_compressed(seq_df)
    back = decompress_rollup(packed).toPandas()
    assert_exact_match(back, flat)


def test_compression_beats_raw(spark):
    # per-blob headers amortize over window count, so measure at the shape the
    # codecs target: long docs with thousands of base windows
    import pandas as pd

    n = 64 * 2000
    rng = np.random.default_rng(1)
    toks = (10000 + 100 * np.sin(np.arange(n) / 64.0)
            + rng.standard_normal(n) * 5).astype(np.int32)
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["long-1"], "tokens": [toks], "source": ["web"]}))
    sizes = (
        rollup_compressed(df)
        .filter("tier = '1m'")
        .select(
            F.sum(F.octet_length("window_start")).alias("ws_bytes"),
            F.sum(F.octet_length("mean")).alias("mean_bytes"),
            F.sum("n_windows").alias("points"),
        )
        .collect()[0]
    )
    assert sizes["points"] == 2000
    # monotone regular offsets: ~1 byte/point (vs 8 raw)
    assert sizes["ws_bytes"] < 1.2 * sizes["points"]
    # gorilla on smooth means: beats raw 8 B/point
    assert sizes["mean_bytes"] < 8 * sizes["points"]


# bit patterns the codecs must carry exactly: quiet/signalling NaN payloads,
# ±0.0, ±inf, the smallest and largest denormals
_SPECIAL_BITS = np.array([0x7FF8000000000001, 0xFFF8000000000000,
                          0x7FF4000000000abc, 0x0000000000000000,
                          0x8000000000000000, 0x7FF0000000000000,
                          0xFFF0000000000000, 0x0000000000000001,
                          0x800FFFFFFFFFFFFF], dtype=np.uint64)


def _special_packed_rows(spark, n_rows: int = 12, seed: int = 5):
    """Packed rows (COMPRESSED_SCHEMA) whose float columns mix ordinary
    values with the special bit patterns, and the per-row unpacked arrays."""
    from tsrollup import N_BANDS
    from tsrollup.codec import dod_encode, gorilla_encode
    from tsrollup.rollup import (_FLOAT_FIELDS, _INT_FIELDS,
                                 COMPRESSED_SCHEMA)

    rng = np.random.default_rng(seed)
    pool = np.concatenate([_SPECIAL_BITS.view(np.float64),
                           rng.normal(size=8), [1.0, 1.0, -2.5]])
    rows, want = [], []
    for i in range(n_rows):
        n = int(rng.integers(1, 40))
        ints = {"window_start": np.arange(n, dtype=np.int64) * 64,
                "count": rng.integers(1, 65, n),
                "sum": rng.integers(-2**40, 2**40, n),
                "sumsq": rng.integers(0, 2**62, n),
                "min": rng.integers(-2**31, 0, n),
                "max": rng.integers(0, 2**31 - 1, n)}
        flts = {f: rng.choice(pool, n) for f in _FLOAT_FIELDS}
        be = rng.choice(pool, n * N_BANDS)
        rows.append((f"doc-{i}", f"src{i % 3}", ("1m", "1h")[i % 2], n,
                     *[dod_encode(ints[f]) for f in _INT_FIELDS],
                     *[gorilla_encode(flts[f]) for f in _FLOAT_FIELDS],
                     gorilla_encode(be)))
        want.append((ints, flts, be))
    return spark.createDataFrame(rows, COMPRESSED_SCHEMA), want


def _decompress_pandas(df):
    """The earlier mapInPandas decoder, kept as the reference the Arrow
    decoder must match."""
    import pandas as pd

    from tsrollup import N_BANDS
    from tsrollup.codec import dod_decode_many, gorilla_decode_many
    from tsrollup.rollup import _FLOAT_FIELDS, _INT_FIELDS, ROLLUP_SCHEMA

    out_cols = [c.split(" ")[0] for c in ROLLUP_SCHEMA.split(", ")]

    def run(batches):
        for pdf in batches:
            nws = pdf["n_windows"].values.astype(np.intp)
            data = {c: np.repeat(pdf[c].values, nws)
                    for c in ("doc_id", "source", "tier")}
            for f in _INT_FIELDS:
                data[f] = np.concatenate(dod_decode_many(list(pdf[f].values)))
            data["min"] = data["min"].astype(np.int32)
            data["max"] = data["max"].astype(np.int32)
            for f in _FLOAT_FIELDS:
                data[f] = np.concatenate(
                    gorilla_decode_many(list(pdf[f].values)))
            be = np.concatenate(
                gorilla_decode_many(list(pdf["band_energy"].values)))
            data["band_energy"] = list(be.reshape(-1, N_BANDS))
            yield pd.DataFrame(data)[out_cols]

    return df.mapInPandas(run, ROLLUP_SCHEMA)


def _bits(table, name) -> np.ndarray:
    col = table.column(name).combine_chunks()
    if name == "band_energy":
        col = col.flatten()
    return col.to_numpy(zero_copy_only=False).view(np.uint64)


def test_arrow_decoder_is_bit_exact_on_special_floats(spark):
    from tsrollup.rollup import _FLOAT_FIELDS, _INT_FIELDS

    packed, want = _special_packed_rows(spark)
    got = decompress_rollup(packed.coalesce(1)).toArrow()
    # one batch, rows in input order: compare against the encoder's input
    assert got.column("doc_id").to_pylist() == [
        f"doc-{i}" for i, (ints, _, _) in enumerate(want)
        for _ in range(ints["count"].shape[0])]
    for f in _INT_FIELDS:
        exp = np.concatenate([w[0][f] for w in want])
        assert np.array_equal(got.column(f).to_numpy(), exp), f
    for f in _FLOAT_FIELDS:
        exp = np.concatenate([w[1][f] for w in want]).view(np.uint64)
        assert np.array_equal(_bits(got, f), exp), f
        assert got.column(f).null_count == 0
    exp = np.concatenate([w[2] for w in want]).view(np.uint64)
    assert np.array_equal(_bits(got, "band_energy"), exp)


def test_arrow_decoder_matches_pandas_decoder(spark, seq_df):
    """Bit-equal to the earlier mapInPandas decoder, on a real packed
    rollup and on the special-value rows. The one difference: pandas→Arrow
    turned every NaN into NULL, where the Arrow decoder keeps the NaN (and
    its payload) that was encoded."""
    from tsrollup.rollup import _FLOAT_FIELDS, ROLLUP_SCHEMA

    names = [c.split(" ")[0] for c in ROLLUP_SCHEMA.split(", ")]
    special, _ = _special_packed_rows(spark)
    for packed in (rollup_compressed(seq_df).coalesce(1), special.coalesce(1)):
        new = decompress_rollup(packed).toArrow()
        old = _decompress_pandas(packed).toArrow()
        assert new.num_rows == old.num_rows
        for c in names:
            if c not in _FLOAT_FIELDS + ("band_energy",):
                assert new.column(c).equals(old.column(c)), c
                continue
            a, b = _bits(new, c), old.column(c).combine_chunks()
            if c == "band_energy":
                b = b.flatten()
            valid = b.is_valid().to_numpy(zero_copy_only=False)
            b = b.to_numpy(zero_copy_only=False).view(np.uint64)
            assert np.array_equal(a[valid], b[valid]), c
            assert np.isnan(a[~valid].view(np.float64)).all(), c
