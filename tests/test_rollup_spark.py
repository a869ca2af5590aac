"""Spark ↔ oracle exact-match parity for the rollup engine (the correctness gate:
BASELINE 'rolled-up-point exact-match rate = 100% vs single-node oracle').

Exactness is EXACT equality — ints bit-for-bit, floats bit-for-bit (shared
kernels + pinned accumulation order), the analog of the reference's
save/reload determinism (test/test_keras.py:84-91) but stricter (== not allclose).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tsrollup import TIER_FACTOR
from tsrollup.oracle import ROLLUP_COLUMNS, rollup_table
from tsrollup.rollup import (
    derive_columns, reaggregate_tier, rollup_grouped, rollup_sequences,
)

KEY = ["tier", "doc_id", "window_start"]


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(KEY).reset_index(drop=True)[ROLLUP_COLUMNS]


def assert_exact_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame):
    a, b = _sorted(spark_pdf), _sorted(oracle_pdf)
    assert len(a) == len(b), f"row count {len(a)} != {len(b)}"
    for c in ROLLUP_COLUMNS:
        if c == "band_energy":
            av = np.stack([np.asarray(v) for v in a[c]])
            bv = np.stack([np.asarray(v) for v in b[c]])
            np.testing.assert_array_equal(av, bv, err_msg=c)
        else:
            np.testing.assert_array_equal(a[c].values, b[c].values, err_msg=c)


@pytest.fixture(scope="module")
def seq_df(spark, sequences_path):
    return spark.read.parquet(sequences_path)


@pytest.fixture(scope="module")
def oracle_out(sequences_path):
    import pyarrow.parquet as pq

    tbl = pq.read_table(sequences_path).to_pylist()
    return rollup_table(tbl)


def test_rollup_exact_match_all_tiers(spark, seq_df, oracle_out):
    got = rollup_sequences(seq_df).toPandas()
    assert_exact_match(got, oracle_out)
    # every tier present
    assert set(got["tier"].unique()) == set(TIER_FACTOR)


def test_rollup_repartitioned_same_result(spark, seq_df, oracle_out):
    # each doc rolls up alone: the input partitioning must not change a bit
    got = rollup_sequences(seq_df.repartition(16)).toPandas()
    assert_exact_match(got, oracle_out)


def test_rollup_grouped_chunked_docs(spark, seq_df, oracle_out):
    # split every doc's tokens into chunks of ≤200 → grouped path must
    # reproduce the unchunked result exactly
    from pyspark.sql import functions as F

    chunked = (
        seq_df
        .select(
            "doc_id", "source",
            F.posexplode(
                # slice tokens into chunk arrays of 200
                F.transform(
                    F.sequence(F.lit(0), F.floor((F.size("tokens") - 1) / 200).cast("int")),
                    lambda i: F.struct(
                        F.slice("tokens", i * 200 + 1, 200).alias("tokens"),
                        F.slice("gap_mask", i * 200 + 1, 200).alias("gap_mask"),
                    ),
                )
            ).alias("chunk_id", "chunk"),
        )
        .select("doc_id", "source", "chunk_id",
                F.col("chunk.tokens").alias("tokens"),
                F.col("chunk.gap_mask").alias("gap_mask"))
    )
    got = rollup_grouped(chunked).toPandas()
    assert_exact_match(got, oracle_out)


def test_rollup_grouped_mixed_null_gap_masks(spark):
    # a writer may omit gap_mask for gapless chunks: a null chunk mask means
    # "no gaps here" and must NOT null out the whole doc's mask (which would
    # aggregate gap sentinels as real data)
    import pandas as pd
    from pyspark.sql.types import (ArrayType, BooleanType, IntegerType,
                                   StringType, StructField, StructType)

    schema = StructType([
        StructField("doc_id", StringType()),
        StructField("chunk_id", IntegerType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("source", StringType()),
        StructField("gap_mask", ArrayType(BooleanType())),
    ])
    rows = [
        ("d", 0, [10, 999, 10, 10], "s", [False, True, False, False]),
        ("d", 1, [10, 10, 10, 10], "s", None),  # gapless chunk, mask omitted
    ]
    got = rollup_grouped(
        spark.createDataFrame(pd.DataFrame(rows, columns=schema.names),
                              schema),
        window=8, tiers={"w": 1}).toPandas()
    # position 1's 999 sentinel is a gap → linear-interp to 10;
    # a nulled-out mask would instead sum the 999 into the window
    assert got["sum"].iloc[0] == 80
    assert got["max"].iloc[0] == 10


def test_maintenance_path_matches_one_pass(spark, seq_df):
    # continuous aggregate: 1h from STORED 1m, and 1d from STORED 1h, via pure
    # DataFrame expressions — must bit-match the in-pass tier chain
    full = rollup_sequences(seq_df).cache()
    one_pass_h = full.filter("tier = '1h'").toPandas()
    one_pass_d = full.filter("tier = '1d'").toPandas()
    stored_1m = full.filter("tier = '1m'")
    maint_h_df = reaggregate_tier(stored_1m, "1h", 60)
    maint_h = maint_h_df.toPandas()
    assert_exact_match(maint_h, one_pass_h)
    maint_d = reaggregate_tier(maint_h_df, "1d", 1440, child_factor=60).toPandas()
    assert_exact_match(maint_d, one_pass_d)
    full.unpersist()


def test_gap_free_docs_unaffected_by_mask(spark, seq_df, oracle_out):
    # docs with no gaps must be byte-identical whether gap_mask is supplied
    # or the column is absent (FIXTURES.md F1 requirement)
    from pyspark.sql import functions as F

    no_gaps = seq_df.filter(~F.array_contains("gap_mask", True))
    with_mask = rollup_sequences(no_gaps).toPandas()
    without_mask = rollup_sequences(no_gaps.drop("gap_mask")).toPandas()
    assert_exact_match(with_mask, without_mask)


def test_rollup_row_counts(seq_df, oracle_out):
    # shape golden: one row per (tier, doc, window); base windows = ceil(n/64)
    import math

    pdf = seq_df.select("doc_id", "n_tok").toPandas()
    exp_1m = int(sum(math.ceil(n / 64) for n in pdf["n_tok"]))
    assert (oracle_out["tier"] == "1m").sum() == exp_1m


def test_rollup_handles_million_token_doc(spark, tmp_path):
    """A single very long sequence (1M tokens ≈ a book-length doc) must roll
    up without Arrow/row-size trouble, and its window partials must tile the
    signal exactly: counts sum to n, sums to the token sum, window count is
    ceil(n/w) per the base tier."""
    import numpy as np
    import pandas as pd

    from tsrollup.rollup import rollup_sequences

    n = 1_000_000
    rng = np.random.default_rng(7)
    toks = rng.integers(1, 30, n, dtype=np.int32)
    pdf = pd.DataFrame({
        "doc_id": ["big-0"],
        "tokens": [toks],
        "source": ["stress"],
    })
    p = str(tmp_path / "big.parquet")
    pdf.to_parquet(p)
    out = rollup_sequences(spark.read.parquet(p), window=64,
                           tiers={"1m": 1}).toPandas()
    assert (out["tier"] == "1m").all()
    assert len(out) == -(-n // 64)
    assert out["count"].sum() == n
    assert int(out["sum"].sum()) == int(toks.sum(dtype=np.int64))
    assert out["min"].min() == toks.min() and out["max"].max() == toks.max()
    # window starts tile [0, n) with stride 64, no gaps or dups
    ws = np.sort(out["window_start"].to_numpy())
    assert (ws == np.arange(len(out)) * 64).all()


class TestTierRouting:
    def test_finest_fitting_tier_wins(self):
        from tsrollup.rollup import route_tier

        # 64k positions = 1000 minute windows; budgets route the rule
        assert route_tier(64_000, 1000) == "1m"
        assert route_tier(64_000, 999) == "1h"   # 1m overflows -> next
        assert route_tier(64 * 60 * 24 * 365, 500) == "1d"  # a "year"
        # even the day tier overflows a 1-point budget on 2 "days":
        assert route_tier(64 * 60 * 24 * 2, 1) == "1d"  # coarsest fallback

    def test_ceil_division_boundaries(self):
        from tsrollup.rollup import route_tier

        # exactly max_points windows fits; one position more overflows
        assert route_tier(64 * 10, 10) == "1m"
        assert route_tier(64 * 10 + 1, 10) == "1h"

    def test_validation(self):
        import pytest as _pytest

        from tsrollup.rollup import route_tier

        with _pytest.raises(ValueError):
            route_tier(0, 10)
        with _pytest.raises(ValueError):
            route_tier(10, 0)
        with _pytest.raises(ValueError):
            route_tier(10, 10, tiers={})

    def test_read_routed_filters_tier_and_range(self, spark, seq_df):
        from tsrollup.rollup import read_routed, rollup_sequences

        rolled = rollup_sequences(seq_df)
        # a 100-minute-window range with a 10-point budget -> hour tier
        out = read_routed(rolled, 0, 64 * 100, 10).toPandas()
        assert set(out["tier"]) == {"1h"}
        assert (out["window_start"] < 64 * 100).all()
        # per-doc row count respects the budget
        assert out.groupby("doc_id").size().max() <= 10
        # equals the manual filter (routing adds no row surgery)
        want = rolled.filter("tier = '1h' and window_start >= 0 "
                             "and window_start < 6400").count()
        assert len(out) == want > 0


class TestPyramidRangeRead:
    FACTORS = {"f1": 1, "f4": 4, "f16": 16}

    def test_tiles_partition_the_range_exactly(self):
        from tsrollup.rollup import pyramid_tiles

        rng = np.random.default_rng(11)
        for _ in range(200):
            a = int(rng.integers(0, 200))
            b = a + 1 + int(rng.integers(0, 200))
            tiles = pyramid_tiles(a, b, self.FACTORS)
            units: list[int] = []
            for name, ranges in tiles.items():
                f = self.FACTORS[name]
                for lo, hi in ranges:
                    assert lo % f == 0 and hi % f == 0 and lo < hi
                    units.extend(range(lo, hi))
            assert sorted(units) == list(range(a, b)), (a, b, tiles)

    def test_coarse_interior_fine_edges(self):
        from tsrollup.rollup import pyramid_tiles

        tiles = pyramid_tiles(3, 29, self.FACTORS)
        assert tiles == {"f4": [(4, 28)], "f1": [(3, 4), (28, 29)]}
        tiles = pyramid_tiles(0, 48, self.FACTORS)
        assert tiles == {"f16": [(0, 48)]}

    def test_validation(self):
        from tsrollup.rollup import pyramid_tiles, read_range

        with pytest.raises(ValueError):
            pyramid_tiles(0, 8, {"a": 4, "b": 2})     # no factor-1 tier
        with pytest.raises(ValueError):
            pyramid_tiles(0, 8, {"a": 6, "b": 4, "c": 1})  # 4 !| 6
        df = None
        with pytest.raises(ValueError):
            read_range(df, 3, 64)                     # a not aligned
        with pytest.raises(ValueError):
            read_range(df, 64, 64)                    # empty range

    def test_matches_flat_finest_aggregation(self, spark, seq_df):
        from tsrollup.rollup import read_range, rollup_sequences

        rolled = rollup_sequences(seq_df, tiers=self.FACTORS)
        a, b = 64 * 3, 64 * 29          # stitches f4 interior + f1 edges
        got = (read_range(rolled, a, b, factors=self.FACTORS).toPandas()
               .sort_values("doc_id").reset_index(drop=True))
        flat = (rollup_sequences(seq_df, tiers={"f1": 1}).toPandas())
        flat = flat[(flat.window_start >= a) & (flat.window_start < b)]
        want = (flat.groupby("doc_id", as_index=False)
                .agg(count=("count", "sum"), sum=("sum", "sum"),
                     sumsq=("sumsq", "sum"), min=("min", "min"),
                     max=("max", "max"))
                .sort_values("doc_id").reset_index(drop=True))
        assert len(got) == len(want) > 0
        for c in ("count", "sum", "sumsq", "min", "max"):
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
        # derived moments: the same exact-int division both engines do
        np.testing.assert_array_equal(
            got["mean"].to_numpy(),
            want["sum"].to_numpy(np.float64) / want["count"].to_numpy(np.float64))

    def test_short_docs_contribute_their_prefix_only(self, spark):
        from tsrollup.rollup import read_range, rollup_sequences

        df = spark.createDataFrame(
            [("short", list(range(10)), "s"),
             ("longer", list(range(200)), "s")],
            "doc_id string, tokens array<int>, source string")
        rolled = rollup_sequences(df, window=4, tiers=self.FACTORS)
        out = {r.doc_id: r for r in
               read_range(rolled, 0, 4 * 40, window=4,
                          factors=self.FACTORS).collect()}
        assert out["short"]["count"] == 10       # covered prefix only
        assert out["longer"]["count"] == 160     # 40 windows of 4
        assert out["longer"]["sum"] == sum(range(160))

    def test_range_predicate_pushes_to_parquet_scan(self, spark, seq_df,
                                                    tmp_path):
        from tsrollup.rollup import read_range, rollup_sequences

        path = str(tmp_path / "store")
        rollup_sequences(seq_df, tiers=self.FACTORS).write.parquet(path)
        plan = (read_range(spark.read.parquet(path), 64 * 3, 64 * 29,
                           factors=self.FACTORS)
                ._jdf.queryExecution().executedPlan().toString())
        assert "PushedFilters" in plan
        assert "window_start" in plan.split("PushedFilters")[1][:400]


def test_read_range_rejects_missing_store_tier(spark, seq_df):
    from tsrollup.rollup import read_range, rollup_sequences

    rolled = rollup_sequences(seq_df, tiers={"f1": 1, "f4": 4})
    with pytest.raises(ValueError, match="absent from the store"):
        read_range(rolled, 0, 64 * 48,
                   factors={"f1": 1, "f4": 4, "f16": 16})
    # validate=False documents the caller's own pin — no error, wrong
    # interior is the caller's contract then
    read_range(rolled, 0, 64 * 48,
               factors={"f1": 1, "f4": 4, "f16": 16},
               validate=False).collect()
