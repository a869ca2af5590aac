"""The small-scan guard (``io.scan_min_parallel``, reached through
``__spark_entry__._fact``): a fact scan is hash-spread on its table key only
where the file's row groups deny the splits Spark planned, and spreading it
changes no query's rows."""

from __future__ import annotations

import os
import re
import sys
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR  # noqa: E402

# the smallest star tables, beside the ones bench.py runs at
SF = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


def _guard_exchanges(df) -> list[str]:
    """The partitioning of every ``REPARTITION_BY_NUM`` exchange in the
    formatted plan."""
    from tsrollup.planaudit import formatted_plan

    return re.findall(r"Arguments: (.*?), REPARTITION_BY_NUM",
                      formatted_plan(df))


@contextmanager
def _confs(spark, confs):
    """Set session confs for a block; restore the previous values."""
    before = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_fact_guard_fires_only_where_row_groups_deny_planned_splits(
        spark, tmp_path):
    """One single-row-group file (~160 KB) on local[4]: Spark plans it as
    one split under the default confs, so it is not widened; under 16k
    splits it plans ≥ 4, the one row group denies them, and the scan is
    spread to min(planned, 4) = 4 on the table key (a memo that ignored
    the confs would keep the first answer); rewritten with 4 row groups
    the file grants them, and the spread is gone again."""
    import __spark_entry__ as entry

    assert spark.sparkContext.defaultParallelism == 4
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    path = f"{sf}/events.parquet"
    ids = np.random.default_rng(0).integers(0, 1 << 62, 20_000)
    tbl = pa.table({"event_id": pa.array(ids, pa.int64())})
    pq.write_table(tbl, path)  # one row group

    assert spark.read.parquet(path).rdd.getNumPartitions() == 1
    assert _guard_exchanges(entry._fact(spark, sf, "events")) == []
    with _confs(spark, {"spark.sql.files.maxPartitionBytes": "16k",
                        "spark.sql.files.openCostInBytes": "0"}):
        assert spark.read.parquet(path).rdd.getNumPartitions() > 4
        spread = _guard_exchanges(entry._fact(spark, sf, "events"))
        assert len(spread) == 1
        assert re.fullmatch(r"hashpartitioning\(event_id#\d+L?, 4\)",
                            spread[0]), spread
        pq.write_table(tbl, path, row_group_size=5_000)  # four row groups
        assert _guard_exchanges(entry._fact(spark, sf, "events")) == []


def test_former_opt_outs_keep_rows_under_the_guard(spark, monkeypatch):
    """Queries that used to opt out of the guard return the same rows
    whether their fact scan is spread (splits narrowed to 4k, so every
    fixture file's one row group denies them) or read as one split
    (defaults). The guard is checked on the frames ``_fact`` hands the
    query, not on the query's final plan: spearman pins its bucket grid
    (``localCheckpoint``) and grid_gapfill's own series repartition
    collapses the guard's into one exchange."""
    import __spark_entry__ as entry
    import tsrollup.io as tio

    guards = []
    guard = tio.scan_min_parallel

    def spy(df, path, spread_cols):
        out = guard(df, path, spread_cols)
        guards.extend(_guard_exchanges(out))
        return out

    monkeypatch.setattr(tio, "scan_min_parallel", spy)
    qs = entry.queries()
    names = ("segment_extract", "grid_gapfill", "dedup_exact", "spearman")
    spread = {}
    with _confs(spark, {"spark.sql.files.maxPartitionBytes": "4k",
                        "spark.sql.files.openCostInBytes": "0"}):
        for name in names:
            guards.clear()
            df = qs[name](spark, SF)
            assert guards, name
            spread[name] = sorted(repr(tuple(r)) for r in df.collect())
    for name in names:
        guards.clear()
        df = qs[name](spark, SF)
        assert not guards, name
        assert sorted(repr(tuple(r)) for r in df.collect()) == spread[name], name
        assert spread[name], name
