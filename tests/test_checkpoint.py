"""Resumability (north_rule): kill after part of the buckets, re-run, outputs
identical to a clean single run; lineage rows present and idempotent."""

from __future__ import annotations

import pytest

from tsrollup.checkpoint import (
    completed_buckets, read_lineage, read_rollup, run_checkpointed,
)
from tests.test_rollup_spark import assert_exact_match


def test_kill_resume_identical(spark, sequences_path, tmp_path):
    clean_root = str(tmp_path / "clean")
    resumed_root = str(tmp_path / "resumed")

    # clean run: everything in one call
    done = run_checkpointed(spark, sequences_path, clean_root, n_buckets=4,
                            run_id="clean")
    assert done == [0, 1, 2, 3]

    # killed run: only 2 buckets, then "crash"
    part = run_checkpointed(spark, sequences_path, resumed_root, n_buckets=4,
                            run_id="r1", max_buckets=2)
    assert part == [0, 1]
    assert completed_buckets(spark, resumed_root) == {0, 1}

    # resume: picks up exactly the rest
    rest = run_checkpointed(spark, sequences_path, resumed_root, n_buckets=4,
                            run_id="r2")
    assert rest == [2, 3]

    a = read_rollup(spark, clean_root).toPandas()
    b = read_rollup(spark, resumed_root).toPandas()
    assert_exact_match(a, b)

    # idempotent: nothing left to do, lineage unchanged
    assert run_checkpointed(spark, sequences_path, resumed_root, n_buckets=4) == []
    lin = read_lineage(spark, resumed_root).toPandas()
    assert len(lin) == 4
    assert set(lin["status"]) == {"done"}
    assert (lin["n_points"] > 0).all()
    # per-partition metrics present
    assert (lin["wall_time_sec"] > 0).all()
    assert lin["n_docs"].sum() == 120  # every doc in exactly one bucket


def test_clean_run_scans_input_once(spark, sequences_path, tmp_path):
    # the number of Spark jobs for a clean run must be a small constant,
    # NOT proportional to n_buckets (the round-1 bug: one input scan per
    # bucket). One write job + one metrics job + one lineage append ≈ 3-4.
    sc = spark.sparkContext
    counts = {}
    for nb in (4, 16):
        grp = f"ckpt-one-scan-{nb}"
        sc.setJobGroup(grp, "clean checkpoint run")
        try:
            done = run_checkpointed(spark, sequences_path,
                                    str(tmp_path / f"onescan{nb}"),
                                    n_buckets=nb, run_id="onescan")
        finally:
            sc.setJobGroup(None, None)
        assert done == list(range(nb))
        counts[nb] = len(
            spark._jsc.sc().statusTracker().getJobIdsForGroup(grp))
    # 4x the buckets must NOT mean 4x the jobs; allow slack for AQE/commit
    # bookkeeping jobs but fail the per-bucket-loop shape (16+ extra jobs)
    assert counts[16] <= counts[4] + 2, counts


def test_checkpoint_compressed_mode(spark, sequences_path, tmp_path):
    root = str(tmp_path / "packed")
    run_checkpointed(spark, sequences_path, root, n_buckets=2, compressed=True)
    from tsrollup.rollup import decompress_rollup

    back = decompress_rollup(read_rollup(spark, root)).count()
    assert back > 0


def test_store_retention_rewrites_only_policy_tiers(spark, sequences_path,
                                                    tmp_path):
    from pyspark.sql import functions as F

    from tsrollup.checkpoint import apply_retention_to_store
    from tsrollup.rollup import apply_retention

    root = str(tmp_path / "ret")
    run_checkpointed(spark, sequences_path, root, n_buckets=4,
                     tiers={"1m": 1, "1h": 60})
    before = read_rollup(spark, root).toPandas()
    aged = apply_retention_to_store(spark, root, {"1m": 3})
    after = read_rollup(spark, root)
    # aged-out rows really gone; policy math matches the DataFrame operator
    want = apply_retention(
        spark.createDataFrame(before[before.tier == "1m"]), {"1m": 3}) \
        .count()
    got_1m = after.filter("tier = '1m'").count()
    assert got_1m == want
    assert aged == len(before[before.tier == "1m"]) - want and aged > 0
    # the 1h tier (outside the policy) is untouched, row for row
    b1h = before[before.tier == "1h"].sort_values(
        ["doc_id", "window_start"]).reset_index(drop=True)
    a1h = after.filter("tier = '1h'").toPandas().sort_values(
        ["doc_id", "window_start"]).reset_index(drop=True)
    assert len(a1h) == len(b1h)
    assert (a1h["sum"].values == b1h["sum"].values).all()
    # every doc keeps exactly its trailing ≤3 base windows
    mx = (after.filter("tier = '1m'").groupBy("doc_id")
          .agg(F.count("*").alias("n")).agg(F.max("n")).collect()[0][0])
    assert mx <= 3


def test_read_lineage_missing_vs_corrupt(spark, tmp_path):
    """Missing lineage (first run) → empty frame; a CORRUPT/unreadable
    lineage store must raise, not silently mark every bucket pending (which
    would rescan and rewrite the whole store and duplicate lineage rows)."""
    import pytest

    from tsrollup.checkpoint import read_lineage

    root = str(tmp_path / "store")
    assert read_lineage(spark, root).count() == 0  # PATH_NOT_FOUND → empty
    bad = tmp_path / "store" / "_lineage"
    bad.mkdir(parents=True)
    (bad / "part-0.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        read_lineage(spark, root).count()


def test_read_lineage_uncommitted_dir_recovers(spark, tmp_path):
    """A killed FIRST lineage commit leaves _lineage/ holding only
    _temporary/ — that is 'no lineage yet' and must recover as first-run,
    while a dir with committed files plus a schema failure still raises
    (covered by the corrupt-file test above)."""
    from tsrollup.checkpoint import read_lineage

    root = tmp_path / "store2"
    (root / "_lineage" / "_temporary").mkdir(parents=True)
    assert read_lineage(spark, str(root)).count() == 0


def test_bucket_range_shards_disjointly(spark, sequences_path, tmp_path):
    """bucket_range=(lo, hi) restricts a call to its shard; two disjoint
    shards cover the corpus exactly and match an unsharded run."""
    import pytest as _pytest

    root = str(tmp_path / "sharded")
    a = run_checkpointed(spark, sequences_path, root, n_buckets=4,
                         run_id="sa", bucket_range=(0, 2))
    assert a == [0, 1]
    b = run_checkpointed(spark, sequences_path, root, n_buckets=4,
                         run_id="sb", bucket_range=(2, 4))
    assert b == [2, 3]
    assert completed_buckets(spark, root) == {0, 1, 2, 3}
    # shard of an already-done range is a no-op
    assert run_checkpointed(spark, sequences_path, root, n_buckets=4,
                            bucket_range=(0, 2)) == []

    clean = str(tmp_path / "unsharded")
    run_checkpointed(spark, sequences_path, clean, n_buckets=4)
    assert_exact_match(read_rollup(spark, root).toPandas(),
                       read_rollup(spark, clean).toPandas())

    with _pytest.raises(ValueError, match="bucket_range"):
        run_checkpointed(spark, sequences_path, root, n_buckets=4,
                         bucket_range=(2, 5))


def test_one_lineage_file_per_commit(spark, sequences_path, tmp_path):
    """Each committing call appends its lineage rows as one file, however
    many buckets it completed."""
    import os

    root = str(tmp_path / "lin")
    for shard in ((0, 3), (3, 4)):
        run_checkpointed(spark, sequences_path, root, n_buckets=4,
                         bucket_range=shard)
    files = [f for f in os.listdir(os.path.join(root, "_lineage"))
             if f.endswith(".parquet")]
    assert len(files) == 2
    assert completed_buckets(spark, root) == {0, 1, 2, 3}


def test_lineage_reads_run_no_job(spark, sequences_path, tmp_path):
    """The lineage log is read on the driver: ``completed_buckets`` and
    building ``read_lineage`` run no Spark job, and give the rows a Spark
    read of the log gives."""
    from tsrollup.checkpoint import LINEAGE_SCHEMA

    root = str(tmp_path / "lin0")
    run_checkpointed(spark, sequences_path, root, n_buckets=4,
                     bucket_range=(0, 2))
    sc = spark.sparkContext

    def jobs(fn, grp):
        sc.setJobGroup(grp, grp)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc._jsc.sc().statusTracker()
                        .getJobIdsForGroup(grp))

    assert jobs(lambda: completed_buckets(spark, root),
                "lineage-done") == ({0, 1}, 0)
    lin, n = jobs(lambda: read_lineage(spark, root), "lineage-build")
    assert n == 0
    want = spark.read.schema(LINEAGE_SCHEMA).parquet(f"{root}/_lineage")
    assert lin.schema == want.schema
    assert sorted(map(tuple, lin.collect())) == \
        sorted(map(tuple, want.collect()))


def test_read_lineage_ignores_killed_later_append(spark, sequences_path,
                                                  tmp_path):
    """Committed lineage files plus the ``_temporary/`` a killed LATER
    append leaves behind read back exactly the committed rows: the
    uncommitted task file is never counted."""
    import os
    import shutil

    root = str(tmp_path / "killed")
    run_checkpointed(spark, sequences_path, root, n_buckets=4,
                     bucket_range=(0, 2))
    committed = sorted(tuple(r) for r in read_lineage(spark, root).collect())
    assert [r[0] for r in committed] == [0, 1]
    lin = os.path.join(root, "_lineage")
    attempt = os.path.join(lin, "_temporary", "0", "_temporary",
                           "attempt_0")
    os.makedirs(attempt)
    part = next(f for f in os.listdir(lin) if f.endswith(".parquet"))
    shutil.copy(os.path.join(lin, part), os.path.join(attempt, part))
    got = sorted(tuple(r) for r in read_lineage(spark, root).collect())
    assert got == committed
    assert completed_buckets(spark, root) == {0, 1}
