"""``io.read_table``'s schema memo: a parquet read of an unchanged local
listing declares the schema it inferred before and runs no Spark job; any
change to the listing infers again."""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _jobs(spark, fn, tag):
    """``fn()``'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    grp = f"schema-memo-{tag}"
    sc.setJobGroup(grp, tag)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(spark._jsc.sc().statusTracker().getJobIdsForGroup(grp))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _write(path, n=20, extra=False):
    cols = {"k": pa.array(range(n), pa.int64()),
            "v": pa.array([f"s{i}" for i in range(n)])}
    if extra:
        cols["w"] = pa.array([i * 0.5 for i in range(n)])
    pq.write_table(pa.table(cols), path)


def test_second_read_of_unchanged_file_runs_no_job(spark, tmp_path):
    from tsrollup.io import read_table

    p = str(tmp_path / "t.parquet")
    _write(p)
    want = spark.read.parquet(p)
    first, n_first = _jobs(spark, lambda: read_table(spark, p), "file-1")
    again, n_again = _jobs(spark, lambda: read_table(spark, p), "file-2")
    assert n_first == 1  # the inference job the memo saves
    assert n_again == 0
    assert again.schema == want.schema == first.schema
    assert _rows(again) == _rows(want)


def test_partitioned_store_read_with_base_path(spark, tmp_path):
    from pyspark.sql import functions as F

    from tsrollup.io import read_table

    root = str(tmp_path / "store")
    (spark.range(40)
     .select(F.col("id").alias("doc"),
             (F.col("id") % 2).cast("int").alias("epoch"),
             (F.col("id") % 3).cast("int").alias("bucket"),
             F.when(F.col("id") % 5 == 0, "1h").otherwise("1m").alias("tier"),
             (F.col("id") * 1.5).alias("x"))
     .write.partitionBy("epoch", "bucket", "tier").parquet(root))
    sub = f"{root}/epoch=1"
    want = spark.read.option("basePath", root).parquet(sub)
    read_table(spark, sub, base_path=root)
    got, n = _jobs(spark, lambda: read_table(spark, sub, base_path=root),
                   "store")
    assert n == 0
    assert got.schema == want.schema
    assert {"epoch", "bucket", "tier"} <= set(got.columns)
    assert _rows(got) == _rows(want)
    # the whole store is its own memo entry, and a subtree read without
    # base_path (no partition columns above it) is another
    whole = read_table(spark, root)
    assert _rows(whole) == _rows(spark.read.parquet(root))
    assert "epoch" not in read_table(spark, sub).columns


def test_rewritten_file_shows_its_new_column(spark, tmp_path):
    from tsrollup.io import read_table

    p = str(tmp_path / "t.parquet")
    _write(p)
    assert read_table(spark, p).columns == ["k", "v"]
    assert read_table(spark, p).columns == ["k", "v"]  # memo hit
    _write(p, extra=True)
    df = read_table(spark, p)
    assert df.columns == ["k", "v", "w"]
    assert _rows(df) == _rows(spark.read.parquet(p))


def test_added_file_in_directory_is_seen(spark, tmp_path):
    from tsrollup.io import read_table

    d = tmp_path / "dir"
    d.mkdir()
    _write(str(d / "a.parquet"))
    assert read_table(spark, str(d)).count() == 20
    (d / "_SUCCESS").write_text("")  # hidden: same listing, still a hit
    _, n = _jobs(spark, lambda: read_table(spark, str(d)), "dir-hit")
    assert n == 0
    _write(str(d / "b.parquet"), n=5)
    assert read_table(spark, str(d)).count() == 25


def test_temporary_only_directory_behaves_as_without_memo(spark, tmp_path):
    """A directory holding only ``_temporary/`` (a killed first write) has
    an empty listing: no memo, so a schema-less read fails as a plain
    Spark read does, and a declared-schema read is empty."""
    from tsrollup.io import listing_fingerprint, read_table

    d = tmp_path / "killed"
    (d / "_temporary" / "0").mkdir(parents=True)
    _write(str(d / "_temporary" / "0" / "part-0.parquet"))
    assert listing_fingerprint(str(d)) is None
    with pytest.raises(Exception) as plain:
        spark.read.parquet(str(d))
    with pytest.raises(Exception) as ours:
        read_table(spark, str(d))
    assert type(ours.value) is type(plain.value)
    assert str(ours.value).split("\n")[0] == str(plain.value).split("\n")[0]
    assert read_table(spark, str(d), schema="k long, v string").count() == 0


def test_explicit_schema_wins_over_memo(spark, tmp_path):
    from tsrollup.io import read_table

    p = str(tmp_path / "t.parquet")
    _write(p)
    read_table(spark, p)
    read_table(spark, p)
    df = read_table(spark, p, schema="k long")
    assert df.columns == ["k"]
    assert df.count() == 20
    assert read_table(spark, p).columns == ["k", "v"]


def test_listing_fingerprint_follows_spark_listing(tmp_path):
    from tsrollup.io import listing_fingerprint

    d = tmp_path / "t"
    (d / "p=1").mkdir(parents=True)
    _write(str(d / "p=1" / "a.parquet"))
    fp = listing_fingerprint(str(d))
    assert [os.path.basename(f[0]) for f in fp] == ["a.parquet"]
    for hidden in ("_SUCCESS", ".a.parquet.crc", "b.parquet._COPYING_"):
        (d / "p=1" / hidden).write_text("x")
    (d / "_temporary").mkdir()
    _write(str(d / "_temporary" / "c.parquet"))
    assert listing_fingerprint(str(d)) == fp
    # an underscore partition directory is listed, and so is a summary file
    (d / "_q=1").mkdir()
    _write(str(d / "_q=1" / "d.parquet"))
    (d / "_common_metadata").write_text("x")
    names = {os.path.basename(f[0]) for f in listing_fingerprint(str(d))}
    assert names == {"a.parquet", "d.parquet", "_common_metadata"}
    assert listing_fingerprint("file://" + str(d)) is not None
    for never in ("hdfs://nn/t", str(d / "*.parquet"), str(tmp_path / "no")):
        assert listing_fingerprint(never) is None


def test_same_footer_append_runs_no_job(spark, tmp_path):
    """Files appended beside the memo's, with its reference footer, keep
    the memoized schema: the read declares it and runs no job."""
    from tsrollup.io import read_table

    d = tmp_path / "dir"
    d.mkdir()
    _write(str(d / "a.parquet"))
    read_table(spark, str(d))
    for name in ("b.parquet", "c.parquet"):
        _write(str(d / name), n=5)
        got, n = _jobs(spark, lambda: read_table(spark, str(d)),
                       f"append-{name}")
        assert n == 0
    want = spark.read.parquet(str(d))
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def _write_int32(path, n=5):
    pq.write_table(pa.table({"k": pa.array(range(n), pa.int32()),
                             "v": pa.array([f"t{i}" for i in range(n)])}),
                   path)


@pytest.mark.parametrize("other", [
    lambda p: _write(p, n=5, extra=True),  # one more column
    _write_int32,                          # another physical type
], ids=["extra-column", "int32-key"])
def test_append_with_another_footer_infers_again(spark, tmp_path, other):
    from tsrollup.io import read_table

    d = tmp_path / "dir"
    d.mkdir()
    _write(str(d / "a.parquet"))
    read_table(spark, str(d))
    _write(str(d / "b.parquet"), n=5)
    assert _jobs(spark, lambda: read_table(spark, str(d)), "same")[1] == 0
    other(str(d / "c.parquet"))
    got, n = _jobs(spark, lambda: read_table(spark, str(d)), "other-footer")
    assert n >= 1
    assert got.schema == spark.read.parquet(str(d)).schema


def test_append_beside_a_summary_file_infers_again(spark, tmp_path):
    from tsrollup.io import read_table

    d = tmp_path / "dir"
    d.mkdir()
    _write(str(d / "a.parquet"))
    read_table(spark, str(d))
    _write(str(d / "b.parquet"), n=5)
    assert _jobs(spark, lambda: read_table(spark, str(d)), "plain")[1] == 0
    pq.write_metadata(pq.read_schema(str(d / "a.parquet")),
                      str(d / "_common_metadata"))
    read_table(spark, str(d))
    _write(str(d / "c.parquet"), n=5)
    got, n = _jobs(spark, lambda: read_table(spark, str(d)), "summary")
    assert n >= 1
    want = spark.read.parquet(str(d))
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_append_in_a_new_directory_infers_again(spark, tmp_path):
    """A new partition directory brings a partition value to type."""
    from tsrollup.io import read_table

    d = tmp_path / "dir"
    (d / "p=1").mkdir(parents=True)
    _write(str(d / "p=1" / "a.parquet"))
    read_table(spark, str(d))
    _write(str(d / "p=1" / "b.parquet"), n=5)
    assert _jobs(spark, lambda: read_table(spark, str(d)), "old-dir")[1] == 0
    (d / "p=x").mkdir()
    _write(str(d / "p=x" / "a.parquet"), n=5)
    got, n = _jobs(spark, lambda: read_table(spark, str(d)), "new-dir")
    assert n >= 1
    want = spark.read.parquet(str(d))
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
