"""Table-format boundary (tsrollup.io): Iceberg branch logic unit-tested via
a fake DataFrameWriterV2 (no Iceberg runtime in this sandbox — the fallback
paths must still be exercised, not ship silently broken)."""

from __future__ import annotations

import pytest


class _FakeWV2:
    """Mimics DataFrameWriterV2: first append/overwritePartitions on a
    not-yet-created table raises; create() bootstraps it."""

    def __init__(self, log, exists=False, fail_msg="NoSuchTable"):
        self.log, self.exists, self.fail_msg = log, exists, fail_msg

    def partitionedBy(self, *cols):
        self.log.append("partitionedBy")
        return self

    def append(self):
        if not self.exists:
            raise RuntimeError(self.fail_msg)
        self.log.append("append")

    def overwritePartitions(self):
        if not self.exists:
            raise RuntimeError(self.fail_msg)
        self.log.append("overwritePartitions")

    def create(self):
        self.log.append("create")
        self.exists = True

    def createOrReplace(self):
        self.log.append("createOrReplace")


class _FakeDF:
    def __init__(self, wv2):
        self._wv2 = wv2

    def writeTo(self, ident):
        return self._wv2


@pytest.fixture
def iceberg_env(monkeypatch):
    monkeypatch.setenv("TSROLLUP_TABLE_FORMAT", "iceberg")


def test_append_bootstraps_missing_table(iceberg_env):
    from tsrollup.io import write_table

    log = []
    write_table(_FakeDF(_FakeWV2(log)), "ns.t", mode="append")
    assert log == ["create"]  # first append auto-creates


def test_append_on_existing_table_appends(iceberg_env):
    from tsrollup.io import write_table

    log = []
    write_table(_FakeDF(_FakeWV2(log, exists=True)), "ns.t", mode="append")
    assert log == ["append"]


def test_append_reraises_real_errors(iceberg_env):
    from tsrollup.io import write_table

    log = []
    df = _FakeDF(_FakeWV2(log, fail_msg="storage unavailable"))
    with pytest.raises(RuntimeError, match="storage unavailable"):
        write_table(df, "ns.t", mode="append")
    assert log == []  # no silent create on a non-missing-table failure


def test_dynamic_overwrite_bootstraps_missing_table(iceberg_env, spark):
    from tsrollup.io import write_table

    log = []
    write_table(_FakeDF(_FakeWV2(log)), "ns.t", mode="overwrite",
                partition_by=("bucket",), dynamic_overwrite=True)
    assert log == ["partitionedBy", "create"]


def test_dynamic_overwrite_on_existing_table(iceberg_env):
    from tsrollup.io import write_table

    log = []
    write_table(_FakeDF(_FakeWV2(log, exists=True)), "ns.t",
                mode="overwrite", partition_by=("bucket",),
                dynamic_overwrite=True)
    assert log == ["partitionedBy", "overwritePartitions"]


def test_dynamic_overwrite_reraises_real_errors(iceberg_env):
    from tsrollup.io import write_table

    log = []
    df = _FakeDF(_FakeWV2(log, fail_msg="commit conflict"))
    with pytest.raises(RuntimeError, match="commit conflict"):
        write_table(df, "ns.t", mode="overwrite", dynamic_overwrite=True)
    assert log == []  # no silent create on a non-missing-table failure


def test_plain_overwrite_uses_create_or_replace(iceberg_env):
    from tsrollup.io import write_table

    log = []
    write_table(_FakeDF(_FakeWV2(log)), "ns.t", mode="overwrite")
    assert log == ["createOrReplace"]


def test_partitioned_append_partitions_before_append(iceberg_env):
    from tsrollup.io import write_table

    log = []
    write_table(_FakeDF(_FakeWV2(log, exists=True)), "ns.t", mode="append",
                partition_by=("source", "tier"))
    assert log == ["partitionedBy", "append"]


def test_missing_table_detection_prefers_error_condition():
    """is_missing_table_error consults getCondition()/getErrorClass() before
    the message text — a wrapped/cause-chain message no longer decides."""
    from tsrollup.io import is_missing_table_error

    class CondErr(Exception):
        def __init__(self, cond, msg):
            super().__init__(msg)
            self._c = cond

        def getCondition(self):
            return self._c

    # condition says missing, message says nothing: classified missing
    assert is_missing_table_error(
        CondErr("PATH_NOT_FOUND", "opaque wrapped text"))
    # condition present and NOT a missing-tag: message tag still rescues
    # (Iceberg's NoSuchTable surfaces in the message with no condition)
    assert is_missing_table_error(RuntimeError("NoSuchTableException: x"))
    # neither: not missing
    assert not is_missing_table_error(
        CondErr("INTERNAL_ERROR", "something else"))


def test_condition_is_authoritative_over_message_text():
    """A structured non-missing condition (e.g. INTERNAL_ERROR) whose wrapped
    cause text happens to mention 'Path does not exist' must NOT be
    classified missing — read_lineage would silently discard resume state."""
    from tsrollup.io import is_missing_table_error

    class CondErr(Exception):
        def __init__(self, cond, msg):
            super().__init__(msg)
            self._c = cond

        def getCondition(self):
            return self._c

    assert not is_missing_table_error(
        CondErr("INTERNAL_ERROR", "cause: Path does not exist: /x"))
    # condition-less exceptions still use the message fallback
    assert is_missing_table_error(RuntimeError("Path does not exist: /x"))


def test_scan_min_parallel_widens_small_scans_only(spark, tmp_path):
    """A scan whose file holds fewer row groups than the splits Spark
    planned (capped at defaultParallelism) is hash-spread to that count;
    one Spark plans as a single split, or one whose row groups grant the
    planned splits, is returned untouched (the production no-op)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tsrollup.io import scan_min_parallel

    one = str(tmp_path / "one.parquet")
    pd.DataFrame({"x": range(20_000)}).to_parquet(one)
    df = spark.read.parquet(one)
    assert df.rdd.getNumPartitions() == 1
    assert scan_min_parallel(df, one, ("x",)) is df
    many = str(tmp_path / "many.parquet")
    pq.write_table(pa.table({"x": range(20_000)}), many,
                   row_group_size=2_000)  # 10 row groups
    keys = ("spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes")
    before = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], "4k")
        spark.conf.set(keys[1], "0")
        df = spark.read.parquet(one)
        assert df.rdd.getNumPartitions() > 4
        widened = scan_min_parallel(df, one, ("x",))
        assert widened.rdd.getNumPartitions() == 4  # local[4]
        assert widened.count() == 20_000
        wide = spark.read.parquet(many)
        assert scan_min_parallel(wide, many, ("x",)) is wide
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_footer_counts_row_groups(tmp_path):
    """Row groups are the parquet split atom: the footer must report the
    ROW-GROUP count (what scan tasks can actually parallelize over), not
    the file count, and it must refuse non-parquet input."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tsrollup.io import footer

    one = str(tmp_path / "one.parquet")
    pd.DataFrame({"x": range(1000)}).to_parquet(one)
    assert footer(one).num_row_groups == 1

    many = str(tmp_path / "many.parquet")
    tbl = pa.Table.from_pandas(pd.DataFrame({"x": range(1000)}))
    pq.write_table(tbl, many, row_group_size=100)  # 10 row groups
    assert footer(many).num_row_groups == 10
    assert footer(many).schema.names == ["x"]

    notpq = tmp_path / "x.parquet"
    notpq.write_text("not parquet")
    assert footer(str(notpq)) is None
    assert footer(str(tmp_path / "missing")) is None


def test_shingle_explode_keeps_transform_above_exchange(spark):
    """The inferred size()>0 filter from exploding a STAGED shingle array
    used to be pushed below the scan-widening exchange, re-evaluating the
    whole interpreted shingle transform per row on the scan's few real
    tasks. The inline form must keep the gram transform OUT of every
    pre-exchange Filter/Scan node (split+size there is fine)."""
    import pandas as pd

    from tsrollup.dedup import word_shingles

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c d", "b c d e"]}))
    plan = word_shingles(docs.repartition(4), 3) \
        ._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        node = line.lstrip(" +-*(0123456789)")
        if node.startswith(("Filter", "Scan", "FileScan")):
            assert "array_join" not in line, plan


def test_iceberg_without_runtime_fails_with_actionable_error(
        spark, monkeypatch):
    """Selecting the iceberg format without the runtime jar must name the
    fix (--packages + catalog conf), not die with DATA_SOURCE_NOT_FOUND."""
    import tsrollup.io as tio

    monkeypatch.setenv("TSROLLUP_TABLE_FORMAT", "iceberg")
    monkeypatch.setattr(tio, "_ICEBERG_OK", None)
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        tio.read_table(spark, "ns.sequences")


class TestProfileTable:
    def test_counts_nulls_distincts_and_cents(self, spark):
        from tsrollup.io import profile_table
        df = spark.createDataFrame(
            [("a", 1.25), ("b", 1.25), ("a", None), (None, 3.00)],
            "k string, v double")
        out = {r.column: r for r in
               profile_table(df, ["v"], ["k"]).collect()}
        v, k = out["v"], out["k"]
        assert v.n_rows == 4 and v.n_null == 1 and v.n_distinct == 2
        assert v.min_cents == 125 and v.max_cents == 300
        assert v.sum_cents == 125 + 125 + 300
        assert k.n_rows == 4 and k.n_null == 1 and k.n_distinct == 2
        assert k.min_cents is None and k.sum_cents is None

    def test_single_aggregation_one_scan(self, spark):
        import re

        from tsrollup.io import profile_table
        from tsrollup.planaudit import formatted_plan
        df = spark.createDataFrame([("a", 1.0)], "k string, v double")
        plan = formatted_plan(profile_table(df, ["v"], ["k"]))
        scans = re.findall(r"^\(\d+\) Scan ExistingRDD", plan, re.M)
        assert len(scans) == 1, plan

    def test_validation(self, spark):
        from tsrollup.io import profile_table
        import pytest as _pytest
        df = spark.createDataFrame([("a",)], "k string")
        with _pytest.raises(ValueError):
            profile_table(df, [], [])

    def test_rejects_overlapping_column_lists(self, spark):
        # review finding: duplicate aliases surfaced as an opaque
        # AMBIGUOUS_REFERENCE at analysis time
        from tsrollup.io import profile_table
        import pytest as _pytest
        df = spark.createDataFrame([("a", 1.0)], "k string, v double")
        with _pytest.raises(ValueError, match="more than once"):
            profile_table(df, ["v"], ["v"])
        with _pytest.raises(ValueError, match="more than once"):
            profile_table(df, ["v", "v"], [])
