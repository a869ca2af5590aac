"""tsrollup.arrowbuf — the one module that knows the Arrow buffer layout.

Buffer views must honour an array's slice offset (a RecordBatch column is
often a slice of a larger buffer) and chunking; dense gathers must refuse
rows they cannot fill; driver-side frames must plan as local relations,
never as parallelized Python RDDs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from tsrollup.arrowbuf import (binary_buffers, fixed_rows, list_views,
                               rows_array, rows_batch, rows_df)
from tsrollup.planaudit import formatted_plan

LISTS = pa.array([[1, 2, 3], [4, 5, 6, 7], None, [], [8, 9, 10]],
                 pa.list_(pa.int32()))


def _rows(flat, offs, valid):
    return [flat[offs[i]:offs[i + 1]].tolist() if valid[i] else None
            for i in range(len(valid))]


@pytest.mark.parametrize("col", [
    LISTS.slice(1, 3),
    LISTS.slice(2),
    pa.chunked_array([LISTS.slice(0, 2), LISTS.slice(3)]),
])
def test_list_views_match_pylist(col):
    assert _rows(*list_views(col)) == col.to_pylist()


def test_fixed_rows_on_sliced_and_chunked():
    got = fixed_rows(LISTS.slice(1, 1), 3, np.int64)
    assert got.dtype == np.int64 and got.tolist() == [[4, 5, 6]]
    chunked = pa.chunked_array([LISTS.slice(0, 2), LISTS.slice(4)])
    assert fixed_rows(chunked, 3, np.float64).tolist() == [
        [1.0, 2.0, 3.0], [4.0, 5.0, 6.0], [8.0, 9.0, 10.0]]
    assert fixed_rows(LISTS.slice(0, 0), 3, np.int64).shape == (0, 3)


@pytest.mark.parametrize("col", [LISTS.slice(1, 2), LISTS.slice(3, 1)],
                         ids=["null_row", "short_row"])
def test_fixed_rows_raises(col):
    with pytest.raises(ValueError):
        fixed_rows(col, 3, np.int64)


@pytest.mark.parametrize("typ", [pa.binary(), pa.large_binary()])
def test_binary_buffers_on_sliced_arrays(typ):
    col = pa.array([b"head", b"ab", None, b"", b"xyz\x00"], typ).slice(1)
    data, offs = binary_buffers(col)
    got = [data[offs[i]:offs[i + 1]].tobytes() for i in range(len(col))]
    assert got == [b if b is not None else b"" for b in col.to_pylist()]


def test_rows_array_round_trip():
    mat = np.arange(12, dtype=np.float64).reshape(4, 3)
    arr = rows_array(mat[::2])
    assert arr.type == pa.list_(pa.float64())
    assert arr.to_pylist() == mat[::2].tolist()
    assert rows_array(np.zeros((0, 3))).to_pylist() == []
    assert rows_array(np.zeros((2, 0))).to_pylist() == [[], []]


def test_rows_batch_types():
    schema = pa.schema([("a", pa.int32()), ("v", pa.list_(pa.int64()))])
    rb = rows_batch([(1, np.arange(3)[::-1]), (2, [])], schema)
    assert rb.schema == schema
    assert rb.to_pylist() == [{"a": 1, "v": [2, 1, 0]}, {"a": 2, "v": []}]
    assert rows_batch([], schema).num_rows == 0


def test_rows_df_is_a_local_relation(spark):
    df = rows_df(spark, [(7, "a", [1.0, 2.0])],
                 "h long, w string, v array<double>")
    plan = formatted_plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert [tuple(r) for r in df.collect()] == [(7, "a", [1.0, 2.0])]
    empty = rows_df(spark, [], "word string, n long")
    assert empty.count() == 0
    assert [f.simpleString() for f in empty.schema.fields] == [
        "word:string", "n:bigint"]


def test_arrow_schema_parses_each_ddl_once(spark, monkeypatch):
    """A metadata-log read and a ``rows_df`` ask for the same constant
    schema on every call: only the first parses it through the JVM."""
    from pyspark.sql.types import DataType

    from tsrollup import arrowbuf

    parsed = []

    class Spy:
        @staticmethod
        def fromDDL(ddl):
            parsed.append(ddl)
            return DataType.fromDDL(ddl)

    monkeypatch.setattr(arrowbuf, "DataType", Spy)
    ddl = "probe_once long, probe_name string"
    first = arrowbuf.arrow_schema(ddl)
    assert first.names == ["probe_once", "probe_name"]
    assert arrowbuf.arrow_schema(ddl) is first
    assert parsed == [ddl]


def _no_rdd(df):
    plan = formatted_plan(df)
    assert "ExistingRDD" not in plan, plan


def test_heavy_hitters_frames_are_local(spark):
    from tsrollup.sketches import heavy_hitters

    docs = pd.DataFrame({"doc_id": ["0", "1"], "text": ["a a b", "a c"]})
    df = spark.createDataFrame(docs)
    _no_rdd(heavy_hitters(df, 1, 3))
    _no_rdd(heavy_hitters(df.limit(0), 1, 3))


def test_ivf_frames_are_local(spark, tmp_path, monkeypatch):
    from tsrollup import io, similarity

    rng = np.random.default_rng(2)
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(40),
        "embedding": list(rng.normal(size=(40, 8)))}))
    cent = similarity.train_ivf_centroids(emb, 4, 8, n_hint=40)
    _no_rdd(similarity.ivf_topk_for_queries(
        emb, emb.filter("vec_id < 2"), k=3, nprobe=2, dim=8,
        centroids=cent))

    written = []
    real = io.write_table
    monkeypatch.setattr(io, "write_table",
                        lambda df, *a, **kw: (written.append(df),
                                              real(df, *a, **kw)))
    store = str(tmp_path / "ivf")
    similarity.save_ivf_centroids(spark, cent, store)
    _no_rdd(written[0])
    assert np.array_equal(similarity.load_ivf_centroids(spark, store), cent)


def test_write_sequences_spark_plan_and_rows(spark, tmp_path, monkeypatch):
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    from tsrollup.datagen import write_sequences, write_sequences_spark

    plans = []
    real = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        plans.append(formatted_plan(self._df))
        return real(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    kw = dict(seed=5, n_docs=25, max_len=256)
    write_sequences_spark(spark, str(tmp_path / "spark"),
                          docs_per_part=10, **kw)
    assert len(plans) == 1 and "ExistingRDD" not in plans[0], plans
    write_sequences(str(tmp_path / "local"), docs_per_file=10, **kw)

    def rows(p):
        return sorted(pq.read_table(p).to_pylist(),
                      key=lambda r: r["doc_id"])

    assert rows(str(tmp_path / "spark")) == rows(str(tmp_path / "local"))
