"""The persisted-store cache keys in __spark_entry__ must change whenever
any module in the artifact's producer chain changes — the stale-artifact
class two review rounds flagged (a round-N store silently reused after a
round-N+1 code edit under an unchanged input fingerprint) — and whenever
the input file changes, even at the same size within the same second."""

from __future__ import annotations

import os
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import _code_fp  # noqa: E402


def _fake_module(tmp_path, name: str, body: bytes):
    p = tmp_path / f"{name}.py"
    p.write_bytes(body)
    return types.SimpleNamespace(__file__=str(p))


def test_code_fp_stable_for_same_sources(tmp_path):
    m = _fake_module(tmp_path, "m", b"def f(): return 1\n")
    assert _code_fp(m) == _code_fp(m)


def test_code_fp_changes_when_module_source_changes(tmp_path):
    m1 = _fake_module(tmp_path, "m1", b"def f(): return 1\n")
    before = _code_fp(m1)
    m1b = _fake_module(tmp_path, "m1", b"def f(): return 2\n")
    assert _code_fp(m1b) != before


def test_code_fp_sensitive_to_every_module_in_the_chain(tmp_path):
    a = _fake_module(tmp_path, "a", b"A1\n")
    b = _fake_module(tmp_path, "b", b"B1\n")
    base = _code_fp(a, b)
    b2 = _fake_module(tmp_path, "b", b"B2\n")
    assert _code_fp(a, b2) != base  # last module counts too


def test_code_fp_covers_the_entry_file_itself(tmp_path):
    # the entry file hosts the tokenization/query glue; its bytes are
    # always part of the fingerprint, so two fingerprints over identical
    # extra modules still agree (same entry file) — and the helper reads
    # the REAL entry source, not a cached copy
    m = _fake_module(tmp_path, "m", b"X\n")
    import __spark_entry__ as entrymod
    from pathlib import Path

    assert Path(entrymod.__file__).exists()
    assert len(_code_fp(m)) == 10  # md5 prefix, tag-embedding friendly


def test_pca_memo_follows_a_same_size_same_second_rewrite(
        spark, tmp_path, monkeypatch):
    """A fixture rewritten at the same byte size within the same second
    (the mtime seconds do not change, the ns do) must not reuse the model
    fitted on the old file: q_pca_whiten's rows follow the new file."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod
    from bench import SF_DIR

    monkeypatch.setattr(entrymod, "_PCA_MEMO", {})
    src = pq.read_table(os.path.join(os.path.dirname(SF_DIR), "sf0.001",
                                     "embeddings.parquet"))
    sf = tmp_path / "sf"
    sf.mkdir()
    path = str(sf / "embeddings.parquet")

    def write(tbl, ns):
        pq.write_table(tbl, path, compression="none", use_dictionary=False)
        os.utime(path, ns=(ns, ns))

    def rows():
        df = entrymod.q_pca_whiten(spark, str(sf))
        return np.array(sorted(tuple(r) for r in df.collect()))

    t0 = (os.stat(str(tmp_path)).st_mtime_ns // 10**9) * 10**9 + 100
    write(src, t0)
    size = os.stat(path).st_size
    rows()  # fits and memoizes a model of the first file
    # the same vectors, affinely moved per dimension: same byte size, a
    # different mean and covariance
    emb = src.column("embedding").combine_chunks()
    flat = emb.values.to_numpy() * np.float32(3.0) + np.float32(1.0)
    moved = src.set_column(
        src.schema.get_field_index("embedding"), "embedding",
        pa.ListArray.from_arrays(emb.offsets, pa.array(flat, pa.float32())))
    write(moved, t0 + 200)
    st = os.stat(path)
    assert st.st_size == size and int(st.st_mtime) == t0 // 10**9
    after = rows()
    monkeypatch.setattr(entrymod, "_PCA_MEMO", {})  # a fit on the new file
    np.testing.assert_allclose(after, rows(), rtol=1e-9, atol=1e-12)
