"""Incremental continuous-aggregate refresh
(tsrollup.checkpoint.refresh_incremental).

The invariant everything here drives at: after any sequence of appends +
refreshes (+ crashes + re-runs), the epoch-partitioned store holds exactly
the rows of ONE clean rollup of the full input — bit-for-bit.
"""

from __future__ import annotations

import os
import re
import shutil

import pytest

from tsrollup.checkpoint import (doc_seq, read_incremental, read_watermarks,
                                 refresh_incremental)
from tsrollup.datagen import write_sequences
from tsrollup.rollup import rollup_sequences

TIERS = {"1m": 1, "1h": 4}


def _rows(df):
    cols = ["doc_id", "tier", "window_start", "count", "sum", "sumsq",
            "min", "max", "mean", "var"]
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _write_first_n(spark, full_path: str, out_path: str, n: int) -> None:
    """Deterministic 'corpus at arrival n': the first n docs by seq."""
    df = spark.read.parquet(full_path)
    keep = df.withColumn("_s", doc_seq()).filter(f"_s < {n}").drop("_s")
    keep.coalesce(1).write.mode("overwrite").parquet(out_path)


@pytest.fixture()
def corpus(spark, tmp_path):
    full = str(tmp_path / "full.parquet")
    write_sequences(full, seed=13, n_docs=60, min_len=64, max_len=512)
    return full


class TestRefreshIncremental:
    def test_initial_refresh_matches_clean_rollup(self, spark, tmp_path,
                                                  corpus):
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        n = refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        assert n == 40
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(read_incremental(spark, root)) == _rows(want)
        assert read_watermarks(spark, root) != {}

    def test_append_refresh_is_incremental_and_exact(self, spark, tmp_path,
                                                     corpus):
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        # 20 more docs arrive
        _write_first_n(spark, corpus, inp, 60)
        n = refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        assert n == 20  # only the delta was rolled up
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        got = read_incremental(spark, root)
        assert _rows(got) == _rows(want)
        # the new epoch holds ONLY the delta's docs
        e1 = got.filter("epoch = 1").select("doc_id").distinct().count()
        assert e1 == 20

    def test_noop_when_no_new_docs(self, spark, tmp_path, corpus):
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        before = _rows(read_incremental(spark, root))
        assert refresh_incremental(spark, inp, root, epoch=1,
                                   tiers=TIERS) == 0
        assert _rows(read_incremental(spark, root)) == before

    def test_rerun_of_committed_epoch_is_noop(self, spark, tmp_path, corpus):
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        _write_first_n(spark, corpus, inp, 60)
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        before = _rows(read_incremental(spark, root))
        assert refresh_incremental(spark, inp, root, epoch=1,
                                   tiers=TIERS) == 0
        assert _rows(read_incremental(spark, root)) == before

    def test_crash_between_data_and_watermark_converges(self, spark,
                                                        tmp_path, corpus):
        # simulate: epoch-1 data committed but the watermark append lost
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        wm_dir = os.path.join(root, "_watermarks")
        snapshot = str(tmp_path / "wm_snapshot")
        shutil.copytree(wm_dir, snapshot)
        _write_first_n(spark, corpus, inp, 60)
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        want = _rows(read_incremental(spark, root))
        # roll the watermarks back to the pre-epoch-1 state (the "crash")
        shutil.rmtree(wm_dir)
        shutil.copytree(snapshot, wm_dir)
        n = refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        assert n == 20  # the delta recomputes...
        assert _rows(read_incremental(spark, root)) == want  # ...unchanged

    def test_new_source_is_fully_included(self, spark, tmp_path):
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        a = spark.createDataFrame(
            [("web-0001-00000000", list(range(64)), 64, "web")],
            "doc_id string, tokens array<int>, n_tok int, source string")
        a.write.mode("overwrite").parquet(inp)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        b = a.union(spark.createDataFrame(
            [("mars-0001-00000000", list(range(64)), 64, "mars")],
            a.schema))
        b.write.mode("overwrite").parquet(inp)
        assert refresh_incremental(spark, inp, root, epoch=1,
                                   tiers=TIERS) == 1
        docs = {r.doc_id for r in
                read_incremental(spark, root).select("doc_id")
                .distinct().collect()}
        assert docs == {"web-0001-00000000", "mars-0001-00000000"}

    def test_epoch_validation(self, spark, tmp_path):
        with pytest.raises(ValueError):
            refresh_incremental(spark, "x", str(tmp_path / "s"), epoch=-1)


class TestRefreshGuards:
    def test_committed_epoch_with_new_data_is_refused_noop(self, spark,
                                                           tmp_path, corpus):
        # review finding: re-running a committed epoch AFTER newer docs
        # arrived must not overwrite that epoch's partitions
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        before = _rows(read_incremental(spark, root))
        _write_first_n(spark, corpus, inp, 60)  # 20 new docs arrive
        n = refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        assert n == 0  # up-front no-op, nothing rewritten
        assert _rows(read_incremental(spark, root)) == before
        # the new docs land in a NEW epoch, store converges to the full set
        assert refresh_incremental(spark, inp, root, epoch=1,
                                   tiers=TIERS) == 20
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(read_incremental(spark, root)) == _rows(want)

    def test_null_seq_docs_raise_loudly(self, spark, tmp_path):
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        df = spark.createDataFrame(
            [("web-0001-00000000", list(range(64)), 64, "web"),
             ("web-batch-final", list(range(64)), 64, "web")],
            "doc_id string, tokens array<int>, n_tok int, source string")
        df.write.mode("overwrite").parquet(inp)
        with pytest.raises(Exception, match="NULL ingest sequence"):
            refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)


class TestCompactEpochs:
    def test_compaction_preserves_rows_and_future_refreshes(self, spark,
                                                            tmp_path, corpus):
        from tsrollup.checkpoint import compact_epochs
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 30)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        _write_first_n(spark, corpus, inp, 45)
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        before = _rows(read_incremental(spark, root))
        n = compact_epochs(spark, root)
        assert n == len(before)
        after = read_incremental(spark, root)
        # layout-only: identical row multiset, single epoch remains
        assert _rows(after) == before
        assert {r.epoch for r in after.select("epoch")
                .distinct().collect()} == {0}
        # a retry of the folded epoch 1 stays a no-op...
        assert refresh_incremental(spark, inp, root, epoch=1,
                                   tiers=TIERS) == 0
        # ...and new arrivals keep flowing into fresh epochs
        _write_first_n(spark, corpus, inp, 60)
        assert refresh_incremental(spark, inp, root, epoch=2,
                                   tiers=TIERS) == 15
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(read_incremental(spark, root)) == _rows(want)


class TestCompressedRefresh:
    def test_compressed_epochs_decode_to_clean_rollup(self, spark, tmp_path,
                                                      corpus):
        from tsrollup.rollup import decompress_rollup
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS,
                            compressed=True)
        _write_first_n(spark, corpus, inp, 60)
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS,
                            compressed=True)
        got = decompress_rollup(read_incremental(spark, root))
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(got) == _rows(want)

    def test_mixed_packed_plain_store_is_refused(self, spark, tmp_path,
                                                 corpus):
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS,
                            compressed=True)
        _write_first_n(spark, corpus, inp, 60)
        with pytest.raises(ValueError, match="one store, one mode"):
            refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS,
                                compressed=False)


class TestCompactGuards:
    def _store(self, spark, tmp_path, corpus):
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=3, tiers=TIERS)
        _write_first_n(spark, corpus, inp, 60)
        refresh_incremental(spark, inp, root, epoch=7, tiers=TIERS)
        return inp, root

    def test_default_target_is_smallest_committed_epoch(self, spark,
                                                        tmp_path, corpus):
        from tsrollup.checkpoint import compact_epochs
        _, root = self._store(spark, tmp_path, corpus)
        before = _rows(read_incremental(spark, root))
        compact_epochs(spark, root)
        after = read_incremental(spark, root)
        assert _rows(after) == before
        assert {r.epoch for r in after.select("epoch")
                .distinct().collect()} == {3}

    def test_uncommitted_target_epoch_is_refused(self, spark, tmp_path,
                                                 corpus):
        from tsrollup.checkpoint import compact_epochs
        _, root = self._store(spark, tmp_path, corpus)
        with pytest.raises(ValueError, match="not a committed epoch"):
            compact_epochs(spark, root, into_epoch=0)

    def test_orphan_epoch_is_refused(self, spark, tmp_path, corpus):
        # crash sim: epoch-7 data committed but its watermark append lost
        import duckdb
        from tsrollup.checkpoint import compact_epochs
        _, root = self._store(spark, tmp_path, corpus)
        wm_dir = os.path.join(root, "_watermarks")
        kept = str(tmp_path / "kept.parquet")
        duckdb.sql(f"COPY (SELECT * FROM '{wm_dir}/*.parquet' "
                   f"WHERE epoch <> 7) TO '{kept}' (FORMAT PARQUET)")
        shutil.rmtree(wm_dir)
        os.makedirs(wm_dir)
        shutil.move(kept, os.path.join(wm_dir, "part.parquet"))
        with pytest.raises(ValueError, match="no watermark row"):
            compact_epochs(spark, root)

    def test_midswap_crash_is_recovered_on_retry(self, spark, tmp_path,
                                                 corpus):
        from tsrollup.checkpoint import compact_epochs
        _, root = self._store(spark, tmp_path, corpus)
        before = _rows(read_incremental(spark, root))
        # simulate the crash window: data renamed away, compact not promoted
        os.rename(os.path.join(root, "data"), os.path.join(root, "data.old"))
        n = compact_epochs(spark, root)
        assert n == len(before)
        assert _rows(read_incremental(spark, root)) == before


class TestRetentionOnIncrementalStore:
    def test_epoch_layout_is_preserved(self, spark, tmp_path, corpus):
        from tsrollup.checkpoint import apply_retention_to_store
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        _write_first_n(spark, corpus, inp, 60)
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        aged = apply_retention_to_store(spark, root, {"1m": 2})
        assert aged > 0
        after = read_incremental(spark, root)
        # both epoch partitions still exist; per (doc, 1m) ≤ 2 windows kept
        assert {r.epoch for r in after.select("epoch")
                .distinct().collect()} == {0, 1}
        mx = (after.filter("tier = '1m'")
              .groupBy("doc_id").count()
              .agg({"count": "max"}).collect()[0][0])
        assert mx <= 2
        # the untouched tier is intact
        assert after.filter("tier = '1h'").count() > 0
        # no stray bucket=… dirs beside the epoch=… dirs
        import os as _os
        top = _os.listdir(_os.path.join(root, "data"))
        assert all(d.startswith("epoch=") or d.startswith("_")
                   for d in top), top

    def test_packed_store_raises_before_any_write(self, spark, tmp_path,
                                                  corpus):
        """One packed row holds every window of its (doc, tier), so a
        row-level trim would keep them all and report 0 aged out."""
        from tsrollup.checkpoint import apply_retention_to_store
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS,
                            compressed=True)

        def listing():
            data = os.path.join(root, "data")
            return sorted((os.path.relpath(os.path.join(d, f), data),
                           os.stat(os.path.join(d, f)).st_mtime_ns)
                          for d, _, fs in os.walk(data) for f in fs)

        before = listing()
        with pytest.raises(ValueError, match="packed"):
            apply_retention_to_store(spark, root, {"1m": 2})
        assert listing() == before


class TestTableDiff:
    def test_classifies_all_four_ways(self, spark):
        from tsrollup.checkpoint import table_diff
        a = spark.createDataFrame(
            [("k1", 10), ("k2", 20), ("k3", None), ("k4", 5)],
            "k string, v int")
        b = spark.createDataFrame(
            [("k1", 10), ("k2", 25), ("k3", None), ("k5", 7)],
            "k string, v int")
        out = {r["class"]: r for r in
               table_diff(a, b, ["k"], ["v"]).collect()}
        # k3 is present with a NULL value on BOTH sides: unchanged (the
        # NULL-safe compare), never only_a/only_b
        assert out["unchanged"].n_keys == 2
        assert out["changed"].n_keys == 1 and out["changed"].abs_delta == 5
        assert out["only_a"].n_keys == 1 and out["only_a"].abs_delta is None
        assert out["only_b"].n_keys == 1

    def test_multi_value_columns_any_difference_counts(self, spark):
        from tsrollup.checkpoint import table_diff
        a = spark.createDataFrame([("k", 1, 100)], "k string, x int, y int")
        b = spark.createDataFrame([("k", 1, 101)], "k string, x int, y int")
        out = table_diff(a, b, ["k"], ["x", "y"]).collect()
        assert out[0]["class"] == "changed" and out[0].abs_delta == 1

    def test_identical_tables_all_unchanged(self, spark):
        from tsrollup.checkpoint import table_diff
        a = spark.createDataFrame([("k%d" % i, i) for i in range(20)],
                                  "k string, v int")
        out = table_diff(a, a, ["k"], ["v"]).collect()
        assert len(out) == 1 and out[0]["class"] == "unchanged"
        assert out[0].n_keys == 20 and out[0].abs_delta == 0

    def test_validation(self, spark):
        from tsrollup.checkpoint import table_diff
        a = spark.createDataFrame([("k", 1)], "k string, v int")
        with pytest.raises(ValueError):
            table_diff(a, a, [], ["v"])
        with pytest.raises(ValueError):
            table_diff(a, a, ["k"], [])

    def test_changed_with_one_sided_null_is_counted_not_dropped(self, spark):
        # review finding: |a - NULL| is NULL and vanished from abs_delta
        from tsrollup.checkpoint import table_diff
        a = spark.createDataFrame([("k1", 10), ("k2", 5)], "k string, v int")
        b = spark.createDataFrame([("k1", None), ("k2", 7)],
                                  "k string, v int")
        out = {r["class"]: r for r in
               table_diff(a, b, ["k"], ["v"]).collect()}
        ch = out["changed"]
        assert ch.n_keys == 2 and ch.abs_delta == 2
        assert ch.n_null_deltas == 1


class TestReadRealtime:
    def test_no_store_serves_full_fresh_rollup(self, spark, tmp_path,
                                               corpus):
        from tsrollup.checkpoint import read_realtime

        inp = str(tmp_path / "inp")
        _write_first_n(spark, corpus, inp, 40)
        got = read_realtime(spark, inp, str(tmp_path / "nostore"),
                            tiers=TIERS)
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(got) == _rows(want)

    def test_lagging_store_plus_tail_equals_clean_rollup(self, spark,
                                                         tmp_path, corpus):
        from tsrollup.checkpoint import read_realtime

        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        _write_first_n(spark, corpus, inp, 60)  # 20 docs not yet refreshed
        got = read_realtime(spark, inp, root, tiers=TIERS)
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(got) == _rows(want)
        # the stored 40 docs come from the STORE, not a re-rollup: the
        # plan must scan the store AND filter the raw side on the
        # watermark before the rollup map
        from tsrollup.planaudit import formatted_plan

        plan = formatted_plan(got)
        assert "store/data" in plan  # store subtree present
        assert "39" in plan          # seq > 39 watermark filter pushed

    def test_fully_refreshed_store_has_empty_tail(self, spark, tmp_path,
                                                  corpus):
        from tsrollup.checkpoint import read_realtime

        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 60)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        got = read_realtime(spark, inp, root, tiers=TIERS)
        assert _rows(got) == _rows(read_incremental(spark, root))

    def test_orphan_epoch_served_fresh_not_duplicated(self, spark,
                                                      tmp_path, corpus):
        from tsrollup.checkpoint import read_realtime

        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        wm_dir = os.path.join(root, "_watermarks")
        snapshot = str(tmp_path / "wm_snapshot")
        shutil.copytree(wm_dir, snapshot)
        _write_first_n(spark, corpus, inp, 60)
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        # crash: epoch-1 data committed, watermark append lost
        shutil.rmtree(wm_dir)
        shutil.copytree(snapshot, wm_dir)
        got = read_realtime(spark, inp, root, tiers=TIERS)
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(got) == _rows(want)  # no dupes, nothing missing

    def test_compressed_store_is_decoded_on_read(self, spark, tmp_path,
                                                 corpus):
        from tsrollup.checkpoint import read_realtime

        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS,
                            compressed=True)
        _write_first_n(spark, corpus, inp, 60)
        got = read_realtime(spark, inp, root, tiers=TIERS)
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(got) == _rows(want)

    def test_null_seq_docs_always_served_fresh(self, spark, tmp_path):
        from tsrollup.checkpoint import read_realtime

        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        good = spark.createDataFrame(
            [("web-0001-00000000", list(range(64)), 64, "web")],
            "doc_id string, tokens array<int>, n_tok int, source string")
        good.write.mode("overwrite").parquet(inp)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        # a doc whose id carries no sequence number arrives: refresh
        # refuses it, but the realtime view must still serve it
        both = good.union(spark.createDataFrame(
            [("web-badid", list(range(32)), 32, "web")], good.schema))
        both.write.mode("overwrite").parquet(inp)
        with pytest.raises(ValueError, match="NULL ingest sequence"):
            refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        got = read_realtime(spark, inp, root, tiers=TIERS)
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(got) == _rows(want)


class TestPackedRealtimeReads:
    """Decode-on-read of a packed store prunes by tier, keeps every stored
    row, and the metadata commits stay one file each."""

    def _store(self, spark, tmp_path, corpus):
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS,
                            compressed=True)
        _write_first_n(spark, corpus, inp, 60)
        return inp, root

    @staticmethod
    def _store_scans(df) -> list[str]:
        """PartitionFilters of every scan of the store in the plan."""
        from tsrollup.planaudit import formatted_plan

        return [re.search(r"PartitionFilters: (.*)", sec).group(1)
                for sec in formatted_plan(df).split("\n\n")
                if "Scan parquet" in sec and "store/data" in sec]

    def test_routed_read_scans_only_the_routed_tier(self, spark, tmp_path,
                                                   corpus):
        from tsrollup import BASE_WINDOW as W
        from tsrollup.checkpoint import read_realtime
        from tsrollup.rollup import read_routed, route_tier

        inp, root = self._store(spark, tmp_path, corpus)
        view = read_realtime(spark, inp, root, tiers=TIERS)
        clean = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        for lo, hi, pts in ((0, 8 * W, 8), (4 * W, 68 * W, 16)):
            tier = route_tier(hi - lo, pts, tiers=TIERS)
            got = read_routed(view, lo, hi, pts, tiers=TIERS)
            scans = self._store_scans(got)
            assert len(scans) == 1, scans
            assert re.search(rf"tier#\d+ = {tier}\b", scans[0]), scans
            want = read_routed(clean, lo, hi, pts, tiers=TIERS)
            assert _rows(got) == _rows(want) != []
        assert {route_tier(8 * W, 8, tiers=TIERS),
                route_tier(64 * W, 16, tiers=TIERS)} == set(TIERS)

    def test_stored_tier_outside_tiers_is_still_served(self, spark,
                                                       tmp_path, corpus):
        from tsrollup.checkpoint import read_realtime
        from tsrollup.rollup import decompress_rollup

        inp, root = self._store(spark, tmp_path, corpus)
        got = read_realtime(spark, inp, root, tiers={"1m": 1})
        stored_1h = decompress_rollup(read_incremental(spark, root)) \
            .filter("tier = '1h'")
        assert _rows(got.filter("tier = '1h'")) == _rows(stored_1h) != []
        want = rollup_sequences(spark.read.parquet(inp), tiers={"1m": 1})
        assert _rows(got.filter("tier = '1m'")) == _rows(want)

    def test_uncommitted_first_watermark_append_reads_empty(self, spark,
                                                            tmp_path,
                                                            corpus):
        """A killed first watermark append leaves ``_watermarks/`` holding
        only ``_temporary/``: no committed epoch, so the view is the fresh
        rollup and the refresh re-runs the epoch."""
        from tsrollup.checkpoint import epoch_ranges, read_realtime

        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS,
                            compressed=True)
        wm_dir = os.path.join(root, "_watermarks")
        shutil.rmtree(wm_dir)
        os.makedirs(os.path.join(wm_dir, "_temporary", "0"))
        assert read_watermarks(spark, root) == {}
        assert epoch_ranges(spark, root) == {}
        got = read_realtime(spark, inp, root, tiers=TIERS)
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(got) == _rows(want)
        assert refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS,
                                   compressed=True) == 40
        assert read_watermarks(spark, root) != {}

    def test_one_watermark_file_per_refresh(self, spark, tmp_path, corpus):
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        for e, n in enumerate((20, 40, 60)):
            _write_first_n(spark, corpus, inp, n)
            refresh_incremental(spark, inp, root, epoch=e, tiers=TIERS)
        files = [f for f in os.listdir(os.path.join(root, "_watermarks"))
                 if f.endswith(".parquet")]
        assert len(files) == 3


class TestRepairEpochs:
    def _store(self, spark, tmp_path, corpus, splits=(40, 60)):
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        prev = 0
        for e, n in enumerate(splits):
            _write_first_n(spark, corpus, inp, n)
            refresh_incremental(spark, inp, root, epoch=e, tiers=TIERS)
            prev = n
        del prev
        return inp, root

    def test_epoch_ranges_reconstruct_commit_boundaries(self, spark,
                                                        tmp_path, corpus):
        from tsrollup.checkpoint import epoch_ranges

        _, root = self._store(spark, tmp_path, corpus)
        ranges = epoch_ranges(spark, root)
        assert set(ranges) == {0, 1}
        for src, (lo, hi) in ranges[0].items():
            assert lo == -1 and hi < 60
        for src, (lo, hi) in ranges[1].items():
            # epoch 1 starts exactly where epoch 0's mark for that source
            # ended (sources without epoch-0 docs start at -1)
            assert lo == ranges[0].get(src, (None, -1))[1]

    def test_corrected_doc_repairs_to_clean_rollup(self, spark, tmp_path,
                                                   corpus):
        from pyspark.sql import functions as F

        from tsrollup.checkpoint import repair_epochs

        inp, root = self._store(spark, tmp_path, corpus)
        # corrupt one early doc IN PLACE (same doc_id, new tokens), as if
        # the raw table was corrected after epoch 0 was rolled up
        df = spark.read.parquet(inp)
        victim = df.withColumn("_s", doc_seq()).filter("_s = 5") \
                   .select("doc_id").first()["doc_id"]
        fixed = df.withColumn(
            "tokens",
            F.when(F.col("doc_id") == victim,
                   F.expr("transform(tokens, t -> t + 7)"))
             .otherwise(F.col("tokens")))
        fixed.coalesce(1).write.mode("overwrite").parquet(inp + ".v2")
        # store now disagrees with raw; repair the containing epoch only
        n = repair_epochs(spark, inp + ".v2", root, [0], tiers=TIERS)
        assert n == 40
        want = rollup_sequences(spark.read.parquet(inp + ".v2"), tiers=TIERS)
        assert _rows(read_incremental(spark, root)) == _rows(want)
        # watermarks untouched
        from tsrollup.checkpoint import read_watermarks

        assert read_watermarks(spark, root) == \
            read_watermarks(spark, root)

    def test_late_arrival_below_watermark_lands_via_repair(self, spark,
                                                           tmp_path, corpus):
        from tsrollup.checkpoint import repair_epochs

        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        # arrival order skips doc seq 10: epochs commit without it
        df = spark.read.parquet(corpus)
        df.withColumn("_s", doc_seq()).filter("_s < 40 and _s != 10") \
          .drop("_s").coalesce(1).write.mode("overwrite").parquet(inp)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        _write_first_n(spark, corpus, inp, 60)  # late doc 10 now present
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        # the late doc is invisible to refresh (below the watermark) …
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(read_incremental(spark, root)) != _rows(want)
        # … and lands after repairing the epoch whose range covers it
        repair_epochs(spark, inp, root, [0], tiers=TIERS)
        assert _rows(read_incremental(spark, root)) == _rows(want)

    def test_deleted_docs_stale_partitions_pruned(self, spark, tmp_path,
                                                  corpus):
        from tsrollup.checkpoint import repair_epochs

        inp, root = self._store(spark, tmp_path, corpus)
        # delete every epoch-0 doc from raw, repair: their rows must VANISH
        # with the tier directories that held them
        df = spark.read.parquet(inp)
        kept = df.withColumn("_s", doc_seq()).filter("_s >= 40").drop("_s")
        kept.coalesce(1).write.mode("overwrite").parquet(inp + ".v2")
        n, jobs = _jobs(spark, lambda: repair_epochs(
            spark, inp + ".v2", root, [0, 1], tiers=TIERS), "repair")
        assert n == 20
        # the input's schema inference, the doc-count aggregation (three
        # stages under adaptive execution) and the write: the prune runs
        # no job and the repaired rollup is computed once
        assert jobs == 5
        assert not os.path.exists(os.path.join(root, "data", "epoch=0"))
        want = rollup_sequences(spark.read.parquet(inp + ".v2"), tiers=TIERS)
        assert _rows(read_incremental(spark, root)) == _rows(want)

    def test_uncommitted_epoch_refused(self, spark, tmp_path, corpus):
        from tsrollup.checkpoint import repair_epochs

        inp, root = self._store(spark, tmp_path, corpus)
        with pytest.raises(ValueError, match="not committed"):
            repair_epochs(spark, inp, root, [7], tiers=TIERS)

    def test_compacted_store_refused(self, spark, tmp_path, corpus):
        from tsrollup.checkpoint import compact_epochs, repair_epochs

        inp, root = self._store(spark, tmp_path, corpus)
        compact_epochs(spark, root)
        with pytest.raises(ValueError, match="compacted"):
            repair_epochs(spark, inp, root, [0], tiers=TIERS)

    def test_repair_is_idempotent(self, spark, tmp_path, corpus):
        from tsrollup.checkpoint import repair_epochs

        inp, root = self._store(spark, tmp_path, corpus)
        before = _rows(read_incremental(spark, root))
        repair_epochs(spark, inp, root, [0, 1], tiers=TIERS)
        assert _rows(read_incremental(spark, root)) == before


class TestAsOfEpoch:
    def test_time_travel_reproduces_past_state(self, spark, tmp_path,
                                               corpus):
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        past = _rows(read_incremental(spark, root))
        _write_first_n(spark, corpus, inp, 60)
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        # as-of epoch 0 == the state the post-refresh-0 reader saw,
        # bit-for-bit, even though epoch 1 now exists on disk
        got = read_incremental(spark, root, as_of_epoch=0)
        assert _rows(got) == past
        # and the plain read still sees everything
        assert read_incremental(spark, root).count() > got.count()

    def test_as_of_latest_equals_plain_read(self, spark, tmp_path, corpus):
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        _write_first_n(spark, corpus, inp, 60)
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        assert _rows(read_incremental(spark, root, as_of_epoch=1)) \
            == _rows(read_incremental(spark, root))

    def test_validation(self, spark, tmp_path, corpus):
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        with pytest.raises(ValueError):
            read_incremental(spark, root, as_of_epoch=-1)


class TestRefreshLag:
    def test_reports_backlog_then_caught_up(self, spark, tmp_path, corpus):
        from tsrollup.checkpoint import refresh_lag

        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        _write_first_n(spark, corpus, inp, 40)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS)
        # 20 more docs arrive but no refresh yet: lag must report them
        _write_first_n(spark, corpus, inp, 60)
        lag = refresh_lag(spark, inp, root).toPandas()
        assert int(lag["pending_docs"].sum()) == 20
        assert (lag["input_max_seq"] >= lag["watermark_seq"]).all()
        behind = lag[lag.pending_docs > 0]
        assert (behind["caught_up"] == 0).all()
        # after the refresh the debt is zero everywhere
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        lag2 = refresh_lag(spark, inp, root).toPandas()
        assert int(lag2["pending_docs"].sum()) == 0
        assert (lag2["caught_up"] == 1).all()

    def test_never_refreshed_store_reports_full_backlog(self, spark,
                                                        tmp_path, corpus):
        from tsrollup.checkpoint import refresh_lag

        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")  # store dir never created
        _write_first_n(spark, corpus, inp, 40)
        lag = refresh_lag(spark, inp, root).toPandas()
        assert (lag["watermark_seq"] == -1).all()
        assert int(lag["pending_docs"].sum()) == 40


def _seq_file(corpus: str, path: str, lo: int, hi: int) -> None:
    """The corpus docs with ``lo <= seq < hi`` as the one parquet file
    ``path`` (written in place if it exists)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(corpus)
    seqs = [int(d.rsplit("-", 1)[1]) for d in tbl["doc_id"].to_pylist()]
    pq.write_table(tbl.filter(pa.array([lo <= q < hi for q in seqs])), path)


def _input_files(df, inp: str) -> set[str]:
    """Names of the files under ``inp`` that ``df`` scans."""
    from urllib.parse import urlparse

    paths = (urlparse(f).path for f in df.inputFiles())
    return {os.path.basename(p) for p in paths if p.startswith(inp + "/")}


def _refresh_scan(monkeypatch, spark, inp, root, epoch, **kw):
    """refresh_incremental's result and the input files its rollup read."""
    from tsrollup import checkpoint

    seen = []
    real = checkpoint._rolled

    def spy(df, *a):
        seen.append(_input_files(df, inp))
        return real(df, *a)

    monkeypatch.setattr(checkpoint, "_rolled", spy)
    try:
        n = refresh_incremental(spark, inp, root, epoch=epoch, tiers=TIERS,
                                **kw)
    finally:
        monkeypatch.setattr(checkpoint, "_rolled", real)
    return n, (seen[0] if seen else set())


def _jobs(spark, fn, tag):
    """``fn()``'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    grp = f"incremental-{tag}"
    sc.setJobGroup(grp, tag)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(spark._jsc.sc().statusTracker().getJobIdsForGroup(grp))


def _log_marks(spark, root):
    """The watermarks of a fresh read of the whole log, past every memo."""
    from pyspark.sql import functions as F

    from tsrollup.checkpoint import WATERMARK_SCHEMA

    log = spark.read.schema(WATERMARK_SCHEMA).parquet(f"{root}/_watermarks")
    return {r[0]: r[1] for r in log.filter("source IS NOT NULL")
            .groupBy("source").agg(F.max("max_seq")).collect()}


class TestInputManifest:
    """The refresh path reads only the input files no committed refresh
    has read, and falls back to every file when a read one changed."""

    @staticmethod
    def _store(spark, tmp_path, corpus):
        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        os.makedirs(inp)
        _seq_file(corpus, f"{inp}/part-0.parquet", 0, 30)
        _seq_file(corpus, f"{inp}/part-1.parquet", 30, 40)
        assert refresh_incremental(spark, inp, root, epoch=0,
                                   tiers=TIERS) == 40
        return inp, root

    def test_appended_file_is_the_whole_tail(self, spark, tmp_path, corpus,
                                             monkeypatch):
        from tsrollup.checkpoint import read_realtime

        inp, root = self._store(spark, tmp_path, corpus)
        _seq_file(corpus, f"{inp}/part-2.parquet", 40, 50)
        view = read_realtime(spark, inp, root, tiers=TIERS)
        assert _input_files(view, inp) == {"part-2.parquet"}
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(view) == _rows(want)
        n, read = _refresh_scan(monkeypatch, spark, inp, root, 1)
        assert (n, read) == (10, {"part-2.parquet"})
        assert _rows(read_incremental(spark, root)) == _rows(want)
        _seq_file(corpus, f"{inp}/part-3.parquet", 50, 60)
        view = read_realtime(spark, inp, root, tiers=TIERS)
        assert _input_files(view, inp) == {"part-3.parquet"}
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(view) == _rows(want)

    def test_rewritten_consumed_file_falls_back_to_full_scan(
            self, spark, tmp_path, corpus, monkeypatch):
        from tsrollup.checkpoint import read_realtime

        inp, root = self._store(spark, tmp_path, corpus)
        # a consumed file is rewritten in place and gains 10 new docs: a
        # tail of unread files alone would miss them
        _seq_file(corpus, f"{inp}/part-1.parquet", 30, 50)
        everything = {"part-0.parquet", "part-1.parquet"}
        view = read_realtime(spark, inp, root, tiers=TIERS)
        assert _input_files(view, inp) == everything
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(view) == _rows(want)
        n, read = _refresh_scan(monkeypatch, spark, inp, root, 1)
        assert (n, read) == (10, everything)
        assert _rows(read_incremental(spark, root)) == _rows(want)
        # the fallback recorded the rewritten file as read: the next tail
        # is the next appended file again
        _seq_file(corpus, f"{inp}/part-2.parquet", 50, 60)
        n, read = _refresh_scan(monkeypatch, spark, inp, root, 2)
        assert (n, read) == (10, {"part-2.parquet"})
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(read_incremental(spark, root)) == _rows(want)

    def test_small_delta_writes_one_file_per_tier(self, spark, tmp_path,
                                                  corpus):
        from tsrollup.io import local_listing

        inp, root = self._store(spark, tmp_path, corpus)
        _seq_file(corpus, f"{inp}/part-2.parquet", 40, 60)
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        data = os.path.join(root, "data")
        dirs = [os.path.dirname(os.path.relpath(p, data))
                for p, _, _ in local_listing(data)]
        # an epoch is (epoch, tier) directories, one file per writing task:
        # the one-file delta of epoch 1 is one task, so one file per tier
        want = [os.path.join(f"epoch={e}", f"tier={t}")
                for e in (0, 1) for t in TIERS]
        assert set(dirs) == set(want)
        assert sorted(d for d in dirs if d.startswith("epoch=1")) == \
            sorted(want[len(TIERS):])

    def test_unchanged_log_is_read_once(self, spark, tmp_path, corpus):
        from tsrollup.checkpoint import epoch_ranges

        inp, root = self._store(spark, tmp_path, corpus)
        marks = read_watermarks(spark, root)
        again, n = _jobs(spark, lambda: read_watermarks(spark, root),
                         "wm-hit")
        assert (again, n) == (marks, 0)
        _, n = _jobs(spark, lambda: epoch_ranges(spark, root), "ranges-hit")
        assert n == 0
        _seq_file(corpus, f"{inp}/part-2.parquet", 40, 60)
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        # the log is read on the driver: no job after a commit either
        moved, n = _jobs(spark, lambda: read_watermarks(spark, root),
                         "wm-after-commit")
        assert n == 0 and moved != marks
        assert moved == _log_marks(spark, root)

    def test_foreign_log_file_is_collected(self, spark, tmp_path, corpus,
                                           monkeypatch):
        """A file another writer appends to ``_watermarks/`` is seen by
        the next read, with no job, whether it lands after a refresh or
        between the refresh's start and its append."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from tsrollup import checkpoint

        inp, root = self._store(spark, tmp_path, corpus)
        log = os.path.join(root, "_watermarks")

        def foreign(name, source, seq):
            pq.write_table(pa.table({
                "source": [source], "max_seq": pa.array([seq], pa.int64()),
                "n_docs": pa.array([1], pa.int64()),
                "epoch": pa.array([90], pa.int32()), "run_id": ["other"],
                "committed_at": ["t"], "file": pa.array([None], pa.string()),
                "file_size": pa.array([None], pa.int64()),
                "file_mtime_ns": pa.array([None], pa.int64())}),
                os.path.join(log, name))

        marks = read_watermarks(spark, root)
        foreign("part-foreign-0.parquet", "zz", 999)
        seen, n = _jobs(spark, lambda: read_watermarks(spark, root),
                        "wm-foreign-after")
        assert n == 0 and seen == {**marks, "zz": 999}
        real = checkpoint.write_table

        def racing(df, ident, *a, **kw):
            if ident == log:
                foreign("part-foreign-1.parquet", "yy", 7)
            return real(df, ident, *a, **kw)

        monkeypatch.setattr(checkpoint, "write_table", racing)
        _seq_file(corpus, f"{inp}/part-2.parquet", 40, 50)
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        monkeypatch.setattr(checkpoint, "write_table", real)
        seen, n = _jobs(spark, lambda: read_watermarks(spark, root),
                        "wm-foreign-race")
        assert n == 0 and seen["yy"] == 7 and seen["zz"] == 999
        assert seen == _log_marks(spark, root)
        _seq_file(corpus, f"{inp}/part-3.parquet", 50, 60)
        refresh_incremental(spark, inp, root, epoch=2, tiers=TIERS)
        seen, n = _jobs(spark, lambda: read_watermarks(spark, root),
                        "wm-foreign-next")
        assert n == 0 and seen == _log_marks(spark, root)

    def test_compaction_folds_the_log(self, spark, tmp_path, corpus,
                                      monkeypatch):
        from tsrollup.checkpoint import compact_epochs, epoch_ranges

        inp, root = self._store(spark, tmp_path, corpus)
        _seq_file(corpus, f"{inp}/part-2.parquet", 40, 50)
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        log = os.path.join(root, "_watermarks")
        marks, ranges = read_watermarks(spark, root), epoch_ranges(spark,
                                                                   root)
        compact_epochs(spark, root)
        files = [f for f in os.listdir(log) if f.endswith(".parquet")]
        assert len(files) == 1
        assert read_watermarks(spark, root) == marks
        assert epoch_ranges(spark, root) == ranges
        _seq_file(corpus, f"{inp}/part-3.parquet", 50, 60)
        n, read = _refresh_scan(monkeypatch, spark, inp, root, 2)
        assert (n, read) == (10, {"part-3.parquet"})
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(read_incremental(spark, root)) == _rows(want)


class TestDriverLogReads:
    """The watermark log is read on the driver with no Spark job: cold,
    after compaction, and when it was written before the input manifest
    existed."""

    def test_cold_read_and_read_after_compaction_run_no_job(
            self, spark, tmp_path, corpus):
        from tsrollup.checkpoint import compact_epochs, epoch_ranges

        inp, root = TestInputManifest._store(spark, tmp_path, corpus)
        _seq_file(corpus, f"{inp}/part-2.parquet", 40, 50)
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        # a copy is a log this process never read, as in a new session
        cold = str(tmp_path / "cold")
        shutil.copytree(root, cold)
        marks, n = _jobs(spark, lambda: read_watermarks(spark, cold),
                         "wm-cold")
        assert n == 0 and marks == _log_marks(spark, root)
        ranges, n = _jobs(spark, lambda: epoch_ranges(spark, cold),
                          "ranges-cold")
        assert n == 0 and set(ranges) == {0, 1}
        compact_epochs(spark, cold)
        assert len([f for f in os.listdir(f"{cold}/_watermarks")
                    if f.endswith(".parquet")]) == 1
        got, n = _jobs(spark, lambda: (read_watermarks(spark, cold),
                                       epoch_ranges(spark, cold)),
                       "wm-compacted")
        assert n == 0 and got == (marks, ranges)

    def test_log_from_before_the_manifest(self, spark, tmp_path, corpus,
                                          monkeypatch):
        """A ``_watermarks/`` file holding only the first six columns reads
        with NULL manifest columns and keeps its watermarks; with no
        manifest rows the next refresh scans every input file and still
        gives exact rows."""
        import pyarrow.parquet as pq

        from tsrollup.checkpoint import WATERMARK_SCHEMA, _log_rows

        inp, root = TestInputManifest._store(spark, tmp_path, corpus)
        marks = read_watermarks(spark, root)
        log = os.path.join(root, "_watermarks")
        files = [os.path.join(log, f) for f in os.listdir(log)
                 if f.endswith(".parquet")]
        tbl = pq.read_table(files)
        tbl = tbl.filter(tbl["source"].is_valid())
        names = [c.split(" ", 1)[0] for c in WATERMARK_SCHEMA.split(", ")]
        for f in files:
            os.remove(f)
        pq.write_table(tbl.select(names[:6]), f"{log}/part-0.parquet")
        rows, n = _jobs(spark, lambda: _log_rows(spark, root), "wm-old")
        assert n == 0 and rows
        assert all(r[0] is not None and r[6:] == (None, None, None)
                   for r in rows)
        assert read_watermarks(spark, root) == marks
        _seq_file(corpus, f"{inp}/part-2.parquet", 40, 50)
        n, read = _refresh_scan(monkeypatch, spark, inp, root, 1)
        assert (n, read) == (10, {"part-0.parquet", "part-1.parquet",
                                  "part-2.parquet"})
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(read_incremental(spark, root)) == _rows(want)


class TestBucketedStore:
    """A store written with the older (epoch, bucket, tier) layout still
    reads, is refused by the refresh and the repair, and is migrated to
    (epoch, tier) by compaction."""

    def test_refused_until_compaction_migrates_it(self, spark, tmp_path,
                                                  corpus):
        from pyspark.sql import functions as F

        from tsrollup.arrowbuf import rows_df
        from tsrollup.checkpoint import (WATERMARK_SCHEMA, compact_epochs,
                                         repair_epochs)
        from tsrollup.io import local_listing, write_table

        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        # one source's docs, so the old store's log is one watermark row
        src = spark.read.parquet(corpus)
        head = src.groupBy("source").count() \
            .orderBy(F.desc("count"), "source").first()["source"]
        one = src.filter(F.col("source") == head)
        seqs = sorted(r[0] for r in one.select(doc_seq()).collect())
        early = seqs[:len(seqs) // 2]
        one.filter(doc_seq() <= early[-1]).coalesce(1).write.parquet(inp)
        old = rollup_sequences(spark.read.parquet(inp), tiers=TIERS) \
            .withColumn("epoch", F.lit(0)) \
            .withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(2))
                        .cast("int"))
        write_table(old, f"{root}/data",
                    partition_by=("epoch", "bucket", "tier"))
        write_table(rows_df(spark, [(head, early[-1], len(early), 0, "old",
                                     "t", None, None, None)],
                            WATERMARK_SCHEMA),
                    f"{root}/_watermarks", mode="append")
        one.coalesce(1).write.mode("overwrite").parquet(inp)
        stored = _rows(read_incremental(spark, root))
        before = local_listing(root)

        def refused(fn):
            with pytest.raises(ValueError, match="compact_epochs"):
                fn()

        _, n = _jobs(spark, lambda: refused(lambda: refresh_incremental(
            spark, inp, root, epoch=1, tiers=TIERS)), "bucketed")
        assert n == 0
        refused(lambda: repair_epochs(spark, inp, root, [0], tiers=TIERS))
        assert local_listing(root) == before
        assert compact_epochs(spark, root) == len(stored)
        migrated = read_incremental(spark, root)
        assert "bucket" not in migrated.columns
        assert _rows(migrated) == stored
        assert not any("bucket=" in p
                       for p, _, _ in local_listing(f"{root}/data"))
        assert refresh_incremental(spark, inp, root, epoch=1,
                                   tiers=TIERS) == len(seqs) - len(early)
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(read_incremental(spark, root)) == _rows(want)


def _repr_rows(df):
    return sorted(map(repr, df.collect()))


class TestRealtimeBuild:
    """A real-time read costs one view build per committed state, and the
    build runs no Spark job."""

    @pytest.mark.parametrize("packed", [False, True],
                             ids=["plain", "packed"])
    def test_declared_store_schema_equals_inferred(self, spark, tmp_path,
                                                   corpus, packed):
        from tsrollup.checkpoint import read_store

        inp = str(tmp_path / "inp")
        root = str(tmp_path / "store")
        os.makedirs(inp)
        _seq_file(corpus, f"{inp}/part-0.parquet", 0, 30)
        refresh_incremental(spark, inp, root, epoch=0, tiers=TIERS,
                            compressed=packed)
        _seq_file(corpus, f"{inp}/part-1.parquet", 30, 40)
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS,
                            compressed=packed)
        data = f"{root}/data"
        got, n = _jobs(spark, lambda: read_store(spark, data),
                       f"store-{packed}")
        want = spark.read.parquet(data)
        assert n == 0
        assert got.schema == want.schema
        assert _repr_rows(got) == _repr_rows(want)

    def test_first_read_after_refresh_runs_no_job(self, spark, tmp_path,
                                                  corpus):
        from tsrollup.checkpoint import read_realtime

        inp, root = TestInputManifest._store(spark, tmp_path, corpus)
        _seq_file(corpus, f"{inp}/part-2.parquet", 40, 50)
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        _seq_file(corpus, f"{inp}/part-3.parquet", 50, 60)
        view, n = _jobs(spark, lambda: read_realtime(spark, inp, root,
                                                     tiers=TIERS), "cold")
        assert n == 0
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(view) == _rows(want)

    def test_second_read_of_unchanged_state_is_the_same_view(
            self, spark, tmp_path, corpus):
        from tsrollup.checkpoint import read_realtime

        inp, root = TestInputManifest._store(spark, tmp_path, corpus)
        _seq_file(corpus, f"{inp}/part-2.parquet", 40, 50)
        view = read_realtime(spark, inp, root, tiers=TIERS)
        again, n = _jobs(spark, lambda: read_realtime(spark, inp, root,
                                                      tiers=TIERS), "hit")
        assert again is view and n == 0
        want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
        assert _rows(again) == _rows(want)
        # other tiers are another view
        assert read_realtime(spark, inp, root, tiers={"1m": 1}) is not view

    def test_each_state_change_builds_a_fresh_view(self, spark, tmp_path,
                                                   corpus):
        from tsrollup.checkpoint import compact_epochs, read_realtime

        inp, root = TestInputManifest._store(spark, tmp_path, corpus)

        def fresh(prev, sess=spark):
            view = read_realtime(sess, inp, root, tiers=TIERS)
            assert view is not prev
            assert read_realtime(sess, inp, root, tiers=TIERS) is view
            want = rollup_sequences(spark.read.parquet(inp), tiers=TIERS)
            assert _rows(view) == _rows(want)
            return view

        view = read_realtime(spark, inp, root, tiers=TIERS)
        _seq_file(corpus, f"{inp}/part-2.parquet", 40, 50)  # an append
        view = fresh(view)
        refresh_incremental(spark, inp, root, epoch=1, tiers=TIERS)
        view = fresh(view)
        compact_epochs(spark, root)
        view = fresh(view)
        # a consumed file rewritten in place with 10 more docs
        _seq_file(corpus, f"{inp}/part-2.parquet", 40, 60)
        view = fresh(view)
        key = "spark.sql.ansi.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false" if prev == "true" else "true")
        try:
            view = fresh(view)
        finally:
            spark.conf.set(key, prev)
        fresh(view, spark.newSession())
