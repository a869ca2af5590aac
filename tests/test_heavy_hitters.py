"""Heavy-hitters frequency-sketch tests (tsrollup/sketches.py).

The load-bearing property is EXACTNESS-VIA-SUPERSET: the Misra-Gries pass
may keep extra candidates and mangle their residual counts however it
likes — the recount pass must still emit exactly the rows a full groupBy +
HAVING would. The Zipf test pins that end-to-end across partitions; the
unit tests pin the MG merge rule itself (bounded size, survival guarantee).
"""

from __future__ import annotations

import hashlib
import random

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from tsrollup.sketches import _mg, heavy_hitters


def _h(word):
    """A stable int64 key per word, standing in for xxhash64 — most of
    them are above 2**53, so the keys must cross the boundary as int64."""
    return int.from_bytes(hashlib.md5(word.encode()).digest()[:8], "little",
                          signed=True)


def _exact(df, num, den):
    ex = (df.select(F.explode(F.split("text", " ")).alias("word"))
          .groupBy("word").count())
    n = ex.agg(F.sum("count")).collect()[0][0] or 0
    return sorted((r.word, r["count"]) for r in ex.collect()
                  if r["count"] * den > n * num), n


def _summary(out):
    """(counters, total) of ``_mg``'s one output batch."""
    assert len(out) == 1
    rows = out[0].to_pylist()
    totals = [r["cnt"] for r in rows if r["h"] is None]
    assert len(totals) == 1
    return {r["h"]: r["cnt"] for r in rows if r["h"] is not None}, totals[0]


class TestMGPartition:
    """The per-partition pass: batches of int64 ``h`` keys in, the exact
    int64 keys back as counters."""

    def _run(self, batches, k):
        return _summary(list(_mg(k)(iter(
            pa.RecordBatch.from_arrays(
                [pa.array([_h(w) for w in b], pa.int64())], ["h"])
            for b in batches))))

    def test_bounded_size_and_total(self, spark):
        stream = [f"w{i % 50}" for i in range(1000)]
        summary, total = self._run([stream[:400], stream[400:]], k=8)
        assert len(summary) <= 8
        assert total == 1000

    def test_survival_guarantee(self, spark):
        # one item with freq > N/(k+1) must survive any adversarial mix
        random.seed(3)
        heavy = ["HH"] * 300  # 300 of N=1000 > 1000/9
        noise = [f"n{i}" for i in range(700)]  # all distinct
        stream = heavy + noise
        random.shuffle(stream)
        summary, total = self._run(
            [stream[i:i + 100] for i in range(0, 1000, 100)], k=8)
        assert _h("HH") in summary and total == 1000

    def test_exact_when_under_capacity(self, spark):
        # fewer distinct keys than k: no decrement ever fires and the
        # summary holds EXACT counts
        summary, _ = self._run([["a", "b", "a"], ["a", "c"]], k=10)
        assert summary == {_h("a"): 3, _h("b"): 1, _h("c"): 1}


class TestHeavyHitters:
    def test_matches_exact_groupby_on_zipf(self, spark):
        random.seed(7)
        vocab = [f"w{i}" for i in range(1, 800)]
        weights = [1.0 / i for i in range(1, 800)]
        docs = [(str(d), " ".join(random.choices(vocab, weights,
                                                 k=random.randint(5, 50))))
                for d in range(300)]
        df = (spark.createDataFrame(docs, "doc_id string, text string")
              .repartition(13))
        got = sorted((r.word, r.n_occ) for r in
                     heavy_hitters(df, 1, 100).collect())
        want, n = _exact(df, 1, 100)
        assert got == want and len(got) > 3
        out = heavy_hitters(df, 1, 100).collect()
        assert all(r.n_corpus == n for r in out)
        assert all(r.share == r.n_occ / n for r in out)

    def test_small_sketch_forces_decrements_still_exact(self, spark):
        # sketch_k barely above the minimum: decrements fire constantly,
        # output must still equal the exact answer
        random.seed(11)
        vocab = [f"w{i}" for i in range(1, 400)]
        weights = [1.0 / i for i in range(1, 400)]
        docs = [(str(d), " ".join(random.choices(vocab, weights, k=40)))
                for d in range(200)]
        df = (spark.createDataFrame(docs, "doc_id string, text string")
              .repartition(7))
        got = sorted((r.word, r.n_occ) for r in
                     heavy_hitters(df, 1, 20, sketch_k=25).collect())
        want, _ = _exact(df, 1, 20)
        assert got == want

    def test_threshold_is_strict(self, spark):
        # 100 words total, "edge" appears exactly 10 times: at threshold
        # 1/10 the cross-multiplied test 10·10 > 100·1 is FALSE
        text = " ".join(["edge"] * 10 + [f"u{i}" for i in range(90)])
        df = spark.createDataFrame([("0", text)], "doc_id string, text string")
        out = heavy_hitters(df, 1, 10).collect()
        assert out == []

    def test_empty_corpus(self, spark):
        df = spark.createDataFrame([], "doc_id string, text string")
        out = heavy_hitters(df)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == [
            "word", "n_occ", "n_corpus", "share"]

    def test_rejects_bad_threshold_and_sketch(self, spark):
        df = spark.createDataFrame([("0", "a")], "doc_id string, text string")
        with pytest.raises(ValueError):
            heavy_hitters(df, 0, 10)
        with pytest.raises(ValueError):
            heavy_hitters(df, 10, 10)
        with pytest.raises(ValueError):
            heavy_hitters(df, 1, 100, sketch_k=50)  # below den/num - 1

    def test_recount_join_is_broadcast(self, spark):
        from tsrollup.planaudit import count_op, formatted_plan
        df = spark.createDataFrame([("0", "a a b")],
                                   "doc_id string, text string")
        plan = formatted_plan(heavy_hitters(df, 1, 3))
        assert count_op(plan, "BroadcastHashJoin") >= 1, plan
        assert count_op(plan, "SortMergeJoin") == 0, plan


class TestMGMerge:
    def test_weighted_merge_preserves_markers_and_heavies(self, spark):
        # two partition summaries: totals 600 + 400; "HH" residual
        # 80+70 > (600+400)/(8+1) must survive the merged cut
        def part(words, cnts):
            return pa.RecordBatch.from_arrays(
                [pa.array([None if w is None else _h(w) for w in words],
                          pa.int64()), pa.array(cnts, pa.int64())],
                ["h", "cnt"])

        p1 = part(["HH", "x1", "x2", "x3", "x4", None],
                  [80, 9, 8, 7, 6, 600])
        p2 = part(["HH", "y1", "y2", "y3", "y4", "y5", "y6", "y7", "y8",
                   None], [70, 5, 5, 5, 5, 5, 5, 5, 5, 400])
        items, total = _summary(list(_mg(8)(iter([p1, p2]))))
        assert total == 1000
        assert len(items) <= 8 and _h("HH") in items
