"""Physical-plan shape guards: the properties that keep the engine fast at
100 TB must hold in the optimized plan, not just in intent (SURVEY §4).

Checked via explain('formatted') text — brittle-ish but catches regressions
like a lost column-pruning or an accidental shuffle in the scale path.
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def seqs(spark, sequences_path):
    return spark.read.parquet(sequences_path)


# one shared copy of the explain incantation + exchange taxonomy
# (tsrollup/planaudit.py) — keep in lockstep with tools/explain_audit.py
# by construction, not by dual edits
from tsrollup.planaudit import formatted_plan as _plan  # noqa: E402
from tsrollup.planaudit import n_data_exchanges as _n_exchanges  # noqa: E402


def test_rollup_scale_path_has_no_exchange(spark, seqs):
    from tsrollup.rollup import rollup_sequences

    plan = _plan(rollup_sequences(seqs))
    assert "Exchange" not in plan, plan  # zero shuffle on the scale path
    assert "MapInArrow" in plan


def test_rollup_scan_prunes_columns(spark, seqs):
    from tsrollup.rollup import rollup_sequences

    plan = _plan(rollup_sequences(seqs.drop("gap_mask")))
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "tokens" in scan and "doc_id" in scan and "source" in scan
    assert "n_tok" not in scan  # unused column never leaves the parquet scan


def test_tier_reagg_is_single_shuffle_partial_agg(spark, seqs):
    from tsrollup.rollup import reaggregate_tier, rollup_sequences

    base = rollup_sequences(seqs, tiers={"1m": 1})
    plan = _plan(reaggregate_tier(base, "1h", 60))
    assert _n_exchanges(plan) == 1, plan  # one shuffle, on the group keys
    # partial aggregation before the exchange (map-side combine)
    pre, post = plan.split("Exchange", 1)
    assert "HashAggregate" in pre or "ObjectHashAggregate" in pre, plan


def test_pricing_summary_pushes_partial_agg(spark):
    import __spark_entry__ as entrymod

    df = entrymod.q_pricing_summary(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # exactly one DATA-DEPENDENT (hash) exchange — the agg's. The small-scan
    # guard's hash spread (io.scan_min_parallel) appears only where the
    # file's row groups deny the splits Spark planned (not under these
    # session confs, where the fixture plans as one split); where it does,
    # it carries the REPARTITION_BY_NUM tag and must not count as an
    # aggregation shuffle.
    # Partial agg must still sit between the scan side and the hash
    # exchange (map-side combine).
    import re

    details = re.split(r"^\(\d+\) ", plan, flags=re.M)
    n_hash = sum(1 for d in details if d.startswith("Exchange")
                 and "hashpartitioning" in d
                 and "REPARTITION_BY_NUM" not in d)
    assert n_hash == 1, plan
    # partial + final pair ⇒ map-side combine around the one hash exchange
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2, plan


def test_revenue_join_broadcasts_dims(spark):
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.q_revenue_by_nation(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_scan(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(docs.filter("doc_id < 200").select("doc_id"))
    assert "PushedFilters: [" in plan
    assert "LessThan" in plan or "lt(" in plan.lower()


def test_per_source_stats_is_two_phase(spark, seqs):
    from tsrollup.rollup import per_source_stats, rollup_sequences

    plan = _plan(per_source_stats(rollup_sequences(seqs, tiers={"1m": 1})))
    # exactly two shuffles: (source, tier, salt) then (source, tier) — the
    # salt phase is what spreads a Zipf-heavy source over many reducers
    assert _n_exchanges(plan) == 2, plan
    pre = plan.split("Exchange", 1)[0]
    assert "HashAggregate" in pre  # map-side combine before the salt shuffle


def test_chunked_rollup_is_single_shuffle_then_map(spark):
    """Chunk reassembly must be ONE shuffle (the groupBy) feeding the same
    MapInArrow scale path — not a per-group Python operator."""
    import pandas as pd

    from tsrollup.rollup import rollup_grouped

    df = spark.createDataFrame(pd.DataFrame(
        [("d1", 0, [1, 2, 3], "s"), ("d1", 1, [4, 5], "s"),
         ("d2", 0, [7] * 40, "s")],
        columns=["doc_id", "chunk_id", "tokens", "source"]))
    plan = _plan(rollup_grouped(df))
    assert _n_exchanges(plan) == 1, plan
    assert "MapInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan  # the 20x-slower shape


def test_rollup_store_reads_prune_partitions(spark, sequences_path, tmp_path):
    """A tier/bucket predicate on the checkpointed store must prune at the
    PARTITION level (directory skip), never a full-store scan + filter."""
    from tsrollup.checkpoint import run_checkpointed

    root = str(tmp_path / "prunestore")
    run_checkpointed(spark, sequences_path, root, n_buckets=4,
                     tiers={"1m": 1, "1h": 60})
    df = (spark.read.option("basePath", f"{root}/data")
          .parquet(f"{root}/data")
          .filter("tier = '1h' and bucket = 2"))
    plan = _plan(df)
    scan = plan[plan.index("PartitionFilters"):].splitlines()[0]
    assert "tier" in scan and "bucket" in scan, plan


def test_pipeline_zoo_is_single_scan(spark):
    """The whole 25-architecture zoo must run as ONE corpus scan + ONE
    mapInArrow (round 2 ran 25 independent jobs over the same input)."""
    import re

    from tsrollup.pipelines import pipeline_features_multi

    df = spark.createDataFrame(
        [("d1", [1, 2, 3, 4, 5, 6, 7, 8])], "doc_id string, tokens array<int>")
    from pyspark.sql import functions as F

    plan = _plan(pipeline_features_multi(df)
                 .groupBy("arch").agg(F.count("*").alias("n")))
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 1, plan
    assert _n_exchanges(plan) == 1, plan  # the tiny per-arch aggregate only


def test_jaccard_is_two_scans(spark):
    """Full-corpus jaccard reads the corpus exactly twice (the self-join
    floor): sizes are carried on the shingle rows, not re-derived via extra
    scans+broadcasts (round-2 shape: 4 scans)."""
    import re

    from tsrollup.dedup import ngram_jaccard_pairs

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(ngram_jaccard_pairs(d, n=3, threshold=0.3, max_df=20))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 2, plan


def test_tier_join_never_rescans_tokens(spark, seqs, tmp_path):
    """Coarse-to-fine join against a STORED child tier: the joined plan must
    contain no windowing-kernel pass at all — parents derive from storage
    (round-2 shape executed the raw scan + kernels twice per query)."""
    from pyspark.sql import functions as F

    from tsrollup.rollup import reaggregate_tier, rollup_sequences

    store = str(tmp_path / "base")
    rollup_sequences(seqs, tiers={"1m": 1}).write.parquet(store)
    base = spark.read.parquet(store)
    parent = reaggregate_tier(base, "1h", 60)
    joined = base.select("doc_id", "window_start", F.col("sum").alias("cs")) \
        .join(parent.select("doc_id",
                            F.col("window_start").alias("pw"),
                            F.col("sum").alias("ps")), "doc_id")
    plan = _plan(joined)
    assert "MapInArrow" not in plan and "MapInPandas" not in plan, plan


def test_segment_islands_is_single_scan_single_exchange(spark):
    """Merged islands+sessionization: ONE events scan and ONE exchange (the
    user partitioning) — run lengths come from next-boundary rowid distances
    inside the same window pass, never a second lineage derivation."""
    import re

    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["segment_islands"](
        spark, "/root/testdata/sf0.001"))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan
    assert _n_exchanges(plan) == 1, plan
