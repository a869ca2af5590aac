"""Physical-plan audit over every driver query: one summary line per query
(exchanges, sorts, joins, Python operators, scan pruning) plus flags for the
shapes that hurt at 100 TB — written to PLANS.md.

This is the repo's ".explain('formatted') and iterate" discipline made
repeatable: run after operator changes, diff PLANS.md, and investigate any
new Exchange / FlatMapGroupsInPandas / CartesianProduct / widened scan.
The load-bearing guarantees are additionally pinned as tests
(tests/test_plans.py); this file is the full-surface sweep.

Usage: python tools/explain_audit.py [sf_dir] (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# side-effecting end-to-end demos: their final plan is just a sink read
SKIP = {"checkpoint_rollup", "stream_rollup", "stream_hll"}
# NB: a few audited queries do BOUNDED scratch I/O at build time as part of
# their semantics (tier_join materializes its child-tier store, one_hot
# round-trips events through CSV, ivf_knn trains its quantizer on a
# driver-side sample) — the audit therefore needs write access to
# TSROLLUP_BENCH_CACHE and takes a few extra seconds at sf0.001.


from tsrollup.planaudit import (  # noqa: E402  (after sys.path insert)
    count_op as _count,
    formatted_plan as _plan,
    split_exchanges,
)


def summarize(plan: str) -> dict[str, object]:
    n_data, n_guard = split_exchanges(plan)
    return {
        "exchange": n_data,
        "guard": n_guard,
        "sort": _count(plan, "Sort"),
        "bhj": _count(plan, "BroadcastHashJoin"),
        "smj": _count(plan, "SortMergeJoin"),
        "py_map": _count(plan, "MapInPandas") + _count(plan, "MapInArrow")
        + _count(plan, "ArrowEvalPython"),
        "py_group": _count(plan, "FlatMapGroupsInPandas"),
        "window": _count(plan, "Window"),
        "topk": _count(plan, "TakeOrderedAndProject"),
        "cartesian": _count(plan, "CartesianProduct")
        + _count(plan, "BroadcastNestedLoopJoin"),
        "gen": _count(plan, "Generate"),
    }


def flags(s: dict[str, object], name: str) -> str:
    out = []
    if s["py_group"]:
        out.append("PER-GROUP-PYTHON")
    if s["cartesian"] and not name.startswith("cosine"):
        out.append("CARTESIAN")
    if int(s["exchange"]) >= 4:
        out.append("MANY-SHUFFLES")
    return ",".join(out) or "-"


def main() -> int:
    import __spark_entry__ as entrymod
    from tsrollup.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-audit", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, fn in entrymod.queries().items():
        if name in SKIP:
            rows.append((name, None, "skipped: side-effecting e2e demo"))
            continue
        try:
            s = summarize(_plan(fn(spark, sf)))
            rows.append((name, s, flags(s, name)))
        except Exception as e:  # noqa: BLE001
            rows.append((name, None, f"ERROR {str(e)[:80]}"))
    hdr = ("| query | exch | guard | sort | bhj | smj | pyMap | pyGrp | win "
           "| topk | cart | flags |")
    lines = [
        "# PLANS — physical-plan audit of every driver query",
        "",
        f"Generated by `python tools/explain_audit.py {sf}`. Columns are",
        "operator counts from `.explain('formatted')`; flags mark shapes to",
        "investigate (per-group Python, cartesian joins, shuffle pileups).",
        "`cosine_topk`'s nested-loop join is its documented brute-force",
        "baseline role. Known-benign MANY-SHUFFLES: `jaccard_pairs`'s",
        "exchanges are the multi-stage shape of the shared-shingle",
        "algorithm — 2 corpus scans (the self-join floor, plan-guarded),",
        "every stage keyed on the shingle/doc with bounded (DF-capped)",
        "group sizes; `dedup_cluster`'s exchanges are the per-round label",
        "joins of its connected-components fixpoint over the TINY",
        "label/edge tables (the corpus-sized similarity stage is",
        "localCheckpoint-materialized once, before the loop);",
        "`rolling_actives`' 4 exchanges are its algorithmic floor —",
        "distinct (user,bucket), per-user interval window, grid-grain",
        "delta groupBy, and a column-pruned scan-agg for the grid bounds",
        "(only the first two touch data-sized rows);",
        "`cohort_retention`'s 4 are the same shape — distinct (user,day),",
        "per-user min window, then matrix-grain regroup + cohort-size",
        "window (the last two at cohorts×offsets rows);",
        "`sketch_distinct`'s 13 are five INDEPENDENT one-exchange",
        "reductions over the same scan (exact reference, KMV and HLL",
        "direct, KMV and HLL day-grain for the merged twins) plus",
        "sketch-grain re-aggs and the final tiny joins — the demo query",
        "deliberately computes direct AND merged paths to hash-prove the",
        "merge identity; a production tier pipeline stores the sketch",
        "table and pays exactly one data-sized exchange.",
        "Known-benign CARTESIAN: `tfidf_topk`, `source_drift`,",
        "`ks_drift` (source_drift's CDF twin — same histogram-grain",
        "broadcast grid) and",
        "`collocations` cross-join BROADCAST single-row / marginal-total",
        "frames (corpus size N, the per-value totals) into aggregated",
        "grains — a scalar fan-out, not a pair enumeration; `pair_corr`'s",
        "is the K×K key-pair frame built from the TINY per-key marginal",
        "table (K = distinct event types; the corpus-sized work is the",
        "equi-join on the bucket); their",
        "MANY-SHUFFLES likewise count the tiny post-histogram marginal",
        "aggregations (one raw-data exchange each).",
        "`guard` counts the small-scan guard's hash repartition on the",
        "fact table's key (io.scan_min_parallel): it fires only when the",
        "file holds fewer row groups than min(splits Spark planned,",
        "defaultParallelism), so a fact file Spark plans as one split is",
        "never widened, and a table with row groups for every core never",
        "is either. `guard` also counts any other REPARTITION_BY_NUM",
        "exchange (a numbered repartition in query code).", "",
        hdr,
        "|---" * 12 + "|",
    ]
    for name, s, fl in rows:
        if s is None:
            lines.append(f"| {name} | " + " | ".join(["—"] * 10)
                         + f" | {fl} |")
        else:
            lines.append(
                f"| {name} | {s['exchange']} | {s['guard']} | {s['sort']} | "
                f"{s['bhj']} | {s['smj']} | {s['py_map']} | {s['py_group']} | "
                f"{s['window']} | {s['topk']} | {s['cartesian']} | {fl} |")
    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(rows)} queries)")
    bad = [n for n, s, fl in rows if s and "PER-GROUP-PYTHON" in fl]
    if bad:
        print("PER-GROUP-PYTHON:", bad)
        return 1
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
