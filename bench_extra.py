"""Subset benchmark harness for optimization iteration (guide §1.4).

NOT the driver contract — ``bench.py`` is frozen for measurement. This file
exists so a single query (or a handful) can be isolated with the noop sink
and timed at any SF without paying for the whole 136-row headline list.

Usage::

    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py \
        repetition heavy_ngrams --passes 3 [--explain plans/r06 --suffix before]

Session setup mirrors bench.py byte-for-byte (same shuffle partitions, same
split-abundance confs, same table warm pass) so numbers are comparable to the
driver's record.

``python bench_extra.py --py-task-cost`` instead prints the fixed cost of a
Python task: the median seconds of an identity ``mapInArrow`` over nproc and
4×nproc partitions on ``local[nproc]``. Run it from outside the repository
(``python /path/to/bench_extra.py --py-task-cost``), or the workers import
the checkout instead of the shipped package zip.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def py_task_cost(passes: int) -> dict[str, float]:
    """Median seconds of an identity ``mapInArrow`` over nproc and 4×nproc
    partitions of a few rows each: the per-Python-task fixed cost."""
    import statistics

    import tsrollup
    from tsrollup.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    spark = get_spark("tsrollup-py-task-cost", master=f"local[{nproc}]")
    spark.sparkContext.setLogLevel("ERROR")

    def identity(batches):
        # names the tsrollup module, so unpickling this in a worker imports
        # tsrollup (and installs its zip patch), as every tsrollup UDF does
        _ = tsrollup.__name__
        yield from batches

    out = {}
    for parts in (nproc, 4 * nproc):
        df = spark.range(16 * parts, numPartitions=parts) \
            .mapInArrow(identity, "id long")
        _noop(df)  # starts the workers
        samples = []
        for _ in range(passes):
            t0 = time.perf_counter()
            _noop(df)
            samples.append(time.perf_counter() - t0)
        out[f"{parts}_partitions_s"] = round(statistics.median(samples), 4)
    spark.stop()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--py-task-cost", action="store_true",
                    help="time an identity mapInArrow instead of queries")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--explain", default=None,
                    help="directory to dump .explain('formatted') per query")
    ap.add_argument("--suffix", default="before",
                    help="explain file suffix: <query>_<suffix>.txt")
    ap.add_argument("--no-warm", action="store_true",
                    help="skip the table warm pass (untimed first pass still runs)")
    args = ap.parse_args()
    if args.py_task_cost:
        print(json.dumps({"py_task_cost": py_task_cost(max(args.passes, 5))}))
        return 0
    if not args.queries:
        ap.error("name at least one query, or pass --py-task-cost")

    import __spark_entry__ as entrymod
    from tsrollup.session import get_spark

    spark = get_spark("tsrollup-bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=max(8, CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
    spark.conf.set("spark.sql.files.openCostInBytes", str(64 * 1024))

    if not args.no_warm:
        for t in ("nation", "events", "lineitem", "orders", "customer",
                  "documents", "embeddings"):
            _noop(spark.read.parquet(f"{SF_DIR}/{t}.parquet"))

    qs = entrymod.queries()
    out: dict[str, object] = {}
    for name in args.queries:
        if name not in qs:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        df = qs[name](spark, SF_DIR)
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
            with open(os.path.join(args.explain,
                                   f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(plan)
        if args.passes == 0:  # explain-only mode: no execution at all
            out[name] = {"explained": True}
            continue
        # one untimed warm pass (codegen/python workers), then timed passes
        _noop(df)
        samples = []
        for _ in range(args.passes):
            # builder call INSIDE the timed region — bench.py does
            # _noop(qs[name](...)) under the timer, so driver-side builder
            # work (iterative fixpoints, bounded collects) counts there too
            t0 = time.perf_counter()
            _noop(qs[name](spark, SF_DIR))
            samples.append(round(time.perf_counter() - t0, 3))
        out[name] = {"min": min(samples), "samples": samples}
        print(f"{name}: min={min(samples)} samples={samples}", file=sys.stderr)
    print(json.dumps({"sf_dir": SF_DIR, "cpus": CPUS, "results": out}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
