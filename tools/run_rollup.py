"""Production entry point: resumable, checkpointed rollup of a sequences
table (north_rule: runs via spark-submit --py-files on a multi-executor
cluster; in local mode the session factory ships the package zip itself).

    spark-submit --driver-memory 4g --py-files tsrollup.zip \
        tools/run_rollup.py \
        --input s3://bucket/sequences --output s3://bucket/rollup \
        --buckets 4096 --run-id nightly-01 [--compressed]

(--driver-memory matters in LOCAL-mode submits: the in-code
spark.driver.memory conf cannot apply once spark-submit has launched the
JVM, and the 1g default OOMs the vectorized parquet reader on wide token
rows mid-run — run_rollup detects the small heap and fails fast with this
fix instead. On a cluster, size executors via submit flags as usual.)

Each hash bucket of documents is one atomic unit of work with a lineage row;
a killed run resumes where it stopped; disjoint bucket ranges can be driven
by concurrent submissions via --bucket-lo/--bucket-hi (each submission owns
[lo, hi); --max-buckets additionally bounds one invocation).
Per-source metrics are appended after the buckets finish.

--refresh EPOCH switches to incremental continuous-aggregate maintenance
(checkpoint.refresh_incremental): only the docs that arrived since the last
refresh (per-source watermarks on the monotone doc sequence) roll up, into
the epoch's own partitions — the nightly top-up submit, vs the full
bucketed backfill above.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="sequences table (path or, "
                    "with TSROLLUP_TABLE_FORMAT=iceberg, a catalog table)")
    ap.add_argument("--output", required=True, help="rollup output root")
    ap.add_argument("--buckets", type=int, default=None,
                    help="hash buckets of a checkpointed run (default 64)")
    ap.add_argument("--max-buckets", type=int, default=None,
                    help="bound the work of this invocation (shard/resume)")
    ap.add_argument("--bucket-lo", type=int, default=None,
                    help="with --bucket-hi: restrict to buckets in "
                    "[lo, hi) — the disjoint-range handle for concurrent "
                    "submissions")
    ap.add_argument("--bucket-hi", type=int, default=None)
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--window", type=int, default=None)
    ap.add_argument("--compressed", action="store_true",
                    help="store codec-packed tiers (Gorilla/delta-of-delta)")
    ap.add_argument("--refresh", type=int, default=None, metavar="EPOCH",
                    help="incremental refresh mode: roll up only docs past "
                    "the stored per-source watermarks, committed as this "
                    "epoch (idempotent per epoch; incompatible with the "
                    "bucket sharding flags)")
    ap.add_argument("--lag", action="store_true",
                    help="report per-source refresh lag (committed "
                    "watermark vs input high seq + pending docs) and exit "
                    "— the staleness check an orchestrator gates on")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from tsrollup import BASE_WINDOW
    from tsrollup.checkpoint import read_lineage, run_checkpointed
    from tsrollup.session import get_spark

    spark = get_spark(f"tsrollup-{args.run_id}", master=args.master)
    # Under spark-submit the JVM pre-exists, so the session factory's
    # spark.driver.memory conf is silently ignored — a LOCAL-mode submit
    # then runs driver+executors on the default 1g heap, and the
    # vectorized parquet reader OOMs mid-run on wide token rows
    # (reproduced round 5; shrinking the reader batch to 512 rows did NOT
    # save a local[8] run). The job is checkpoint-resumable, but an OOM
    # crash after partial work is strictly worse than an up-front error:
    # fail fast with the fix in hand.
    max_heap = int(spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
                   .maxMemory())
    master = spark.sparkContext.master
    # only single-JVM local mode ("local"/"local[N]") runs the executors in
    # the driver heap; local-cluster[...] and real masters size executors
    # separately, so a small DRIVER heap is fine there
    if max_heap < 2 * 1024 ** 3 and (
            master == "local" or master.startswith("local[")):
        print(f"ERROR: JVM heap is {max_heap // 1024**2} MiB — too small "
              "for a local-mode rollup over wide token rows (the "
              "vectorized parquet reader OOMs). spark.driver.memory cannot "
              "apply once spark-submit has launched the JVM: re-run with "
              "--driver-memory 4g (or higher).", file=sys.stderr)
        spark.stop()
        return 2
    if (args.bucket_lo is None) != (args.bucket_hi is None):
        print("ERROR: --bucket-lo and --bucket-hi must be given together",
              file=sys.stderr)
        spark.stop()
        return 2
    if args.lag:
        from tsrollup.checkpoint import refresh_lag

        rows = refresh_lag(spark, args.input, args.output) \
            .orderBy("source").collect()
        for r in rows:
            print(f"{r.source}: watermark={r.watermark_seq} "
                  f"input_max={r.input_max_seq} "
                  f"pending={r.pending_docs} caught_up={r.caught_up}")
        behind = sum(int(r.pending_docs) for r in rows)
        print(f"total pending: {behind}")
        spark.stop()
        return 0 if behind == 0 else 1
    if args.refresh is not None:
        if (args.bucket_lo is not None or args.max_buckets is not None
                or args.buckets is not None):
            print("ERROR: --refresh is incompatible with the bucket "
                  "sharding flags", file=sys.stderr)
            spark.stop()
            return 2
        from tsrollup.checkpoint import refresh_incremental

        n = refresh_incremental(spark, args.input, args.output,
                                epoch=args.refresh, run_id=args.run_id,
                                window=args.window or BASE_WINDOW,
                                compressed=args.compressed)
        print(f"epoch {args.refresh}: rolled up {n} new doc(s)")
        spark.stop()
        return 0
    n_buckets = 64 if args.buckets is None else args.buckets
    brange = (None if args.bucket_lo is None
              else (args.bucket_lo, args.bucket_hi))
    done = run_checkpointed(
        spark, args.input, args.output,
        n_buckets=n_buckets, run_id=args.run_id,
        window=args.window or BASE_WINDOW,
        compressed=args.compressed, max_buckets=args.max_buckets,
        bucket_range=brange)
    lineage = read_lineage(spark, args.output)
    n_done = lineage.filter("status = 'done'").count()
    print(f"completed {len(done)} bucket(s) this run; "
          f"{n_done}/{n_buckets} total done")

    if n_done == n_buckets and not args.compressed:
        from tsrollup.checkpoint import read_rollup
        from tsrollup.io import write_table
        from tsrollup.rollup import per_source_stats

        metrics = per_source_stats(read_rollup(spark, args.output))
        write_table(metrics, f"{args.output}/_metrics/per_source")
        print("per-source metrics written")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
