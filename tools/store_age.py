"""Store-age curve of the incremental refresh path: how the real-time read
and the refresh grow with the number of stored epochs when every epoch adds
the same small delta.

    python tools/store_age.py --label change --out BENCH/store_age.json
    python tools/store_age.py --label parent --repo PARENT_CHECKOUT \\
        --out BENCH/store_age.json

The fixture is perfbench's ``refresh`` corpus at its smoke size (seed 3,
96 base docs in part files of 32), refreshed as epoch 0 into a codec-packed
store. Each later epoch appends one file of ``--delta`` new docs and
refreshes it. When the store holds a checkpoint's number of epochs
(``--at``, default 8, 24, 48, 96), the pending delta is first read
``--reps`` times through ``read_routed(read_realtime(...))``, timing the
builder and the collect separately, and then its refresh is timed. The
first read's builder is also recorded on its own (``read_build_first_s``):
where ``read_realtime`` memoizes its view per committed state, the later
reps reuse it, so their median is the cost of a repeated read. Each
point also records the parquet files under the store's ``data/`` and the
input files the read's fresh tail scans (``inputFiles()``).

``--repo`` imports ``tsrollup`` (and perfbench's fixtures) from another
checkout, so one script measures two trees. Results merge into ``--out``
under ``--label``; each run reports whether its last checkpoint stays
within 15% of its first for the read and for the refresh. That is a
report, not a gate: the stored epochs keep growing until
``compact_epochs`` runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path)
               for f in fs)


def _tail_files(df, inp: str) -> int:
    from urllib.parse import urlparse

    return sum(urlparse(f).path.startswith(inp + os.sep)
               for f in df.inputFiles())


def run(args) -> dict:
    sys.path.insert(0, args.repo)
    import pyarrow.parquet as pq

    from perfbench import fixtures
    from tsrollup import BASE_WINDOW as W
    from tsrollup.checkpoint import read_realtime, refresh_incremental
    from tsrollup.rollup import read_routed
    from tsrollup.session import get_spark

    work = tempfile.mkdtemp(prefix="store-age-", dir=args.work)
    inp, store = os.path.join(work, "input"), os.path.join(work, "store")
    shutil.copytree(fixtures.sequences(os.path.join(work, "cache"),
                                       args.seed, args.base, args.dpf), inp)
    spark = get_spark("store-age", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    points = []
    try:
        refresh_incremental(spark, inp, store, epoch=0, compressed=True)
        next_seq = args.base
        for e in range(1, max(args.at) + 1):
            tbl = fixtures.append_batch(args.seed, e, args.delta, next_seq)
            next_seq += args.delta
            pq.write_table(tbl, os.path.join(inp, f"part-a{e:05d}.parquet"))
            if e not in args.at:
                refresh_incremental(spark, inp, store, epoch=e,
                                    compressed=True)
                continue
            build, execute = [], []
            for _ in range(args.reps):
                t0 = time.perf_counter()
                df = read_routed(read_realtime(spark, inp, store),
                                 0, 64 * W, 64)
                t1 = time.perf_counter()
                df.collect()
                build.append(t1 - t0)
                execute.append(time.perf_counter() - t1)
            tail = _tail_files(read_realtime(spark, inp, store), inp)
            t0 = time.perf_counter()
            n = refresh_incremental(spark, inp, store, epoch=e,
                                    compressed=True)
            refresh_s = time.perf_counter() - t0
            assert n == args.delta, (e, n)
            p = {"epochs": e,
                 "read_build_first_s": round(build[0], 4),
                 "read_build_s": round(statistics.median(build), 4),
                 "read_exec_s": round(statistics.median(execute), 4),
                 "refresh_s": round(refresh_s, 4),
                 "store_files": _parquet_files(os.path.join(store, "data")),
                 "tail_files": tail}
            print(json.dumps(p), flush=True)
            points.append(p)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    first, last = points[0], points[-1]

    def read_s(p):
        return p["read_build_s"] + p["read_exec_s"]

    return {"master": args.master,
            "load_avg_1m_at_end": round(os.getloadavg()[0], 2),
            "points": points,
            f"read_{last['epochs']}_over_{first['epochs']}":
                round(read_s(last) / read_s(first), 3),
            f"refresh_{last['epochs']}_over_{first['epochs']}":
                round(last["refresh_s"] / first["refresh_s"], 3),
            "within_15pct": {
                "read": read_s(last) <= 1.15 * read_s(first),
                "refresh": last["refresh_s"] <= 1.15 * first["refresh_s"]}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--label", required=True)
    ap.add_argument("--out", default=os.path.join(ROOT, "BENCH",
                                                  "store_age.json"))
    ap.add_argument("--repo", default=ROOT)
    ap.add_argument("--at", default="8,24,48,96",
                    help="stored-epoch counts to measure at")
    ap.add_argument("--delta", type=int, default=16)
    ap.add_argument("--base", type=int, default=96)
    ap.add_argument("--dpf", type=int, default=32)
    ap.add_argument("--seed", type=int, default=3)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--work", default=None, help="scratch parent directory")
    args = ap.parse_args()
    args.at = sorted({int(x) for x in args.at.split(",")})
    res = run(args)
    out = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            out = json.load(f)
    out.setdefault("config", {k: getattr(args, k) for k in
                              ("at", "delta", "base", "dpf", "seed",
                               "reps")})
    out.setdefault("runs", {})[args.label] = res
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in res.items() if k != "points"}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
