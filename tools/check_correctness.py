"""Local stand-in for the driver's correctness gate: run each queries() entry
on Spark at sf0.01 and its oracle_sql() in DuckDB over the same parquet,
compare row count + column names + order-insensitive values (exact for
ints/strings, bitwise for floats).

Usage: python tools/check_correctness.py [--json PATH] [query ...]

``--json PATH`` also writes a per-query correctness ledger: a JSON object
naming the scale factor, the Spark master and its ``defaultParallelism``,
whose ``queries`` list holds one record per query run with its name, status
(OK / FAIL / ROWS-ONLY), Spark row count, seconds (build + collect), the
result schema and ``hash``, the sha256 of its sorted rows — so two ledgers
also tell whether a ROWS-ONLY query returned the same rows.

The session runs on ``local[$SPARK_GRAFT_CPUS]``, read as bench.py reads it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def row_hash(pdf: pd.DataFrame) -> str:
    """sha256 of the rows of ``pdf`` with columns in name order, each row
    rendered by ``repr`` of its values (arrays as lists), rows sorted."""
    cols = sorted(pdf.columns)

    def cell(v) -> str:
        return repr(v.tolist() if isinstance(v, np.ndarray) else v)

    rows = sorted("\x1f".join(map(cell, r))
                  for r in pdf[cols].itertuples(index=False, name=None))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def compare(name: str, a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(a.columns) != sorted(b.columns):
        return [f"columns differ: spark={sorted(a.columns)} duck={sorted(b.columns)}"]
    if len(a) != len(b):
        errs.append(f"row count: spark={len(a)} duck={len(b)}")
        return errs
    a, b = normalize(a), normalize(b)
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        try:
            if np.issubdtype(a[c].dtype, np.floating) or np.issubdtype(
                    b[c].dtype, np.floating):
                av = a[c].astype(np.float64).values
                bv = b[c].astype(np.float64).values
                bad = ~((av == bv) | (np.isnan(av) & np.isnan(bv)))
                if bad.any():
                    i = int(np.flatnonzero(bad)[0])
                    errs.append(
                        f"col {c}: {bad.sum()} float mismatches "
                        f"(first @{i}: {av[i]!r} vs {bv[i]!r}, "
                        f"maxdiff {np.abs(av[bad]-bv[bad]).max():.3e})")
            else:
                eq = av == bv
                if not np.asarray(eq).all():
                    bad = ~np.asarray(eq)
                    i = int(np.flatnonzero(bad)[0])
                    errs.append(f"col {c}: {bad.sum()} mismatches "
                                f"(first @{i}: {av[i]!r} vs {bv[i]!r})")
        except Exception as e:  # noqa: BLE001
            errs.append(f"col {c}: compare error {e}")
    return errs


def main() -> int:
    import __spark_entry__ as entrymod
    from tsrollup.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--json", metavar="PATH",
                    help="also write one record per query to PATH")
    ap.add_argument("query", nargs="*", help="query names (default: all)")
    args = ap.parse_args()
    only = set(args.query)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    master = f"local[{CPUS}]"
    spark = get_spark("correctness", master=master)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    records = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {"name": name, "status": "FAIL", "rows": None, "seconds": None,
               "schema": None, "hash": None}
        records.append(rec)
        t0 = time.perf_counter()
        try:
            df = fn(spark, SF)
            spdf = df.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {str(e)[:300]}")
            continue
        rec["seconds"] = round(time.perf_counter() - t0, 3)
        rec.update(rows=len(spdf), schema=df.schema.simpleString(),
                   hash=row_hash(spdf))
        if name not in oracles:
            rec["status"] = "ROWS-ONLY"
            print(f"ROWS-ONLY {name}: {len(spdf)} rows "
                  f"({len(spdf.columns)} cols)")
            continue
        try:
            dpdf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            continue
        errs = compare(name, spdf, dpdf)
        if errs:
            print(f"FAIL {name} ({len(spdf)} rows):")
            for e in errs:
                print(f"   {e}")
        else:
            rec["status"] = "OK"
            print(f"OK   {name}: {len(spdf)} rows match exactly")
    parallelism = spark.sparkContext.defaultParallelism
    spark.stop()
    failed = [r["name"] for r in records if r["status"] == "FAIL"]
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"sf": os.path.basename(SF.rstrip("/")),
                       "master": master,
                       "defaultParallelism": parallelism,
                       "queries": records}, f, indent=1)
            f.write("\n")
    print(f"\n{'ALL GREEN' if not failed else 'FAILED: ' + ', '.join(failed)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
