"""Local replica of the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() twin on DuckDB at
sf0.01 (or --sf), compares row count, schema width, and an order-insensitive
value hash (columns sorted by name, rows sorted, values canonicalized).

Usage: python tools/check_oracles.py [--sf 0.01] [--only name1,name2] [--write-times]

--write-times (full runs only) records each query's Spark wall time in
BENCH/ORACLE_TIMES.json, after one untimed run of the first query warms
the session; without it the run writes no file and skips the warm-up.
"""

from __future__ import annotations

import argparse
import decimal
import hashlib
import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "nation part orders documents".split()


def canon(v) -> str:
    # DTYPE-STRICT on purpose: a float 3.0 hashes differently from an int 3.
    # The driver's gate does NOT collapse int-valued floats (r1+r2 evidence:
    # DuckDB HUGEINT sums materialize as float64 in pandas and hash-mismatch
    # Spark's int64), so the local replica must be at least as strict —
    # oracles must CAST integer sums to BIGINT and carry rounded double sums
    # through decimals so both sides land on the same dtype.
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, decimal.Decimal):
        # a Decimal column reaching the hash is itself an oracle-design bug
        # (the driver may materialize it as float64); flag loudly.
        raise TypeError("Decimal value reached frame_hash — cast to DOUBLE/BIGINT in the query")
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if f == 0.0:
            f = 0.0  # normalize -0.0
        return repr(f)
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(
        ",".join(canon(v) for v in row) for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--write-times", action="store_true",
                    help="full runs: record per-query Spark walls in BENCH/ORACLE_TIMES.json")
    args = ap.parse_args()
    sf_dir = f"/root/testdata/sf{args.sf}"

    import __spark_entry__ as E
    from shapely_spark.spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    spark = get_spark(app="check_oracles", master=f"local[{cpus}]",
                      shuffle_partitions=max(8, cpus))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = E.queries(), E.oracle_sql()
    names = args.only.split(",") if args.only else list(qs)
    fails = []
    walls: dict[str, float] = {}
    if args.write_times and not args.only:
        # untimed warm-up: otherwise the first timed query pays the
        # session's JIT and Python-worker start-up
        qs[names[0]](spark, sf_dir).toPandas()
    for name in names:
        t0 = time.time()
        try:
            spdf = qs[name](spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error {type(ex).__name__}: {ex}")
            fails.append(name)
            continue
        walls[name] = round(time.time() - t0, 2)
        if name not in os_:
            print(f"rows  {name}: {len(spdf)} rows (rows-only check, no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            opdf = con.execute(os_[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error {ex}")
            fails.append(name)
            continue
        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rows {len(spdf)} != {len(opdf)}")
        if sorted(map(str.lower, spdf.columns)) != sorted(map(str.lower, opdf.columns)):
            problems.append(f"cols {sorted(spdf.columns)} != {sorted(opdf.columns)}")
        hs, ho = frame_hash(spdf), frame_hash(opdf)
        if hs != ho:
            problems.append(f"hash {hs} != {ho}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            fails.append(name)
            # show a sample diff
            try:
                s = spdf.reindex(sorted(spdf.columns), axis=1)
                o = opdf.reindex(sorted(opdf.columns), axis=1)
                s_rows = {",".join(canon(v) for v in r) for r in s.itertuples(index=False, name=None)}
                o_rows = {",".join(canon(v) for v in r) for r in o.itertuples(index=False, name=None)}
                only_s = list(s_rows - o_rows)[:3]
                only_o = list(o_rows - s_rows)[:3]
                for r in only_s:
                    print(f"        spark-only: {r}")
                for r in only_o:
                    print(f"        oracle-only: {r}")
            except Exception:
                pass
        else:
            print(f"OK    {name}: {len(spdf)} rows, hash {hs} [{time.time()-t0:.1f}s]")
    print(f"\n{len(names) - len(fails)}/{len(names)} passed")
    if args.write_times and not args.only:
        # record per-query Spark wall times so oracle-gate cost regressions
        # are visible round-over-round without a full bench (r3 verdict
        # item 8; the driver's PROGRESS file is driver-owned, so this
        # lives in the repo next to the other bench evidence)
        import json

        out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "BENCH", "ORACLE_TIMES.json")
        with open(out, "w") as fh:
            json.dump({"sf": args.sf, "spark_wall_sec": walls}, fh, indent=1)
        print(f"wall times -> {out}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
