"""Driver-mirroring exact parity gate.

Runs every `queries()` entry that has an `oracle_sql()` twin, side-by-side
with DuckDB at the given SF, and compares the way the driver does:

- pandas dtypes must match EXACTLY (no float64 coercion — an int64 vs
  float64 mismatch is a hash fail at the driver even when values agree);
- values must match EXACTLY after sorting columns by name then rows
  (atol=0, rtol=0), NaN==NaN.

Usage:
    python tools/exact_parity.py [sf_dir] [query ...]
    SPARK_GRAFT_VANILLA=1 python tools/exact_parity.py [sf_dir]

Defaults to /root/testdata/sf0.01 (the driver's gate SF) and all queries.
Exit code 1 if any query fails. This is the pre-ship gate VERDICT r01 #3
asked for: rounding-boundary or dtype flips can never reach the driver
first again.

DuckDB runs in-process under a 3 GB memory limit and spills to a
per-process directory under ``$SPARK_LOCAL_DIRS`` (first entry) or the
system temp dir: its default limit is 80% of RAM, and at sf0.1 the
`q_graph_triangles` oracle (a plain three-way join) grew past 12 GB under
it on a 16 GB host, beside the Spark JVM, until the OOM killer stopped the
sweep.

SPARK_GRAFT_VANILLA=1 runs the sweep on a VANILLA SparkSession (none of
the engine's tuned confs — exactly the session the external driver
brings) and ALSO executes the no-oracle queries as rows-only checks, so
the full registry is exercised under driver conditions. This is the
strongest pre-driver insurance: `load_table` self-configuration bugs
(timezone, nanos-encoding) only reproduce on an unconfigured session.
"""
from __future__ import annotations

import os
import sys
import tempfile

# Runnable from anywhere: `python tools/exact_parity.py` puts tools/ (not the
# repo root) on sys.path, which silently breaks the package import.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(
        drop=True
    )


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    errs: list[str] = []
    if len(sdf) != len(odf):
        return [f"rows {len(sdf)} != {len(odf)}"]
    sd = {c: str(t) for c, t in sdf.dtypes.items()}
    od = {c: str(t) for c, t in odf.dtypes.items()}
    for c in sorted(set(sd) | set(od)):
        if sd.get(c) != od.get(c):
            errs.append(f"dtype[{c}]: spark={sd.get(c)} oracle={od.get(c)}")
    if errs:
        return errs
    a, b = normalize(sdf), normalize(odf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av):
            neq = ~(
                (av.values == bv.values) | (av.isna().values & bv.isna().values)
            )
        else:
            neq = ~((av == bv) | (av.isna() & bv.isna())).values
        n = int(np.sum(neq))
        if n:
            i = int(np.argmax(neq))
            errs.append(
                f"value[{c}]: {n} exact mismatches, first: "
                f"spark={a[c].iloc[i]!r} oracle={b[c].iloc[i]!r}"
            )
    return errs


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from the_movie_database_import_spark.sources.readers import TESTDATA_TABLES
    from __spark_entry__ import oracle_sql, queries

    vanilla = os.environ.get("SPARK_GRAFT_VANILLA") == "1"
    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("exact-parity-vanilla")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from the_movie_database_import_spark.session import get_spark

        spark = get_spark("exact-parity")
    spark.sparkContext.setLogLevel("ERROR")
    spill_root = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0]
    con = duckdb.connect(config={
        "memory_limit": "3GB",
        "temp_directory": os.path.join(
            spill_root or tempfile.gettempdir(), f"exact-parity-duckdb-{os.getpid()}"
        ),
    })
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, orc = queries(), oracle_sql()
    failed = []
    n_checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in orc and not vanilla:
            continue
        n_checked += 1
        try:
            if name in orc:
                errs = compare(fn(spark, sf).toPandas(), con.execute(orc[name]).df())
            else:
                # vanilla mode: execute-only, like the driver's weak check —
                # only an exception can fail this branch (ADVICE r07: don't
                # dress it up as a row-count assertion; len() >= 0 was a
                # tautology). The full result is still materialized so any
                # executor-side error surfaces.
                fn(spark, sf).toPandas()
                print(f"ok   {name} (execute-only)")
                continue
        except Exception as e:  # noqa: BLE001
            errs = [f"EXCEPTION {e!r}"]
        status = "ok" if not errs else "FAIL"
        print(f"{status:4s} {name}" + ("".join(f"\n       {e}" for e in errs)))
        if errs:
            failed.append(name)
    print(f"\n{len(failed)} failed / {n_checked} checked @ {sf}"
          + (" [vanilla session]" if vanilla else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
