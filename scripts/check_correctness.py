#!/usr/bin/env python
"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same sf dir, then compares row count, schema (column
names), and an order-insensitive value hash (columns sorted by name, rows
sorted by all columns).

Usage: python scripts/check_correctness.py [--driver] [sf_dir] [query ...]

``--driver`` emulates the round driver's environment: a plain
``SparkSession`` built WITHOUT ``session_builder`` (so no pre-set
nanosAsLong/UTC confs — queries must self-provision), plus a strict
dtype-kind gate (an integer Spark column vs a float oracle column is a
failure even when the %.9g hash would collide — DuckDB's HUGEINT→float64
conversion burned round 1 exactly this way).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def nonscalar_cols(df: pd.DataFrame) -> list[str]:
    """Columns holding list/array/dict/Row cells — the driver's pandas
    canonicalizer cannot sort these (`unhashable type: 'list'`, the r3
    `kmeans_refine` red row). The local gate fails them LOUDLY instead
    of tuple-izing so local-green ⇒ driver-green by construction."""
    bad = []
    for c in df.columns:
        if df[c].dtype != object:
            continue
        s = df[c].dropna()
        if len(s) and s.map(
            lambda v: isinstance(v, (list, tuple, np.ndarray, dict))
            or type(v).__name__ == "Row"
        ).any():
            bad.append(c)
    return bad


def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: v.hex()
                if isinstance(v, (bytes, bytearray))
                else v
            )
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("int64")
        if df[c].dtype == np.float32:
            df[c] = df[c].astype("float64")
        # unify nullable ints
        if str(df[c].dtype) in ("Int64", "Int32", "int32"):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
        if str(df[c].dtype) == "int64" and df[c].isna().any():
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(
        drop=True
    )


def value_hash(df: pd.DataFrame) -> str:
    df = norm_frame(df)
    payload = df.to_csv(index=False, float_format="%.9g").encode()
    return hashlib.md5(payload).hexdigest()


def dtype_kind(dtype) -> str:
    s = str(dtype)
    if s.startswith(("int", "Int", "uint", "UInt")):
        return "int"
    if s.startswith(("float", "Float")):
        return "float"
    if s.startswith("datetime"):
        return "datetime"
    if s == "bool" or s.startswith("boolean"):
        return "bool"
    return "other"


def kind_mismatches(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Columns whose dtype *kind* differs between Spark and the oracle.

    The driver hashes raw values — int64 `5` and float64 `5.0` format
    differently there even though the local %.9g hash collides. NaN-bearing
    int results legitimately arrive as float on one side, so only flag
    int-vs-float splits with no NULLs involved."""
    bad = []
    for c in sdf.columns:
        if c not in odf.columns:
            continue
        ks, ko = dtype_kind(sdf[c].dtype), dtype_kind(odf[c].dtype)
        if ks == ko:
            continue
        if {ks, ko} == {"int", "float"} and (
            sdf[c].isna().any() or odf[c].isna().any()
        ):
            continue
        bad.append(f"{c}: spark={sdf[c].dtype} oracle={odf[c].dtype}")
    return bad


def main() -> int:
    argv = sys.argv[1:]
    driver_like = "--driver" in argv
    argv = [a for a in argv if a != "--driver"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as e

    from feast_java_old_spark.sources.tables import (
        host_cpus,
        host_driver_memory,
        session_builder,
    )

    if driver_like:
        # The round driver builds its own session with default confs — no
        # nanosAsLong, no UTC pin. Every queries() entry must survive that.
        # Only its size comes from the host.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("check-correctness-driver")
            .master(f"local[{host_cpus()}]")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", host_driver_memory())
            .getOrCreate()
        )
    else:
        spark = session_builder(
            "check-correctness",
            **{
                "spark.sql.shuffle.partitions": "16",
                "spark.ui.enabled": "false",
            },
        ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            ns = nonscalar_cols(sdf)
            if ns:
                print(f"FAIL  {name}: non-scalar output columns {ns} (rows-only query)")
                failures.append(name)
            else:
                print(f"rows  {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            odf = con.sql(sql).df()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {str(ex)[:200]}")
            failures.append(name)
            continue
        dt_s = time.perf_counter() - t0
        problems = []
        ns = nonscalar_cols(sdf)
        if ns:
            problems.append(
                f"non-scalar Spark output columns {ns} — driver canon "
                "cannot sort these; reshape (posexplode) to scalar rows"
            )
        if len(sdf) != len(odf):
            problems.append(f"rowcount {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns {sorted(sdf.columns)} != {sorted(odf.columns)}")
        if not problems:
            kinds = kind_mismatches(sdf, odf)
            if kinds:
                problems.append(f"dtype-kind mismatch: {kinds[:5]}")
        if not problems:
            hs, ho = value_hash(sdf), value_hash(odf)
            if hs != ho:
                problems.append("value-hash mismatch")
                a, b = norm_frame(sdf), norm_frame(odf)
                neq = (a != b) & ~(a.isna() & b.isna())
                bad_cols = [c for c in a.columns if neq[c].any()]
                problems.append(f"differing columns: {bad_cols[:5]}")
                for c in bad_cols[:2]:
                    i = neq[c].idxmax()
                    problems.append(f"  {c}[{i}]: spark={a[c][i]!r} oracle={b[c][i]!r}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"ok    {name}: {len(sdf)} rows, {dt_s:.1f}s")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("ALL PASS")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
