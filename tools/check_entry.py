"""Self-check harness mimicking the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB (same parquet tables registered as views), then compares
row count, column names, and values (rows sorted, columns sorted by
name). Reports max numeric deviation so float-sensitive queries can
be tightened before the real driver runs.

Usage: python3 tools/check_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import importlib.util
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from cs533_big_data_data_mining_spark.session import get_spark  # noqa: E402
from cs533_big_data_data_mining_spark.sources.tables import TABLES  # noqa: E402


def load_entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> bool:
    ok = True
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        print(f"  [{name}] SCHEMA MISMATCH spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}")
        return False
    if len(spark_pdf) != len(oracle_pdf):
        print(f"  [{name}] ROWCOUNT MISMATCH spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
        ok = False
    s, o = canon(spark_pdf), canon(oracle_pdf)
    if len(s) == len(o):
        for c in s.columns:
            sv, ov = s[c].to_numpy(), o[c].to_numpy()
            s_int = np.issubdtype(sv.dtype, np.integer)
            o_int = np.issubdtype(ov.dtype, np.integer)
            if s_int != o_int:
                # int on one engine, float on the other: values can be
                # equal yet the driver's value HASH differs by type —
                # exactly the CORRECTNESS_r05 pack_sequences failure
                # (DuckDB windowed sum -> HUGEINT -> pandas float64).
                # Cast the oracle (or the query) so dtypes agree.
                print(
                    f"  [{name}] col {c}: DTYPE MISMATCH spark={sv.dtype} oracle={ov.dtype}"
                    " (driver hash risk)"
                )
                ok = False
            if np.issubdtype(sv.dtype, np.floating) or np.issubdtype(ov.dtype, np.floating):
                sv = sv.astype(np.float64)
                ov = ov.astype(np.float64)
                exact = np.array_equal(sv, ov, equal_nan=True)
                if not exact:
                    with np.errstate(all="ignore"):
                        rel = np.nanmax(np.abs(sv - ov) / np.maximum(np.abs(ov), 1e-300))
                    print(f"  [{name}] col {c}: NOT bit-exact, max rel diff {rel:.3e}")
                    if not (rel < 1e-12 or math.isnan(rel)):
                        ok = False
            else:
                if not (sv == ov).all():
                    bad = int((sv != ov).sum())
                    print(f"  [{name}] col {c}: {bad} value mismatches")
                    print("    spark:", sv[sv != ov][:5], "oracle:", ov[sv != ov][:5])
                    ok = False
    return ok


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    mod = load_entry()
    qs, oracles = mod.queries(), mod.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        sys.exit(f"unknown query keys (not in queries()): {', '.join(unknown)}")
    # SPARK_GRAFT_CHECK_SHUFFLE=<seed>: randomize execution order —
    # determinism evidence that no query depends on session state left
    # by an earlier one (registry order is the driver's order)
    shuffle_seed = os.environ.get("SPARK_GRAFT_CHECK_SHUFFLE")
    if shuffle_seed is not None:
        import random

        names = list(qs)
        random.Random(int(shuffle_seed)).shuffle(names)
        qs = {n: qs[n] for n in names}
        print(f"# shuffled order (seed {shuffle_seed}): {names[:5]}...")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    spark = get_spark(app_name="check_entry")
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        import time

        t0 = time.time()
        spark_pdf = fn(spark, sf_dir).toPandas()
        t1 = time.time()
        if name not in oracles:
            print(f"[{name}] rows-only: {len(spark_pdf)} rows, {t1 - t0:.1f}s (no oracle)")
            continue
        oracle_pdf = con.sql(oracles[name]).df()
        if compare(name, spark_pdf, oracle_pdf):
            print(f"[{name}] OK  ({len(spark_pdf)} rows, spark {t1 - t0:.1f}s)")
            n_pass += 1
        else:
            print(f"[{name}] FAIL")
            n_fail += 1
    print(f"\n{n_pass} passed, {n_fail} failed, {len(qs) - n_pass - n_fail} rows-only/skipped")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
