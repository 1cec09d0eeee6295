"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Runs every QUERIES entry and, where ORACLE_SQL exists, the oracle on the
same parquet via DuckDB; compares row count + column names + order-
insensitive values (columns sorted by name, rows sorted by all columns).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pysparkflow.relational.registry import (
    ORACLE_SQL,
    QUERIES,
    SF_PINNED_ORACLES,
    TABLES,
    TOLERANCE_ORACLES,
)
from pysparkflow.session import get_spark


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.tz_localize(None) if getattr(df[c].dt, "tz", None) else df[c]
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        else:
            try:
                df[c] = df[c].astype("int64")
            except (TypeError, ValueError):
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    failures = []
    results: dict[str, str] = {}
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            results[name] = f"FAIL: spark error {type(e).__name__}"
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            continue
        el = time.time() - t0
        if name in TOLERANCE_ORACLES:
            # sketch entries (VERDICT r5 #1): the Spark plan returns only
            # estimates; DuckDB computes exact `<col>__lo`/`<col>__hi`
            # bounds and the comparator asserts containment per row
            spec = TOLERANCE_ORACLES[name]
            try:
                odf = con.sql(spec["sql"]).df()
            except Exception as e:
                failures.append(name)
                results[name] = "FAIL: tolerance oracle error"
                print(f"FAIL  {name}: tolerance oracle error: {str(e)[:300]}")
                continue
            keys = spec["keys"]
            bound_cols = sorted(
                c[: -len("__lo")] for c in odf.columns if c.endswith("__lo")
            )
            merged = sdf.merge(odf, on=keys, how="outer", indicator=True)
            bad = merged[merged["_merge"] != "both"]
            if len(bad):
                failures.append(name)
                results[name] = f"FAIL: tolerance keys differ ({len(bad)})"
                print(f"FAIL  {name}: tolerance key mismatch:\n{bad.head(5)}")
                continue
            viol = []
            for c in bound_cols:
                # NaN/null estimates must FAIL, not slip through: pandas
                # comparisons against NaN are all False, which would
                # read as "inside the band" for a broken sketch query
                m = merged[
                    merged[c].isna()
                    | merged[f"{c}__lo"].isna()
                    | merged[f"{c}__hi"].isna()
                    | (merged[c] < merged[f"{c}__lo"])
                    | (merged[c] > merged[f"{c}__hi"])
                ]
                if len(m):
                    viol.append((c, m))
            # structural-precondition guard (ADVICE r8): some tolerance
            # checks are only sound under a data-distribution margin
            # (approx_topk's rank-5/rank-6 gap vs the MG bound); assert
            # it on the actual data instead of assuming it
            if "guard_sql" in spec and not viol:
                gdf = con.sql(spec["guard_sql"]).df()
                if not bool(gdf["ok"].all()):
                    failures.append(name)
                    results[name] = "FAIL: tolerance guard violated"
                    print(
                        f"FAIL  {name}: guard precondition violated:\n"
                        f"{gdf.head(5)}"
                    )
                    continue
            if viol:
                failures.append(name)
                results[name] = "FAIL: estimate outside tolerance band"
                for c, m in viol:
                    print(f"FAIL  {name}: {c} outside band:\n{m.head(5)}")
            else:
                results[name] = (
                    f"PASS-TOL: {len(sdf)} rows within bands "
                    f"({', '.join(bound_cols)})"
                )
                print(
                    f"PASS  {name}: rows={len(sdf)} within tolerance bands "
                    f"({el:.1f}s)"
                )
            continue
        if name not in ORACLE_SQL:
            results[name] = f"rows-only: {len(sdf)} rows"
            print(f"ok*   {name}: rows={len(sdf)} ({el:.1f}s) [rows-only, no oracle]")
            continue
        pinned = SF_PINNED_ORACLES.get(name)
        if pinned and not sf_dir.rstrip("/").endswith(pinned):
            results[name] = f"rows-only here: {len(sdf)} rows (oracle pinned {pinned})"
            print(
                f"ok*   {name}: rows={len(sdf)} ({el:.1f}s) "
                f"[oracle pinned to {pinned}, skipped here]"
            )
            continue
        try:
            odf = con.sql(ORACLE_SQL[name]).df()
        except Exception as e:
            failures.append(name)
            results[name] = "FAIL: oracle error"
            print(f"FAIL  {name}: oracle error: {str(e)[:300]}")
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            failures.append(name)
            results[name] = "FAIL: columns differ"
            print(
                f"FAIL  {name}: columns differ spark={sorted(sdf.columns)} "
                f"oracle={sorted(odf.columns)}"
            )
            continue
        if len(sdf) != len(odf):
            failures.append(name)
            results[name] = f"FAIL: rowcount {len(sdf)} vs {len(odf)}"
            print(f"FAIL  {name}: rowcount spark={len(sdf)} oracle={len(odf)}")
            continue
        a, b = normalize(sdf), normalize(odf)
        if a.equals(b):
            results[name] = f"PASS: {len(sdf)} rows"
            print(f"PASS  {name}: rows={len(sdf)} ({el:.1f}s)")
        else:
            failures.append(name)
            neq = (a != b).any(axis=1)
            results[name] = f"FAIL: {int(neq.sum())}/{len(a)} rows differ"
            print(f"FAIL  {name}: {int(neq.sum())}/{len(a)} rows differ; first:")
            print(pd.concat([a[neq].head(3), b[neq].head(3)]).to_string())
    print("FAILURES:", failures if failures else "none")
    if not only:
        # full-surface run: persist the pass list as committed evidence
        # (the driver's CORRECTNESS gate samples only the first 50
        # entries; this artifact carries the whole surface)
        import json
        import os

        # one committed artifact per scale factor: sf0.01 keeps the
        # historical LOCAL name; sf0.001/sf0.1 get SF-suffixed names
        # (ORACLE_CHECK_SF01.json closes the "correct at the benched
        # scale" loop — VERDICT r11 #6)
        base = os.path.basename(os.path.normpath(sf_dir))
        fname = {
            "sf0.01": "ORACLE_CHECK_LOCAL.json",
            "sf0.001": "ORACLE_CHECK_SF0001.json",
            "sf0.1": "ORACLE_CHECK_SF01.json",
        }.get(base, f"ORACLE_CHECK_{base.replace('.', '_')}.json")
        out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           fname)
        with open(out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_entries": len(results),
                    "n_pass_hash_match": sum(
                        1 for v in results.values() if v.startswith("PASS:")
                    ),
                    "n_pass_tolerance": sum(
                        1 for v in results.values() if v.startswith("PASS-TOL")
                    ),
                    "n_rows_only": sum(
                        1 for v in results.values() if v.startswith("rows-only")
                    ),
                    "failures": failures,
                    "results": results,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
            fh.write("\n")
        print(f"wrote {out}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
