"""Local replica of the driver's correctness gate.

Runs every query in __spark_entry__.queries() once on Spark and its
oracle_sql once on DuckDB over the same parquet tables, then applies two
checks to the pair of results:

- value: row count, sorted column names, and values (exact for
  ints/strings/timestamps, exact for doubles too — the battery is
  engineered to be bit-deterministic);
- strict: a dtype-sensitive hash of the canonicalized frames
  (``pd.util.hash_pandas_object``), the form a pandas-level correctness
  gate uses. It tells int64 123 from float64 123.0 (DuckDB returns HUGEINT
  for integer SUMs where Spark returns bigint) and fails on array-typed
  cells, which cannot be hashed. On mismatch it prints per-column dtype
  notes so the offending column is obvious.

A row is green only when both checks pass. Rows without an oracle are
checked for a non-empty result only.

Usage: python tools/verify_parity.py [sf_dir] [query ...]
       python tools/verify_parity.py --json OUT.json [sf_dir] [query ...]

``--json`` additionally writes a machine-readable per-query artifact with
both verdicts (``value_ok``, ``strict_ok``) per row.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from etl_sentinel_imagery_spark.session import get_spark
from etl_sentinel_imagery_spark.sources.tables import TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def shape_errors(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return [
            f"columns differ: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}"
        ]
    if len(spark_df) != len(duck_df):
        return [f"row count: spark={len(spark_df)} duck={len(duck_df)}"]
    return []


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    errs = shape_errors(spark_df, duck_df)
    if errs:
        return errs
    s, d = normalize(spark_df), normalize(duck_df)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if sv.dtype.kind == "f" or dv.dtype.kind == "f":
            sa, da = sv.astype(float).to_numpy(), dv.astype(float).to_numpy()
            mism = 0
            for x, y in zip(sa, da):
                if x != y and not (math.isnan(x) and math.isnan(y)):
                    mism += 1
            if mism:
                bad = [(x, y) for x, y in zip(sa, da) if x != y][:3]
                errs.append(f"col {c}: {mism} float mismatches, e.g. {bad}")
        else:
            neq = (sv.astype(str) != dv.astype(str)).sum()
            if neq:
                ex = [
                    (a, b)
                    for a, b in zip(sv.astype(str), dv.astype(str))
                    if a != b
                ][:3]
                errs.append(f"col {c}: {neq} mismatches, e.g. {ex}")
    return errs


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            s = pd.to_datetime(df[c])
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def strict_hash(df: pd.DataFrame) -> str:
    h = pd.util.hash_pandas_object(df, index=False)
    return hashlib.md5(h.to_numpy().tobytes()).hexdigest()


def strict_compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    """The dtype-sensitive check: equal hashes of the canonical frames."""
    errs = shape_errors(spark_df, duck_df)
    if errs:
        return errs
    try:
        s = canonicalize(spark_df)
    except Exception as e:
        return [f"spark canonicalize error: {e!r}"]
    try:
        d = canonicalize(duck_df)
    except Exception as e:
        return [f"duck canonicalize error: {e!r}"]
    try:
        hs = strict_hash(s)
    except Exception as e:
        return [f"spark hash error: {e!r}"]
    try:
        hd = strict_hash(d)
    except Exception as e:
        return [f"duck hash error: {e!r}"]
    if hs == hd:
        return []
    for c in s.columns:
        note = ""
        if str(s[c].dtype) != str(d[c].dtype):
            note = " DTYPE-MISMATCH"
        try:
            col_eq = strict_hash(s[[c]]) == strict_hash(d[[c]])
        except Exception as e:
            errs.append(f"col {c}: hash error {e!r}")
            continue
        if not col_eq or note:
            ex = ""
            if not col_eq:
                diff = s[c].astype(str) != d[c].astype(str)
                idx = diff[diff].index[:2].tolist()
                ex = f" e.g. {[(s[c][i], d[c][i]) for i in idx]}"
            errs.append(
                f"col {c}: spark={s[c].dtype} duck={d[c].dtype}"
                f"{note}{' HASH-DIFF' if not col_eq else ''}{ex}"
            )
    return errs or ["hash differs but no column isolated (row order?)"]


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = get_spark("verify-parity")
    con = duck_connection(sf_dir)
    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()

    results: dict[str, dict] = {}
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        rec = results[name] = {
            "ok": False,
            "mode": "hash" if name in sqls else "rows_only",
            "rows": None,
            "sec": None,
            "err": None,
            "value_ok": None,
            "strict_ok": None,
        }
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            rec["err"] = f"spark error: {e}"
            failures += 1
            continue
        rec["rows"] = len(sdf)
        rec["sec"] = round(time.time() - t0, 1)
        if name not in sqls:
            print(f"ok   {name}: rows={len(sdf)} (no oracle, rows-only) "
                  f"[{time.time()-t0:.1f}s]")
            if len(sdf) == 0:
                print(f"WARN {name}: zero rows")
                rec["err"] = "zero rows"
                failures += 1
            else:
                rec["ok"] = True
            continue
        try:
            ddf = con.execute(sqls[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            rec["err"] = f"duckdb error: {e}"
            failures += 1
            continue
        errs = compare(name, sdf, ddf)
        serrs = strict_compare(sdf, ddf)
        rec["value_ok"], rec["strict_ok"] = not errs, not serrs
        errs = [f"value: {e}" for e in errs] + [f"strict: {e}" for e in serrs]
        if errs:
            failures += 1
            print(f"FAIL {name}: rows={len(sdf)}")
            for e in errs:
                print(f"     {e}")
            rec["err"] = "; ".join(errs)
        else:
            rec["ok"] = True
            print(f"ok   {name}: rows={len(sdf)} value-match strict-hash "
                  f"[{time.time()-t0:.1f}s]")

    if json_out:
        payload = {
            "sf_dir": sf_dir,
            "n_queries": len(results),
            "n_ok": sum(1 for r in results.values() if r["ok"]),
            "all_green": failures == 0,
            "queries": results,
        }
        with open(json_out, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        print(f"# wrote {json_out}")

    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
