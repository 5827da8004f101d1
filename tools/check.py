#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [--only q1,q2,...]

Reads each SparkEntry query result (parquet written by graft.Verify),
runs the corresponding oracle SQL from oracle_sql.json in DuckDB over the
same parquet tables, sorts columns by name, and compares values strictly
(with a numeric-diff report on failure so float issues are visible).
Every declared oracle without a written result counts as FAIL. `--only`
checks just the named oracles (after `graft.Verify <sf> <out> q1,q2,...`);
a name with no oracle is an error.

This file is local tooling only — never shipped in the library jar.
"""
import argparse
import glob
import json
import math
import numbers
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) or pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return True
            return fa == fb
        except (TypeError, ValueError):
            return False
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        a = list(a) if a is not None else None
        b = list(b) if b is not None else None
        if a is None or b is None or len(a) != len(b):
            return False
        return all(values_equal(x, y) for x, y in zip(a, b))
    if str(type(a)) != str(type(b)) and not isinstance(a, type(b)) and not isinstance(b, type(a)):
        # numeric cross-width (int32 vs int64 etc.)
        try:
            return float(a) == float(b)
        except (TypeError, ValueError):
            pass
    return a == b


def dtype_family(s: pd.Series) -> str:
    """Coarse dtype family: the driver's hash is representation-sensitive,
    so an int64 Spark column vs a float64 oracle column (e.g. DuckDB's
    windowed sum(BIGINT) -> HUGEINT -> float64) must FAIL here even when
    every value compares equal after float coercion (the e36 r13-r15 bug
    class this replica existed to catch and didn't)."""
    k = s.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "O":
        for v in s:
            try:
                if v is None or (not isinstance(v, (list, tuple)) and pd.isna(v)):
                    continue
            except (TypeError, ValueError):
                pass
            # numbers.Integral/Real also match numpy scalars (np.int64,
            # np.float64) that pandas round-trips can park in object
            # columns — a bare isinstance(v, int/float) misses them and
            # the e36-class int-vs-float guard silently degrades to
            # "other" (ADVICE r16). bool first: bool is Integral.
            if isinstance(v, (bool, np.bool_)):
                return "bool"
            if isinstance(v, (numbers.Integral, np.integer)):
                return "int"
            if isinstance(v, (numbers.Real, np.floating)):
                return "float"
            return "other"
        return "null"
    return str(k)


def compare(name, mine: pd.DataFrame, ref: pd.DataFrame) -> bool:
    mine, ref = canon(mine), canon(ref)
    ok = True
    if list(mine.columns) != list(ref.columns):
        print(f"FAIL {name}: columns mine={list(mine.columns)} ref={list(ref.columns)}")
        return False
    if len(mine) != len(ref):
        print(f"FAIL {name}: rows mine={len(mine)} ref={len(ref)}")
        return False
    for c in mine.columns:
        fm, fr = dtype_family(mine[c]), dtype_family(ref[c])
        # int-vs-float is the classic HUGEINT-widening trap; an
        # unrecognized 'other' against a numeric family must also FAIL
        # (not silently pass): whatever that cell is, the driver's
        # representation-sensitive hash will not match a number's bytes
        # (ADVICE r16). 'null' (all-None column) stays compatible with
        # anything — absence of evidence, not a representation clash.
        if {fm, fr} == {"int", "float"} or (
                {fm, fr} & {"int", "float"} and "other" in {fm, fr}):
            ok = False
            print(f"FAIL {name}: col {c}: dtype family mismatch "
                  f"mine={mine[c].dtype}({fm}) ref={ref[c].dtype}({fr}) — "
                  f"driver hash is representation-sensitive; CAST the oracle")
    if not ok:
        return False
    for c in mine.columns:
        mv, rv = mine[c].tolist(), ref[c].tolist()
        bad = [(i, x, y) for i, (x, y) in enumerate(zip(mv, rv)) if not values_equal(x, y)]
        if bad:
            ok = False
            i, x, y = bad[0]
            extra = ""
            try:
                extra = f" (diff={float(x) - float(y):.3e})"
            except (TypeError, ValueError):
                pass
            print(f"FAIL {name}: col {c}: {len(bad)} mismatches; first at row {i}: "
                  f"mine={x!r} ref={y!r}{extra}")
    if ok:
        print(f"PASS {name} ({len(mine)} rows, {len(mine.columns)} cols)")
    return ok


def main():
    ap = argparse.ArgumentParser(description="Compare graft.Verify output with the DuckDB oracles.")
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--only", help="comma-separated query names: check just these oracles")
    args = ap.parse_args()
    sf_dir, out_dir = args.sf_dir, args.out_dir
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    results = sorted(
        p.rsplit("/", 1)[-1] for p in glob.glob(f"{out_dir}/*") if not p.endswith(".json"))
    if args.only is not None:
        only = [n for n in args.only.split(",") if n]
        unknown = sorted(set(only) - set(oracle))
        if not only or unknown:
            ap.error(f"--only: no oracle for {unknown or 'an empty list'}")
        oracle = {n: oracle[n] for n in only}
        results = [n for n in results if n in oracle]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    n_pass = n_fail = 0
    for name in results:
        parts = sorted(glob.glob(f"{out_dir}/{name}/part-*.parquet"))
        if not parts:
            print(f"FAIL {name}: no parquet output")
            n_fail += 1
            continue
        mine = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        if name not in oracle:
            print(f"SKIP {name}: no oracle (rows-only check: {len(mine)} rows)")
            continue
        try:
            ref = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        if compare(name, mine, ref):
            n_pass += 1
        else:
            n_fail += 1
    missing = sorted(set(oracle) - set(results))
    for name in missing:
        print(f"FAIL {name}: oracle declared but no result written")
        n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail, {len(results)} results, {len(oracle)} oracles")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
