#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate (dev tool only, not
part of the library): run each oracle SQL from Verify's oracle_sql.json in
DuckDB over the sf parquet tables, load the corresponding Spark result
parquet, sort columns by name, and compare values exactly. Every query
Verify lists in failures.json (it threw) also counts as a failure.

Usage: python3 tools/check.py [sfDir] [verifyOutDir] [only_query...]
"""
import sys, os, json, math
import duckdb
import pandas as pd
import numpy as np

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        elif str(s.dtype).startswith('datetime64'):
            df[c] = s.astype('datetime64[us]')
        elif s.dtype in (np.int32, np.int16, np.uint32):
            df[c] = s.astype(np.int64)
        elif s.dtype == np.float32:
            df[c] = s.astype(np.float64)
    return df.reset_index(drop=True)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
    out = sys.argv[2] if len(sys.argv) > 2 else '/tmp/verify_out'
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = json.load(open(f'{out}/oracle_sql.json'))
    n_ok = n_fail = 0
    threw = {}
    if os.path.exists(f'{out}/failures.json'):
        threw = json.load(open(f'{out}/failures.json'))
    for name in sorted(threw):
        if not only or name in only:
            print(f'FAIL {name}: query threw: {threw[name]}')
            n_fail += 1
    for name in sorted(oracle):
        if (only and name not in only) or name in threw:
            continue
        try:
            exp = canon(con.execute(oracle[name]).df())
        except Exception as e:
            print(f'FAIL {name}: oracle error: {e}')
            n_fail += 1
            continue
        try:
            got = canon(duckdb.connect().execute(
                f"SELECT * FROM '{out}/{name}/*.parquet'").df())
        except Exception as e:
            print(f'FAIL {name}: spark output missing: {e}')
            n_fail += 1
            continue
        if list(exp.columns) != list(got.columns):
            print(f'FAIL {name}: columns exp={list(exp.columns)} got={list(got.columns)}')
            n_fail += 1
            continue
        if len(exp) != len(got):
            print(f'FAIL {name}: rows exp={len(exp)} got={len(got)}')
            n_fail += 1
            continue
        bad = []
        for c in exp.columns:
            e, g = exp[c], got[c]
            if e.dtype != g.dtype:
                bad.append(f'{c}: dtype exp={e.dtype} got={g.dtype}')
                continue
            if np.issubdtype(e.dtype, np.floating):
                eq = (e.isna() & g.isna()) | (e == g) | (np.isclose(e, g, rtol=0, atol=1e-9, equal_nan=True))
            else:
                eq = (e.isna() & g.isna()) | (e == g)
            if not eq.all():
                i = int(np.argmin(eq.values))
                bad.append(f'{c}: {int((~eq).sum())} diffs, first@{i} exp={e.iloc[i]!r} got={g.iloc[i]!r}')
        if bad:
            print(f'FAIL {name}: ' + '; '.join(bad[:4]))
            n_fail += 1
        else:
            print(f'ok   {name} ({len(exp)} rows)')
            n_ok += 1
    print(f'== {n_ok} ok, {n_fail} fail ==')
    sys.exit(1 if n_fail else 0)


if __name__ == '__main__':
    main()
