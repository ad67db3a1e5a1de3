"""DuckDB oracle comparison for the query mix, canonicalised the way the
repository's tools/compare_oracle.py does: columns sorted by name, rows
sorted by every column, integers widened to int64, datetimes to
microseconds, objects to strings; floats must match exactly."""
import glob
import os

import duckdb
import numpy as np
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype('datetime64[us]')
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype('int64')
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind='mergesort').reset_index(drop=True)


def mismatches(data_dir, queries):
    """queries: {name: (spark output dir, oracle SQL)}. Returns {name: first
    difference} for every query whose Spark output differs from the
    oracle's answer over the tables in data_dir."""
    con = duckdb.connect()
    try:
        for p in sorted(glob.glob(os.path.join(data_dir, '*.parquet'))):
            name = os.path.basename(p)[:-len('.parquet')]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
        found = {q: compare(con, out, sql) for q, (out, sql) in queries.items()}
    finally:
        con.close()
    return {q: why for q, why in found.items() if why}


def compare(con, out_dir, sql):
    files = glob.glob(os.path.join(out_dir, '*.parquet'))
    if not files:
        return 'no Spark output'
    try:
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        want = canon(con.execute(sql).df())
    except Exception as e:  # noqa: BLE001 - any failure is a mismatch
        return f'error: {e}'
    if list(got.columns) != list(want.columns):
        return f'columns: spark={list(got.columns)} oracle={list(want.columns)}'
    if len(got) != len(want):
        return f'rows: spark={len(got)} oracle={len(want)}'
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) != pd.api.types.is_float_dtype(w):
            return f'dtype of {c}: spark={g.dtype} oracle={w.dtype}'
        if pd.api.types.is_float_dtype(g):
            same = np.allclose(g.astype(float), w.astype(float), rtol=0, atol=0, equal_nan=True)
        else:
            same = g.equals(w)
        if not same:
            diff = (g != w)
            i = diff[diff].index[0] if diff.any() else 0
            return f'value of {c} at row {i}: spark={g.iloc[i]!r} oracle={w.iloc[i]!r}'
    return None
