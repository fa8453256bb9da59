#!/usr/bin/env python3
"""Compare `graft.Tool run` output (one parquet dir + dumped .sql per query)
against DuckDB — the per-query twin of check.py.
Usage: python3 scripts/check_one.py [sfDir] [toolRunOut]
"""
import glob
import os
import sys

import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/vout"

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

con = duckdb.connect()
for t in TABLES:
    path = f"{SF}/{t}.parquet"
    if os.path.isdir(path):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}/*.parquet'")
    elif os.path.exists(path):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # Array-valued columns (embedding payloads) are unhashable for
    # sort_values — sort on a stringified twin, then drop it.
    def is_arrayish(col):
        if not len(df):
            return False
        v = col.iloc[0]
        return (hasattr(v, "__len__") or hasattr(v, "__iter__")) and \
            not isinstance(v, (str, bytes))

    keys = []
    for c in df.columns:
        if str(df[c].dtype) == "object" and is_arrayish(df[c]):
            k = f"__sort_{c}"
            df = df.assign(
                **{k: df[c].map(lambda v: str(list(v))
                                if v is not None else "")})
            keys.append(k)
        else:
            keys.append(c)
    df = df.sort_values(by=keys, ignore_index=True)
    return df[[c for c in df.columns if not c.startswith("__sort_")]]


n_pass = n_fail = 0
for sql_file in sorted(glob.glob(f"{OUT}/*.sql")):
    name = os.path.basename(sql_file)[:-4]
    files = glob.glob(f"{OUT}/{name}/*.parquet")
    if not files:
        print(f"{name}: NO OUTPUT")
        n_fail += 1
        continue
    got = canon(pd.concat([pd.read_parquet(f) for f in files]))
    want = canon(con.execute(open(sql_file).read()).df())
    # astype(errors="ignore") is deprecated (pandas >= 2.1) — cast
    # per-column and keep the original on failure instead.
    for c in want.columns:
        if c in got.columns and str(got[c].dtype) != str(want[c].dtype):
            try:
                got[c] = got[c].astype(str(want[c].dtype))
            except (ValueError, TypeError):
                pass
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      check_exact=False, rtol=0, atol=1e-9)
        print(f"{name}: PASS ({len(got)} rows)")
        n_pass += 1
    except AssertionError as e:
        print(f"{name}: FAIL\n{e}")
        n_fail += 1
print(f"\n{n_pass} pass, {n_fail} fail")
sys.exit(1 if n_fail else 0)
