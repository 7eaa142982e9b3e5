"""DuckDB oracle gate for the query_mix workload.

Each entry's first-pass result (dumped as parquet by the JVM) must match its
`SparkEntry.oracleSql` run by DuckDB over the same tables: same row count,
same columns (compared sorted by name) and the same values row by row. The
expected digest is computed once per (oracle SQL, data) digest and cached.
"""
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd

from gen_tables import TABLES


def generator_digest():
    here = os.path.dirname(os.path.abspath(__file__))
    return hashlib.sha256(open(os.path.join(here, "gen_tables.py"), "rb").read()).hexdigest()[:12]


def norm(v):
    import decimal
    if v is None or (isinstance(v, float) and np.isnan(v)) or v is pd.NaT:
        return "null"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{norm(k)}:{norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def digest(df):
    """Row-order-sensitive digest of a result with its columns sorted by name."""
    cols = sorted(df.columns)
    h = hashlib.sha256()
    h.update(("|".join(cols) + f"#{len(df)}").encode())
    for row in df[cols].itertuples(index=False, name=None):
        h.update(("\x1f".join(norm(v) for v in row) + "\n").encode())
    return f"{len(df)}:{h.hexdigest()[:16]}"


def check(run_dir, data_dir, cache_dir, key, perturb=False):
    """Returns [(name, ok, got)] for every entry with oracle SQL. `perturb`
    (gate self-test) drops the last row of the first entry's expected result."""
    oracle = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = []
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(run_dir, "results", name, "*.parquet")))
        if not files:
            out.append((name, False, "no result"))
            continue
        got = digest(pd.concat([pd.read_parquet(p) for p in files], ignore_index=True))
        ck = os.path.join(cache_dir, hashlib.sha256((sql + key).encode()).hexdigest()[:24])
        falsify = perturb and not out
        if os.path.isfile(ck) and not falsify:
            want = open(ck).read().strip()
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 2")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
            try:
                expected = con.execute(sql).fetchdf()
            except Exception as e:  # an oracle that cannot run is a failed gate
                out.append((name, False, f"oracle error {str(e)[:80]}"))
                continue
            if falsify:
                want = digest(expected.iloc[:-1])
            else:
                want = digest(expected)
                with open(ck, "w") as f:
                    f.write(want)
        out.append((name, got == want, "match" if got == want else f"{got} vs {want}"))
    return out
