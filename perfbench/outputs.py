"""Output fingerprints and DuckDB twins for the benchmark's output check.

A fingerprint is the row count plus an order-insensitive hash of the
rows, with columns sorted by name as the repo's oracle compare does.
Both engines' outputs go through the same path as `tools/check.py`
(DuckDB reads the parquet, pandas holds the frame), so a Spark output
and its DuckDB twin hash alike exactly when that compare would pass.
Floats are hashed at 12 significant digits, which absorbs last-bit
differences from summation order across partitions.
"""
import hashlib
import math

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def _canon(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return None
        return ("f", format(float(v) + 0.0, ".12g"))
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, pd.Timestamp):
        return ("t", v.value)
    if isinstance(v, dict):
        return ("m", tuple(sorted((str(k), _canon(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("l", tuple(_canon(x) for x in v))
    return ("?", repr(v))


def fingerprint(df: pd.DataFrame) -> dict:
    df = df.reindex(sorted(df.columns), axis=1)
    acc = 0
    for row in df.itertuples(index=False, name=None):
        h = hashlib.blake2b(repr(tuple(_canon(v) for v in row)).encode(), digest_size=8)
        acc = (acc + int.from_bytes(h.digest(), "little")) % (1 << 64)
    cols = hashlib.blake2b(",".join(df.columns).encode(), digest_size=4).hexdigest()
    return {"rows": int(len(df)), "hash": f"{acc:016x}", "columns": cols}


def spark_output(path) -> dict:
    """Fingerprint of one query's output written as a parquet dir."""
    files = sorted(str(p) for p in path.glob("*.parquet"))
    con = duckdb.connect()
    if not files:  # an empty result writes no part file
        return {"rows": 0, "hash": "0" * 16, "columns": None}
    return fingerprint(con.sql(
        f"SELECT * FROM read_parquet({files!r}, hive_partitioning=0)").df())


def twins(data_dir, sqls: dict) -> dict:
    """Fingerprints of the DuckDB twins in `sqls` over the tables in
    `data_dir`, where a table is a parquet file or a dir of them."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = data_dir / f"{t}.parquet"
        if p.is_dir():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif p.is_file():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return {name: fingerprint(con.sql(sql).df()) for name, sql in sqls.items()}


def same(got: dict, want: dict) -> bool:
    """Equal fingerprints; an empty output carries no column list."""
    if got["rows"] == 0 and want["rows"] == 0:
        return True
    return got == want
