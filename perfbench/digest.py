"""Result digests: row count plus an order-independent hash of a result
canonicalized by tools/check.py's own `canon` (columns sorted by name,
doubles rounded to 6 decimals, timestamps ISO-8601, integers nullable).
"""
import glob
import hashlib
import importlib.util
import json
import os

import duckdb
import pandas as pd


def _load_check_py():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "check.py")
    if not os.path.isfile(path):
        raise SystemExit(f"perfbench: {path} not found; run from the root "
                         "of a checkout of the repository")
    spec = importlib.util.spec_from_file_location("check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# the oracle gate's own table list and canonicalization
_check = _load_check_py()
TABLES = _check.TABLES
canon = _check.canon


def _cell(v):
    if v is None or v is pd.NA or (isinstance(v, float) and v != v):
        return None
    if isinstance(v, float):
        return v + 0.0  # -0.0 and 0.0 compare equal in check.py
    return v.item() if hasattr(v, "item") else v


def digest(df: pd.DataFrame):
    """(rows, hex) where hex is the sum of per-row SHA-256 prefixes over
    the canonical frame, so it does not depend on row order."""
    c = canon(df)
    total = 0
    header = json.dumps([[n, str(t)] for n, t in zip(c.columns, c.dtypes)])
    for row in c.itertuples(index=False, name=None):
        line = header + json.dumps([_cell(v) for v in row], default=str)
        total += int.from_bytes(hashlib.sha256(line.encode()).digest()[:8], "big")
    return len(c), f"{total % (1 << 64):016x}"


def oracle_digests(data_dir, oracle_sql):
    """Digest of every query's DuckDB oracle on the generated tables."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    return {name: digest(con.execute(sql).df())
            for name, sql in sorted(oracle_sql.items())}


def engine_digest(out_dir):
    parts = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not parts:
        return None
    return digest(pd.concat([pd.read_parquet(p) for p in parts],
                            ignore_index=True))
