"""Untimed correctness check: each query's Spark rows against its
`oracle_sql()` result in DuckDB on the same generated tables, compared
the way `tools/check_oracle.py` does (column names, row count, and
order-insensitive values; floats bit-for-bit via repr)."""
from __future__ import annotations

import os


def _norm_value(v):
    if isinstance(v, bool):
        return repr(int(v))  # suite oracles carry booleans as INTEGER
    if hasattr(v, "quantize"):  # Decimal
        return repr(float(v))
    return repr(v)


def normalize(rows: list[dict], cols: list[str]) -> list[tuple]:
    return sorted(tuple(_norm_value(r[c]) for c in cols) for r in rows)


def connect(sf_dir: str, tables, tmp_dir: str, threads: int):
    import duckdb
    con = duckdb.connect()
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET threads = {threads}")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def base_oracles(entry) -> dict[str, str]:
    """Oracle SQL per base query.  A suite host's `oracle_sql()` entry
    is the UNION of its members' oracles tagged by `suite_tag`; the
    host's own rows are the ones tagged with its name."""
    out = {}
    for name, sql in entry.oracle_sql().items():
        if "suite_tag" in sql and f"'{name}' AS suite_tag" in sql:
            sql = (f"SELECT * FROM ({sql}) AS u "
                   f"WHERE suite_tag = '{name}'")
        out[name] = sql
    return out


def check(con, sql: str | None, cols: list[str],
          rows: list[dict]) -> str | None:
    """None when the Spark result matches the oracle, else a reason."""
    if sql is None:
        return None  # no oracle: rows only, as tools/check_oracle.py
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = [dict(zip(dcols, r)) for r in res.fetchall()]
    if "suite_tag" in dcols:
        # a suite union also carries its members' (null-padded) columns
        if missing := set(cols) - set(dcols):
            return f"columns missing from the oracle: {sorted(missing)}"
    elif sorted(cols) != sorted(dcols):
        return f"columns spark={sorted(cols)} oracle={sorted(dcols)}"
    if len(rows) != len(drows):
        return f"rowcount spark={len(rows)} oracle={len(drows)}"
    scols = sorted(cols)
    if normalize(rows, scols) != normalize(drows, scols):
        return "values differ"
    return None
