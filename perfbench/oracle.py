"""Check query answers against graft's DuckDB oracle SQL.

The comparison follows graft's own oracle check: columns by name, Arrow
types equal, rows compared as sorted multisets, every cell exactly equal.
"""
import math
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell(v):
    """NaN never equals itself; compare it as a marker."""
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def check(data_dir, out_dir, oracle_sql):
    """Return {query: reason} for every query whose written answer differs
    from its oracle. Queries without oracle SQL are not checked here."""
    con = duckdb.connect()
    for t in TABLES:
        p = Path(data_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        res = Path(out_dir) / name
        if not res.is_dir():
            continue  # never answered: its operations already failed
        try:
            got = con.execute(f"SELECT * FROM '{res}/*.parquet'").fetch_arrow_table()
            want = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - any oracle error fails the query
            bad[name] = f"oracle error: {e}"
            continue
        cols = sorted(got.column_names)
        if cols != sorted(want.column_names):
            bad[name] = f"columns {cols} vs oracle {sorted(want.column_names)}"
            continue
        gt = {f.name: str(f.type) for f in got.schema}
        wt = {f.name: str(f.type) for f in want.schema}
        diff = {c: (gt[c], wt[c]) for c in cols if gt[c] != wt[c]}
        if diff:
            bad[name] = f"types differ: {diff}"
            continue
        rows = [sorted((tuple(cell(r[c]) for c in cols) for r in t.to_pylist()), key=repr)
                for t in (got, want)]
        if rows[0] != rows[1]:
            bad[name] = f"{len(rows[0])} rows differ from the oracle's {len(rows[1])}"
    return bad
