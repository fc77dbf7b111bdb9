"""DuckDB oracle compare for the registry-query workloads.

Each query's warm-pass result (`<results>/<name>/*.parquet`) is compared
with its `Registry.oracleSql` answer over the same seeded tables. Rows are
compared as multisets; floats per value with a relative tolerance, so a
last-ulp difference between engines is not a wrong answer.
"""

import json
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    """Comparable form of one value: numbers as float, nested values recursively."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)) or type(v).__name__ == "Decimal":
        return float(v)
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in sorted(v.items())}
    return str(v)


def _key(v):
    """Sort key that is stable under last-ulp float noise."""
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, "nan") if math.isnan(v) else (1, f"{v:.6g}")
    if isinstance(v, list):
        return (2, str([_key(x) for x in v]))
    return (3, str(v))


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [[_norm(r[i]) for i in order] for r in cur.fetchall()]
    rows.sort(key=lambda r: [_key(v) for v in r])
    return [cols[i] for i in order], rows


def compare(tables_dir, results_dir):
    """Return one message per query whose result differs from its oracle."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    with open(f"{results_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    errors = []
    for name, sql in sorted(oracle.items()):
        try:
            ocols, orows = _rows(con, sql)
            scols, srows = _rows(con, f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')")
        except Exception as e:  # a failing oracle or unreadable result is a wrong answer
            errors.append(f"{name}: {str(e).splitlines()[0][:200]}")
            continue
        if ocols != scols:
            errors.append(f"{name}: columns {scols} != oracle {ocols}")
        elif len(orows) != len(srows):
            errors.append(f"{name}: {len(srows)} rows != oracle {len(orows)}")
        else:
            bad = next((i for i, (a, b) in enumerate(zip(srows, orows)) if not _same(a, b)), None)
            if bad is not None:
                errors.append(f"{name}: row {bad} {str(srows[bad])[:120]} != oracle {str(orows[bad])[:120]}")
    return errors
