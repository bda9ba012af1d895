"""Order-free fingerprints of a query result, for the correctness gate.

A fingerprint is computed the same way from a DuckDB oracle result and
from the parquet a Spark run wrote, both read through DuckDB:

* the sorted column names and the row count;
* per numeric column: null count, sum, sum of absolute values, min, max,
  compared with a relative tolerance (summation order differs between
  engines);
* per numeric-array column: null count, element count, element sum and
  absolute sum, with the same tolerance;
* per other column: a SHA-256 over the sorted canonical strings, exact.
"""
import datetime
import decimal
import hashlib
import math

REL_TOL = 1e-6


def _is_num(v) -> bool:
    return isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool)


def _canon(v) -> str:
    if v is None:
        return "\0null"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else format(v, ".6g")
    if isinstance(v, decimal.Decimal):
        return format(float(v), ".6g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _num_stats(vals) -> list:
    xs = [float(v) for v in vals if v is not None and not (isinstance(v, float) and math.isnan(v))]
    nan = sum(1 for v in vals if isinstance(v, float) and math.isnan(v))
    return [sum(1 for v in vals if v is None), nan, math.fsum(xs),
            math.fsum(abs(x) for x in xs), min(xs) if xs else None, max(xs) if xs else None]


def column_fingerprint(vals: list) -> dict:
    present = [v for v in vals if v is not None]
    if present and all(_is_num(v) for v in present):
        return {"kind": "num", "stats": _num_stats(vals)}
    if present and all(isinstance(v, (list, tuple)) and all(
            x is None or _is_num(x) for x in v) for v in present) and any(present):
        flat = [x for v in present for x in v]
        return {"kind": "numlist", "nulls": len(vals) - len(present),
                "elements": len(flat), "stats": _num_stats(flat)}
    h = hashlib.sha256()
    for s in sorted(_canon(v) for v in vals):
        h.update(s.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return {"kind": "str", "sha256": h.hexdigest()}


def fingerprint(con, sql: str) -> dict:
    """Fingerprint of the rows `sql` returns on the DuckDB connection."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    rows = cur.fetchall()
    order = sorted(range(len(names)), key=lambda i: names[i])
    return {"columns": [names[i] for i in order], "rows": len(rows),
            "values": [column_fingerprint([r[i] for r in rows]) for i in order]}


def parquet_sql(path: str) -> str:
    return f"SELECT * FROM read_parquet('{path}/*.parquet')"


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)


def _stats_match(a: list, b: list) -> bool:
    # null and NaN counts exact; sums, min and max within tolerance
    # (the absolute sum bounds the cancellation error of the plain sum)
    if a[0] != b[0] or a[1] != b[1]:
        return False
    scale = max(abs(a[3] or 0.0), abs(b[3] or 0.0), 1e-300)
    if abs((a[2] or 0.0) - (b[2] or 0.0)) > REL_TOL * scale + 1e-9:
        return False
    return all(_close(x, y) for x, y in zip(a[3:], b[3:]))


def compare(expected: dict, got: dict) -> str:
    """'' when `got` matches the pinned expectation, else the difference."""
    if expected["kind"] == "rows":
        if got["rows"] != expected["rows"]:
            return f"{got['rows']} rows, expected {expected['rows']}"
        return ""
    exp = expected["fingerprint"]
    if got["columns"] != exp["columns"]:
        return f"columns {got['columns']}, expected {exp['columns']}"
    if got["rows"] != exp["rows"]:
        return f"{got['rows']} rows, expected {exp['rows']}"
    for name, e, g in zip(exp["columns"], exp["values"], got["values"]):
        if e["kind"] != g["kind"]:
            return f"column {name}: {g['kind']} values, expected {e['kind']}"
        if e["kind"] == "str" and e["sha256"] != g["sha256"]:
            return f"column {name}: values differ"
        if e["kind"] == "numlist" and (e["nulls"], e["elements"]) != (g["nulls"], g["elements"]):
            return f"column {name}: array shape differs"
        if e["kind"] in ("num", "numlist") and not _stats_match(e["stats"], g["stats"]):
            return f"column {name}: stats {g['stats']}, expected {e['stats']}"
    return ""


def connect(tables_dir: str = None, tables=()):
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
    except Exception:
        pass
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    return con
