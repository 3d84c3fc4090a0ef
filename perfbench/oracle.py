"""DuckDB check of the dashboard results.

Each query's exported Spark result must hash-match its registered oracle SQL
run by DuckDB over the same generated `events` table: same column names,
same value type family per column, same multiset of rows.
"""
import datetime
import decimal
import hashlib
import json
from pathlib import Path

import duckdb


def family(t: str) -> str:
    t = t.upper()
    if t == "HUGEINT" or t.startswith("DECIMAL"):
        return t  # must match exactly: an uncast sum() is not a BIGINT
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    return t


def canon_value(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", repr(v))
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return ("ts", v.isoformat())
    return (type(v).__name__, str(v))


def canon(rel) -> tuple:
    """(sorted column names, type families, sorted canonical rows, digest)."""
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    types = [family(str(rel.types[i])) for i in order]
    rows = sorted((tuple(canon_value(r[i]) for i in order) for r in rel.fetchall()), key=repr)
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    return [cols[i] for i in order], types, rows, digest


def check(out_dir: Path) -> list:
    """Problems found; empty when every exported result matches."""
    spec = json.loads((out_dir / "dashboard.json").read_text())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{spec['events']}/*.parquet')")
    problems = []
    if not spec["oracle"]:
        problems.append("no dashboard result was exported")
    for name, sql in sorted(spec["oracle"].items()):
        ecols, etypes, erows, edig = canon(con.sql(sql))
        gcols, gtypes, grows, gdig = canon(con.sql(f"SELECT * FROM read_parquet('{out_dir / name}/*.parquet')"))
        if ecols != gcols:
            problems.append(f"{name}: columns {gcols} but the oracle has {ecols}")
        elif etypes != gtypes:
            problems.append(f"{name}: column types {gtypes} but the oracle has {etypes}")
        elif edig != gdig:
            diff = next((g for g, e in zip(grows, erows) if g != e), None)
            problems.append(f"{name}: {len(grows)} rows differ from the oracle's {len(erows)} "
                            f"(first differing row {diff})")
    return problems
