"""Expected answers: each op's oracle SQL run in DuckDB, reduced to a row
count and an engine-neutral content digest.

The encoding is the one `perfbench.Digest` (Scala) applies to the rows Spark
returns: columns in name order; every number by its exact decimal value
(so 3, 3.0 and DECIMAL 3.00 agree, as they compare equal in the repo's
oracle check); timestamps as UTC epoch microseconds; dates as epoch days;
each cell length-prefixed; rows hashed and the sorted row hashes hashed.
"""
import calendar
import datetime as dt
import decimal
import hashlib
import math
import uuid
from pathlib import Path

# exact decimal expansions of doubles run to ~770 significant digits
_EXACT = decimal.Context(prec=2000)


def _number(d: decimal.Decimal) -> str:
    if d.is_zero():
        return "n:0"
    return "n:" + format(_EXACT.normalize(d), "f")


def _micros(t: dt.datetime) -> int:
    if t.tzinfo is not None:
        t = t.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return calendar.timegm(t.timetuple()) * 1_000_000 + t.microsecond


def _cell(s: str) -> str:
    return f"{len(s)}:{s}"


def encode(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return f"n:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        if math.isinf(v):
            return "f:inf" if v > 0 else "f:-inf"
        return _number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _number(v)
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, dt.datetime):
        return f"t:{_micros(v)}"
    if isinstance(v, dt.date):
        return f"d:{(v - dt.date(1970, 1, 1)).days}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, uuid.UUID):
        return "s:" + str(v)
    if isinstance(v, dict):
        return "r(" + "".join(_cell(encode(x)) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "a(" + "".join(_cell(encode(x)) for x in v) + ")"
    return "o:" + str(v)


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def digest(columns, rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    header = "cols:" + "".join(_cell(columns[i]) for i in order)
    hashes = sorted(_sha("".join(_cell(encode(r[i])) for i in order)) for r in rows)
    return _sha(header + "\n" + "\n".join(hashes))


def expected(data_dir: Path, sql_by_op: dict) -> dict:
    """{op: {"rows": n, "digest": d}} or {op: {"error": msg}} per op."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for p in sorted(data_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    out = {}
    for op, sql in sql_by_op.items():
        if sql is None:
            out[op] = {"error": "no oracle SQL"}
            continue
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            out[op] = {"rows": len(rows), "digest": digest(cols, rows)}
        except Exception as e:  # an oracle that cannot run checks nothing
            out[op] = {"error": f"oracle failed: {e}"[:300]}
    con.close()
    return out
