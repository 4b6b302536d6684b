"""Order-insensitive canonical form of query results.

Mirrors `Canon` in `harness/Harness.scala` exactly, so a result the engine
produced and one DuckDB (or a Flight client) produced compare as strings:
columns sorted by lower-cased name, numbers rounded half-even to 12
significant digits with trailing zeros stripped, temporals as UTC
`YYYY-MM-DD HH:MM:SS[.ffffff]`, rows sorted.
"""
import datetime
import decimal
import math

NULL = "∅"
SEP = "\u0001"
_CTX = decimal.Context(prec=12, rounding=decimal.ROUND_HALF_EVEN)


def _num(d):
    if d == 0:
        return "0"
    return format(_CTX.plus(d).normalize(_CTX), "f")


def _ts(t):
    if t.tzinfo is not None:
        t = t.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    base = t.strftime("%Y-%m-%d %H:%M:%S")
    return base if t.microsecond == 0 else f"{base}.{t.microsecond:06d}"


def cell(v):
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return _num(decimal.Decimal(v))
    if isinstance(v, int):
        return _num(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _num(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return _ts(v)
    if isinstance(v, datetime.date):
        return _ts(datetime.datetime(v.year, v.month, v.day))
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def rows(columns, data):
    """Canonical sorted row strings; `data` is a sequence of row tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted(SEP.join(cell(r[i]) for i in order) for r in data)


def of_duckdb(con, sql):
    """(columns, canonical rows) of a DuckDB query."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, rows(cols, cur.fetchall())


def of_arrow(table):
    """(columns, canonical rows) of a pyarrow Table."""
    cols = table.schema.names
    data = list(zip(*(table.column(i).to_pylist() for i in range(len(cols))))) \
        if table.num_rows else []
    return cols, rows(cols, data)
