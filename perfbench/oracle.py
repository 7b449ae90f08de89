"""DuckDB side of the output check.

Runs each query's oracle SQL (the `oracle` string of its catalog entry) over
the generated tables and reduces the result to the digest that
src/main/scala/perfbench/Digest.scala computes over Spark's rows: columns in
name order, canonical cell strings, SHA-256 per row, row hashes sorted.
"""
import datetime
import decimal
import hashlib
import os

import duckdb

NAMES = ["region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings"]


SIGNIFICANT = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)


def real(x):
    """`<unscaled>E<exponent>` of x rounded to 9 significant digits."""
    if isinstance(x, float):
        if x != x:
            return "nan"
        if x in (float("inf"), float("-inf")):
            return "inf" if x > 0 else "-inf"
    d = decimal.Decimal(x)
    if d == 0:
        return "0E0"
    sign, digits, exp = SIGNIFICANT.plus(d).normalize(SIGNIFICANT).as_tuple()
    return f"{'-' if sign else ''}{int(''.join(map(str, digits)))}E{exp}"


def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return real(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    return str(v)


def sha(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    hashes = sorted(sha("\u0001".join(cell(r[i]) for i in order)) for r in rows)
    return sha("\n".join([",".join(columns[i] for i in order)] + hashes))


def digests(data_dir, oracle_sql, tmp_dir):
    """{query: (rows, digest)} for every query that has oracle SQL."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 4")
    for t in NAMES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        if sql is None:
            continue
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[name] = (len(rows), digest(cols, rows))
    con.close()
    return out
