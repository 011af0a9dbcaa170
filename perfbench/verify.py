"""Output checks: canonical value digests and the DuckDB oracle cache.

A digest is order- and engine-insensitive: columns are taken in
case-insensitive name order, values are normalized to one text form
(numbers as ``repr(float)``, timestamps and dates as ISO datetimes), rows
are sorted, and the lot is hashed. Spark rows and DuckDB rows of the same
result therefore hash alike.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os


def canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "nan" if math.isnan(f) else repr(f)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(" ")
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat(" ")
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):
        return canon(v.asDict())
    return str(v)


def digest(columns: list[str], rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i].lower() for i in order).encode())
    for line in lines:
        h.update(b"\x1e")
        h.update(line.encode())
    return f"{len(lines)}:{h.hexdigest()[:24]}"


def duckdb_rows(sf_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    import duckdb

    from customer_revenue_analysis_sql_tableau_spark.catalog import TABLES

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cols, cur.fetchall()
    finally:
        con.close()


class OracleCache:
    """DuckDB oracle digests for registry entries, computed on first use
    and kept next to the generated tables, which are rebuilt whenever the
    generator changes. A digest is keyed by the entry name and a hash of
    its oracle SQL, so a changed oracle is recomputed rather than matched
    against a stale answer. The slowest oracle, the all-pairs edit
    distance, is thus paid once per checkout. ``want`` maps each entry
    asked for to its expected digest."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.path = os.path.join(sf_dir, "_oracle_digests.json")
        self.cache: dict[str, str] = {}
        self.want: dict[str, str] = {}
        if os.path.exists(self.path):
            with open(self.path) as fh:
                self.cache = json.load(fh)

    def get(self, name: str, sql: str) -> str:
        key = f"{name}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"
        if key not in self.cache:
            self.cache[key] = digest(*duckdb_rows(self.sf_dir, sql))
            tmp = f"{self.path}.tmp{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(self.cache, fh, indent=1, sort_keys=True)
            os.replace(tmp, self.path)
        self.want[name] = self.cache[key]
        return self.want[name]
