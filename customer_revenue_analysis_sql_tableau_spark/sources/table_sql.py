"""SQL statement front-end for the manifest-committed table.

The reference is a *SQL* project — its entire interface is statement
text (``sql/queries_shan.sql:5-42`` is DDL+DML; the Tableau workbook
and the Streamlit app both speak SQL strings) — and every real lake
format (Delta, Iceberg) exposes its table verbs as SQL. r14 built the
verbs (``table_api.ManifestTable``); this module is the missing
statement surface on top of them (r14 VERDICT Next #1): a BOUNDED,
loudly-rejecting dialect parsed with anchored regexes and dispatched
onto the facade — never a second implementation of any verb, so a
statement and its Python twin are the same commit protocol by
construction.

Supported statements (keywords case-insensitive; one statement per
call; anything else raises :class:`ManifestSqlError` naming the
statement)::

    MERGE INTO t USING s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *          -> t.upsert(s, key=k)
    UPDATE t SET a = e1[, b = e2] WHERE <pred>  -> t.update(...)
    INSERT INTO t SELECT ... | TABLE s          -> t.insert_into(...)
    DELETE FROM t WHERE <pred>                  -> t.delete_where(...)
    ALTER TABLE t ADD CONSTRAINT n CHECK (e)    -> t.add_constraint(...)
    ALTER TABLE t DROP CONSTRAINT n             -> t.drop_constraint(n)
    CREATE [OR REPLACE] TABLE t AS SELECT ...   -> create_from /
        replace_with (the SELECT must derive part_month; REPLACE is
        one transaction swapping every file — old versions remain
        time-travelable until vacuum)
        (a  part_month IN (...)  /  part_month = '...'  disjunct is
         split out as the METADATA-ONLY month drop; the residual
         predicate CoW-rewrites only matching files)
    OPTIMIZE t [WHERE part_month IN (...)]
               [ZORDER BY (a, b)]               -> t.optimize(...)
    RESTORE [TABLE] t TO VERSION AS OF n        -> t.restore(n)
    DESCRIBE HISTORY t                          -> t.history()
    VACUUM t                                    -> t.vacuum()
    SELECT ... FROM t [VERSION AS OF n] ...     -> temp-view rewrite:
        each known table (optionally version-pinned — time travel) is
        registered as a Spark temp view and the statement runs through
        ``spark.sql`` — full Spark SELECT power, front-end only
        resolves manifest versions.

The MERGE dialect is deliberately exactly the facade's semantics
(full-row upsert: ``UPDATE SET *`` + ``INSERT *`` on one equality
key); clause soups the facade cannot honor (``WHEN MATCHED THEN
DELETE``, partial ``SET col =``) are rejected loudly rather than
silently approximated.

Scale posture: the front-end adds ZERO data-path code — parsing is
driver-side string work, and every statement lands on the facade's
file-pair-bounded CoW I/O and KB-sized manifest commits.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import source_fingerprint
from .parquet import MONTH_COL
from . import manifest_table as mt
from .table_api import ManifestTable


class ManifestSqlError(ValueError):
    """A statement outside the supported dialect — always loud."""


_MERGE_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(\w+)\s+USING\s+(\w+)\s+ON\s+"
    r"(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s+"
    r"WHEN\s+MATCHED\s+THEN\s+UPDATE\s+SET\s+(\S+)\s+"
    r"WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+(\S+)\s*;?\s*$",
    re.I | re.S,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+?)\s*;?\s*$", re.I | re.S
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(\w+)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*$",
    re.I | re.S,
)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(\w+)\s+((?:SELECT|WITH|TABLE)\b.+?)\s*;?\s*$",
    re.I | re.S,
)
_OPTIMIZE_RE = re.compile(
    r"^\s*OPTIMIZE\s+(\w+)"
    r"(?:\s+WHERE\s+(.+?))??"
    r"(?:\s+ZORDER\s+BY\s*\(\s*(\w+)\s*,\s*(\w+)\s*\))?\s*;?\s*$",
    re.I | re.S,
)
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(\w+)\s+AS\s+"
    r"((?:SELECT|WITH)\b.+?)\s*;?\s*$",
    re.I | re.S,
)
_ADD_CONSTRAINT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+"
    r"CHECK\s*\((.+)\)\s*;?\s*$",
    re.I | re.S,
)
_DROP_CONSTRAINT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*$",
    re.I,
)
_RESTORE_RE = re.compile(
    r"^\s*RESTORE\s+(?:TABLE\s+)?(\w+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)"
    r"\s*;?\s*$",
    re.I,
)
_HISTORY_RE = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+(\w+)\s*;?\s*$", re.I
)
_VACUUM_RE = re.compile(r"^\s*VACUUM\s+(\w+)\s*;?\s*$", re.I)
_SELECT_RE = re.compile(r"^\s*(SELECT|WITH)\b", re.I)

#: ``part_month IN ('a', 'b')`` or ``part_month = 'a'`` — the month
#: disjunct a DELETE/OPTIMIZE WHERE clause may carry.
_MONTHS_RE = re.compile(
    rf"^\s*{MONTH_COL}\s*(?:=\s*'([0-9-]+)'"
    r"|IN\s*\(\s*('[0-9-]+'(?:\s*,\s*'[0-9-]+')*)\s*\))\s*$",
    re.I,
)
_VERSION_AS_OF_RE = re.compile(
    r"\b(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)\b", re.I
)
#: Delta's CDF table-valued function: ``table_changes(t, from, to
#: [, key])`` — the optional key names the snapshot-unique column the
#: CoW diff classifies on (Delta stores change files; this engine
#: derives them, so it needs the key).
_TABLE_CHANGES_RE = re.compile(
    r"\btable_changes\s*\(\s*'?(\w+)'?\s*,\s*(\d+)\s*,\s*(\d+)\s*"
    r"(?:,\s*'(\w+)'\s*)?\)",
    re.I,
)


def _parse_months(clause: str) -> list[str] | None:
    """``part_month = 'a'`` / ``part_month IN ('a','b')`` -> months,
    else None."""
    m = _MONTHS_RE.match(clause.strip())
    if not m:
        return None
    if m.group(1):
        return [m.group(1)]
    return [x.strip().strip("'") for x in m.group(2).split(",")]


def _split_month_disjunct(pred: str) -> tuple[list[str], str | None]:
    """Decompose a DELETE predicate into (metadata-drop months,
    residual predicate): a top-level ``part_month... OR rest`` (or the
    whole clause being a month test) peels off as the month drop —
    the facade then deletes those partitions as pure metadata and CoW
    only the residual's files. Anything else stays a full predicate."""
    whole = _parse_months(pred)
    if whole is not None:
        return whole, None
    m = re.match(
        rf"^\s*(?:\(\s*)?({MONTH_COL}\s*(?:=\s*'[0-9-]+'"
        r"|IN\s*\([^)]*\)))\s*\)?\s+OR\s+(.+)$",
        pred,
        re.I | re.S,
    )
    if m:
        months = _parse_months(m.group(1))
        if months is not None:
            rest = m.group(2).strip()
            if rest.startswith("(") and rest.endswith(")"):
                rest = rest[1:-1]
            return months, rest
    return [], pred


def _split_assignments(s: str) -> dict[str, str]:
    """``a = e1, b = e2`` -> {col: expr text}, splitting on top-level
    commas only (commas inside function calls stay in the expr)."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    out: dict[str, str] = {}
    for p in parts:
        m = re.match(r"^\s*(\w+)\s*=\s*(.+?)\s*$", p, re.S)
        if not m:
            raise ManifestSqlError(f"bad SET assignment: {p.strip()!r}")
        out[m.group(1)] = m.group(2)
    return out


def _resolve(
    name: str, tables: dict[str, "ManifestTable | str"], spark: SparkSession
) -> ManifestTable:
    if name not in tables:
        raise ManifestSqlError(
            f"unknown manifest table '{name}' (registered:"
            f" {sorted(tables)})"
        )
    t = tables[name]
    return t if isinstance(t, ManifestTable) else ManifestTable(spark, t)


def _run_select(
    spark: SparkSession,
    sql: str,
    tables: dict[str, "ManifestTable | str"],
) -> DataFrame:
    """Rewrite ``t VERSION AS OF n`` references of known tables to
    version-pinned temp views, register head views for bare known
    names, and hand the statement to Spark SQL."""
    rewritten = sql

    def sub(m: re.Match) -> str:
        name, v = m.group(1), int(m.group(2))
        if name not in tables:
            return m.group(0)
        view = f"{name}__v{v}"
        _resolve(name, tables, spark).read(v).createOrReplaceTempView(view)
        return view

    def sub_changes(m: re.Match) -> str:
        name, a, b = m.group(1), int(m.group(2)), int(m.group(3))
        if name not in tables:
            return m.group(0)
        key = m.group(4) or "o_orderkey"
        view = f"{name}__changes_{a}_{b}"
        _resolve(name, tables, spark).change_feed(
            a, b, keys=[key]
        ).createOrReplaceTempView(view)
        return view

    rewritten = _TABLE_CHANGES_RE.sub(sub_changes, rewritten)
    rewritten = _VERSION_AS_OF_RE.sub(sub, rewritten)
    for name in tables:
        if re.search(rf"\b{re.escape(name)}\b", rewritten):
            _resolve(name, tables, spark).read().createOrReplaceTempView(
                name
            )
    return spark.sql(rewritten)


def execute_table_sql(
    spark: SparkSession,
    sql: str,
    tables: dict[str, "ManifestTable | str"],
    sources: dict[str, DataFrame] | None = None,
):
    """Parse ONE statement of the bounded dialect and dispatch it onto
    the :class:`ManifestTable` facade. ``tables`` maps statement-level
    table names to handles (or roots); MERGE sources resolve from
    ``sources`` first, then Spark temp views. Returns the facade's
    result — a DataFrame for SELECT / DESCRIBE HISTORY, the commit
    payload dict for DML, the (deleted, expired) pair for VACUUM."""
    if _SELECT_RE.match(sql):
        return _run_select(spark, sql, tables)

    m = _MERGE_RE.match(sql)
    if m:
        tname, sname, a1, k1, a2, k2, set_spec, ins_spec = m.groups()
        if set_spec != "*" or ins_spec != "*":
            raise ManifestSqlError(
                "MERGE dialect is full-row: UPDATE SET * / INSERT *"
                f" (got SET {set_spec} / INSERT {ins_spec})"
            )
        if {a1, a2} != {tname, sname} or a1 == a2:
            raise ManifestSqlError(
                f"MERGE ON must equate {tname}.<key> with {sname}.<key>"
                f" (got {a1}.{k1} = {a2}.{k2})"
            )
        if k1 != k2:
            raise ManifestSqlError(
                "MERGE key must be the same column on both sides"
                f" (got {k1} vs {k2})"
            )
        t = _resolve(tname, tables, spark)
        if sources and sname in sources:
            src = sources[sname]
        else:
            try:
                src = spark.table(sname)
            except Exception as exc:  # no such view
                raise ManifestSqlError(
                    f"MERGE source '{sname}' is neither a provided"
                    " source nor a temp view"
                ) from exc
        return t.upsert(src, key=k1)

    m = _CTAS_RE.match(sql)
    if m:
        or_replace, tname, body = m.groups()
        t = _resolve(tname, tables, spark)
        exists = bool(mt.manifest_chain(t.root))
        if exists and not or_replace:
            raise ManifestSqlError(
                f"table '{tname}' already exists (use CREATE OR"
                " REPLACE TABLE)"
            )
        df = _run_select(spark, body, tables)
        if exists:
            return t.replace_with(df)
        return ManifestTable.create_from(spark, df, t.root)

    m = _UPDATE_RE.match(sql)
    if m:
        tname, set_clause, pred = m.groups()
        t = _resolve(tname, tables, spark)
        try:
            assignments = {
                c: F.expr(e) for c, e in _split_assignments(set_clause).items()
            }
            col = F.expr(pred)
        except ManifestSqlError:
            raise
        except Exception as exc:
            raise ManifestSqlError(
                f"UPDATE clause not parseable: SET {set_clause!r}"
                f" WHERE {pred!r}"
            ) from exc
        return t.update(assignments, col)

    m = _INSERT_RE.match(sql)
    if m:
        tname, body = m.groups()
        t = _resolve(tname, tables, spark)
        tm = re.match(r"^TABLE\s+(\w+)$", body.strip(), re.I)
        if tm:
            sname = tm.group(1)
            if sources and sname in sources:
                src = sources[sname]
            else:
                try:
                    src = spark.table(sname)
                except Exception as exc:
                    raise ManifestSqlError(
                        f"INSERT source '{sname}' is neither a provided"
                        " source nor a temp view"
                    ) from exc
        else:
            src = _run_select(spark, body, tables)
        return t.insert_into(src)

    m = _DELETE_RE.match(sql)
    if m:
        tname, pred = m.groups()
        t = _resolve(tname, tables, spark)
        months, residual = _split_month_disjunct(pred)
        try:
            col = F.expr(residual) if residual else None
        except Exception as exc:
            raise ManifestSqlError(
                f"DELETE predicate not parseable: {residual!r}"
            ) from exc
        return t.delete_where(months=months, predicate=col)

    m = _OPTIMIZE_RE.match(sql)
    if m:
        tname, where, zx, zy = m.groups()
        t = _resolve(tname, tables, spark)
        if where is not None:
            months = _parse_months(where)
            if months is None:
                raise ManifestSqlError(
                    "OPTIMIZE WHERE must select whole partitions:"
                    f" {MONTH_COL} = '...' or {MONTH_COL} IN (...)"
                    f" (got {where!r})"
                )
        else:
            months = sorted(
                mt.resolve_manifest(t.root)["files"]
            )
        zorder = (zx, zy) if zx else None
        return t.optimize(months, zorder_by=zorder)

    m = _ADD_CONSTRAINT_RE.match(sql)
    if m:
        t = _resolve(m.group(1), tables, spark)
        return t.add_constraint(m.group(2), m.group(3).strip())

    m = _DROP_CONSTRAINT_RE.match(sql)
    if m:
        t = _resolve(m.group(1), tables, spark)
        return t.drop_constraint(m.group(2))

    m = _RESTORE_RE.match(sql)
    if m:
        t = _resolve(m.group(1), tables, spark)
        return t.restore(int(m.group(2)))

    m = _HISTORY_RE.match(sql)
    if m:
        return _resolve(m.group(1), tables, spark).history()

    m = _VACUUM_RE.match(sql)
    if m:
        return _resolve(m.group(1), tables, spark).vacuum()

    raise ManifestSqlError(
        f"statement outside the manifest-table SQL dialect: {sql!r}"
    )

# ---------------------------------------------------------------------------
# Registered entries: the SQL statements landing on the SAME oracles as
# their Python-facade twins — a statement is correct iff it is the verb.
# ---------------------------------------------------------------------------


def _sql_root(spark: SparkSession, sf_dir: str, tag: str) -> str:
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    return f"{warehouse}/manifest_sql{tag}_{source_fingerprint(sf_dir)}"


def manifest_sql_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``MERGE INTO`` as a STATEMENT: the r14 merge-upsert schedule
    (same constants as ``parquet_manifest_merge_upsert`` — key mod
    {mod}, price bump, key-shifted insert twins) driven through
    :func:`execute_table_sql` instead of the Python facade, landing on
    the IDENTICAL row-level oracle over the whole merged table. The
    statement parses to ``ManifestTable.upsert`` — same matched-file
    discovery, same CoW, same commit protocol — so a parse that binds
    the wrong key, source, or clause semantics hash-fails against
    DuckDB's recomputation. Version-gated; torn runs resume."""
    from ..catalog import load_tables
    from .manifest_table import (
        MERGE_INSERT_OFFSET,
        MERGE_KEY_MOD,
        MERGE_KEY_REM,
        MERGE_PRICE_BUMP,
    )

    root = _sql_root(spark, sf_dir, "merge")
    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    t = ManifestTable.create(spark, orders, root, date_col="o_orderdate")
    if 2 not in mt.manifest_chain(root):
        hit = t.read(1).filter(
            F.col("o_orderkey") % MERGE_KEY_MOD == MERGE_KEY_REM
        )
        src = hit.withColumn(
            "o_totalprice", F.col("o_totalprice") + MERGE_PRICE_BUMP
        ).unionByName(
            hit.withColumn(
                "o_orderkey", F.col("o_orderkey") + MERGE_INSERT_OFFSET
            )
        )
        src.createOrReplaceTempView("sql_merge_src")
        execute_table_sql(
            spark,
            "MERGE INTO tbl USING sql_merge_src"
            " ON tbl.o_orderkey = sql_merge_src.o_orderkey"
            " WHEN MATCHED THEN UPDATE SET *"
            " WHEN NOT MATCHED THEN INSERT *",
            tables={"tbl": t},
        )
    return execute_table_sql(
        spark,
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,"
        f" {MONTH_COL} AS pm FROM tbl",
        tables={"tbl": t},
    )


def manifest_sql_lifecycle_history(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FIVE-VERB lifecycle of ``parquet_manifest_history`` driven
    entirely by SQL statements — MERGE INTO, a two-tier DELETE whose
    ``part_month = '...' OR <pred>`` WHERE clause decomposes into the
    metadata month drop + predicate CoW, OPTIMIZE WHERE over the
    pre-cutoff partitions, RESTORE TO VERSION AS OF, and DESCRIBE
    HISTORY — landing on the IDENTICAL lifecycle oracle (operation tag
    + exact per-version row count, every count recomputed by DuckDB;
    per-version reads go through ``SELECT count(*) ... VERSION AS OF``
    statements, so the time-travel rewrite is itself under the hash).
    Same constants as the facade entry (``table_api.py``)."""
    from ..catalog import load_tables
    from .table_api import (
        API_DEL_MOD,
        API_DEL_REM,
        API_DROP_MONTH,
        API_INSERT_OFFSET,
        API_PRICE_BUMP,
        API_UPSERT_MOD,
        API_UPSERT_REM,
    )

    root = _sql_root(spark, sf_dir, "api")
    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    t = ManifestTable.create(spark, orders, root, date_col="o_orderdate")
    tables = {"tbl": t}
    if 2 not in mt.manifest_chain(root):
        hit = t.read(1).filter(
            F.col("o_custkey") % API_UPSERT_MOD == API_UPSERT_REM
        )
        src = hit.withColumn(
            "o_totalprice", F.col("o_totalprice") + API_PRICE_BUMP
        ).unionByName(
            hit.withColumn(
                "o_orderkey", F.col("o_orderkey") + API_INSERT_OFFSET
            )
        )
        src.createOrReplaceTempView("sql_api_src")
        execute_table_sql(
            spark,
            "MERGE INTO tbl USING sql_api_src"
            " ON tbl.o_orderkey = sql_api_src.o_orderkey"
            " WHEN MATCHED THEN UPDATE SET *"
            " WHEN NOT MATCHED THEN INSERT *",
            tables=tables,
        )
    if 3 not in mt.manifest_chain(root):
        execute_table_sql(
            spark,
            f"DELETE FROM tbl WHERE {MONTH_COL} = '{API_DROP_MONTH}'"
            f" OR o_custkey % {API_DEL_MOD} = {API_DEL_REM}",
            tables=tables,
        )
    if 4 not in mt.manifest_chain(root):
        sel = sorted(
            m
            for m in mt.manifest_chain(root)[3]["files"]
            if m < mt.ZORDER_CUTOFF
        )
        in_list = ", ".join(f"'{m}'" for m in sel)
        execute_table_sql(
            spark,
            f"OPTIMIZE tbl WHERE {MONTH_COL} IN ({in_list})",
            tables=tables,
        )
    if 5 not in mt.manifest_chain(root):
        execute_table_sql(
            spark, "RESTORE TABLE tbl TO VERSION AS OF 2", tables=tables
        )
    hist = execute_table_sql(spark, "DESCRIBE HISTORY tbl", tables=tables)
    counts = [
        (
            v,
            execute_table_sql(
                spark,
                f"SELECT count(*) AS n FROM tbl VERSION AS OF {v}",
                tables=tables,
            ).collect()[0]["n"],
        )
        for v in sorted(mt.manifest_chain(root))
    ]
    counts_df = spark.createDataFrame(counts, "version int, n_rows bigint")
    return (
        hist.join(counts_df, "version")
        .select("version", "operation", "n_rows")
        .orderBy("version")
    )


def manifest_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``VERSION AS OF`` as a READ VERB (r14 VERDICT Next #2): select
    the MID-CHAIN post-delete state (v3) through the statement
    front-end AFTER the later OPTIMIZE and RESTORE commits have
    rewritten and re-referenced files — a row-level oracle where DuckDB
    recomputes exactly v3 (upsert applied, both delete tiers applied,
    nothing from v4/v5 visible), so a pin that leaks later rewrites,
    loses the delete, or resolves the wrong version hash-fails."""
    from .table_api import (
        API_DEL_MOD,
        API_DEL_REM,
        API_DROP_MONTH,
        API_UPSERT_MOD,
        API_UPSERT_REM,
    )

    manifest_sql_lifecycle_history(spark, sf_dir)  # ensure the universe
    root = _sql_root(spark, sf_dir, "api")
    return execute_table_sql(
        spark,
        "SELECT o_orderkey, o_custkey, o_totalprice,"
        f" {MONTH_COL} AS pm FROM tbl VERSION AS OF 3"
        f" WHERE o_custkey % {API_UPSERT_MOD} = {API_UPSERT_REM}"
        f" OR o_custkey % {API_DEL_MOD} = {API_DEL_REM}",
        tables={"tbl": ManifestTable(spark, root)},
    )


SQLUPD_MOD, SQLUPD_REM = 11, 3
SQLUPD_BUMP = 55.5
SQLINS_OFFSET = 70_000_000
SQLINS_MOD, SQLINS_REM = 23, 4
SQLINS_BUMP = 9.25


def manifest_sql_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``UPDATE ... SET ... WHERE`` as a STATEMENT — the DML verb
    MERGE cannot express without a source frame: a multi-assignment
    SET (numeric bump + string concat, the concat's inner comma
    exercising the paren-aware splitter) CoW-rewrites only the files
    holding TRUE matches, neighbors carried. Row-level oracle over the
    WHOLE table: both assignments applied exactly where the predicate
    is true, everything else byte-identical — a double-applied bump, a
    lost neighbor, or an assignment leaking past the predicate
    hash-fails. Version-gated; torn runs resume. The read is PINNED to
    v2 (the INSERT entry shares this universe and appends v3 — a head
    read would leak its twins in)."""
    from ..catalog import load_tables

    root = _sql_root(spark, sf_dir, "dml")
    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    t = ManifestTable.create(spark, orders, root, date_col="o_orderdate")
    if 2 not in mt.manifest_chain(root):
        execute_table_sql(
            spark,
            f"UPDATE tbl SET o_totalprice = o_totalprice + {SQLUPD_BUMP},"
            " o_orderpriority = concat(o_orderpriority, '*')"
            f" WHERE o_custkey % {SQLUPD_MOD} = {SQLUPD_REM}",
            tables={"tbl": t},
        )
    return execute_table_sql(
        spark,
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,"
        f" {MONTH_COL} AS pm FROM tbl VERSION AS OF 2",
        tables={"tbl": t},
    )


def manifest_sql_insert_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``INSERT INTO ... SELECT`` as a STATEMENT — the append verb
    (``removed={}``: the one mutation that always commutes), with the
    SELECT itself TIME-TRAVELING (``FROM tbl VERSION AS OF 1``): the
    inserted twins copy PRE-update prices, so a version-resolution bug
    in the nested read changes inserted values and hash-fails. The
    oracle recomputes the whole table row-level: the UPDATE's bumps on
    the originals, the v1-priced key-shifted twins, nothing else."""
    manifest_sql_update_where(spark, sf_dir)  # ensure the universe (v2)
    root = _sql_root(spark, sf_dir, "dml")
    t = ManifestTable(spark, root)
    tables = {"tbl": t}
    if 3 not in mt.manifest_chain(root):
        execute_table_sql(
            spark,
            "INSERT INTO tbl SELECT"
            f" o_orderkey + {SQLINS_OFFSET} AS o_orderkey, o_custkey,"
            f" o_orderstatus, o_totalprice + {SQLINS_BUMP} AS o_totalprice,"
            f" o_orderdate, o_orderpriority, {MONTH_COL}"
            " FROM tbl VERSION AS OF 1"
            f" WHERE o_orderkey % {SQLINS_MOD} = {SQLINS_REM}",
            tables=tables,
        )
    return execute_table_sql(
        spark,
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,"
        f" {MONTH_COL} AS pm FROM tbl",
        tables=tables,
    )


def manifest_sql_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``table_changes(t, from, to)`` as a QUERY VERB — Delta's CDF
    table-valued function on the statement surface: the DML universe's
    whole change history (the UPDATE commit's pre/post pairs, the
    INSERT commit's twins) selected through one SQL statement, the TVF
    rewritten to the facade's ``change_feed`` view. Row-level oracle:
    DuckDB recomputes every change row of both commits from the
    statements' semantics — a carried neighbor leaking in, a
    misclassified image, or a wrong commit tag hash-fails."""
    manifest_sql_insert_into(spark, sf_dir)  # ensure the universe (v3)
    root = _sql_root(spark, sf_dir, "dml")
    return execute_table_sql(
        spark,
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,"
        f" {MONTH_COL} AS pm, _change_type, _commit_version"
        " FROM table_changes(tbl, 1, 3)",
        tables={"tbl": ManifestTable(spark, root)},
    )


SQLCK_OFFSET = 80_000_000
SQLCK_MOD, SQLCK_REM = 29, 6
SQLCK_BUMP = 3.5


def manifest_sql_check_constraint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHECK CONSTRAINTS as table metadata, enforced on every write
    (Delta's ``ALTER TABLE ADD CONSTRAINT`` contract): a metadata-only
    commit stores the check, ``commit_transaction`` carries it through
    later mutations, and each write verb validates its rows in ONE
    aggregation pass (NULL passes — SQL CHECK three-valued semantics).
    The entry engineers all three end states deterministically: a
    valid INSERT lands; a VIOLATING insert must raise
    ``ConstraintViolationError`` and commit NOTHING (head pinned
    before/after); an un-addable constraint (existing rows violate it)
    must also raise — both captured raise-if-absent. Row-level oracle
    over the final table: the fact ∪ the valid twins, nothing else —
    a leaked violating row, a lost constraint, or a phantom commit
    hash-fails."""
    from ..catalog import load_tables
    from .table_api import ConstraintViolationError

    root = _sql_root(spark, sf_dir, "ck")
    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    t = ManifestTable.create(spark, orders, root, date_col="o_orderdate")
    tables = {"tbl": t}
    if 2 not in mt.manifest_chain(root):
        execute_table_sql(
            spark,
            "ALTER TABLE tbl ADD CONSTRAINT positive_price"
            " CHECK (o_totalprice > 0)",
            tables=tables,
        )
    if 3 not in mt.manifest_chain(root):
        execute_table_sql(
            spark,
            "INSERT INTO tbl SELECT"
            f" o_orderkey + {SQLCK_OFFSET} AS o_orderkey, o_custkey,"
            f" o_orderstatus, o_totalprice + {SQLCK_BUMP} AS o_totalprice,"
            f" o_orderdate, o_orderpriority, {MONTH_COL}"
            " FROM tbl VERSION AS OF 1"
            f" WHERE o_orderkey % {SQLCK_MOD} = {SQLCK_REM}",
            tables=tables,
        )
        # -- engineered REJECTIONS, captured (raise-if-absent) --------
        head_before = t.version()
        rejected = False
        try:
            execute_table_sql(
                spark,
                "INSERT INTO tbl SELECT o_orderkey + 99000000 AS"
                " o_orderkey, o_custkey, o_orderstatus,"
                " -1.0 AS o_totalprice, o_orderdate, o_orderpriority,"
                f" {MONTH_COL} FROM tbl VERSION AS OF 1"
                f" WHERE o_orderkey % {SQLCK_MOD} = {SQLCK_REM}",
                tables=tables,
            )
        except ConstraintViolationError:
            rejected = True
        if not rejected:
            raise RuntimeError("violating INSERT was not rejected")
        if t.version() != head_before:
            raise RuntimeError("rejected INSERT still committed")
        unaddable = False
        try:
            execute_table_sql(
                spark,
                "ALTER TABLE tbl ADD CONSTRAINT impossible"
                " CHECK (o_totalprice > 900000)",
                tables=tables,
            )
        except ConstraintViolationError:
            unaddable = True
        if not unaddable:
            raise RuntimeError(
                "constraint violated by existing rows was added"
            )
    return execute_table_sql(
        spark,
        "SELECT o_orderkey, o_custkey, o_totalprice,"
        f" {MONTH_COL} AS pm FROM tbl",
        tables=tables,
    )


SQLCTAS_MOD = 5
SQLCTAS_BUMP = 1.0


def manifest_sql_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CREATE TABLE AS SELECT`` and ``CREATE OR REPLACE`` as
    statements: the SELECT derives the partition column itself; the
    REPLACE is ONE transaction swapping every current file for the new
    frame's — and because manifests are immutable, v1 stays
    time-travelable across the replace. The registered query reads
    BOTH snapshots through one statement (``VERSION AS OF 1`` union
    head) — a replace that leaks old files into the head, loses v1, or
    mis-derives the partition column hash-fails row-level. A bare
    CREATE over the existing table must refuse (captured
    raise-if-absent)."""
    from ..catalog import load_tables

    root = _sql_root(spark, sf_dir, "ctas")
    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    orders.createOrReplaceTempView("ctas_src")
    t = ManifestTable(spark, root)
    tables = {"ctbl": t}
    base_select = (
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,"
        f" date_format(o_orderdate, 'yyyy-MM') AS {MONTH_COL}"
        " FROM ctas_src"
    )
    if not mt.manifest_chain(root):
        execute_table_sql(
            spark,
            f"CREATE TABLE ctbl AS {base_select}"
            f" WHERE o_custkey % {SQLCTAS_MOD} = 2",
            tables=tables,
        )
    if 2 not in mt.manifest_chain(root):
        refused = False
        try:
            execute_table_sql(
                spark,
                f"CREATE TABLE ctbl AS {base_select}",
                tables=tables,
            )
        except ManifestSqlError:
            refused = True
        if not refused:
            raise RuntimeError("bare CREATE over an existing table ran")
        execute_table_sql(
            spark,
            "CREATE OR REPLACE TABLE ctbl AS SELECT o_orderkey,"
            f" o_custkey, o_totalprice + {SQLCTAS_BUMP} AS o_totalprice,"
            f" o_orderdate, date_format(o_orderdate, 'yyyy-MM') AS"
            f" {MONTH_COL} FROM ctas_src"
            f" WHERE o_custkey % {SQLCTAS_MOD} IN (2, 4)",
            tables=tables,
        )
    return execute_table_sql(
        spark,
        "SELECT 1 AS snapshot, o_orderkey, o_custkey, o_totalprice,"
        f" {MONTH_COL} AS pm FROM ctbl VERSION AS OF 1"
        " UNION ALL"
        " SELECT 2, o_orderkey, o_custkey, o_totalprice,"
        f" {MONTH_COL} FROM ctbl",
        tables=tables,
    )


QUERIES = {
    "manifest_sql_merge_upsert": manifest_sql_merge_upsert,
    "manifest_sql_lifecycle_history": manifest_sql_lifecycle_history,
    "manifest_sql_time_travel": manifest_sql_time_travel,
    "manifest_sql_update_where": manifest_sql_update_where,
    "manifest_sql_insert_into": manifest_sql_insert_into,
    "manifest_sql_table_changes": manifest_sql_table_changes,
    "manifest_sql_check_constraint": manifest_sql_check_constraint,
    "manifest_sql_ctas": manifest_sql_ctas,
}


def _api_const():
    from .table_api import (
        API_DEL_MOD,
        API_DEL_REM,
        API_DROP_MONTH,
        API_INSERT_OFFSET,
        API_PRICE_BUMP,
        API_UPSERT_MOD,
        API_UPSERT_REM,
    )

    return dict(
        mod=API_UPSERT_MOD,
        rem=API_UPSERT_REM,
        bump=API_PRICE_BUMP,
        off=API_INSERT_OFFSET,
        dropm=API_DROP_MONTH,
        dmod=API_DEL_MOD,
        drem=API_DEL_REM,
    )


_C = _api_const()

ORACLES = {
    # IDENTICAL oracle to the Python-facade twin: the statement IS the
    # verb, so it must land on the same row-level recomputation
    "manifest_sql_merge_upsert": mt.ORACLES["parquet_manifest_merge_upsert"],
    # v3 exactly, row-level, restricted to the touched congruence
    # classes (updated mod-9 rows at the bumped price + their insert
    # twins at the original price + mod-13 rows — minus both delete
    # tiers); rows from v4/v5 must not leak in
    "manifest_sql_time_travel": f"""
        WITH base AS (
            SELECT o_orderkey, o_custkey, o_totalprice,
                   strftime(o_orderdate, '%Y-%m') AS pm
            FROM orders
        ), v2 AS (
            SELECT o_orderkey, o_custkey,
                   CASE WHEN o_custkey % {_C['mod']} = {_C['rem']}
                        THEN o_totalprice + {_C['bump']}
                        ELSE o_totalprice END AS o_totalprice,
                   pm
            FROM base
            UNION ALL
            SELECT o_orderkey + {_C['off']}, o_custkey, o_totalprice, pm
            FROM base WHERE o_custkey % {_C['mod']} = {_C['rem']}
        )
        SELECT o_orderkey, o_custkey, o_totalprice, pm
        FROM v2
        WHERE pm <> '{_C['dropm']}'
          AND NOT (o_custkey % {_C['dmod']} = {_C['drem']})
          AND (o_custkey % {_C['mod']} = {_C['rem']}
               OR o_custkey % {_C['dmod']} = {_C['drem']})""",
}


ORACLES["manifest_sql_update_where"] = f"""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_custkey % {SQLUPD_MOD} = {SQLUPD_REM}
                    THEN o_totalprice + {SQLUPD_BUMP}
                    ELSE o_totalprice END AS o_totalprice,
               CASE WHEN o_custkey % {SQLUPD_MOD} = {SQLUPD_REM}
                    THEN o_orderpriority || '*'
                    ELSE o_orderpriority END AS o_orderpriority,
               strftime(o_orderdate, '%Y-%m') AS pm
        FROM orders"""

ORACLES["manifest_sql_insert_into"] = f"""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_custkey % {SQLUPD_MOD} = {SQLUPD_REM}
                    THEN o_totalprice + {SQLUPD_BUMP}
                    ELSE o_totalprice END AS o_totalprice,
               CASE WHEN o_custkey % {SQLUPD_MOD} = {SQLUPD_REM}
                    THEN o_orderpriority || '*'
                    ELSE o_orderpriority END AS o_orderpriority,
               strftime(o_orderdate, '%Y-%m') AS pm
        FROM orders
        UNION ALL
        -- the twins copy v1 (PRE-update) prices: the nested
        -- VERSION AS OF 1 read inside the INSERT's SELECT
        SELECT o_orderkey + {SQLINS_OFFSET}, o_custkey,
               o_totalprice + {SQLINS_BUMP}, o_orderpriority,
               strftime(o_orderdate, '%Y-%m') AS pm
        FROM orders
        WHERE o_orderkey % {SQLINS_MOD} = {SQLINS_REM}"""


ORACLES["manifest_sql_table_changes"] = f"""
        WITH base AS (
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
                   strftime(o_orderdate, '%Y-%m') AS pm
            FROM orders
        )
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority, pm,
               'update_preimage' AS _change_type, 2 AS _commit_version
        FROM base WHERE o_custkey % {SQLUPD_MOD} = {SQLUPD_REM}
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice + {SQLUPD_BUMP},
               o_orderpriority || '*', pm, 'update_postimage', 2
        FROM base WHERE o_custkey % {SQLUPD_MOD} = {SQLUPD_REM}
        UNION ALL
        SELECT o_orderkey + {SQLINS_OFFSET}, o_custkey,
               o_totalprice + {SQLINS_BUMP}, o_orderpriority, pm,
               'insert', 3
        FROM base WHERE o_orderkey % {SQLINS_MOD} = {SQLINS_REM}"""


ORACLES["manifest_sql_check_constraint"] = f"""
        SELECT o_orderkey, o_custkey, o_totalprice,
               strftime(o_orderdate, '%Y-%m') AS pm
        FROM orders
        UNION ALL
        SELECT o_orderkey + {SQLCK_OFFSET}, o_custkey,
               o_totalprice + {SQLCK_BUMP},
               strftime(o_orderdate, '%Y-%m') AS pm
        FROM orders
        WHERE o_orderkey % {SQLCK_MOD} = {SQLCK_REM}"""


ORACLES["manifest_sql_ctas"] = f"""
        SELECT 1 AS snapshot, o_orderkey, o_custkey, o_totalprice,
               strftime(o_orderdate, '%Y-%m') AS pm
        FROM orders WHERE o_custkey % {SQLCTAS_MOD} = 2
        UNION ALL
        SELECT 2, o_orderkey, o_custkey, o_totalprice + {SQLCTAS_BUMP},
               strftime(o_orderdate, '%Y-%m') AS pm
        FROM orders WHERE o_custkey % {SQLCTAS_MOD} IN (2, 4)"""


def _lifecycle_oracle() -> str:
    from .table_api import ORACLES as _API_ORACLES

    return _API_ORACLES["parquet_manifest_history"]


ORACLES["manifest_sql_lifecycle_history"] = _lifecycle_oracle()
