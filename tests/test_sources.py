"""Source/sink coverage: month-partitioned fact layout with pruned
scans (§7.4.7) and the golden-output CSV materialization step (S8)."""

from __future__ import annotations

import glob
import tempfile
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables
from customer_revenue_analysis_sql_tableau_spark.operators import sakila
from customer_revenue_analysis_sql_tableau_spark.session import scoped_conf
from customer_revenue_analysis_sql_tableau_spark.sources.csv import read_csv
from customer_revenue_analysis_sql_tableau_spark.sources.parquet import (
    MONTH_COL,
    materialize_golden_outputs,
    read_months,
    save_bucketed,
    write_month_partitioned,
)


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_month_partitioned_write_and_pruned_read(spark, sf_dir):
    orders = load_tables(spark, sf_dir, names=("orders",), register=False)["orders"]
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/orders_by_month"
        write_month_partitioned(orders, "o_orderdate", path)
        # physical layout: one directory per month
        dirs = sorted(glob.glob(f"{path}/{MONTH_COL}=*"))
        assert len(dirs) > 1

        months = [d.split("=")[-1] for d in dirs[:2]]
        pruned = read_months(spark, path, months)
        p = _plan(pruned)
        # partition pruning must reach the scan as PartitionFilters,
        # not a post-scan Filter
        assert "PartitionFilters" in p and MONTH_COL in p.split("PartitionFilters", 1)[1][:200]

        expected = orders.filter(
            F.date_format("o_orderdate", "yyyy-MM").isin(months)
        ).count()
        assert pruned.count() == expected


def test_dynamic_partition_pruning_on_fact_dim_join(spark, sf_dir):
    """DPP — the runtime sibling of static pruning: joining the
    month-partitioned fact to a FILTERED frame on the partition column
    must plant a ``dynamicpruningexpression`` in the scan's
    PartitionFilters (the dim filter's months prune fact DIRECTORIES
    at runtime — at 100 TB the difference between reading a month and
    reading the table), and the pruned join must count exactly like
    the same join with DPP disabled."""
    t = load_tables(
        spark, sf_dir, names=("orders", "lineitem"), register=False
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/orders_by_month"
        write_month_partitioned(t["orders"], "o_orderdate", path)
        po = spark.read.parquet(path)
        dim = (
            t["lineitem"]
            .filter(F.col("l_returnflag") == "R")
            .select(
                F.date_format("l_shipdate", "yyyy-MM").alias(MONTH_COL)
            )
            .distinct()
            .filter(F.col(MONTH_COL) < "1995-07")  # testdata starts 1995-01
        )
        j = po.join(dim, MONTH_COL).groupBy(MONTH_COL).count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruningexpression" in plan
        pruned = sorted(map(tuple, j.collect()))
        with scoped_conf(
            spark, {"spark.sql.optimizer.dynamicPartitionPruning.enabled": "false"}
        ):
            unpruned = sorted(
                map(
                    tuple,
                    po.join(dim, MONTH_COL).groupBy(MONTH_COL).count().collect(),
                )
            )
        assert pruned == unpruned and len(pruned) > 0


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Fact-fact join over same-bucketed tables: SortMergeJoin with no
    Exchange and no per-query Sort — the write-once shuffle posture."""
    t = load_tables(spark, sf_dir, names=("orders", "lineitem"), register=False)
    with tempfile.TemporaryDirectory() as tmp:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS bdb LOCATION '{tmp}/bdb'")
        try:
            save_bucketed(t["orders"], "bdb.orders_b", "o_orderkey")
            save_bucketed(t["lineitem"], "bdb.lineitem_b", "l_orderkey")
            with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
                ob, lb = spark.table("bdb.orders_b"), spark.table("bdb.lineitem_b")
                joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
                p = _plan(joined)
                assert "SortMergeJoin" in p
                assert "Exchange" not in p, "bucketed join still shuffles"
                # the recorded bucket sort order must be trusted (conf
                # legacy.bucketedTableScan.outputOrdering): no per-query
                # Sort node anywhere in this exchange-free merge join
                import re

                assert not re.search(r"\(\d+\) Sort\b", p), p
                assert joined.count() == t["lineitem"].count()
        finally:
            spark.sql("DROP DATABASE IF EXISTS bdb CASCADE")


def test_bucketed_layout_one_file_per_bucket(spark, sf_dir):
    """The premise of ``legacy.bucketedTableScan.outputOrdering=true``
    (session.py, r15): Spark honors the bucket sort order recorded by
    ``bucketBy+sortBy`` only when every bucket is a SINGLE file. Since
    r16 ``save_bucketed`` makes that structural (repartition by the
    bucket key into exactly ``buckets`` partitions — the same Murmur3
    pmod placement native bucketing uses). Pin it: a future writer that
    produces multi-file buckets would silently fall back to per-query
    sorts (Spark's own guard) and waste the layout."""
    import re
    from collections import Counter

    t = load_tables(spark, sf_dir, names=("orders",), register=False)
    with tempfile.TemporaryDirectory() as tmp:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS bfb LOCATION '{tmp}/bfb'")
        try:
            # force a multi-partition input so the invariant is the
            # writer's doing, not an accident of a one-split local scan
            save_bucketed(t["orders"].repartition(16), "bfb.orders_b", "o_orderkey", buckets=8)
            loc = (
                spark.sql("DESCRIBE TABLE EXTENDED bfb.orders_b")
                .filter("col_name = 'Location'")
                .collect()[0]["data_type"]
            ).replace("file:", "")
            import os

            files = [f for f in os.listdir(loc) if f.endswith(".parquet")]
            ids = Counter()
            for f in files:
                m = re.search(r"_(\d{5})\.", f)
                assert m, f"bucketed file without bucket id: {f}"
                ids[m.group(1)] += 1
            assert len(ids) == 8 and all(v == 1 for v in ids.values()), ids
        finally:
            spark.sql("DROP DATABASE IF EXISTS bfb CASCADE")


@pytest.mark.skipif(
    not Path(sakila.REFERENCE_DUMP).exists(),
    reason=f"reference dump {sakila.REFERENCE_DUMP} not present",
)
def test_golden_output_materialization(spark):
    tables = sakila.load_reference_tables(spark)
    view = sakila.customer_revenue_summary(spark, tables)
    q9 = sakila.q9(view)
    with tempfile.TemporaryDirectory() as tmp:
        materialize_golden_outputs(view, {"q9": q9}, tmp)
        dw_back = read_csv(spark, f"{tmp}/dw")
        assert dw_back.count() == 599
        assert dw_back.columns == sakila.VIEW_COLUMNS
        q9_back = read_csv(spark, f"{tmp}/q9")
        assert q9_back.count() == 108
        # single-file export (golden-style), plus Spark's _SUCCESS marker
        assert len(glob.glob(f"{tmp}/dw/part-*.csv")) == 1


def test_jsonl_export_roundtrip_and_partition_pruning(spark, sf_dir, tmp_path):
    """The training-data JSONL export: sharded, split-partitioned, and
    value-faithful on read-back; reading one split prunes to its
    directory."""
    from pyspark.sql import functions as F

    from customer_revenue_analysis_sql_tableau_spark.operators.pipeline import (
        training_data_pipeline,
    )
    from customer_revenue_analysis_sql_tableau_spark.sources.jsonl import (
        export_training_jsonl,
        read_jsonl,
    )

    out = str(tmp_path / "train_jsonl")
    back = export_training_jsonl(spark, sf_dir, out, shards=3)

    n_kept = training_data_pipeline(spark, sf_dir).filter(F.col("kept")).count()
    assert back.count() == n_kept
    assert set(back.columns) == {"doc_id", "text", "lang", "source", "split"}
    # split-partition directories exist and each split's shard files are
    # newline-delimited JSON objects
    import json
    import pathlib

    split_dirs = sorted(
        p.name for p in pathlib.Path(out).iterdir() if p.name.startswith("split=")
    )
    assert "split=train" in split_dirs
    a_file = next(pathlib.Path(out, "split=train").glob("*.json"))
    first = json.loads(a_file.read_text().splitlines()[0])
    assert {"doc_id", "text", "lang", "source"} <= set(first)
    # pruned read: one split only, correct subset
    train_only = read_jsonl(
        spark,
        out,
        schema="doc_id bigint, text string, lang string, source string, split string",
    ).filter(F.col("split") == "train")
    plan = train_only._jdf.queryExecution().executedPlan().toString()
    assert train_only.count() == back.filter(F.col("split") == "train").count()
    assert "PartitionFilters: [isnotnull(split" in plan or "split=train" in plan


def test_orc_roundtrip_pushdown_and_pruning(spark, sf_dir, tmp_path):
    """ORC sink/source: value-exact roundtrip, multiple shards (never a
    single coalesced file), partition pruning on the split key, and
    predicate pushdown reaching the native ORC scan."""
    from customer_revenue_analysis_sql_tableau_spark.sources.orc import (
        read_orc,
        write_orc,
    )

    docs = load_tables(spark, sf_dir, names=("documents",))["documents"]
    out = str(tmp_path / "docs_orc")
    write_orc(docs, out, partition_by="lang", shards=4)
    back = read_orc(spark, out)
    assert back.count() == docs.count()
    a = {r.doc_id: (r.text, r.source) for r in back.collect()}
    b = {r.doc_id: (r.text, r.source) for r in docs.collect()}
    assert a == b
    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    one = back.filter(F.col("lang") == langs[0])
    plan = one._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "lang" in pf  # pruning reaches the scan, not a post-filter
    assert one.count() == docs.filter(F.col("lang") == langs[0]).count()
    pushed = back.filter(F.col("doc_id") == 1)
    pplan = pushed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,1)" in pplan


def test_roundtrip_entries_survive_hostile_strings(spark, tmp_path):
    """The CSV/JSONL roundtrip digests run on benign driver testdata —
    this test feeds the same writer/reader pairs text carrying every
    classic format-breaking construct (embedded newlines, quotes,
    commas, backslashes, unicode, leading/trailing spaces) and demands
    byte-exact recovery."""
    from customer_revenue_analysis_sql_tableau_spark.sources.jsonl import (
        read_jsonl,
        write_jsonl,
    )
    from customer_revenue_analysis_sql_tableau_spark.sources.roundtrips import (
        DOCS_SCHEMA,
    )

    hostile = [
        (1, 'comma, "quoted", done', "en", "web", 0),
        (2, "line one\nline two\r\nline three", "en", "web", 0),
        (3, 'backslash \\ and \\" mix', "en", "web", 0),
        (4, "unicode: café — 中文 \U0001f600", "en", "web", 0),
        (5, "  padded  ", "en", "web", 0),
        (6, '","', "en", "web", 0),
    ]
    df = spark.createDataFrame(hostile, DOCS_SCHEMA)
    want = {r[0]: r[1] for r in hostile}

    from customer_revenue_analysis_sql_tableau_spark.sources.csv import (
        CSV_READ_OPTS,
        write_csv,
    )

    write_csv(df, str(tmp_path / "csv"), shards=1)
    back_csv = (
        spark.read.schema(DOCS_SCHEMA)
        .options(**CSV_READ_OPTS)
        .csv(str(tmp_path / "csv"))
    )
    assert {r.doc_id: r.text for r in back_csv.collect()} == want

    write_jsonl(df, str(tmp_path / "jsonl"), shards=2)
    back_jsonl = read_jsonl(spark, str(tmp_path / "jsonl"), schema=DOCS_SCHEMA)
    assert {r.doc_id: r.text for r in back_jsonl.collect()} == want

    from customer_revenue_analysis_sql_tableau_spark.sources.xml import (
        read_xml,
        write_xml,
    )

    hostile_xml = hostile + [
        (7, "entities & <tags> and \"quotes\" 'apos'", "en", "web", 0),
        (8, "", "en", "web", 0),  # empty element must not become NULL
    ]
    dfx = spark.createDataFrame(hostile_xml, DOCS_SCHEMA)
    write_xml(dfx, str(tmp_path / "xml"), shards=2)
    back_xml = read_xml(spark, str(tmp_path / "xml"), DOCS_SCHEMA)
    assert {r.doc_id: r.text for r in back_xml.collect()} == {
        r[0]: r[1] for r in hostile_xml
    }


def test_xml_permissive_quarantine(spark, tmp_path):
    """Malformed-XML policy (the jsonl_corrupt_tolerance twin for the
    fourth format): a WELL-FORMED file carrying a type-corrupt row
    quarantines that row alone; structurally TORN XML quarantines at
    the parse unit (the torn region, not per-row — XML's nesting makes
    row recovery impossible past the tear, probed engine behavior).
    Every good row from intact files survives byte-exact."""
    from customer_revenue_analysis_sql_tableau_spark.sources.xml import (
        XML_READ_OPTS,
        write_xml,
    )

    df = spark.createDataFrame(
        [(1, "good one"), (2, "good two")], "doc_id bigint, text string"
    )
    write_xml(df, str(tmp_path / "x"), shards=1)
    # file A: well-formed, one type-corrupt row between two good ones
    (tmp_path / "x" / "part-badtype.xml").write_text(
        "<rows><row><doc_id>7</doc_id><text>ok seven</text></row>"
        "<row><doc_id>not_a_number</doc_id><text>bad</text></row>"
        "<row><doc_id>8</doc_id><text>ok eight</text></row></rows>"
    )
    # file B: structurally torn (unclosed row element)
    (tmp_path / "x" / "part-torn.xml").write_text(
        "<rows><row><doc_id>99</doc_id><text>unclosed</row></rows>"
    )
    back = (
        spark.read.format("xml")
        .options(**XML_READ_OPTS)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema("doc_id bigint, text string, _corrupt_record string")
        .load(str(tmp_path / "x"))
        .collect()
    )
    good = {r.doc_id: r.text for r in back if r._corrupt_record is None}
    corrupt = [r for r in back if r._corrupt_record is not None]
    assert good == {1: "good one", 2: "good two", 7: "ok seven", 8: "ok eight"}
    assert len(corrupt) == 2  # the bad-typed row + the torn region
    assert any("not_a_number" in r._corrupt_record for r in corrupt)
    assert any("unclosed" in r._corrupt_record for r in corrupt)


def test_jsonl_preserves_microsecond_timestamps(spark, sf_dir, tmp_path):
    """Spark's default JSON timestamp format is millisecond-precision —
    the pinned JSONL_TS_FORMAT must carry events.ts through a write/read
    cycle to the exact microsecond."""
    from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables
    from customer_revenue_analysis_sql_tableau_spark.sources.jsonl import (
        read_jsonl,
        write_jsonl,
    )
    from customer_revenue_analysis_sql_tableau_spark.sources.roundtrips import (
        EVENTS_SCHEMA,
    )

    events = load_tables(spark, sf_dir, names=("events",), register=False)[
        "events"
    ].select("event_id", "ts", "user_id", "event_type", "value", "props")
    write_jsonl(events, str(tmp_path / "ev"), shards=2)
    back = read_jsonl(spark, str(tmp_path / "ev"), schema=EVENTS_SCHEMA)
    want = {r.event_id: r.ts for r in events.collect()}
    got = {r.event_id: r.ts for r in back.collect()}
    assert got == want  # microseconds intact
    assert any(ts.microsecond % 1000 for ts in want.values())  # non-vacuous


def test_zorder_layout_skips_on_both_dimensions(spark, tmp_path):
    """Measure data skipping straight from the parquet footers: across
    a 4x4 grid of small (ts-range AND user-range) query boxes, the
    z-ordered events layout must leave FEWER eligible files on average
    (box intersects the file's [min,max] envelope) than a ts-sorted
    layout, whose every file spans the full user range. Uses sf0.01 so
    the user axis has real resolution; also regression-guards the
    TIMESTAMP_MICROS writer default — INT96 timestamps carry no footer
    stats at all and would make every file ts-eligible."""
    import glob

    import pyarrow.parquet as pq

    from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables
    from customer_revenue_analysis_sql_tableau_spark.sources.zorder import (
        write_zorder,
    )

    events = load_tables(
        spark, "/root/testdata/sf0.01", names=("events",), register=False
    )["events"].select("event_id", "ts", "user_id", "value")
    n_files = 32
    write_zorder(events, str(tmp_path / "z"), "ts", "user_id", files=n_files)
    events.repartitionByRange(n_files, "ts").sortWithinPartitions(
        "ts"
    ).write.mode("overwrite").parquet(str(tmp_path / "t"))

    def envelopes(path):
        out = []
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            lo, hi = {}, {}
            for rgi in range(md.num_row_groups):
                rg = md.row_group(rgi)
                for i in range(rg.num_columns):
                    c = rg.column(i)
                    if c.path_in_schema in ("ts", "user_id") and c.statistics:
                        s, n = c.statistics, c.path_in_schema
                        lo[n] = s.min if n not in lo else min(lo[n], s.min)
                        hi[n] = s.max if n not in hi else max(hi[n], s.max)
            assert "ts" in lo, "no ts footer stats (INT96 regression?)"
            out.append((lo, hi))
        return out

    tmin, tmax, umin, umax = events.selectExpr(
        "min(ts)", "max(ts)", "min(user_id)", "max(user_id)"
    ).first()
    tspan, uspan = tmax - tmin, umax - umin

    def eligible(env, tq_lo, tq_hi, uq_lo, uq_hi):
        n = 0
        for lo, hi in env:
            if hi["ts"].replace(tzinfo=None) < tq_lo:
                continue
            if lo["ts"].replace(tzinfo=None) > tq_hi:
                continue
            if hi["user_id"] < uq_lo or lo["user_id"] > uq_hi:
                continue
            n += 1
        return n

    z_env, t_env = envelopes(str(tmp_path / "z")), envelopes(str(tmp_path / "t"))
    assert len(z_env) == n_files and len(t_env) == n_files
    z_tot = t_tot = 0
    for i in range(4):
        for j in range(4):
            tq_lo = tmin + tspan * (2 * i + 1) / 9
            tq_hi = tmin + tspan * ((2 * i + 1) / 9 + 1 / 8)
            uq_lo = umin + uspan * (2 * j + 1) // 9
            uq_hi = uq_lo + uspan // 8
            z_tot += eligible(z_env, tq_lo, tq_hi, uq_lo, uq_hi)
            t_tot += eligible(t_env, tq_lo, tq_hi, uq_lo, uq_hi)
    # measured 3.7 vs 5.0 avg eligible files; assert with margin, and
    # that z-skipping is genuine (well under half the files per box)
    assert z_tot <= 0.9 * t_tot, (z_tot, t_tot)
    assert z_tot / 16 <= n_files / 4
    # the layout loses no rows
    assert spark.read.parquet(str(tmp_path / "z")).count() == events.count()


def test_jsonl_corrupt_tolerance_quarantines_exactly_the_bad_lines(spark, sf_dir):
    """PERMISSIVE ingest: the summary row must count exactly the
    injected malformed lines as corrupt and recover every good row
    (digest equality with the raw table is the registry oracle; here we
    pin the counts and that a clean read yields zero corrupt)."""
    from customer_revenue_analysis_sql_tableau_spark.sources.roundtrips import (
        CORRUPT_LINES,
        jsonl_corrupt_tolerance,
    )

    row = jsonl_corrupt_tolerance(spark, sf_dir).first()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert row.n_good == n_docs
    assert row.n_corrupt == len(CORRUPT_LINES)


def test_dump_parser_roundtrips_arbitrary_rows_property():
    """Fuzz the MySQL-dump value parser: arbitrary rows (hostile
    strings with quotes/backslashes/newlines, NULLs, ints,
    two-decimal numerics, hex BLOBs) rendered in the dump dialect must
    parse back value-identical — the parser can't depend on Sakila's
    actual byte layout."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from customer_revenue_analysis_sql_tableau_spark.sources.mysql_dump import (
        _parse_values,
    )

    def render(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bytes):
            return "0x" + v.hex()
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
        return repr(v)

    scalar = st.one_of(
        st.none(),
        st.integers(-10**9, 10**9),
        st.builds(
            lambda a, b: float(f"{a}.{b:02d}"),
            st.integers(0, 10**6),
            st.integers(0, 99),
        ),
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs",)
            ),
            max_size=24,
        ),
        st.binary(min_size=1, max_size=16),
    )

    @settings(max_examples=60, deadline=None)
    @given(rows=st.lists(st.lists(scalar, min_size=1, max_size=6), min_size=1, max_size=5))
    def case(rows):
        # all rows in one statement need not share arity for the parser
        text = ",\n ".join(
            "(" + ",".join(render(v) for v in row) + ")" for row in rows
        ) + ";"
        got, end = _parse_values(text, 0)
        assert end == len(text)
        assert got == [tuple(r) for r in rows]

    case()


def test_parquet_schema_evolution_widen_with_nulls(spark, sf_dir):
    """mergeSchema must surface the union schema with NULLs exactly on
    the narrow delivery's rows — verified structurally (not just via
    the digest summary the registry entry emits)."""
    import tempfile
    import shutil

    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tmp = tempfile.mkdtemp(prefix="evo_test_")
    try:
        even = F.pmod(F.col("doc_id"), 2) == 0
        docs.filter(even).select("doc_id", "text").write.parquet(f"{tmp}/evo")
        docs.filter(~even).select("doc_id", "text", "lang", "source").write.mode(
            "append"
        ).parquet(f"{tmp}/evo")
        back = spark.read.option("mergeSchema", "true").parquet(f"{tmp}/evo")
        assert set(back.columns) == {"doc_id", "text", "lang", "source"}
        assert back.count() == docs.count()
        # narrow-delivery rows widened with NULLs, wide rows intact
        assert back.filter(even & F.col("lang").isNotNull()).count() == 0
        wide_nulls = docs.filter(~even).filter(F.col("lang").isNull()).count()
        assert back.filter(~even & F.col("lang").isNull()).count() == wide_nulls
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_parse_dump_skips_insert_text_inside_quoted_values():
    """The full-text loader must not treat ``INSERT INTO ... VALUES``
    text INSIDE a quoted value as a statement boundary: the quote-aware
    parser consumes it as string content, and the match-skip rule
    (parse_dump's ``consumed`` cursor) drops the bogus regex hit — so a
    valid dump with adversarial string content parses exactly."""
    import tempfile
    from pathlib import Path

    from customer_revenue_analysis_sql_tableau_spark.sources.mysql_dump import (
        parse_dump,
    )

    ts = "2006-02-15 04:46:27"
    evil = "INSERT INTO `category` VALUES (9,'fake','x')"
    evil_escaped = evil.replace("'", "''")  # the dump dialect's escaping
    text = (
        f"INSERT INTO `category` VALUES (1,'Action','{ts}'),"
        f"(2,'say {evil_escaped}; done','{ts}'),(3,'Comedy','{ts}');\n"
        f"INSERT INTO `language` VALUES (1,'English','{ts}');\n"
    )
    with tempfile.TemporaryDirectory() as tmp:
        p = Path(tmp) / "dump.sql"
        p.write_text(text)
        out = parse_dump(str(p), tables=("category", "language"))
    assert [r[0] for r in out["category"]] == [1, 2, 3]
    assert out["category"][1][1] == f"say {evil}; done"
    assert out["language"] == [(1, "English", ts)]


def test_schema_evolution_type_change_policy(spark, sf_dir):
    """The pinned divergence hazards of the two evolution policies
    (probed empirically, frozen here):

    - parquet ``mergeSchema`` fails LOUDLY on ANY type change across
      deliveries — a true conflict (int vs string) AND an int→long
      widening alike (no silent widening at the footer merge);
    - the migration path for widening is the explicit catalog schema:
      the parquet reader upcasts int32 files into a ``long`` column
      correctly;
    - the JSON parse unit under an explicit schema silently COERCES a
      type-changed scalar into a string field (no _corrupt_record) —
      why production readers checksum downstream.
    """
    import json
    import os
    import tempfile
    import shutil

    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="evo_type_")
    try:
        # conflict: int vs string under mergeSchema
        spark.range(3).select(
            F.col("id").alias("doc_id"), F.lit(1).alias("x")
        ).write.parquet(f"{tmp}/conflict")
        spark.range(3, 6).select(
            F.col("id").alias("doc_id"), F.lit("s").alias("x")
        ).write.mode("append").parquet(f"{tmp}/conflict")
        with pytest.raises(Exception, match="[Mm]erg"):
            spark.read.option("mergeSchema", "true").parquet(
                f"{tmp}/conflict"
            ).collect()

        # widening: int32 then int64 deliveries
        spark.range(3).select(
            F.col("id").alias("doc_id"), F.lit(1).cast("int").alias("y")
        ).write.parquet(f"{tmp}/widen")
        spark.range(3, 6).select(
            F.col("id").alias("doc_id"), F.lit(2).cast("long").alias("y")
        ).write.mode("append").parquet(f"{tmp}/widen")
        with pytest.raises(Exception, match="[Mm]erg"):
            spark.read.option("mergeSchema", "true").parquet(
                f"{tmp}/widen"
            ).collect()
        # ... which migrates via the explicit catalog schema instead
        back = spark.read.schema("doc_id long, y long").parquet(
            f"{tmp}/widen"
        )
        assert dict(back.dtypes)["y"] == "bigint" and back.count() == 6

        # JSONL: absent field null-fills; type-changed scalar coerces
        os.makedirs(f"{tmp}/j")
        with open(f"{tmp}/j/part1.json", "w") as fh:
            fh.write(json.dumps({"doc_id": 1, "text": "a"}) + "\n")
            fh.write(
                json.dumps({"doc_id": 2, "text": "b", "lang": "en"}) + "\n"
            )
            fh.write(json.dumps({"doc_id": 3, "text": "c", "lang": 7}) + "\n")
        rows = {
            r["doc_id"]: r["lang"]
            for r in spark.read.schema(
                "doc_id long, text string, lang string"
            )
            .json(f"{tmp}/j")
            .collect()
        }
        assert rows == {1: None, 2: "en", 3: "7"}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
