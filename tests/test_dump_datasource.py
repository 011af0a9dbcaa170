"""The Spark 4 Python data source must reproduce the driver-side dump
loader row for row — same parser, different execution shape (planner
locates statement offsets; executors parse their own VALUES lists)."""

from __future__ import annotations

from pathlib import Path

import pytest

from customer_revenue_analysis_sql_tableau_spark.operators.sakila import (
    REFERENCE_DUMP as DUMP,
)

pytestmark = pytest.mark.skipif(
    not Path(DUMP).exists(), reason=f"reference dump {DUMP} not present"
)


@pytest.fixture(scope="module")
def registered(spark):
    from customer_revenue_analysis_sql_tableau_spark.sources.dump_datasource import (
        register_dump_datasource,
    )

    register_dump_datasource(spark)
    return spark


def _read(spark, table):
    return (
        spark.read.format("sakila_dump")
        .option("path", DUMP)
        .option("table", table)
        .load()
    )


def test_datasource_matches_driver_side_loader(registered):
    """Row-set equality with load_sakila_tables for a scalar table, a
    decimal+timestamp fact, and the BLOB-carrying staff table."""
    from customer_revenue_analysis_sql_tableau_spark.sources.mysql_dump import (
        load_sakila_tables,
    )

    spark = registered
    base = load_sakila_tables(spark, DUMP, register=False)
    for table in ("category", "payment", "staff"):
        via_ds = _read(spark, table)
        ref = base[table].select(*via_ds.columns)  # film adds an extra col
        assert via_ds.schema == ref.schema, table
        got = {tuple(r) for r in via_ds.collect()}
        want = {tuple(r) for r in ref.collect()}
        assert got == want, table
        assert got, table


def test_multi_statement_tables_read_in_parallel(registered):
    """rental and payment ship as TWO INSERT statements — the planner
    must emit one partition per statement (the scale-out unit), and
    the union must still be the complete table."""
    spark = registered
    for table, n_stmts in (("rental", 2), ("payment", 2), ("film", 1)):
        df = _read(spark, table)
        assert df.rdd.getNumPartitions() == n_stmts, table
    assert _read(spark, "rental").count() == 16044


def test_stream_source_replays_statements_as_batches(registered, tmp_path):
    """The streaming twin serves one INSERT statement per micro-batch
    with reader-owned offsets: a two-statement table drains as two
    batches whose union equals the batch read, and a RESTART from the
    same checkpoint appends nothing (exactly-once offsets)."""
    import time

    spark = registered

    def drain(ckpt):
        # a processing-time trigger, drained with processAllAvailable:
        # availableNow collapses a simple stream reader to a single
        # prefetched batch, losing the statement-per-batch shape
        batches = []
        q = (
            spark.readStream.format("sakila_dump_stream")
            .option("path", DUMP)
            .option("table", "rental")
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: batches.append((bid, df.count()))
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        return batches

    first = drain(f"{tmp_path}/ckpt")
    counts = [n for _, n in first if n > 0]
    assert len(counts) == 2 and sum(counts) == 16044, first
    # restart on the exhausted checkpoint: no re-emission
    again = drain(f"{tmp_path}/ckpt")
    assert sum(n for _, n in again) == 0, again


def test_unknown_table_fails_loudly(registered):
    # The rejection surfaces as Spark's wrapper around the ValueError
    # raised in SakilaDumpDataSource.schema(); matching the message
    # (not a bare Exception) keeps this test meaningful — an import
    # typo or wrong option name would NOT carry this text (r9 ADVICE).
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(
        (Py4JJavaError, AnalysisException), match="unknown table"
    ):
        _read(registered, "no_such_table").schema


def test_quoted_insert_text_fails_loudly_not_silently(registered, tmp_path):
    """A quoted value containing ``INSERT INTO ... VALUES`` text fools
    the planner's byte-range scan into truncating the statement's
    slice mid-payload. The executor-side parse must detect the missing
    terminating ``;`` and raise (naming the cause), never silently
    return the partial row set (r10 ADVICE). The quote-aware full-text
    loader path stays available for such dumps."""
    from customer_revenue_analysis_sql_tableau_spark.sources.mysql_dump import (
        _parse_values_impl,
    )

    ts = "2006-02-15 04:46:27"
    evil = "INSERT INTO `category` VALUES"
    dump = tmp_path / "evil.sql"
    dump.write_text(
        f"INSERT INTO `category` VALUES (1,'Action','{ts}'),"
        f"(2,'x {evil} y','{ts}'),(3,'Comedy','{ts}');\n"
    )
    # the parser itself reports proper vs truncated termination
    ok_rows, _, ok_term = _parse_values_impl(
        f"(1,'Action','{ts}');", 0
    )
    assert ok_term and len(ok_rows) == 1
    _, _, bad_term = _parse_values_impl(f"(1,'Act", 0)
    assert not bad_term

    df = (
        registered.read.format("sakila_dump")
        .option("path", str(dump))
        .option("table", "category")
        .load()
    )
    # whichever task fails first surfaces: the truncated slice raises
    # "did not terminate"; the bogus in-string slice trips the
    # payload parser's "expected '('" assert — both are loud
    with pytest.raises(Exception, match=r"did not terminate|expected '\('"):
        df.collect()
