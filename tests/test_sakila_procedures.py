"""DuckDB parity for the Sakila stored-routine rewrites (§2.11) on the
reference's own parsed dump."""

from __future__ import annotations

import sys
from pathlib import Path
from decimal import Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from oracle_check import compare_frames  # noqa: E402

from customer_revenue_analysis_sql_tableau_spark.operators import sakila, sakila_procedures as proc
from customer_revenue_analysis_sql_tableau_spark.sources.mysql_dump import SAKILA_SCHEMAS

ANCHOR = "2005-08-15"  # last calendar month = 2005-07 (6709 rentals)
EFFECTIVE = "2005-07-31 00:00:00"


@pytest.fixture(scope="session")
def tables(spark):
    if not Path(sakila.REFERENCE_DUMP).exists():
        pytest.skip(f"reference dump {sakila.REFERENCE_DUMP} not present")
    return sakila.load_reference_tables(spark)


@pytest.fixture(scope="session")
def duck2(tables):
    con = duckdb.connect()
    for name in ("customer", "payment", "rental", "inventory", "film"):
        con.register(name, tables[name].toPandas())
    yield con
    con.close()


def test_rewards_report_matches_oracle(tables, duck2):
    df = proc.rewards_report(tables, 5, Decimal("50.00"), ANCHOR)
    spark_pd = df.toPandas()
    oracle_pd = duck2.execute(
        """
        SELECT c.* FROM customer c
        JOIN (
            SELECT customer_id FROM payment
            WHERE CAST(payment_date AS DATE)
                  BETWEEN DATE '2005-07-01' AND DATE '2005-07-31'
            GROUP BY customer_id
            HAVING sum(amount) > CAST(50.00 AS DECIMAL(10,2))
               AND count(customer_id) > 5
        ) q USING (customer_id)"""
    ).df()
    assert len(spark_pd) > 0
    problems = compare_frames(spark_pd, oracle_pd)
    assert not problems, problems


def test_rewards_report_rejects_zero_params(spark):
    """The procedure's parameter guard fires before any table is read,
    so Sakila-shaped empty tables suffice."""
    tables = {
        name: spark.createDataFrame([], SAKILA_SCHEMAS[name])
        for name in ("customer", "payment")
    }
    with pytest.raises(ValueError):
        proc.rewards_report(tables, 0, Decimal("1.00"), ANCHOR)
    with pytest.raises(ValueError):
        proc.rewards_report(tables, 1, Decimal("0.00"), ANCHOR)


def test_customer_balances_match_oracle(tables, duck2):
    spark_pd = proc.customer_balances(tables, EFFECTIVE).toPandas()
    oracle_pd = duck2.execute(
        f"""
        WITH fees AS (
            SELECT r.customer_id,
                   sum(f.rental_rate) AS rent_fees,
                   sum(CASE WHEN date_diff('day', CAST(r.rental_date AS DATE),
                                           CAST(r.return_date AS DATE))
                                > f.rental_duration
                            THEN date_diff('day', CAST(r.rental_date AS DATE),
                                           CAST(r.return_date AS DATE))
                                 - f.rental_duration
                            ELSE 0 END) AS over_fees
            FROM rental r
            JOIN inventory i ON r.inventory_id = i.inventory_id
            JOIN film f ON i.film_id = f.film_id
            WHERE r.rental_date <= TIMESTAMP '{EFFECTIVE}'
            GROUP BY r.customer_id
        ), paid AS (
            SELECT customer_id, sum(amount) AS payments
            FROM payment WHERE payment_date <= TIMESTAMP '{EFFECTIVE}'
            GROUP BY customer_id
        )
        SELECT coalesce(fees.customer_id, paid.customer_id) AS customer_id,
               coalesce(rent_fees, CAST(0 AS DECIMAL(5,2))) AS rent_fees,
               coalesce(over_fees, 0) AS over_fees,
               coalesce(payments, CAST(0 AS DECIMAL(5,2))) AS payments,
               coalesce(rent_fees, CAST(0 AS DECIMAL(5,2)))
                   + coalesce(over_fees, 0)
                   - coalesce(payments, CAST(0 AS DECIMAL(5,2))) AS balance
        FROM fees FULL JOIN paid ON fees.customer_id = paid.customer_id"""
    ).df()
    problems = compare_frames(spark_pd, oracle_pd)
    assert not problems, problems


def test_get_customer_balance_scalar(tables):
    """The routine returns rentfees + $1/day overdue − payments; open
    rentals accrue nothing (NULL-date arithmetic, §2.11)."""
    bal = proc.get_customer_balance(tables, 1, EFFECTIVE)
    assert isinstance(bal, Decimal)
    # customer 1's payments cover fees at this date: balance can't be
    # wildly positive; sanity-bound rather than magic-number
    assert Decimal("-200") < bal < Decimal("200")


def test_inventory_in_stock_counts(tables, duck2):
    """183 rentals are open in the dump ⇒ exactly 183 items out of
    stock; the rest of the 4581 items are in stock."""
    stock = proc.inventory_in_stock(tables)
    counts = {
        r["in_stock"]: r["n"]
        for r in stock.groupBy("in_stock").agg(F.count("*").alias("n")).collect()
    }
    assert counts[False] == 183
    assert counts[True] == 4581 - 183


def test_film_in_stock_partition(tables):
    """in-stock + not-in-stock inventories partition a film's items at
    a store (complementary procedures, ``sql/sakila-schema.sql:591-627``)."""
    inv = tables["inventory"]
    film_id, store_id = 1, 1
    total = inv.filter((inv.film_id == film_id) & (inv.store_id == store_id)).count()
    a = {r["inventory_id"] for r in proc.film_in_stock(tables, film_id, store_id).collect()}
    b = {r["inventory_id"] for r in proc.film_not_in_stock(tables, film_id, store_id).collect()}
    assert len(a) + len(b) == total
    assert not (a & b)


def test_inventory_held_by_customer(tables, duck2):
    spark_pd = proc.inventory_held_by_customer(tables).toPandas()
    oracle_pd = duck2.execute(
        "SELECT inventory_id, customer_id FROM rental WHERE return_date IS NULL"
    ).df()
    assert len(spark_pd) == 183
    problems = compare_frames(spark_pd, oracle_pd)
    assert not problems, problems
