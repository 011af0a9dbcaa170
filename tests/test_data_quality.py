"""Ingest-time constraint validation (SURVEY.md §1.4): Spark doesn't
enforce PK/FK/UNIQUE, so the declared Sakila constraints become data-
quality checks over the parsed dump — the engine's substitute for
InnoDB's enforcement, run as aggregations (one pass per table)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from customer_revenue_analysis_sql_tableau_spark.operators import sakila

pytestmark = pytest.mark.skipif(
    not Path(sakila.REFERENCE_DUMP).exists(),
    reason=f"reference dump {sakila.REFERENCE_DUMP} not present",
)

#: table → declared primary key (sql/sakila-schema.sql §1.3).
PRIMARY_KEYS = {
    "category": ["category_id"],
    "city": ["city_id"],
    "country": ["country_id"],
    "customer": ["customer_id"],
    "address": ["address_id"],
    "film": ["film_id"],
    "film_category": ["film_id", "category_id"],
    "inventory": ["inventory_id"],
    "payment": ["payment_id"],
    "rental": ["rental_id"],
    "actor": ["actor_id"],
    "film_actor": ["actor_id", "film_id"],
    "staff": ["staff_id"],
    "store": ["store_id"],
}

#: (child, fk_col, parent, pk_col) — the declared FK graph
#: (sql/sakila-schema.sql constraint lines, SURVEY.md §1.3).
FOREIGN_KEYS = [
    ("address", "city_id", "city", "city_id"),
    ("city", "country_id", "country", "country_id"),
    ("customer", "address_id", "address", "address_id"),
    ("film_category", "film_id", "film", "film_id"),
    ("film_category", "category_id", "category", "category_id"),
    ("inventory", "film_id", "film", "film_id"),
    ("payment", "customer_id", "customer", "customer_id"),
    ("payment", "rental_id", "rental", "rental_id"),
    ("rental", "inventory_id", "inventory", "inventory_id"),
    ("rental", "customer_id", "customer", "customer_id"),
    ("film_actor", "actor_id", "actor", "actor_id"),
    ("film_actor", "film_id", "film", "film_id"),
    ("staff", "address_id", "address", "address_id"),
    ("store", "manager_staff_id", "staff", "staff_id"),
    ("store", "address_id", "address", "address_id"),
]


@pytest.fixture(scope="session")
def dq_tables(spark):
    return sakila.load_reference_tables(spark)


@pytest.mark.parametrize("table", sorted(PRIMARY_KEYS))
def test_primary_key_unique_and_not_null(dq_tables, table):
    df, pk = dq_tables[table], PRIMARY_KEYS[table]
    total = df.count()
    assert df.select(*pk).distinct().count() == total, f"{table}: PK duplicates"
    null_pred = F.lit(False)
    for c in pk:
        null_pred = null_pred | F.col(c).isNull()
    assert df.filter(null_pred).count() == 0, f"{table}: NULL in PK"


@pytest.mark.parametrize("child,fk,parent,pk", FOREIGN_KEYS)
def test_foreign_key_integrity(dq_tables, child, fk, parent, pk):
    """Every non-NULL FK value must resolve (left anti join = 0 rows)."""
    c = dq_tables[child].alias("c")
    p = dq_tables[parent].alias("p")
    orphans = (
        c.filter(F.col(f"c.{fk}").isNotNull())
        .join(p, F.col(f"c.{fk}") == F.col(f"p.{pk}"), "left_anti")
        .count()
    )
    assert orphans == 0, f"{child}.{fk} → {parent}.{pk}: {orphans} orphans"


def test_rental_unique_constraint(dq_tables):
    """UNIQUE (rental_date, inventory_id, customer_id)
    (sql/sakila-schema.sql:299)."""
    r = dq_tables["rental"]
    assert (
        r.select("rental_date", "inventory_id", "customer_id").distinct().count()
        == r.count()
    )


def test_special_features_set_column(dq_tables):
    """§1.2: the SET column surfaces as an array; members come from the
    declared enum universe."""
    f = dq_tables["film"]
    universe = {"Trailers", "Commentaries", "Deleted Scenes", "Behind the Scenes"}
    vals = (
        f.select(F.explode("special_features_arr").alias("v"))
        .distinct()
        .collect()
    )
    assert vals and {r["v"] for r in vals} <= universe
