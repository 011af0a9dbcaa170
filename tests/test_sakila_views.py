"""DuckDB parity for the 7 Sakila catalog views + film_text (V2/V3).

No golden CSVs exist for these (the reference only exports the
warehouse view and q1-q11), so the oracle is ANSI SQL over the SAME
parsed-dump tables, with GROUP_CONCAT order pinned to sorted order in
both dialects (the module's documented determinism policy).
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from oracle_check import compare_frames  # noqa: E402

from customer_revenue_analysis_sql_tableau_spark.operators import sakila, sakila_views

pytestmark = pytest.mark.skipif(
    not Path(sakila.REFERENCE_DUMP).exists(),
    reason=f"reference dump {sakila.REFERENCE_DUMP} not present",
)

_NAME = "first_name || ' ' || last_name"
_NICER = (
    "upper(substr(first_name,1,1)) || lower(substr(first_name,2)) || ' ' || "
    "upper(substr(last_name,1,1)) || lower(substr(last_name,2))"
)

ORACLES = {
    "customer_list": f"""
        SELECT cu.customer_id AS ID, cu.{_NAME} AS name, a.address,
               a.postal_code AS "zip code", a.phone, city.city,
               country.country,
               CASE WHEN cu.active THEN 'active' ELSE '' END AS notes,
               cu.store_id AS SID
        FROM customer cu
        JOIN address a ON cu.address_id = a.address_id
        JOIN city ON a.city_id = city.city_id
        JOIN country ON city.country_id = country.country_id""",
    "staff_list": f"""
        SELECT s.staff_id AS ID, s.{_NAME} AS name, a.address,
               a.postal_code AS "zip code", a.phone, city.city,
               country.country, s.store_id AS SID
        FROM staff s
        JOIN address a ON s.address_id = a.address_id
        JOIN city ON a.city_id = city.city_id
        JOIN country ON city.country_id = country.country_id""",
    "film_list": f"""
        SELECT film.film_id AS FID, film.title, film.description,
               category.name AS category, film.rental_rate AS price,
               film.length, film.rating,
               string_agg(actor.{_NAME}, ', '
                          ORDER BY actor.{_NAME}) AS actors
        FROM film
        LEFT JOIN film_category ON film_category.film_id = film.film_id
        LEFT JOIN category ON category.category_id = film_category.category_id
        LEFT JOIN film_actor ON film.film_id = film_actor.film_id
        LEFT JOIN actor ON film_actor.actor_id = actor.actor_id
        GROUP BY film.film_id, film.title, film.description, category.name,
                 film.rental_rate, film.length, film.rating""",
    "nicer_but_slower_film_list": f"""
        SELECT film.film_id AS FID, film.title, film.description,
               category.name AS category, film.rental_rate AS price,
               film.length, film.rating,
               string_agg(
                   upper(substr(actor.first_name,1,1)) || lower(substr(actor.first_name,2))
                   || ' ' ||
                   upper(substr(actor.last_name,1,1)) || lower(substr(actor.last_name,2)),
                   ', ' ORDER BY
                   upper(substr(actor.first_name,1,1)) || lower(substr(actor.first_name,2))
                   || ' ' ||
                   upper(substr(actor.last_name,1,1)) || lower(substr(actor.last_name,2))
               ) AS actors
        FROM film
        LEFT JOIN film_category ON film_category.film_id = film.film_id
        LEFT JOIN category ON category.category_id = film_category.category_id
        LEFT JOIN film_actor ON film.film_id = film_actor.film_id
        LEFT JOIN actor ON film_actor.actor_id = actor.actor_id
        GROUP BY film.film_id, film.title, film.description, category.name,
                 film.rental_rate, film.length, film.rating""",
    "sales_by_store": f"""
        SELECT c.city || ',' || cy.country AS store,
               m.{_NAME} AS manager, sum(p.amount) AS total_sales
        FROM payment p
        JOIN rental r ON p.rental_id = r.rental_id
        JOIN inventory i ON r.inventory_id = i.inventory_id
        JOIN store s ON i.store_id = s.store_id
        JOIN address a ON s.address_id = a.address_id
        JOIN city c ON a.city_id = c.city_id
        JOIN country cy ON c.country_id = cy.country_id
        JOIN staff m ON s.manager_staff_id = m.staff_id
        GROUP BY s.store_id, c.city, cy.country, m.first_name, m.last_name
        ORDER BY cy.country, c.city""",
    "sales_by_film_category": """
        SELECT c.name AS category, sum(p.amount) AS total_sales
        FROM payment p
        JOIN rental r ON p.rental_id = r.rental_id
        JOIN inventory i ON r.inventory_id = i.inventory_id
        JOIN film f ON i.film_id = f.film_id
        JOIN film_category fc ON f.film_id = fc.film_id
        JOIN category c ON fc.category_id = c.category_id
        GROUP BY c.name ORDER BY total_sales DESC""",
    "actor_info": """
        WITH per AS (
            SELECT fa.actor_id, c.name AS cat_name,
                   string_agg(f.title, ', ' ORDER BY f.title) AS titles
            FROM film_actor fa
            JOIN film_category fc ON fa.film_id = fc.film_id
            JOIN category c ON fc.category_id = c.category_id
            JOIN film f ON fa.film_id = f.film_id
            GROUP BY fa.actor_id, c.name
        ), folded AS (
            SELECT actor_id,
                   string_agg(cat_name || ': ' || titles, '; '
                              ORDER BY cat_name) AS film_info
            FROM per GROUP BY actor_id
        )
        SELECT a.actor_id, a.first_name, a.last_name, folded.film_info
        FROM actor a LEFT JOIN folded ON a.actor_id = folded.actor_id""",
    "film_text": "SELECT film_id, title, description FROM film",
}

EXPECTED_ROWS = {
    "customer_list": 599,
    "staff_list": 2,
    "film_list": 1000,
    "nicer_but_slower_film_list": 1000,
    "sales_by_store": 2,
    "sales_by_film_category": 16,
    "actor_info": 200,
    "film_text": 1000,
}


@pytest.fixture(scope="session")
def sakila_tables_full(spark):
    return sakila.load_reference_tables(spark)


@pytest.fixture(scope="session")
def duck(sakila_tables_full):
    con = duckdb.connect()
    for name, df in sakila_tables_full.items():
        pdf = df.drop("picture").toPandas() if name == "staff" else df.toPandas()
        con.register(name, pdf)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(sakila_views.SAKILA_VIEWS))
def test_view_matches_duckdb(name, spark, sakila_tables_full, duck):
    builder = sakila_views.SAKILA_VIEWS[name]
    spark_pd = builder(sakila_tables_full).toPandas()
    oracle_pd = duck.execute(ORACLES[name]).df()
    assert len(spark_pd) == EXPECTED_ROWS[name]
    problems = compare_frames(spark_pd, oracle_pd)
    assert not problems, f"{name}: {problems}"


def test_staff_picture_blob_roundtrip(sakila_tables_full):
    """S2/BLOB: the staff.picture PNG survives the dump parse as bytes
    (the reference's only multimodal column, SURVEY.md §1.2)."""
    rows = sakila_tables_full["staff"].select("staff_id", "picture").collect()
    by_id = {r["staff_id"]: r["picture"] for r in rows}
    assert by_id[1][:8] == b"\x89PNG\r\n\x1a\n"
    assert len(by_id[1]) == 36365
    assert by_id[2] is None
