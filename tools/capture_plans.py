"""Capture `.explain("formatted")` output for named registry queries
into ``plans/$PLANS_ROUND/<query>_<tag>.txt`` (``PLANS_ROUND`` defaults
to ``r16``) — before/after plan evidence that can be read without
running Spark.

Usage: python tools/capture_plans.py <tag> <query> [<query> ...]
       python tools/capture_plans.py <tag> --headline   # every bench query

The scale factor dir comes from $SPARK_GRAFT_SF_DIR (default sf0.1 —
plans are captured at the benched SF so AQE/broadcast estimates match
what the bench executes).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
import __spark_entry__ as entrymod
from customer_revenue_analysis_sql_tableau_spark.operators.queries import materialized_view
from customer_revenue_analysis_sql_tableau_spark.session import get_spark

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("PLANS_ROUND", "r16"),
)


def formatted_plan(spark, fn, sf_dir: str) -> str:
    jvm = spark._jvm
    return (
        fn(spark, sf_dir)
        ._jdf.queryExecution()
        .explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    )


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    queries = entrymod.queries()
    if names == ["--headline"]:
        names = [n for n in bench.HEADLINE if n in queries]
    spark = get_spark("capture-plans")
    # Fill the memoized view first, as every workload does before its
    # reads: a cached plan reports its output partitioning only once it
    # is materialized, so q1-q11 plan differently against an empty cache.
    materialized_view(spark, sf_dir).count()
    os.makedirs(OUT_DIR, exist_ok=True)
    for name in names:
        fn = queries[name]
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {sf_dir} ({tag})\n")
            fh.write(formatted_plan(spark, fn, sf_dir))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
