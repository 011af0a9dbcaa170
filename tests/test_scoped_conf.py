"""``session.scoped_conf``: exact restore, restore on error, and one
owner per key. Conf reads and writes only — no Spark job runs here."""

from __future__ import annotations

import pytest

from customer_revenue_analysis_sql_tableau_spark.session import (
    RUNTIME_CONFS,
    apply_runtime_confs,
    scoped_conf,
)

#: Registered conf with a default ("true") that the session never sets.
UNSET_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"
#: Pinned by the engine session (RUNTIME_CONFS).
THRESHOLD_KEY = "spark.sql.autoBroadcastJoinThreshold"


def test_unset_key_stays_unset(spark):
    assert spark.conf.get(UNSET_KEY, None) is None
    with scoped_conf(spark, {UNSET_KEY: "false"}):
        assert spark.conf.get(UNSET_KEY) == "false"
    # unset, not an explicit copy of the default
    assert spark.conf.get(UNSET_KEY, None) is None


def test_set_key_gets_its_old_value_back(spark):
    before = spark.conf.get(THRESHOLD_KEY)
    with scoped_conf(spark, {THRESHOLD_KEY: "-1"}):
        assert spark.conf.get(THRESHOLD_KEY) == "-1"
    assert spark.conf.get(THRESHOLD_KEY) == before


def test_values_are_restored_when_the_body_raises(spark):
    before = spark.conf.get(THRESHOLD_KEY)
    with pytest.raises(ValueError, match="body"):
        with scoped_conf(spark, {THRESHOLD_KEY: "-1", UNSET_KEY: "false"}):
            raise ValueError("body")
    assert spark.conf.get(THRESHOLD_KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None


def test_nested_scope_on_an_owned_key_raises(spark):
    with scoped_conf(spark, {UNSET_KEY: "false"}):
        with pytest.raises(RuntimeError, match="already owned"):
            with scoped_conf(spark, {THRESHOLD_KEY: "-1", UNSET_KEY: "true"}):
                pass
        # the refused scope changed nothing; disjoint keys nest freely
        assert spark.conf.get(UNSET_KEY) == "false"
        with scoped_conf(spark, {THRESHOLD_KEY: "-1"}):
            assert spark.conf.get(THRESHOLD_KEY) == "-1"
    assert spark.conf.get(UNSET_KEY, None) is None
    # ownership is released at exit: the key can be scoped again
    with scoped_conf(spark, {UNSET_KEY: "false"}):
        pass


def test_body_changing_an_owned_key_raises(spark):
    """``load_tables`` re-applies RUNTIME_CONFS; inside a scope that
    owns the broadcast threshold it would silently revert the scope."""
    assert RUNTIME_CONFS[THRESHOLD_KEY] != "-1"
    with pytest.raises(RuntimeError, match="changed inside"):
        with scoped_conf(spark, {THRESHOLD_KEY: "-1"}):
            apply_runtime_confs(spark)
    assert spark.conf.get(THRESHOLD_KEY) == RUNTIME_CONFS[THRESHOLD_KEY]


def test_ownership_errors_never_hide_the_body_exception(spark):
    with pytest.raises(ValueError, match="body"):
        with scoped_conf(spark, {THRESHOLD_KEY: "-1"}):
            apply_runtime_confs(spark)
            raise ValueError("body")
    assert spark.conf.get(THRESHOLD_KEY) == RUNTIME_CONFS[THRESHOLD_KEY]
