"""The streaming-drain primitives in ``session.py``: ``drain`` leaves no
query running (also when one of its streams fails), ``drain_to_frame``
leaves no sink view in the caller's session, and ``stage_deliveries``
orders deliveries by mtime."""

from __future__ import annotations

import glob
import os
import tempfile
import time

import pytest
from pyspark.errors import StreamingQueryException

import __spark_entry__ as entrymod
from customer_revenue_analysis_sql_tableau_spark.session import (
    drain,
    read_file_stream,
    stage_deliveries,
)


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_registry_drains_leave_no_session_state(spark, sf_dir):
    """Two memory-sink registry drains leave the session's temp views as
    they found them and no active query; run twice on one session, the
    second call neither collides with the first nor changes its rows."""
    before = _temp_views(spark)
    q = entrymod.queries()
    for name in ("stream_tumbling_window_drain", "stream_late_data_drain"):
        first = sorted(map(tuple, q[name](spark, sf_dir).collect()))
        second = sorted(map(tuple, q[name](spark, sf_dir).collect()))
        assert first and first == second, name
    assert _temp_views(spark) == before
    assert spark.streams.active == []


def test_drain_stops_the_sibling_of_a_failed_stream(spark):
    """A failing stream's error propagates out of ``drain`` and the
    still-running sibling is stopped before it returns."""

    def boom(batch_df, batch_id):
        raise RuntimeError("deliberate batch failure")

    def slow(batch_df, batch_id):
        time.sleep(2)

    with tempfile.TemporaryDirectory() as tmp:
        frames = [spark.range(i * 10, i * 10 + 10) for i in range(4)]
        src = stage_deliveries(frames, f"{tmp}/src")
        streams = [
            (
                read_file_stream(spark, src, 1).writeStream.foreachBatch(fn),
                f"{tmp}/ckpt_{k}",
            )
            for k, fn in enumerate((boom, slow))
        ]
        with pytest.raises(StreamingQueryException, match="deliberate"):
            drain(*streams)
        assert spark.streams.active == []


def test_stage_deliveries_orders_files_across_calls(spark):
    """One file per frame, mtimes strictly increasing in delivery order,
    and a second call on the same directory stamps after the first."""
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        stage_deliveries([spark.range(3), spark.range(3, 5)], src)
        stage_deliveries([spark.range(5, 6)], src)
        files = sorted(glob.glob(f"{src}/part-*.parquet"), key=os.path.getmtime)
        mtimes = [os.path.getmtime(f) for f in files]
        assert len(files) == 3
        assert mtimes == sorted(set(mtimes))
        ids = [sorted(r[0] for r in spark.read.parquet(f).collect()) for f in files]
        assert ids == [[0, 1, 2], [3, 4], [5]]
