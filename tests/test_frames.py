"""local_frame: the Arrow path against the classic createDataFrame path."""

import logging

import pytest

from cassandra_log_analyzer_mcp_spark.functions.frames import local_frame

SCHEMA = "s string, n long, x double, k int"
ROWS = [("a", 1, 2.5, 3), ("b", None, 0.0, -7), ("c", 2**40, 1e-3, None)]


@pytest.mark.parametrize("rows", [ROWS, []])
def test_local_frame_matches_classic_path(spark, rows):
    arrow = local_frame(spark, rows, SCHEMA)
    classic = spark.createDataFrame(rows, SCHEMA)
    assert arrow.schema == classic.schema
    assert arrow.collect() == classic.collect()
    # the Arrow path was taken: a pure-JVM scan, no pickled RDD
    assert "LocalTableScan" in (
        arrow._jdf.queryExecution().executedPlan().toString())


def test_local_frame_rejects_lossy_cast_and_logs_fallback(spark, caplog):
    with caplog.at_level(logging.WARNING,
                         logger="cassandra_log_analyzer_mcp_spark"):
        with pytest.raises(TypeError):
            local_frame(spark, [(1.5,)], "x long")
    assert "ArrowInvalid" in caplog.text
