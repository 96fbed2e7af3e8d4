"""Driver-literal DataFrames without the Python-worker round trip.

``spark.createDataFrame(list_of_tuples, ddl)`` parallelizes pickled
rows through a Python worker: every action over the frame (including
a broadcast build) schedules a PythonRDD task, pays the JVM↔Python
boundary, and — measured in round 11 — intermittently stalls for
seconds when the first such task follows a worker-heavy streaming
query (the executor sat in ``BasePythonRunner$ReaderInputStream.read``
for ~6 s while a 4-row dimension frame was written). The guide's §4
("eliminate the JVM↔Python boundary") and §6 ("Arrow for driver
transfers") both point the same way: ship the literal rows as ONE
Arrow batch and let the plan be a pure-JVM ``LocalTableScan``.

Measured (local[8], warm session): 5 noop writes of a 2-row frame,
list path 3.21 s vs Arrow path 0.52 s — and the Arrow path never
touches a Python worker, so the stall class is gone entirely.

Used by every operator/bridge that lands a driver-side rollup
(bounded-state streaming folds, probe tables, tiny dimensions). At
100 TB these frames stay rollup-sized by design — the helper is about
the boundary, not the volume.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

log = logging.getLogger(__name__)


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """``spark.createDataFrame(rows, ddl)`` via one Arrow batch.

    ``rows`` is a sequence of position-matched tuples (the same
    contract as createDataFrame with a DDL string); the result is a
    ``LocalTableScan`` — no PythonRDD, no pickled rows, no Python
    worker at execution or broadcast time. A batch Arrow rejects (see
    ``_arrow_column``) falls back, with a logged warning, to the classic
    path, which verifies every value against the schema: type fidelity
    beats speed, so the fallback is correct, just slower, and raises on
    a value the schema cannot hold.
    """
    rows = [tuple(r) for r in rows]
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(StructType.fromDDL(schema))
        cols = (
            list(zip(*rows)) if rows else [[] for _ in arrow_schema]
        )
        table = pa.Table.from_arrays(
            [
                _arrow_column(pa, list(col), field.type)
                for col, field in zip(cols, arrow_schema)
            ],
            schema=arrow_schema,
        )
    # ArrowInvalid is a ValueError, ArrowTypeError a TypeError and
    # ArrowNotImplementedError a NotImplementedError
    except (ImportError, TypeError, ValueError, NotImplementedError) as e:
        log.warning("local_frame(%s): Arrow path rejected the rows "
                    "(%s: %s); using createDataFrame",
                    schema, type(e).__name__, e)
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(table)


def _arrow_column(pa, values: list, typ):
    """One Arrow column of type ``typ``. Numbers are inferred, then cast
    with ``safe=True``: ``pa.array(values, type=int64)`` would truncate
    ``1.5`` to ``1`` where the safe cast raises."""
    if not (pa.types.is_integer(typ) or pa.types.is_floating(typ)):
        return pa.array(values, type=typ)
    arr = pa.array(values)
    if not (pa.types.is_integer(arr.type) or pa.types.is_floating(arr.type)
            or pa.types.is_null(arr.type)):
        raise TypeError(f"{arr.type} values for a {typ} column")
    return arr.cast(typ, safe=True)
