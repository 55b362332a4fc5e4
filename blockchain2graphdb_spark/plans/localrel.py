"""Driver-local rows → DataFrame without the pickled-RDD tax.

`spark.createDataFrame(list_of_tuples, schema)` routes through
`parallelize` — a pickled Python RDD whose EVERY action launches
Python workers on the executors (measured: ~0.36 s warm and ~4.3 s on
the session's first Python-worker cold start, for a 4-row result; 32
tasks × worker startup). Several operators return small driver-computed
result tables (diffusion round counts, the driver union-find labels,
Markov removal effects), so that tax was paid once per bench/gate
invocation per key.

`local_rows_df` is the engine's one constructor for driver-made
frames. It routes the rows through the Arrow/pandas conversion
instead, which plans as a pure-JVM `LocalTableScan` — zero tasks, zero
Python workers at action time (measured ~0.09 s for the same 4-row
result; guide §6 "Arrow for driver transfers"). Schemas and values are
identical: the pandas frame is built with dtype=object so
ints/strings/None reach Arrow unwidened, and the explicit `schema`
argument pins the result types exactly as before. DDL-string schemas
are parsed with `StructType.fromDDL`, the parser `createDataFrame`
itself uses.

Empty rows get an empty Arrow table instead: PySpark sends an EMPTY
pandas frame down the pickled-RDD path, whose `LogicalRDD` has unknown
size. An empty `LocalRelation` is one Catalyst can see is empty, so it
prunes the joins and unions over it (e.g. `resume` folding a first
micro-batch into empty state plans as the incoming rows alone) and its
zero size estimate keeps downstream joins broadcastable.

An expected conversion failure (pandas/pyarrow missing, a value Arrow
rejects) falls back to the classic path, which is correct, just slower
— and warns once, because the slow path is exactly the cost this
module exists to remove.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

try:
    from pyarrow import ArrowException
except ImportError:  # pragma: no cover — the fallback below covers it
    ArrowException = ImportError

_FALLBACK_ERRORS = (ImportError, ValueError, TypeError, ArrowException)
_WARNED_FALLBACK = False


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    rows = list(rows)
    try:
        st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
        if not rows:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            empty = pa.Table.from_pylist([], schema=to_arrow_schema(st))
            return spark.createDataFrame(empty, schema=st)
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=st.names, dtype=object)
        return spark.createDataFrame(pdf, schema=st)
    except _FALLBACK_ERRORS as e:
        global _WARNED_FALLBACK
        if not _WARNED_FALLBACK:
            _WARNED_FALLBACK = True
            import warnings

            warnings.warn(
                f"local_rows_df: Arrow local relation failed ({e!r}); "
                "falling back to a pickled-RDD frame, whose every action "
                "starts Python workers.",
                RuntimeWarning,
                stacklevel=2,
            )
        return spark.createDataFrame(rows, schema)
