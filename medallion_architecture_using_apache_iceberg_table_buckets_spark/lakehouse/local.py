"""Driver-side rows -> DataFrame, without a Python-worker job.

``spark.createDataFrame(<python list>)`` parallelizes pickled rows
into a ``LogicalRDD``: every action on the frame then runs
``defaultParallelism`` tasks that unpickle them in Python workers,
a fixed cost of a few hundred ms that dominates small metadata
queries (SHOW TABLES, ``<table>.history``, metadata ``COUNT(*)``)
and the per-drop ingest side input. The same rows handed over as
an Arrow table become a ``LocalRelation`` (below
``spark.sql.execution.arrow.localRelationThreshold``) or a JVM RDD
(above it). Neither path starts a Python worker, and the optimizer
folds filters, projections and limits over a ``LocalRelation`` on
the driver.

Row semantics are Spark's own: rows are checked against the schema
and converted with the same ``toInternal`` rules ``createDataFrame``
applies to a list (naive datetimes in the process' local zone,
``Row``/dict fields by name, tuples by position).
"""

from __future__ import annotations

from typing import Any, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(
    spark: SparkSession, rows: Iterable[Any], schema: str | T.StructType
) -> DataFrame:
    """DataFrame over ``rows`` (tuples, lists, ``Row``s or dicts)
    with ``schema`` (a DDL string or a ``StructType``)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    to_tuple = T._create_converter(schema)
    verify = T._make_type_verifier(schema)
    internal = []
    for row in rows:
        verify(row)
        internal.append(schema.toInternal(to_tuple(row)))
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*internal)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
