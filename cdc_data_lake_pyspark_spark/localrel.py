"""Driver-local metadata frames WITHOUT the Python-worker boundary.

``spark.createDataFrame([small python list], schema)`` plans a
``parallelize → PythonRDD`` subtree: every job that touches the frame
ships its rows through a Python worker.  Two measured costs (r16, guide
§4 "eliminate the JVM↔Python boundary"):

* a job whose ONLY python stage is such a tiny frame still pays the
  worker round-trip, and *write* jobs (``WriteFiles`` over the frame)
  were measured NOT to reuse the worker at all — every params/manifest
  write re-paid full Python-daemon startup, **~5 s per one-row write**
  on the r16 sandbox (vs 0.2 s through a JVM-planned local relation;
  reproduced in ``tests/test_localrel.py``'s plan pin);
* the python subtree blocks whole-stage codegen and the
  ``ConvertToLocalRelation``/``PropagateEmptyRelation`` optimizations
  every JVM literal relation gets.

These helpers build the SAME frames as ``LocalRelation``s evaluated
entirely in the JVM: the non-empty path goes through Arrow
(``createDataFrame(pandas)``, enabled session-wide), the empty path
calls the JVM ``createDataFrame(List<Row>, StructType)`` overload
directly so the declared schema — nullability included — is preserved
verbatim.  Values, column names, types, and nullability are identical
to the list path (pinned in ``tests/test_localrel.py``).
"""

from __future__ import annotations

import logging
from typing import Iterable, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

logger = logging.getLogger(__name__)

SchemaLike = Union[str, T.StructType]


def _struct_type(schema: SchemaLike) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    return T.StructType.fromDDL(schema)


def tiny_frame(
    spark: SparkSession, rows: Sequence[Iterable], schema: SchemaLike
) -> DataFrame:
    """A small driver-local row list as a JVM ``LocalRelation``.

    Drop-in for ``spark.createDataFrame(rows, schema)`` when ``rows``
    is a materialized python list (params datasets, batch manifests,
    threshold grids): the Arrow path plants the literals JVM-side, so
    downstream jobs — writes above all — never launch a Python worker
    for them.
    """
    import pandas as pd

    struct = _struct_type(schema)
    if not rows:
        return empty_frame(spark, schema)
    pdf = pd.DataFrame(
        list(rows), columns=[f.name for f in struct.fields], dtype=object
    )
    return spark.createDataFrame(pdf, schema=schema)


def empty_frame(spark: SparkSession, schema: SchemaLike) -> DataFrame:
    """An empty, exactly-typed frame as an empty JVM ``LocalRelation``.

    Drop-in for ``spark.createDataFrame([], schema)``, whose empty
    ``parallelize`` still plans a PythonRDD with ``defaultParallelism``
    empty partitions — a job over it launches that many Python-worker
    tasks to produce zero rows.  The JVM-built empty ``LocalRelation``
    is provably empty to the optimizer, so empty-relation consumers
    also collapse via ``PropagateEmptyRelation``.
    """
    struct = _struct_type(schema)
    try:
        # JVM-side createDataFrame(List<Row>, StructType): an empty
        # LocalRelation with the EXACT declared schema, nullability
        # included (several gate schemas declare non-nullable fields,
        # which both the Arrow and the verifying list path refuse to
        # seed with a NULL row)
        import json as _json

        from pyspark.sql import DataFrame as _DF

        jvm = spark._jvm
        jschema = jvm.org.apache.spark.sql.types.DataType.fromJson(
            _json.dumps(struct.jsonValue())
        )
        jdf = spark._jsparkSession.createDataFrame(
            jvm.java.util.ArrayList(), jschema
        )
        return _DF(jdf, spark)
    except Exception as exc:  # pragma: no cover - connect mode / API drift
        logger.warning(
            "empty_frame: JVM LocalRelation path failed (%r); falling back "
            "to the Python-worker createDataFrame path",
            exc,
        )
        return spark.createDataFrame([], struct)
