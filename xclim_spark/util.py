"""Small shared utilities.

:func:`local_frame` is the one way driver-built rows become a Spark
DataFrame.  ``createDataFrame`` on a list of Python rows pickles them
into ``sc.parallelize`` and converts them through a PythonRDD job; that
job has its own Python worker pool, separate from the pandas-UDF pool,
so the first call in a session forks a second ``pyspark.daemon`` and
its workers, and every call pays a job.  An Arrow table is handed to
the JVM in one call and lands as a ``LocalRelation``: no job, no
worker, and the rows are in the plan like any literal.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession,
    rows: Sequence[Sequence],
    schema: str | StructType,
) -> DataFrame:
    """DataFrame of driver-held ``rows`` (tuples in ``schema`` column
    order; ``None`` is NULL) with ``schema`` given as a DDL string or a
    ``StructType``.  Same rows and schema as
    ``spark.createDataFrame(rows, schema)``, built without a Spark job.
    Meant for small tables: manifests, centroids, gate results."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema=schema)


def repartition_for_apply(df: DataFrame, cells: Sequence[str]) -> DataFrame:
    """Explicitly repartition by the group key before a grouped
    ``applyInPandas``.

    AQE sizes shuffle partitions by BYTES: the narrow aggregate feeding a
    pandas stage looks tiny, gets coalesced to one partition, and the
    Python compute — the actual cost — runs serially.  A user-specified
    repartition is exempt from AQE coalescing, so the pandas stage keeps
    cluster-width parallelism (observed 7x on the SPI fit at sf0.1).
    """
    if not cells:
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cells)
