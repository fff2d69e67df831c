"""Driver-local DataFrame construction without the defaultParallelism tax.

``spark.createDataFrame(local_list, schema)`` parallelizes the list into
``defaultParallelism`` pickled Python partitions — even for one row
(``SparkSession._createFromLocal`` calls ``sc.parallelize(internal_data)``
with no slice count). Any downstream single-task consumer — a
``.coalesce(1).write``, or a ``partitionBy`` write whose AQE-coalesced
plan lands on one task — then drains those 32 (on local[32]) Python
partitions SEQUENTIALLY, one Python-worker round-trip each: measured
6-8 s of fixed overhead per write, independent of row count (1 row or
5000). A single-slice ``sc.parallelize(rows, 1)`` feeds the IDENTICAL
schema-verification + pickle→InternalRow conversion path
(``_createFromRDD`` maps the same ``prepare`` the local path applies
eagerly) at ~0.4 s, byte-equal output.

Use :func:`local_df` for every driver-local metadata frame (index
stats merges, query vectors, routing tables). Frames that FAN OUT work —
rows that each seed expensive distributed compute — should pass
``slices=`` explicitly so the work still parallelizes.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession


def local_df(
    spark: SparkSession,
    rows: Iterable[Any],
    schema: Any,
    slices: int = 1,
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` with a controlled slice count.

    ``schema`` must be explicit (a DDL string or ``StructType``): the RDD
    path would otherwise trigger a sampling JOB for inference, which the
    local-list path does not need — passing it keeps construction lazy
    and the output byte-identical to the default path.
    """
    if schema is None:
        raise ValueError("local_df requires an explicit schema")
    rows = rows if isinstance(rows, list) else list(rows)
    rdd = spark.sparkContext.parallelize(rows, numSlices=max(1, int(slices)))
    return spark.createDataFrame(rdd, schema)
