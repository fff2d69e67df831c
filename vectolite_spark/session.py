"""SparkSession factory tuned for this engine.

Scale notes (100 TB design, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting means
  the same plan survives a 1000x scale-up without re-tuning
  ``spark.sql.shuffle.partitions`` by hand.
- Arrow on: every pandas UDF (embedders, multimodal decoders) moves data in
  columnar batches, not pickled rows.
- Session timezone pinned to UTC so event-time semantics match the DuckDB
  oracle (which treats parquet timestamps as UTC instants).
- File listing sized to the cores: a read of more than 32 paths (a
  ``dir/*.txt`` glob over 200 files) lists them in a Spark job whose task
  count is ``min(paths, parallelPartitionDiscovery.parallelism)``.
  Spark's default of 10,000 meant one task per file; one per core lists
  the same paths with the same glob semantics, and still in parallel.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import SparkSession

_SHIPPED_APPS: set[str] = set()


def ensure_shipped(spark: SparkSession) -> None:
    """Ship the vectolite_spark package to executor python workers.

    Python UDFs (chunker, embedders, multimodal decoders) are cloudpickled
    by reference to this module, so every python worker must be able to
    import it. The driver may run from any cwd — we zip the package once
    per application and ``addPyFile`` it (the standard way to distribute a
    repo-local package to a cluster without installing it).
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APPS:
        return
    import vectolite_spark

    pkg_dir = os.path.dirname(os.path.abspath(vectolite_spark.__file__))
    zpath = os.path.join(tempfile.gettempdir(), f"vectolite_spark_{os.getpid()}.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith((".pyc", ".pyo")):
                    continue
                full = os.path.join(root, f)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                z.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED_APPS.add(app_id)


def get_spark(
    app_name: str = "vectolite-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "4"
    shuffle = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


@contextmanager
def phase(label: str):
    """Label every Spark job the block submits from this thread with
    ``label`` (``spark.job.description``, what the UI and the event log
    show), and restore the previous label on exit — also when the block
    raises, so no label outlives its block. Only the description is
    touched: ``spark.jobGroup.id`` belongs to callers that group jobs
    (a tracer, ``cancelJobGroup``). Job descriptions are thread-local,
    so a ``run_jobs`` thunk labels only its own jobs."""
    sc = SparkContext._active_spark_context
    if sc is None:
        yield
        return
    key = "spark.job.description"
    prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, label)
    try:
        yield
    finally:
        sc.setLocalProperty(key, prev)
