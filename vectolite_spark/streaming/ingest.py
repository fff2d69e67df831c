"""Structured Streaming pipelines (north-star extension; the reference's
ingest loop is synchronous request/response — SURVEY.md §2.9 'Streaming').

Three shapes:
- continuous file ingest: readStream over a drop directory -> chunk ->
  embed -> foreachBatch append into a SparkVectolite store. foreachBatch
  reuses the exact batch pipeline (one code path for batch + streaming).
- event-time windowed aggregation with a watermark (late data bounded).
- dedup-within-watermark (streaming exact dedup on a key).

All tested with trigger(availableNow=True) — process everything pending,
then stop — which is also the production shape for incremental backfills.
At scale: checkpointLocation goes on durable storage; the file source
tracks processed files so restarts are exactly-once into the idempotent
foreachBatch append.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectolite_spark.chunk import DEFAULT_MAX_CHARS, DEFAULT_OVERLAP


_STATE_BYTES_PER_PARTITION = 32 * 1024 * 1024


def _local_bytes(path: str) -> int | None:
    """Bytes under a local directory (None: not local, or not a dir)."""
    import os

    p = path[len("file://"):] if path.startswith("file://") else path
    if "://" in p or not os.path.isdir(p):
        return None
    total = 0
    for root, _dirs, names in os.walk(p):
        for n in names:
            if not n.startswith(("_", ".")):
                try:
                    total += os.path.getsize(os.path.join(root, n))
                except OSError:
                    pass
    return total


def scaled_state_confs(spark: SparkSession, src_dir: str):
    """Scale-adaptive shuffle/state partition count for a ONE-SHOT
    streaming query (fresh checkpoint per call — the conf is read at
    query start and pinned into that checkpoint, so this never touches
    a resumed query's layout), as a ``parallel.conf_scope``.

    A stateful micro-batch shuffles into ``spark.sql.shuffle.partitions``
    state partitions and instantiates one state store per partition per
    batch. For a source observed to be tiny that is pure fixed overhead
    (32 state stores for a few MB of rows); at real scale the same
    session default is exactly right. Rule: ~32 MB of observed source
    bytes per state partition, floor 1, NEVER above the session's
    configured value — the observed size only ever shrinks the count,
    so a 100 TB source keeps the production setting unchanged. Sources
    whose size cannot be observed (non-local paths here) are left
    untouched. Override per deployment with
    ``spark.vectolite.stream.statePartitions``."""
    from vectolite_spark.parallel import conf_scope

    override = spark.conf.get("spark.vectolite.stream.statePartitions", None)
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if override is not None:
        p = max(1, int(override))
    else:
        size = _local_bytes(src_dir)
        p = cur if size is None else min(
            cur, max(1, size // _STATE_BYTES_PER_PARTITION + 1)
        )
    confs = {} if p == cur else {"spark.sql.shuffle.partitions": str(p)}
    return conf_scope(spark, confs)


def stream_text_files(spark: SparkSession, input_dir: str, glob: str = "*.txt") -> DataFrame:
    """Streaming whole-file text source with source/filename metadata."""
    from vectolite_spark.session import ensure_shipped

    ensure_shipped(spark)
    raw = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", glob)
        .load(input_dir)
    )
    return raw.select(
        F.input_file_name().alias("source"),
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("filename"),
        F.col("value").alias("text"),
    )


def make_ingest_sink(
    store,
    checkpoint_dir: str,
    max_chars: int = DEFAULT_MAX_CHARS,
    overlap: int = DEFAULT_OVERLAP,
    embed_dim: int = 64,
):
    """The foreachBatch sink for ``stream_ingest``, exposed for direct
    testing of its replay guard. foreachBatch is at-least-once: a crash
    between the append and the checkpoint commit replays the batch,
    which would duplicate every chunk row (``append_dataframe`` assigns
    fresh ids, so exact dedup cannot catch it). Same discipline as the
    trigram-maintenance sink: a per-batch marker, committed AFTER the
    append, scoped INSIDE the checkpoint dir so wiping the checkpoint
    (which restarts batch ids) wipes the markers with it; Hadoop-FS I/O
    so remote checkpoint stores see the marker too."""
    from vectolite_spark.ingest import ingest_pipeline
    from vectolite_spark.store import _HadoopFS

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        fs = _HadoopFS(store.spark, checkpoint_dir)
        marker = f"{checkpoint_dir}/vl_commits/_batch_{batch_id}"
        if fs.exists(marker):
            return
        # distributed batch append: chunks/embeddings never hit the driver
        store.append_dataframe(
            ingest_pipeline(
                batch_df, max_chars=max_chars, overlap=overlap, embed_dim=embed_dim
            )
        )
        fs.mkdirs(f"{checkpoint_dir}/vl_commits")
        fs.write_text(marker, "done", overwrite=True)

    return sink


def stream_ingest(
    store,
    input_dir: str,
    checkpoint_dir: str,
    max_chars: int = DEFAULT_MAX_CHARS,
    overlap: int = DEFAULT_OVERLAP,
    embed_dim: int = 64,
    glob: str = "*.txt",
):
    """Continuous chunk+embed ingest into a SparkVectolite store.

    Returns the started StreamingQuery (availableNow trigger: drains the
    directory then stops; call .awaitTermination()).
    """
    files = stream_text_files(store.spark, input_dir, glob)
    sink = make_ingest_sink(
        store,
        checkpoint_dir,
        max_chars=max_chars,
        overlap=overlap,
        embed_dim=embed_dim,
    )

    return (
        files.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_trigram_maintenance(
    spark,
    src_dir: str,
    src_schema,
    index_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 8,
    max_files_per_trigger: int | None = None,
):
    """Keep the trigram substring index current as documents STREAM in:
    file source -> foreachBatch -> first batch builds the index, every
    later batch folds in via ``append_trigram_index`` (delta postings +
    stats merge — the same incremental path batch ingest uses, now
    driven by Structured Streaming's batch boundaries; foreachBatch is
    at-least-once, so a per-batch marker file — written only after the
    batch's index writes complete — turns failure-recovery replays into
    no-ops (a naive re-append would duplicate postings and make the
    candidate count-match drop true matches). File-source batches are
    disjoint by construction, so the append's new-ids contract holds.

    Returns the started StreamingQuery (availableNow trigger: drains
    pending files then stops). At 100 TB this is the index lifecycle: a
    continuous corpus never rebuilds, it appends per micro-batch and
    runs ``compact_trigram_index`` on a maintenance cadence."""
    from vectolite_spark.operators.index_sync import index_ready
    from vectolite_spark.operators.retrieval import (
        append_trigram_index,
        build_trigram_index,
    )
    from vectolite_spark.store import _HadoopFS

    reader = spark.readStream.schema(src_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a crash between the append and
        # the checkpoint commit REPLAYS the batch, and a re-appended
        # posting would inflate the candidate count-match past
        # len(probed trigrams) — silently DROPPING true matches. The
        # marker (written only after the batch's writes complete) makes
        # the replay a no-op instead. Marker I/O goes through the same
        # Hadoop-FS abstraction as the index writes: os.path on a
        # remote store (hdfs://, s3a://) never sees the marker, so
        # every recovery replay would re-append (ADVICE r5).
        fs = _HadoopFS(batch_df.sparkSession, index_path)
        marker = f"{index_path}/_batch_{batch_id}"
        if fs.exists(marker):
            return
        if not index_ready(batch_df.sparkSession, index_path):
            build_trigram_index(
                batch_df,
                index_path,
                text_col=text_col,
                id_col=id_col,
                n_buckets=n_buckets,
            )
        else:
            append_trigram_index(
                batch_df, index_path, text_col=text_col, id_col=id_col
            )
        fs.write_text(marker, "done", overwrite=True)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time tumbling-window counts with a watermark bounding state and
    late data. Output: (window_start, window_end, event_type, n_events)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose key was already seen within
    the watermark horizon (bounded state — the streaming twin of
    operators/dedup.exact_dedup)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def session_window_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Event-time SESSION windows (gap-based, dynamic extent): a user's
    events merge into one session while gaps stay under ``gap``; the
    watermark closes sessions once event time passes end+watermark, so
    state is bounded — the streaming twin of the batch sessionization
    operator (operators/windows.py), which must materialize lag() gaps
    instead. Output: one row per closed session with its span and count."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )
