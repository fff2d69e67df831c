"""File-ingest pipeline (U5, /root/reference/vectolite.py:483-535).

Reference flow: validate path (.txt/.md only) -> read UTF-8 -> merge
``{"source", "filename"}`` into metadata -> chunk -> per-chunk metadata
``{chunk_index, total_chunks}`` -> insert each chunk one at a time (one
embed call + one transaction per chunk).

Spark-first inversion (SURVEY.md §3.2): ONE declarative pipeline —
``spark.read.text(wholetext=True)`` over a glob -> chunk UDF + posexplode ->
Arrow-batched embedding UDF -> single append job. N files land in two
Spark jobs whatever N: the glob's file listing (run as a job above 32
paths, one task per core, see ``session.get_spark``) and the one write;
embedding runs once per Arrow batch, not once per chunk.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectolite_spark.chunk import DEFAULT_MAX_CHARS, DEFAULT_OVERLAP, explode_chunks
from vectolite_spark.embed import embed_column
from vectolite_spark.errors import VectoliteError

ALLOWED_SUFFIXES = (".txt", ".md")  # vectolite.py:418-420


def validate_file_path(file_path: str) -> str:
    """S3 validation (vectolite.py:412-421): exists, is a file, .txt/.md."""
    if not os.path.exists(file_path):
        raise VectoliteError(f"File does not exist: {file_path}")
    if not os.path.isfile(file_path):
        raise VectoliteError(f"Path is not a file: {file_path}")
    if not file_path.lower().endswith(ALLOWED_SUFFIXES):
        raise VectoliteError("Unsupported file type. Use .txt or .md files.")
    return file_path


def read_files(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Whole-file text source with the reference's source/filename metadata
    (vectolite.py:507-508), via ``input_file_name()`` — one row per file."""
    from vectolite_spark.session import ensure_shipped

    ensure_shipped(spark)
    if isinstance(paths, str):
        paths = [paths]
    for p in paths:
        if "*" not in p and "?" not in p:
            validate_file_path(p)
    df = spark.read.text(paths, wholetext=True)
    return df.select(
        F.input_file_name().alias("source"),
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("filename"),
        F.col("value").alias("text"),
    )


def ingest_pipeline(
    files_df: DataFrame,
    base_metadata: dict | None = None,
    chunk: bool = True,
    max_chars: int = DEFAULT_MAX_CHARS,
    overlap: int = DEFAULT_OVERLAP,
    embed_provider: str = "stub",
    embed_dim: int = 64,
) -> DataFrame:
    """files(source, filename, text) -> chunk rows with JSON metadata and
    embeddings, ready to append to a SparkVectolite store.

    Output: (text, metadata, embedding) — metadata is the reference's merged
    JSON: base + source + filename + chunk_index + total_chunks.
    """
    if chunk:
        rows = explode_chunks(
            files_df, text_col="text", max_chars=max_chars, overlap=overlap
        ).withColumnRenamed("chunk_text", "text")
    else:
        rows = files_df.withColumn("chunk_index", F.lit(0)).withColumn(
            "total_chunks", F.lit(1)
        )
    rows = rows.filter(F.trim("text") != "")  # reference rejects empty inserts

    # dict-merge with the reference's precedence (vectolite.py:507-508,
    # 521-525): base user metadata, overridden by source/filename, then
    # chunk_index/total_chunks. The base dict is a DRIVER-SIDE CONSTANT, so
    # its JSON (minus any overridden keys) is serialized once here with full
    # value-type fidelity, and only the four per-row fields are built in the
    # plan via to_json(struct(...)) — proper string escaping, ints as JSON
    # numbers, whole-stage codegen, no Python round trip per chunk (the
    # VERDICT r4 anti-pattern: the old row-at-a-time UDF cost one Python
    # call per chunk on a 100 TB re-ingest).
    overridden = ("source", "filename", "chunk_index", "total_chunks")
    base_kept = {
        k: v for k, v in (base_metadata or {}).items() if k not in overridden
    }
    dynamic = F.to_json(
        F.struct(
            F.col("source"),
            F.col("filename"),
            F.col("chunk_index"),
            F.col("total_chunks"),
        )
    )
    if base_kept:
        # '{"k": 1, ' + '"source":...}' — splice the constant prefix onto
        # the per-row tail; parsed-JSON equality with the reference's dict
        # merge (key order may differ for overridden base keys, value types
        # do not)
        prefix = json.dumps(base_kept)[:-1] + ", "
        metadata = F.concat(
            F.lit(prefix), F.substring(dynamic, 2, 2_000_000_000)
        )
    else:
        metadata = dynamic
    return rows.select(
        F.col("text"),
        metadata.alias("metadata"),
        embed_column(embed_provider, dim=embed_dim)(F.col("text")).alias("embedding"),
    )


def ingest_files(
    store,
    paths: list[str] | str,
    base_metadata: dict | None = None,
    chunk: bool = True,
    max_chars: int = DEFAULT_MAX_CHARS,
    overlap: int = DEFAULT_OVERLAP,
    embed_provider: str = "stub",
    embed_dim: int = 64,
) -> int:
    """End-to-end: files -> chunks -> embeddings -> store append.
    Returns the number of chunks ingested.

    Fully distributed: the pipeline writes straight into the store via
    ``append_dataframe`` (in-plan id assignment + one append job) — no
    chunk or embedding ever passes through driver memory, so the path
    scales to a corpus that does not fit on the driver."""
    files_df = read_files(store.spark, paths)
    pipe = ingest_pipeline(
        files_df,
        base_metadata=base_metadata,
        chunk=chunk,
        max_chars=max_chars,
        overlap=overlap,
        embed_provider=embed_provider,
        embed_dim=embed_dim,
    )
    return store.append_dataframe(pipe)


# NDJSON suffixes only: bare .json is deliberately ABSENT — a pretty-printed
# or array-style .json parsed line-by-line yields NULL text on nearly every
# line and would silently ingest 0 documents (ADVICE r2). ``read_jsonl``
# additionally hard-fails when a concrete (non-glob) input yields 0 rows.
JSONL_SUFFIXES = (".jsonl", ".ndjson", ".jsonl.gz", ".ndjson.gz")


def read_jsonl(
    spark: SparkSession,
    paths: list[str] | str,
    text_field: str = "text",
    meta_fields: list[str] | None = None,
) -> DataFrame:
    """JSONL corpus source — the interchange format every large training
    corpus actually ships in (one JSON object per line; optionally
    gzipped, which Spark decompresses per-file).  Returns the same
    (source, filename, text) contract as ``read_files`` so the whole
    chunk->embed->append pipeline is format-agnostic, with requested
    metadata fields carried through as JSON.

    Scale notes: the schema is PINNED (text + meta fields as strings) —
    no sampling inference pass, so the corpus is read exactly once; a
    million-file glob parallelizes per file split.  Rows with a missing/
    empty text field are dropped here, mirroring the reference's empty-
    insert guard.  Extraction of meta fields uses get_json_object over
    the raw line, so heterogeneous records cost nothing beyond the
    requested keys.
    """
    from vectolite_spark.session import ensure_shipped

    ensure_shipped(spark)
    if isinstance(paths, str):
        paths = [paths]
    for p in paths:
        if "*" not in p and "?" not in p:
            # URI-schemed paths (hdfs://, s3a://) are validated by the
            # Spark reader itself — an os.path probe is local-FS only
            # and would reject every remote file
            if "://" not in p and not os.path.exists(p):
                raise VectoliteError(f"File does not exist: {p}")
            low = p.lower()
            if not any(low.endswith(s) for s in JSONL_SUFFIXES):
                raise VectoliteError(
                    "Unsupported file type. Use .jsonl/.ndjson (optionally .gz); "
                    "bare .json is not NDJSON and is rejected rather than "
                    "silently ingesting 0 documents."
                )
    # read as text lines, not spark.read.json: pinned extraction beats
    # inference, and malformed lines degrade to NULL text (dropped) rather
    # than poisoning a corrupt-record column
    raw = spark.read.text(paths)
    text = F.get_json_object(F.col("value"), f"$.{text_field}")
    meta_cols = [
        F.get_json_object(F.col("value"), f"$.{m}").alias(m)
        for m in (meta_fields or [])
    ]
    return (
        raw.select(
            F.input_file_name().alias("source"),
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("filename"),
            text.alias("text"),
            *meta_cols,
        )
        .filter(F.col("text").isNotNull() & (F.trim("text") != ""))
    )


def ingest_jsonl(
    store,
    paths: list[str] | str,
    text_field: str = "text",
    base_metadata: dict | None = None,
    chunk: bool = True,
    max_chars: int = DEFAULT_MAX_CHARS,
    overlap: int = DEFAULT_OVERLAP,
    embed_provider: str = "stub",
    embed_dim: int = 64,
) -> int:
    """End-to-end JSONL corpus ingest: lines -> chunks -> embeddings ->
    distributed store append (same fully-distributed path as
    ``ingest_files`` — nothing passes through driver memory). A concrete
    (non-glob) input that yields 0 documents raises instead of silently
    appending nothing — the file exists but is not line-delimited JSON,
    or has no non-empty text field (ADVICE r2)."""
    files_df = read_jsonl(store.spark, paths, text_field=text_field)
    # emptiness check BEFORE the append: every store append
    # is a commit, and a failed ingest must not leave an empty 'append'
    # version in history (ADVICE r3)
    if files_df.limit(1).count() == 0:
        paths_list = [paths] if isinstance(paths, str) else list(paths)
        if all("*" not in p and "?" not in p for p in paths_list):
            raise VectoliteError(
                f"0 documents ingested from {paths_list}: no line had a "
                f"non-empty {text_field!r} JSON field — is the file really "
                "NDJSON (one JSON object per line)?"
            )
        return 0  # empty glob: nothing to ingest, nothing committed
    pipe = ingest_pipeline(
        files_df,
        base_metadata=base_metadata,
        chunk=chunk,
        max_chars=max_chars,
        overlap=overlap,
        embed_provider=embed_provider,
        embed_dim=embed_dim,
    )
    return store.append_dataframe(pipe)
