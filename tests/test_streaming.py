"""Structured Streaming ops driven synchronously (memory sink +
processAllAvailable) and cross-checked against their batch twins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_deduplication_spark.streaming.ops import (
    read_events_stream,
    sessionize_batch,
    streaming_dedup,
    streaming_session_window,
    streaming_tumbling_counts,
)


def _events_batch(spark, sf_dir):
    from pyspark_deduplication_spark.queries import _events

    return _events(spark, sf_dir)


@pytest.fixture(scope="module")
def events_parquet_dir(spark, sf_dir, tmp_path_factory):
    """Streaming file source needs micros timestamps (the fixture is
    nanos) — rewrite once into a temp dir."""
    out = str(tmp_path_factory.mktemp("events_us"))
    _events_batch(spark, sf_dir).write.mode("overwrite").parquet(out)
    return out


def _run_stream(df, name):
    q = (df.writeStream.outputMode("complete").format("memory")
         .queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_streaming_tumbling_matches_batch(spark, sf_dir, events_parquet_dir):
    stream = read_events_stream(spark, events_parquet_dir,
                                max_files_per_trigger=10)
    agg = streaming_tumbling_counts(stream, "1 hour", "30 minutes")
    _run_stream(agg, "tumbling_out")
    got = {
        (str(r.window_start), r.event_type): (r.n_events, float(r.sum_value))
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    batch = (
        _events_batch(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    )
    expected = {(str(r.w.start), r.event_type): (r.n, float(r.v)) for r in batch}
    assert set(got) == set(expected)
    for k, (n, v) in expected.items():
        assert got[k][0] == n
        assert got[k][1] == pytest.approx(v, rel=1e-9)


def test_streaming_dedup_bounds_duplicates(spark, events_parquet_dir):
    stream = read_events_stream(spark, events_parquet_dir,
                                max_files_per_trigger=10)
    deduped = streaming_dedup(stream, ["event_id"], watermark="1 hour")
    q = (deduped.writeStream.outputMode("append").format("memory")
         .queryName("dedup_out").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT event_id, count(*) c FROM dedup_out GROUP BY 1 "
                    "HAVING count(*) > 1").collect()
    assert out == []


def test_streaming_session_window_runs(spark, events_parquet_dir):
    stream = read_events_stream(spark, events_parquet_dir,
                                max_files_per_trigger=10)
    sess = streaming_session_window(stream, gap="30 minutes",
                                    watermark="1 hour")
    q = (sess.writeStream.outputMode("complete").format("memory")
         .queryName("session_out").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM session_out").collect()
    assert rows
    assert all(r.session_start < r.session_end for r in rows)


def test_sessionize_batch_gap_semantics(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 100),
        (2, "2024-01-01 00:10:00", 100),   # same session (10 min gap)
        (3, "2024-01-01 01:00:00", 100),   # new session (50 min gap)
        (4, "2024-01-01 00:00:00", 200),   # other user
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, user_id long") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = {r.event_id: r.session_id
           for r in sessionize_batch(df, gap_minutes=30).collect()}
    assert out[1] == out[2] == 1
    assert out[3] == 2
    assert out[4] == 1


def test_watermark_drops_late_rows(spark, tmp_path):
    """Out-of-order arrival beyond the watermark: the late row must NOT
    create/extend a window once the watermark passed it (append mode)."""
    import pyspark.sql.functions as F

    d1 = str(tmp_path / "b1"); d2 = str(tmp_path / "b2"); src = str(tmp_path / "src")
    import os
    os.makedirs(src, exist_ok=True)
    rows1 = [(1, "2024-01-01 10:00:00", 1, "view", 1.0, "{}"),
             (2, "2024-01-01 13:00:00", 1, "view", 1.0, "{}")]  # advances watermark far
    rows2 = [(3, "2024-01-01 10:05:00", 1, "view", 1.0, "{}")]  # hours late
    def mk(rows, name):
        df = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
        ).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/{name}")
        return df
    mk(rows1, "f1")
    # stream with one file-batch per trigger: f1 first (advances watermark), f2 late
    stream = read_events_stream(spark, f"{src}/*", max_files_per_trigger=1)
    agg = streaming_tumbling_counts(stream, "1 hour", "10 minutes")
    q = (agg.writeStream.outputMode("append").format("memory")
         .queryName("late_out").start())
    try:
        q.processAllAvailable()
        mk(rows2, "f2")
        q.processAllAvailable()
    finally:
        q.stop()
    out = {(str(r.window_start), r.n_events)
           for r in spark.sql("SELECT * FROM late_out").collect()}
    # the 10:00 window closed with 1 event; the late 10:05 row was dropped
    assert ("2024-01-01 10:00:00", 1) in out
    assert ("2024-01-01 10:00:00", 2) not in out


def test_foreach_batch_sink(spark, events_parquet_dir, tmp_path):
    """foreachBatch custom sink: every micro-batch lands as parquet; the
    union of batches equals the source."""
    import glob

    from pyspark_deduplication_spark.streaming.ops import write_stream_foreach_batch

    out_dir = str(tmp_path / "batches")
    ckpt = str(tmp_path / "ckpt")

    def sink(batch_df, epoch_id):
        batch_df.write.mode("append").parquet(out_dir)

    stream = read_events_stream(spark, events_parquet_dir,
                                max_files_per_trigger=2)
    q = write_stream_foreach_batch(stream, sink, ckpt)
    q.awaitTermination(120)
    n_src = spark.read.parquet(events_parquet_dir).count()
    assert spark.read.parquet(out_dir).count() == n_src
    # restart with same checkpoint: no duplicate delivery (epochs tracked)
    q2 = write_stream_foreach_batch(
        read_events_stream(spark, events_parquet_dir, max_files_per_trigger=2),
        sink, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n_src


def test_stream_stream_join_matches_batch(spark, sf_dir, events_parquet_dir):
    """Watermarked stream-stream join ≡ the equivalent batch range join
    when all data fits one run."""
    from pyspark_deduplication_spark.streaming.ops import stream_stream_join

    purchases = read_events_stream(spark, events_parquet_dir, 100).filter(
        F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    errors = read_events_stream(spark, events_parquet_dir, 100).filter(
        F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id", "ts")
    joined = stream_stream_join(purchases, errors, within="1 hour")
    q = (joined.writeStream.outputMode("append").format("memory")
         .queryName("ss_join_out").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.event_id, r.err_id)
           for r in spark.sql("SELECT event_id, err_id FROM ss_join_out").collect()}

    ev = _events_batch(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), F.col("user_id").alias("u2"),
        F.col("ts").alias("ts2"))
    batch = p.join(e, (p.user_id == e.u2) & (e.ts2 <= p.ts)
                   & (e.ts2 >= p.ts - F.expr("INTERVAL 1 hour")))
    expected = {(r.event_id, r.err_id)
                for r in batch.select("event_id", "err_id").collect()}
    assert got == expected
    assert expected  # non-trivial join


def test_streaming_corpus_ingest_drops_cross_epoch_near_dups(spark, tmp_path):
    """Docs streaming in over two epochs: a doc near-duplicating an
    earlier epoch's doc never enters the corpus; fresh content from both
    epochs does; the final corpus is epoch-partitioned."""
    from pyspark.sql import types as T

    from pyspark_deduplication_spark.streaming.ops import (
        streaming_corpus_ingest,
    )

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    src = str(tmp_path / "incoming")
    corpus_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from the warm windowsill every single day at dawn")
    other = ("spark shuffles partition data across executors while the "
             "adaptive engine re-plans joins from runtime statistics")
    # file names sort f1 < f2 -> with maxFilesPerTrigger=1 they arrive
    # as separate epochs in order
    spark.createDataFrame([(1, base), (2, other)], schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f1")
    spark.createDataFrame(
        [(10, base + " indeed"),       # near-dup of epoch-1 doc 1
         (11, "a wholly new document about tokenizers and byte pair "
              "encodings for language model training corpora")],
        schema).coalesce(1).write.mode("overwrite").parquet(f"{src}/f2")

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_corpus_ingest(stream, corpus_dir, ckpt, threshold=0.5)
    q.awaitTermination(180)

    final = spark.read.parquet(corpus_dir)
    ids = sorted(r.doc_id for r in final.select("doc_id").collect())
    assert 1 in ids and 2 in ids      # epoch 1 fresh content
    assert 11 in ids                  # epoch 2 fresh content
    assert 10 not in ids              # cross-epoch near-dup dropped
    assert "epoch" in final.columns

    # the maintained signature index holds exactly the survivors'
    # signatures, epoch-aligned with the corpus (probes read THIS
    # table instead of re-signing the corpus)
    sigs = spark.read.parquet(corpus_dir + "_sigs")
    assert sorted(r.doc_id for r in sigs.select("doc_id").collect()) \
        == ids
    assert {"signature", "shingles", "epoch"} <= set(sigs.columns)
    corpus_epochs = {(r.doc_id, r.epoch) for r in
                     final.select("doc_id", "epoch").collect()}
    sig_epochs = {(r.doc_id, r.epoch) for r in
                  sigs.select("doc_id", "epoch").collect()}
    assert sig_epochs == corpus_epochs


def test_streaming_corpus_ingest_sig_index_equivalent_and_fallback(
        spark, tmp_path):
    """The persisted-sig-index loop admits exactly the docs the
    re-sign-per-batch loop admits; with the sig table deleted
    mid-history (crash window / migration), the next epoch HEALS the
    index — it backfills every missing epoch's signatures from the
    corpus rows before trusting it (advisory r8: the old non-empty
    check rebuilt the index with only the fallback epoch's survivors,
    so near-dups of all pre-fallback epochs were admitted forever) —
    still drops cross-epoch near-dups, and epochs AFTER the fallback
    keep dropping near-dups of PRE-fallback content."""
    import shutil

    from pyspark.sql import types as T

    from pyspark_deduplication_spark.streaming.ops import (
        streaming_corpus_ingest,
    )

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from the warm windowsill every single day at dawn")
    e1 = [(1, base),
          (2, "spark shuffles partition data across executors while "
              "the adaptive engine re-plans joins from statistics")]
    e2 = [(10, base + " indeed"),
          (11, "a wholly new document about tokenizers and byte pair "
               "encodings for language model training corpora")]
    e3 = [(20, base + " again indeed"),    # near-dup of doc 1 (fallback
                                           # epoch must still drop it)
          (21, "entirely novel third epoch material regarding oceanic "
               "currents and coral reef ecosystems worldwide")]

    def run(tag, maintain, epochs, pre=None):
        src = str(tmp_path / f"in_{tag}")
        corpus_dir = str(tmp_path / f"corpus_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        for i, rows in enumerate(epochs):
            spark.createDataFrame(rows, schema).coalesce(1) \
                .write.mode("overwrite").parquet(f"{src}/f{i}")
        if pre:
            pre(corpus_dir)
        stream = (spark.readStream.format("parquet").schema(schema)
                  .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
        q = streaming_corpus_ingest(stream, corpus_dir, ckpt,
                                    threshold=0.5,
                                    maintain_sig_index=maintain)
        q.awaitTermination(240)
        return corpus_dir, sorted(
            r.doc_id for r in spark.read.parquet(corpus_dir).collect())

    _, with_idx = run("idx", True, [e1, e2])
    d, without = run("plain", False, [e1, e2])
    assert with_idx == without
    assert not (tmp_path / "corpus_plain_sigs").exists()

    # resume the indexed run with the sig table destroyed: epoch 3
    # probes via the corpus-row fallback
    src = str(tmp_path / "in_idx")
    corpus_dir = str(tmp_path / "corpus_idx")
    shutil.rmtree(corpus_dir + "_sigs")
    spark.createDataFrame(e3, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f2")
    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_corpus_ingest(stream, corpus_dir,
                                str(tmp_path / "ckpt_idx"),
                                threshold=0.5, maintain_sig_index=True)
    q.awaitTermination(240)
    ids = sorted(r.doc_id for r in
                 spark.read.parquet(corpus_dir).collect())
    assert 20 not in ids and 21 in ids, ids
    # the fallback epoch HEALED the index: every corpus survivor's
    # signature is back, epoch-aligned (not just the fallback epoch's)
    sigs = spark.read.parquet(corpus_dir + "_sigs")
    assert sorted(r.doc_id for r in sigs.collect()) == ids
    assert ({(r.doc_id, r.epoch) for r in
             sigs.select("doc_id", "epoch").collect()} ==
            {(r.doc_id, r.epoch) for r in
             spark.read.parquet(corpus_dir)
             .select("doc_id", "epoch").collect()})

    # epoch 4 near-duplicates PRE-fallback (epoch-2) content: the
    # healed index must still drop it (the r8-advisory defect was
    # exactly this admission)
    e4 = [(30, "a wholly new document about tokenizers and byte pair "
               "encodings for language model training corpora indeed"),
          (31, "fourth epoch text on volcanic island formation and "
               "tectonic plate subduction zones beneath the pacific")]
    spark.createDataFrame(e4, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f3")
    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_corpus_ingest(stream, corpus_dir,
                                str(tmp_path / "ckpt_idx"),
                                threshold=0.5, maintain_sig_index=True)
    q.awaitTermination(240)
    ids = sorted(r.doc_id for r in
                 spark.read.parquet(corpus_dir).collect())
    assert 30 not in ids and 31 in ids, ids


def test_streaming_embedding_ingest_drops_cross_epoch_semantic_dups(
    spark, tmp_path
):
    """Embeddings streaming in over two epochs: a batch-internal cosine
    clone collapses in epoch 1, an epoch-2 vector near-duplicating the
    standing corpus never enters, fresh directions from both epochs do,
    and the centroid table persists once with frozen geometry."""
    from pyspark.sql import types as T

    from pyspark_deduplication_spark.streaming.ops import (
        streaming_embedding_ingest,
    )

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    src = str(tmp_path / "incoming")
    corpus_dir = str(tmp_path / "vec_corpus")
    ckpt = str(tmp_path / "ckpt")
    v1 = [1.0, 0.0, 0.0, 0.0]
    v2 = [0.0, 1.0, 0.0, 0.0]
    v3 = [0.0, 0.0, 1.0, 0.0]
    # file names sort f1 < f2 -> maxFilesPerTrigger=1 delivers them as
    # ordered epochs (same harness as the MinHash ingest test)
    spark.createDataFrame(
        [(1, v1),
         (2, [2.0, 0.0, 0.0, 0.0]),   # cosine 1.0 with id 1: batch dup
         (3, v2)],
        schema).coalesce(1).write.mode("overwrite").parquet(f"{src}/f1")
    spark.createDataFrame(
        [(10, [1.0, 0.01, 0.0, 0.0]),  # cosine ~0.99995 vs corpus id 1
         (11, v3)],
        schema).coalesce(1).write.mode("overwrite").parquet(f"{src}/f2")

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_embedding_ingest(stream, corpus_dir, ckpt,
                                   threshold=0.95, n_cells=4)
    q.awaitTermination(180)
    # the epochs train centroids under model_state_exec (AQE off) on
    # the stream's own session clone; the toggle must not reach this
    # session
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe

    final = spark.read.parquet(corpus_dir)
    ids = sorted(r.vec_id for r in final.select("vec_id").collect())
    assert ids == [1, 3, 11]          # 2 batch-dup, 10 cross-epoch dup
    assert {"vec_id", "embedding", "cell_id", "epoch"} <= set(final.columns)
    cents = spark.read.parquet(corpus_dir + "_centroids")
    assert cents.count() > 0          # frozen geometry persisted once


def test_streaming_embedding_ingest_survives_centroid_only_crash_window(
    spark, tmp_path
):
    """Replay after the crash window between the epoch-0 centroid write
    and the entries write: centroids exist, the corpus dir does not —
    the restarted stream must not die; the batch self-dedups under the
    committed geometry and lands as epoch 0."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from pyspark_deduplication_spark.operators.knn import train_centroids
    from pyspark_deduplication_spark.streaming.ops import (
        streaming_embedding_ingest,
    )

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    src = str(tmp_path / "incoming")
    corpus_dir = str(tmp_path / "vc")
    batch = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]),
         (2, [2.0, 0.0, 0.0, 0.0]),   # cosine clone of 1
         (3, [0.0, 1.0, 0.0, 0.0])],
        schema)
    batch.coalesce(1).write.mode("overwrite").parquet(f"{src}/f1")
    # simulate the committed half of the crash window
    cents = train_centroids(
        batch.select("vec_id", "embedding"), 4, "vec_id", "embedding", 4, 1)
    cents.write.mode("overwrite").parquet(corpus_dir + "_centroids")

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_embedding_ingest(
        stream, corpus_dir, str(tmp_path / "ckpt"),
        threshold=0.95, n_cells=4)
    q.awaitTermination(180)

    final = spark.read.parquet(corpus_dir)
    assert sorted(r.vec_id for r in final.collect()) == [1, 3]
    assert final.filter(F.col("epoch") == 0).count() == 2


def test_streaming_reservoir_ingest_matches_batch_operator(spark, tmp_path):
    """Per-group reservoir over two epochs: the standing sample after
    the last epoch equals the batch operator over the concatenation of
    every row that ever streamed in (the merge property end-to-end),
    stays bounded at k per group, and is epoch-partitioned."""
    from pyspark.sql import types as T

    from pyspark_deduplication_spark.operators.sampling import (
        reservoir_per_group,
    )
    from pyspark_deduplication_spark.streaming.ops import (
        streaming_reservoir_ingest,
    )

    schema = T.StructType([
        T.StructField("grp", T.StringType()),
        T.StructField("id", T.LongType()),
    ])
    src = str(tmp_path / "incoming")
    res_dir = str(tmp_path / "reservoir")
    ckpt = str(tmp_path / "ckpt")
    e1 = [("a", i) for i in range(1, 5)] + [("b", 10), ("b", 11)]
    e2 = [("a", i) for i in range(5, 9)] + [("b", 12)]
    spark.createDataFrame(e1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f1")
    spark.createDataFrame(e2, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f2")

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_reservoir_ingest(stream, res_dir, ckpt,
                                   group_col="grp", key_col="id", k=2)
    q.awaitTermination(180)

    all_rows = spark.createDataFrame(e1 + e2, schema)
    expect = sorted((r.grp, r.id)
                    for r in reservoir_per_group(
                        all_rows, "grp", "id", 2).collect())
    final = spark.read.parquet(res_dir)
    assert "epoch" in final.columns
    last = final.agg({"epoch": "max"}).collect()[0][0]
    got = sorted((r.grp, r.id)
                 for r in final.where(final.epoch == last).collect())
    assert got == expect
    counts = {}
    for g, _ in got:
        counts[g] = counts.get(g, 0) + 1
    assert all(v <= 2 for v in counts.values())


def test_streaming_quantile_sketch_ingest_matches_batch(spark, tmp_path):
    """Quantile-sketch ingest over two epochs: the standing sketch
    after the last epoch equals ``quantile_sketch_build`` over every
    row that ever streamed in (the KMV merge property end-to-end,
    tag-for-tag), stays bounded at k per group, and estimates computed
    from the standing table match the batch path exactly. Re-merging
    the final state with one of its own constituent batches changes
    nothing (the replay-idempotence collapse)."""
    from pyspark.sql import types as T

    from pyspark_deduplication_spark.operators.profiling import (
        quantile_sketch_build,
        quantile_sketch_estimate,
        quantile_sketch_merge,
    )
    from pyspark_deduplication_spark.streaming.ops import (
        streaming_quantile_sketch_ingest,
    )

    schema = T.StructType([
        T.StructField("grp", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("val", T.DoubleType()),
    ])
    src = str(tmp_path / "incoming")
    sk_dir = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    e1 = [("a", i, float(i * 3 % 17)) for i in range(12)] + \
         [("b", i, float(i)) for i in range(100, 106)]
    e2 = [("a", i, float(i * 5 % 23)) for i in range(12, 24)] + \
         [("b", i, float(i)) for i in range(106, 110)]
    spark.createDataFrame(e1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f1")
    spark.createDataFrame(e2, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f2")

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_quantile_sketch_ingest(
        stream, sk_dir, ckpt, group_col="grp", key_col="id",
        value_col="val", k=8)
    q.awaitTermination(180)

    all_rows = spark.createDataFrame(e1 + e2, schema)
    expect_sk = quantile_sketch_build(all_rows, "grp", "id", "val", k=8)
    expect = sorted((r.grp, r.h, r.v) for r in expect_sk.collect())
    final = spark.read.parquet(sk_dir)
    last = final.agg({"epoch": "max"}).collect()[0][0]
    standing = final.where(final.epoch == last).drop("epoch")
    got = sorted((r.grp, r.h, r.v) for r in standing.collect())
    assert got == expect

    counts = {}
    for g, _, _ in got:
        counts[g] = counts.get(g, 0) + 1
    assert all(v <= 8 for v in counts.values())

    est_live = [tuple(r) for r in quantile_sketch_estimate(
        standing, [0.5, 0.9], "grp").collect()]
    est_batch = [tuple(r) for r in quantile_sketch_estimate(
        expect_sk, [0.5, 0.9], "grp").collect()]
    assert est_live == est_batch

    replayed = quantile_sketch_merge(
        standing,
        quantile_sketch_build(spark.createDataFrame(e1, schema),
                              "grp", "id", "val", k=8),
        group_col="grp", k=8)
    assert sorted((r.grp, r.h, r.v) for r in replayed.collect()) == expect


def test_streaming_weighted_corpus_ingest_drops_on_weight_profile(
        spark, tmp_path):
    """Weighted ingest over two epochs: an epoch-2 doc weighted-near
    the epoch-1 corpus never lands; a doc sharing an epoch-1 doc's
    SHINGLE SET but repeating it 40× (weighted J ≈ 1/40 — the case the
    set-path loop would wrongly drop) DOES land; fresh content lands;
    a batch-internal weighted dup collapses in its own epoch."""
    from pyspark.sql import types as T

    from pyspark_deduplication_spark.streaming.ops import (
        streaming_weighted_corpus_ingest,
    )

    para = ("these exact words describe the corpus ingestion loop for "
            "weighted jaccard testing purposes")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    e1 = [(1, para),
          (2, "completely different first epoch material about rivers "
              "and mountains and weather")]
    e2 = [(10, para + " ok"),                  # weighted dup of 1 → drop
          (11, " ".join([para] * 40)),          # same set, 40× weights →
                                                # must LAND
          (12, "fresh second epoch content about astronomy telescopes "
               "and planetary orbits"),
          (13, "fresh second epoch content about astronomy telescopes "
               "and planetary orbitz")]         # in-batch weighted dup
    src = str(tmp_path / "incoming")
    corpus_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(e1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f1")
    spark.createDataFrame(e2, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f2")

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_weighted_corpus_ingest(
        stream, corpus_dir, ckpt, threshold=0.6)
    q.awaitTermination(240)

    kept = sorted(r.doc_id for r in
                  spark.read.parquet(corpus_dir).collect())
    assert 1 in kept and 2 in kept
    assert 10 not in kept
    assert 11 in kept, kept
    assert 12 in kept
    assert len([k for k in kept if k in (12, 13)]) == 1, kept

    # the maintained ICWS index mirrors the corpus (epoch 2's probe
    # read THIS table — the numpy kernel never re-ran over epoch 1)
    wsigs = spark.read.parquet(corpus_dir + "_wsigs")
    assert sorted(r.doc_id for r in wsigs.select("doc_id").collect()) \
        == kept
    assert {"whashes", "epoch"} <= set(wsigs.columns)


def test_streaming_pca_stats_ingest_matches_batch(spark, tmp_path):
    """PCA-stats ingest over two epochs: the standing one-row artifact
    after the last epoch carries the exact sums over every vector that
    ever streamed in, and the model derived from it matches training
    on the concatenation (1e-9 — float summation order only)."""
    import numpy as np

    from pyspark.sql import types as T

    from pyspark_deduplication_spark.operators.knn import (
        pca_from_stats,
        train_pca,
    )
    from pyspark_deduplication_spark.streaming.ops import (
        streaming_pca_stats_ingest,
    )

    rng = np.random.RandomState(17)
    d, n = 6, 120
    X = rng.standard_normal((n, d)) * np.sqrt(20.0 * 0.5 ** np.arange(d))
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
    src = str(tmp_path / "incoming")
    st_dir = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(rows[:70], schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f1")
    spark.createDataFrame(rows[70:], schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f2")

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_pca_stats_ingest(stream, st_dir, ckpt)
    q.awaitTermination(180)

    final = spark.read.parquet(st_dir)
    last = final.agg({"epoch": "max"}).collect()[0][0]
    standing = final.where(final.epoch == last).drop("epoch")
    assert standing.count() == 1
    assert standing.first()["n"] == n

    mean_s, comps_s, ratios_s = pca_from_stats(standing, n_components=3)
    all_df = spark.createDataFrame(rows, schema)
    mean_b, comps_b, ratios_b = train_pca(all_df, n_components=3)
    assert np.allclose(mean_s, mean_b, atol=1e-9)
    assert np.allclose(comps_s, comps_b, atol=1e-9)
    assert np.allclose(ratios_s, ratios_b, atol=1e-9)


def test_streaming_fused_ingest_drops_on_either_signal(spark, tmp_path):
    """Fused ingest over two epochs: an epoch-2 doc near-duplicating
    epoch 1 LEXICALLY (text variant, novel vector) never lands, one
    near-duplicating it SEMANTICALLY (novel text, cosine-clone vector)
    never lands, fresh content from both epochs does, a batch-internal
    lexical dup collapses in epoch 1, and all three probe artifacts
    (signature index, frozen centroids, cell index) persist."""
    import os

    from pyspark.sql import types as T

    from pyspark_deduplication_spark.streaming.ops import (
        streaming_fused_ingest,
    )

    def sent(prefix, n=30):
        return " ".join(f"{prefix}w{i}" for i in range(n))

    def variant(text, pos=15):
        toks = text.split()
        toks[pos] = toks[pos] + "x"
        return " ".join(toks)

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    src = str(tmp_path / "incoming")
    corpus_dir = str(tmp_path / "fused_corpus")
    ckpt = str(tmp_path / "ckpt")
    v1 = [5.0, 1.0, 0.0, 0.0]
    v2 = [0.0, 1.0, 5.0, 0.0]
    e1 = [
        (1, sent("alpha"), v1),
        (2, sent("beta"), v2),
        (3, variant(sent("alpha")), [0.0, 0.0, 0.0, 7.0]),  # lex dup of 1
    ]
    e2 = [
        (10, variant(sent("alpha"), pos=14), [7.0, 0.0, 0.0, 1.0]),  # lex hit
        (11, sent("gamma"), [x * 1.0005 for x in v2]),               # sem hit
        (12, sent("delta"), [1.0, 7.0, 0.0, 3.0]),                   # fresh
    ]
    spark.createDataFrame(e1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f1")
    spark.createDataFrame(e2, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f2")

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_fused_ingest(
        stream, corpus_dir, ckpt,
        jaccard_threshold=0.7, cosine_threshold=0.999, n_cells=2)
    q.awaitTermination(240)

    final = spark.read.parquet(corpus_dir)
    ids = sorted(r.doc_id for r in final.select("doc_id").collect())
    assert ids == [1, 2, 12], ids
    assert "epoch" in final.columns
    for suffix in ("_sigs", "_centroids", "_index"):
        assert os.path.exists(corpus_dir + suffix), suffix
    idx = spark.read.parquet(corpus_dir + "_index")
    assert sorted(r.doc_id for r in idx.collect()) == [1, 2, 12]


def test_streaming_fused_ingest_heals_behind_indexes(spark, tmp_path):
    """Both fused probe indexes deleted mid-history (crash window /
    migration): the next epoch backfills the missing epochs' entries
    from the corpus rows before trusting either index (the
    heal-before-trust contract, advisory r8), so near-dups of
    PRE-deletion epochs on EITHER signal are still dropped."""
    from pyspark.sql import types as T

    from pyspark_deduplication_spark.streaming.ops import (
        streaming_fused_ingest,
    )

    def sent(prefix, n=30):
        return " ".join(f"{prefix}w{i}" for i in range(n))

    def variant(text, pos=15):
        toks = text.split()
        toks[pos] = toks[pos] + "x"
        return " ".join(toks)

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    src = str(tmp_path / "incoming")
    corpus_dir = str(tmp_path / "fused_corpus")
    ckpt = str(tmp_path / "ckpt")
    v1 = [5.0, 1.0, 0.0, 0.0]
    v2 = [0.0, 1.0, 5.0, 0.0]
    e1 = [(1, sent("alpha"), v1), (2, sent("beta"), v2)]
    e2 = [(10, sent("gamma"), [1.0, 7.0, 0.0, 3.0])]
    spark.createDataFrame(e1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f1")
    spark.createDataFrame(e2, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f2")

    def run():
        stream = (spark.readStream.format("parquet").schema(schema)
                  .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
        q = streaming_fused_ingest(
            stream, corpus_dir, ckpt,
            jaccard_threshold=0.7, cosine_threshold=0.999, n_cells=2)
        q.awaitTermination(240)

    run()
    import shutil
    shutil.rmtree(corpus_dir + "_sigs")
    shutil.rmtree(corpus_dir + "_index")

    e3 = [
        (20, variant(sent("alpha")), [7.0, 0.0, 0.0, 1.0]),  # lex dup of 1
        (21, sent("delta"), [x * 1.0005 for x in v2]),       # sem dup of 2
        (22, sent("epsilon"), [0.0, 0.0, 1.0, 9.0]),         # fresh
    ]
    spark.createDataFrame(e3, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f3")
    run()

    final = spark.read.parquet(corpus_dir)
    ids = sorted(r.doc_id for r in final.select("doc_id").collect())
    assert ids == [1, 2, 10, 22], ids
    # the heal rebuilt BOTH indexes epoch-complete (corpus-aligned)
    sigs = spark.read.parquet(corpus_dir + "_sigs")
    idx = spark.read.parquet(corpus_dir + "_index")
    corpus_pairs = {(r.doc_id, r.epoch) for r in
                    final.select("doc_id", "epoch").collect()}
    assert {(r.doc_id, r.epoch) for r in
            sigs.select("doc_id", "epoch").collect()} == corpus_pairs
    assert {(r.doc_id, r.epoch) for r in
            idx.select("doc_id", "epoch").collect()} == corpus_pairs


def test_streaming_fused_ingest_replay_is_idempotent(spark, tmp_path):
    """Exactly-once: wiping the CHECKPOINT (not the data) and replaying
    the whole stream rewrites identical artifacts — epoch 0 takes the
    incremental branch on replay (centroids already persisted, empty
    prior epochs) and must neither retrain the frozen geometry nor
    change any partition's content."""
    from pyspark.sql import types as T

    from pyspark_deduplication_spark.streaming.ops import (
        streaming_fused_ingest,
    )

    def sent(prefix, n=30):
        return " ".join(f"{prefix}w{i}" for i in range(n))

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    src = str(tmp_path / "incoming")
    corpus_dir = str(tmp_path / "fused_corpus")
    e1 = [(1, sent("alpha"), [5.0, 1.0, 0.0, 0.0]),
          (2, sent("beta"), [0.0, 1.0, 5.0, 0.0])]
    e2 = [(10, sent("gamma"), [1.0, 7.0, 0.0, 3.0])]
    spark.createDataFrame(e1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f1")
    spark.createDataFrame(e2, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f2")

    def run(ckpt):
        stream = (spark.readStream.format("parquet").schema(schema)
                  .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
        q = streaming_fused_ingest(stream, corpus_dir, str(tmp_path / ckpt),
                                   cosine_threshold=0.999, n_cells=2)
        q.awaitTermination(240)

    def state():
        corpus = sorted(
            (r.doc_id, r.epoch)
            for r in spark.read.parquet(corpus_dir).collect())
        cents = sorted(
            tuple(r.centroid) for r in
            spark.read.parquet(corpus_dir + "_centroids").collect())
        idx = sorted(
            (r.doc_id, r.cell_id, r.epoch)
            for r in spark.read.parquet(corpus_dir + "_index").collect())
        return corpus, cents, idx

    run("ckpt1")
    first = state()
    run("ckpt2")   # full replay, fresh checkpoint, same data dirs
    assert state() == first


def test_streaming_span_ingest_cleans_against_standing_windows(
    spark, tmp_path
):
    """Span ingest over two epochs: an epoch-2 doc repeating a span
    already in the epoch-1 corpus stores with that span REMOVED, novel
    text stores verbatim, a batch-internal shared span is stripped
    from both carriers, and the window index grows from the CLEANED
    text."""
    from pyspark.sql import types as T

    from pyspark_deduplication_spark.streaming.ops import (
        streaming_span_ingest,
    )

    S = " ".join(f"s{i}" for i in range(8))
    T8 = " ".join(f"t{i}" for i in range(8))
    novel1 = " ".join(f"a{i}" for i in range(8))
    novel2 = " ".join(f"b{i}" for i in range(8))
    novel3 = " ".join(f"d{i}" for i in range(8))
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    src = str(tmp_path / "incoming")
    corpus_dir = str(tmp_path / "span_corpus")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, f"{S} c0 c1 c2 c3 c4 c5 c6 c7")], schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f1")
    spark.createDataFrame(
        [(10, f"{novel1} {S}"),       # standing-span hit: S removed
         (11, f"{T8} {novel2}"),      # batch-shared: T8 removed
         (12, f"{T8} {novel3}")],
        schema).coalesce(1).write.mode("overwrite").parquet(f"{src}/f2")

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_span_ingest(stream, corpus_dir, ckpt, span=8)
    q.awaitTermination(180)

    rows = {r.doc_id: r for r in spark.read.parquet(corpus_dir).collect()}
    assert rows[1].clean_text.startswith(S)      # epoch 1: nothing standing
    assert rows[10].clean_text == novel1
    assert rows[11].clean_text == novel2
    assert rows[12].clean_text == novel3
    idx = spark.read.parquet(corpus_dir + "_spanidx")
    grams = {r.gram for r in idx.collect()}
    assert S in grams                            # epoch-1 windows indexed
    assert novel1 in grams                       # cleaned epoch-2 windows
    assert T8 not in grams                       # removed spans never index


def test_streaming_fused_ingest_weighted_leg(spark, tmp_path):
    """Three-signal fused ingest: with ``weighted_threshold`` armed the
    loop maintains a third per-epoch index (<corpus>_wsigs) and an
    epoch-2 doc that tf-near-duplicates epoch-1 boilerplate (set-Jaccard
    low, vectors orthogonal — invisible to the other two legs) never
    lands, while the same loop without the leg admits it."""
    import os

    from pyspark.sql import types as T

    from pyspark_deduplication_spark.streaming.ops import (
        streaming_fused_ingest,
    )

    def rep(tail_prefix, n_rep=30, n_tail=10):
        block = "lorem ipsum boiler " * n_rep
        tail = " ".join(f"{tail_prefix}t{i}" for i in range(n_tail))
        return (block + tail).strip()

    def sent(prefix, n=30):
        return " ".join(f"{prefix}w{i}" for i in range(n))

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    e1 = [(1, rep("a"), [1.0, 0.0, 0.0, 0.0]),
          (2, sent("beta"), [0.0, 1.0, 0.0, 0.0])]
    e2 = [(10, rep("z"), [0.0, 0.0, 1.0, 0.0]),     # tf-dup of doc 1
          (11, sent("gamma"), [0.0, 0.0, 0.0, 1.0])]

    def run(tag, weighted):
        src = str(tmp_path / f"in_{tag}")
        corpus_dir = str(tmp_path / f"corpus_{tag}")
        for i, rows in enumerate((e1, e2)):
            spark.createDataFrame(rows, schema).coalesce(1) \
                .write.mode("overwrite").parquet(f"{src}/f{i}")
        stream = (spark.readStream.format("parquet").schema(schema)
                  .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
        q = streaming_fused_ingest(
            stream, corpus_dir, str(tmp_path / f"ckpt_{tag}"),
            jaccard_threshold=0.7, cosine_threshold=0.999, n_cells=2,
            weighted_threshold=weighted)
        q.awaitTermination(240)
        return corpus_dir, sorted(
            r.doc_id for r in spark.read.parquet(corpus_dir).collect())

    d2, two_signal = run("two", None)
    assert two_signal == [1, 2, 10, 11]
    assert not os.path.exists(d2 + "_wsigs")

    d3, three_signal = run("three", 0.5)
    assert three_signal == [1, 2, 11], three_signal
    wsigs = spark.read.parquet(d3 + "_wsigs")
    assert {"whashes", "epoch"} <= set(wsigs.columns)
    assert sorted(r.doc_id for r in wsigs.collect()) == [1, 2, 11]


def test_epoch_partitions_skips_non_integer_partition_dirs(spark, tmp_path):
    """ADVICE r9: a non-integer epoch partition value (null epoch →
    epoch=__HIVE_DEFAULT_PARTITION__, or a stray directory) must not
    become a poison pill that fails every subsequent micro-batch —
    coverage comparison skips it and keeps the integer epochs."""
    import os

    from pyspark.sql import functions as F

    from pyspark_deduplication_spark.streaming.ops import _epoch_partitions

    path = str(tmp_path / "eptable")
    for e in (0, 3):
        (spark.createDataFrame([(1,)], "v long").withColumn("epoch", F.lit(e))
         .write.mode("append").partitionBy("epoch").parquet(path))
    os.makedirs(f"{path}/epoch=__HIVE_DEFAULT_PARTITION__")
    os.makedirs(f"{path}/epoch=stray")
    assert _epoch_partitions(spark, path) == {0, 3}


def test_streaming_fused_ingest_keep_best_survivorship(spark, tmp_path):
    """quality_col arms insert/drop/replace across micro-batches
    (VERDICT r11 item 6): a later better-quality near-dup REPLACES the
    standing doc (its epoch partition rewrites without it and every
    index re-derives — the replacement must itself be probe-able by
    the next epoch), an equal-or-worse near-dup drops, fresh content
    inserts, and an epoch whose every row is superseded is deleted
    outright from the corpus and all index artifacts."""
    import os

    from pyspark.sql import types as T

    from pyspark_deduplication_spark.streaming.ops import (
        streaming_fused_ingest,
    )

    def sent(prefix, n=30):
        return " ".join(f"{prefix}w{i}" for i in range(n))

    def variant(text, pos=15):
        toks = text.split()
        toks[pos] = toks[pos] + "x"
        return " ".join(toks)

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("quality", T.DoubleType()),
    ])
    src = str(tmp_path / "incoming")
    corpus_dir = str(tmp_path / "kb_corpus")
    ckpt = str(tmp_path / "ckpt")
    alpha, beta, delta = sent("alpha"), sent("beta"), sent("delta")
    f1 = [(1, alpha, [5.0, 0.0, 0.0, 0.0], 0.5),
          (2, beta, [0.0, 5.0, 0.0, 0.0], 0.9)]
    f2 = [(10, variant(alpha, 14), [0.0, 0.0, 5.0, 0.0], 0.8),  # > 0.5
          (11, variant(beta, 14), [0.0, 0.0, 0.0, 5.0], 0.5),   # < 0.9
          (12, delta, [3.0, 3.0, 0.0, 0.0], 0.1)]               # fresh
    f3 = [(20, variant(alpha, 13), [0.0, 3.0, 3.0, 0.0], 0.95),  # > 0.8
          (21, variant(delta, 14), [3.0, 0.0, 0.0, 3.0], 0.9)]   # > 0.1
    for name, rows in [("f1", f1), ("f2", f2), ("f3", f3)]:
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(f"{src}/{name}")

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_fused_ingest(
        stream, corpus_dir, ckpt,
        jaccard_threshold=0.7, cosine_threshold=0.999, n_cells=2,
        quality_col="quality")
    q.awaitTermination(240)

    final = spark.read.parquet(corpus_dir)
    got = {r.doc_id: (r.epoch, r.quality) for r in final.collect()}
    # 1 replaced by 10 replaced by 20; 11 dropped; 12 replaced by 21
    assert sorted(got) == [2, 20, 21], got
    assert got[2] == (0, 0.9)
    assert got[20][1] == 0.95 and got[21][1] == 0.9
    # epoch 1 (f2's survivors) was fully superseded -> deleted outright
    assert {e for e, _ in got.values()} == {0, 2}, got
    assert not os.path.exists(f"{corpus_dir}/epoch=1")
    # every index artifact tracks the corpus exactly (epoch-index
    # consistency after the rewrite)
    for suffix in ("_sigs", "_index"):
        idx = spark.read.parquet(corpus_dir + suffix)
        assert sorted(r.doc_id for r in idx.select("doc_id")
                      .distinct().collect()) == [2, 20, 21], suffix
        assert {r.epoch for r in idx.select("epoch")
                .distinct().collect()} == {0, 2}, suffix
        assert not os.path.exists(f"{corpus_dir}{suffix}/epoch=1")


def test_streaming_keep_best_quality_collapse_and_null_quality(
        spark, tmp_path):
    """The two ADVICE r12 survivorship gaps, pinned:

    1. batch-INTERNAL collapse is quality-aware — when one micro-batch
       carries two near-dup siblings, the keeper is the best-QUALITY
       member even when it has the larger id (min-id would keep the
       worse sibling, losing both the quality win and the replacement
       it should have triggered);
    2. a live corpus row with NULL quality competes at -inf — any
       scored challenger replaces it (it must NOT read as a ghost and
       re-derive epochs forever), while a NULL-quality challenger
       ties at -inf and drops in favor of the standing row (replay
       idempotence).

    Phases 2-3 pin the ADVICE r13 ghost-classification bug: ghost
    detection must key on the LIVENESS marker (``__clive`` null — no
    corpus row), not on quality nullness — a STANDING NULL-quality
    row matched by a losing challenger must trigger NO epoch rewrite
    (under the ``__cq.isNull()`` spelling it re-ran the full heal —
    corpus partition rewrite + index re-derivation — on every batch
    that matched it, forever)."""
    import os

    from pyspark.sql import types as T

    from pyspark_deduplication_spark.streaming.ops import (
        streaming_fused_ingest,
    )

    def sent(prefix, n=30):
        return " ".join(f"{prefix}w{i}" for i in range(n))

    def variant(text, pos):
        toks = text.split()
        toks[pos] = toks[pos] + "x"
        return " ".join(toks)

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("quality", T.DoubleType()),
    ])
    alpha, beta = sent("alpha"), sent("beta")
    f1 = [(1, alpha, [5.0, 0.0, 0.0, 0.0], 0.5),
          (2, beta, [0.0, 5.0, 0.0, 0.0], None)]  # live, NULL quality
    # one micro-batch, one fused component {10, 11}: the BETTER
    # sibling has the LARGER id, so min-id collapse would keep 10
    # (0.2 < 0.5 → no replacement) — quality-aware collapse must keep
    # 11 (0.9 > 0.5 → replaces doc 1); plus the NULL-quality family:
    # 12 is scored and must replace the NULL-quality doc 2
    f2 = [(10, variant(alpha, 14), [0.0, 0.0, 5.0, 0.0], 0.2),
          (11, variant(alpha, 13), [0.0, 0.0, 0.0, 5.0], 0.9),
          (12, variant(beta, 14), [0.0, 3.0, 0.0, 3.0], 0.3)]
    # a NULL-quality challenger to the (scored) standing 12: tie at
    # -inf never arises here — NULL vs 0.3 → NULL loses → drop
    f3 = [(20, variant(beta, 13), [3.0, 0.0, 3.0, 0.0], None)]

    src = str(tmp_path / "incoming")
    corpus_dir = str(tmp_path / "nq_corpus")
    for name, rows in [("f1", f1), ("f2", f2), ("f3", f3)]:
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(f"{src}/{name}")

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_fused_ingest(
        stream, corpus_dir, str(tmp_path / "ckpt"),
        jaccard_threshold=0.7, cosine_threshold=0.999, n_cells=2,
        quality_col="quality")
    q.awaitTermination(240)

    got = {r.doc_id: (r.epoch, r.quality) for r in
           spark.read.parquet(corpus_dir).collect()}
    # 1 replaced by 11 (best-quality sibling, not min-id 10);
    # 2 (NULL) replaced by 12; 20 (NULL challenger) dropped
    assert sorted(got) == [11, 12], got
    assert got[11][1] == 0.9 and got[12][1] == 0.3
    # epoch 0 fully superseded -> deleted; indexes track the corpus
    assert not os.path.exists(f"{corpus_dir}/epoch=0")
    for suffix in ("_sigs", "_index"):
        idx = spark.read.parquet(corpus_dir + suffix)
        assert sorted(r.doc_id for r in idx.select("doc_id")
                      .distinct().collect()) == [11, 12], suffix

    # --- phase 2: land a fresh NULL-quality family (doc 30) so a
    # NULL-quality row is STANDING in the corpus (unlike doc 2, which
    # was replaced in the same run it landed)
    gamma = sent("gamma")
    spark.createDataFrame(
        [(30, gamma, [5.0, 5.0, 0.0, 0.0], None)], schema) \
        .coalesce(1).write.mode("overwrite").parquet(f"{src}/f4")
    stream2 = (spark.readStream.format("parquet").schema(schema)
               .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    streaming_fused_ingest(
        stream2, corpus_dir, str(tmp_path / "ckpt"),
        jaccard_threshold=0.7, cosine_threshold=0.999, n_cells=2,
        quality_col="quality").awaitTermination(240)
    assert sorted(r.doc_id for r in
                  spark.read.parquet(corpus_dir).collect()) \
        == [11, 12, 30]

    def artifact_snapshot():
        snap = {}
        for suffix in ("", "_sigs", "_index"):
            for root, _dirs, files in os.walk(corpus_dir + suffix):
                for f in files:
                    p = os.path.join(root, f)
                    snap[p] = os.path.getmtime(p)
        return snap

    before = artifact_snapshot()

    # --- phase 3: a losing (NULL-quality) challenger matches the
    # standing NULL-quality doc 30 — it must DROP (tie at -inf favors
    # the standing row) and, critically, schedule NO epoch rewrite:
    # doc 30 is LIVE (__clive set), so it is not a ghost even though
    # its corpus quality is NULL
    spark.createDataFrame(
        [(31, variant(gamma, 14), [0.0, 5.0, 5.0, 0.0], None)],
        schema).coalesce(1).write.mode("overwrite") \
        .parquet(f"{src}/f5")
    stream3 = (spark.readStream.format("parquet").schema(schema)
               .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    streaming_fused_ingest(
        stream3, corpus_dir, str(tmp_path / "ckpt"),
        jaccard_threshold=0.7, cosine_threshold=0.999, n_cells=2,
        quality_col="quality").awaitTermination(240)
    assert sorted(r.doc_id for r in
                  spark.read.parquet(corpus_dir).collect()) \
        == [11, 12, 30]
    # no corpus partition was rewritten and no index re-derived:
    # every artifact file (name AND mtime) is exactly as before
    assert artifact_snapshot() == before


def test_streaming_web_ingest_from_gzip_binary_blobs(spark, tmp_path):
    """Raw CommonCrawl shape straight into the keep-best corpus:
    member-per-record ``.warc.gz`` BINARY blobs stream in, inflate,
    parse by octet-exact Content-Length (every page carries
    multi-byte UTF-8, so the char kernel would mis-slice), extract,
    and land; a better re-crawl of the same URI still replaces the
    standing copy. Also pins that gzip_members without binary_blobs
    is rejected.

    ADVICE r13 (high): the batch also carries (a) a PURE-BINARY
    payload (PNG magic + invalid-UTF-8 bytes — routine in real
    .warc.gz) and (b) a windows-1252 page declaring its charset in
    a <meta> tag. Under the old ``F.decode(payload, 'UTF-8')`` one
    invalid byte raised MALFORMED_CHARACTER_CODING, crashed the
    micro-batch, and the stream replayed it forever; with
    ``decode_web_text`` the binary payload degrades to U+FFFDs and
    the legacy page transcodes exactly."""
    import gzip

    import pytest
    from pyspark.sql import types as T

    from pyspark_deduplication_spark.streaming.ops import (
        streaming_web_ingest,
    )

    crlf, blank = b"\r\n", b"\r\n\r\n"

    def page(article: str) -> bytes:
        return (
            "<html><head><title>«T»</title></head><body>"
            "<div class=\"nav\"><a href=\"/\">HomePage</a> | "
            "<a href=\"/a\">AboutUs</a> | "
            "<a href=\"/c\">ContactUs</a></div>"
            "<p id=\"main\">" + article + "</p>"
            "<div class=\"footer\"><a href=\"/t\">Terms</a> | "
            "<a href=\"/p\">Privacy</a> | <a href=\"/k\">Cookies</a>"
            "</div></body></html>").encode("utf-8")

    def rec_bytes(uri: str, p: bytes) -> bytes:
        raw = (b"WARC/1.0" + crlf + b"WARC-Type: response" + crlf
               + b"WARC-Target-URI: " + uri.encode() + crlf
               + b"Content-Length: " + str(len(p)).encode()
               + blank + p + blank)
        return gzip.compress(raw)

    def rec(uri: str, article: str) -> bytes:
        return rec_bytes(uri, page(article))

    art_a = "« " + " ".join(f"alpha{i}" for i in range(25)) + " »"
    toks = art_a.split()
    toks[10] = "the"
    art_a2 = " ".join(toks)  # higher stopword ratio → better quality
    art_b = "— " + " ".join(f"beta{i}" for i in range(25)) + " …"
    # (a) pure binary: PNG magic + bytes invalid as UTF-8
    png_junk = b"\x89PNG\r\n\x1a\n" + bytes(range(128, 256)) * 4
    # (b) windows-1252 page declaring its charset in <meta>
    art_cp = ("“cp” " + " ".join(f"gamma{i}"
                                           for i in range(25))
              + " €99")
    cp_page = ("<html><head><meta charset=windows-1252></head><body>"
               "<div class=\"nav\"><a href=\"/\">HomePage</a> | "
               "<a href=\"/a\">AboutUs</a> | "
               "<a href=\"/c\">ContactUs</a></div>"
               "<p id=\"main\">" + art_cp + "</p>"
               "<div class=\"footer\"><a href=\"/t\">Terms</a> | "
               "<a href=\"/p\">Privacy</a></div></body></html>"
               ).encode("windows-1252")
    f1 = (rec("page://a", art_a) + rec("page://b", art_b)
          + rec_bytes("img://junk", png_junk)
          + rec_bytes("page://cp", cp_page))
    f2 = rec("page://a", art_a2)

    src = str(tmp_path / "incoming")
    corpus_dir = str(tmp_path / "gz_corpus")
    schema = T.StructType([T.StructField("blob", T.BinaryType())])
    for name, blob in [("f1", f1), ("f2", f2)]:
        spark.createDataFrame([(blob,)], schema).coalesce(1) \
            .write.mode("overwrite").parquet(f"{src}/{name}")

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_web_ingest(
        stream, corpus_dir, str(tmp_path / "ckpt"),
        cosine_threshold=0.999, n_cells=2,
        binary_blobs=True, gzip_members=True)
    q.awaitTermination(240)

    rows = {r.uri: r for r in spark.read.parquet(corpus_dir).collect()}
    # the stream TERMINATED (no decode crash) and every record —
    # including the binary and legacy-charset ones — flowed through
    assert "page://a" in rows and "page://b" in rows, sorted(rows)
    # the re-crawl REPLACED page://a's standing copy (same URI, same
    # doc_id — the quality probe decides, not identity)
    want_a2 = " ".join(art_a2.split())
    assert rows["page://a"].text == want_a2
    assert "«" in rows["page://b"].text or "—" in rows["page://b"].text
    # the windows-1252 page transcoded exactly: curly quotes and the
    # euro sign landed as the real codepoints, zero U+FFFD
    assert "page://cp" in rows, sorted(rows)
    cp_text = rows["page://cp"].text
    assert "“cp”" in cp_text and "€99" in cp_text
    assert "�" not in cp_text
    # the binary record decoded to replacement junk (it may land or
    # drop on quality — either is fine; it must never crash), and no
    # nav/footer boilerplate leaked into any landed article
    if "img://junk" in rows:
        assert "�" in rows["img://junk"].text
    for r in rows.values():
        assert "HomePage" not in r.text and "Terms" not in r.text

    with pytest.raises(ValueError):
        streaming_web_ingest(stream, corpus_dir,
                             str(tmp_path / "ckpt2"),
                             gzip_members=True)


def test_compact_corpus_epochs_preserves_content_and_probes(
        spark, tmp_path):
    """Epoch compaction (VERDICT r12 advisory 2): after five
    single-doc micro-batches (five epoch partitions), compacting with
    ``keep_last=2`` merges epochs {0,1,2} into epoch 2 — corpus and
    index CONTENT are exactly preserved (only the epoch label moves),
    the partition count drops to 3, and the stream keeps working:
    a near-dup of the OLDEST compacted doc still probes out against
    the re-derived index entries, while fresh content inserts."""
    import os

    from pyspark.sql import types as T

    from pyspark_deduplication_spark.streaming.ops import (
        compact_corpus_epochs,
        streaming_fused_ingest,
    )

    def sent(prefix, n=30):
        return " ".join(f"{prefix}w{i}" for i in range(n))

    def emb(i):
        v = [0.0] * 8
        v[i] = 5.0
        return v

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    src = str(tmp_path / "incoming")
    corpus_dir = str(tmp_path / "cp_corpus")
    ckpt = str(tmp_path / "ckpt")
    for i in range(5):
        spark.createDataFrame([(i, sent(f"p{i}"), emb(i))], schema) \
            .coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")

    def run():
        stream = (spark.readStream.format("parquet").schema(schema)
                  .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
        q = streaming_fused_ingest(
            stream, corpus_dir, ckpt,
            jaccard_threshold=0.7, cosine_threshold=0.999, n_cells=2,
            weighted_threshold=0.5)  # arm _wsigs: all 3 re-derives
        q.awaitTermination(240)

    run()
    before = {r.doc_id: r.text for r in
              spark.read.parquet(corpus_dir).collect()}
    assert sorted(before) == [0, 1, 2, 3, 4]

    stats = compact_corpus_epochs(spark, corpus_dir, keep_last=2)
    assert stats == {"compacted": [0, 1, 2], "into": 2, "kept": [3, 4]}
    after = spark.read.parquet(corpus_dir)
    assert {r.doc_id: r.text for r in after.collect()} == before
    assert {r.epoch for r in after.select("epoch").distinct()
            .collect()} == {2, 3, 4}
    parts = [d for d in os.listdir(corpus_dir) if d.startswith("epoch=")]
    assert sorted(parts) == ["epoch=2", "epoch=3", "epoch=4"]
    for suffix in ("_sigs", "_index", "_wsigs"):
        idx = spark.read.parquet(corpus_dir + suffix)
        assert sorted(r.doc_id for r in idx.select("doc_id")
                      .distinct().collect()) == [0, 1, 2, 3, 4], suffix
        assert {r.epoch for r in idx.select("epoch").distinct()
                .collect()} == {2, 3, 4}, suffix

    # the stream continues over the compacted state: an exact clone of
    # the OLDEST compacted doc must still probe out via the re-derived
    # epoch-2 sig entries; fresh content inserts as epoch 5
    spark.createDataFrame(
        [(100, sent("p0"), emb(5)), (101, sent("fresh"), emb(6))],
        schema).coalesce(1).write.mode("overwrite").parquet(f"{src}/f5")
    run()
    final = {r.doc_id for r in spark.read.parquet(corpus_dir).collect()}
    assert final == {0, 1, 2, 3, 4, 101}

    # second compaction folds the survivors again — bounded forever
    stats2 = compact_corpus_epochs(spark, corpus_dir, keep_last=2)
    assert stats2 is not None and stats2["kept"] == [4, 5]
    assert {r.doc_id for r in
            spark.read.parquet(corpus_dir).collect()} == final

    # crash-window convergence: a crash between the merged write and
    # the stale deletes leaves the same rows in the merged partition
    # AND a stale one — simulate by resurrecting a stale partition as
    # a full copy of the merged one, then re-run. The merge id-dedups,
    # so the re-run must collapse the pair: no duplicate ids, content
    # unchanged, stale partition gone again.
    import shutil

    merged_ep = stats2["into"]
    shutil.copytree(f"{corpus_dir}/epoch={merged_ep}",
                    f"{corpus_dir}/epoch={merged_ep - 1}")
    dup_ids = (spark.read.parquet(corpus_dir)
               .groupBy("doc_id").count().filter("count > 1").count())
    assert dup_ids > 0  # the crash shape is real before the re-run
    stats3 = compact_corpus_epochs(spark, corpus_dir, keep_last=2)
    assert stats3 is not None and stats3["into"] == merged_ep
    rows = spark.read.parquet(corpus_dir).collect()
    assert {r.doc_id for r in rows} == final and len(rows) == len(final)
    assert not os.path.exists(f"{corpus_dir}/epoch={merged_ep - 1}")


def test_streaming_web_ingest_end_to_end(spark, tmp_path):
    """The streaming web capstone: raw WARC blobs stream in, pages
    parse by Content-Length, articles extract through the block
    classifier, and the corpus keeps the BEST extraction of each
    near-dup family — a re-crawl whose article got better replaces
    the standing copy; page chrome never reaches the corpus."""
    from pyspark.sql import types as T

    from pyspark_deduplication_spark.streaming.ops import (
        streaming_web_ingest,
    )

    crlf, blank = "\r\n", "\r\n\r\n"

    def page(article):
        return (
            "<html><head><title>T</title><script>var x = 1 < 2;"
            "</script></head><body>"
            "<div class=\"nav\"><a href=\"/\">HomePage</a> | "
            "<a href=\"/a\">AboutUs</a> | "
            "<a href=\"/c\">ContactUs</a></div>"
            "<p id=\"main\">" + article + "</p>"
            "<div class=\"footer\"><a href=\"/t\">Terms</a> | "
            "<a href=\"/p\">Privacy</a> | <a href=\"/k\">Cookies</a>"
            "</div></body></html>")

    def rec(uri, article):
        p = page(article)
        return ("WARC/1.0" + crlf + "WARC-Type: response" + crlf
                + "WARC-Target-URI: " + uri + crlf
                + "Content-Length: " + str(len(p)) + blank + p + blank)

    art_a = " ".join(f"alpha{i}" for i in range(25))      # q = 0.75
    toks = art_a.split()
    toks[10] = "the"                                       # q = 0.80
    art_a2 = " ".join(toks)
    art_b = " ".join(f"beta{i}" for i in range(25))
    art_c = " ".join(f"gamma{i}" for i in range(25))
    f1 = rec("page://a", art_a) + rec("page://b", art_b)
    f2 = rec("page://a2", art_a2) + rec("page://c", art_c)

    src = str(tmp_path / "incoming")
    corpus_dir = str(tmp_path / "web_corpus")
    schema = T.StructType([T.StructField("blob", T.StringType())])
    for name, blob in [("f1", f1), ("f2", f2)]:
        spark.createDataFrame([(blob,)], schema).coalesce(1) \
            .write.mode("overwrite").parquet(f"{src}/{name}")

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_web_ingest(
        stream, corpus_dir, str(tmp_path / "ckpt"),
        cosine_threshold=0.999, n_cells=2)
    q.awaitTermination(240)

    rows = {r.uri: r for r in spark.read.parquet(corpus_dir).collect()}
    # the better re-crawl replaced page://a; b and c stand
    assert sorted(rows) == ["page://a2", "page://b", "page://c"], rows
    assert rows["page://a2"].text == art_a2
    assert rows["page://b"].text == art_b
    assert abs(rows["page://a2"].quality - 0.80) < 1e-9
    for r in rows.values():
        assert "HomePage" not in r.text and "Terms" not in r.text
        assert len(r.embedding) == 16 and sum(r.embedding) == 25.0


def test_streaming_web_ingest_http_messages_mode(spark, tmp_path):
    """The REAL CommonCrawl record shape end-to-end in one stream
    (r14): multi-member ``.warc.gz`` blobs whose response payloads
    are FULL HTTP messages — status line + headers + chunked
    transfer coding, half of them Content-Encoding: gzip on top,
    one windows-1252 page declaring its charset in Content-Type —
    through ``streaming_web_ingest(binary_blobs=True,
    gzip_members=True, http_messages=True)``: framing, chunk
    reassembly, gunzip, charset transcode, extraction, and keep-best
    ingest all inside the micro-batch. Also pins that http_messages
    without binary_blobs is rejected and that a non-HTTP payload
    (bare page) degrades to the whole-payload body and still lands."""
    import gzip

    import pytest
    from pyspark.sql import types as T

    from pyspark_deduplication_spark.streaming.ops import (
        streaming_web_ingest,
    )

    crlf, blank = b"\r\n", b"\r\n\r\n"

    def page(article: str, charset: str = "utf-8",
             meta: str = "") -> bytes:
        return (
            "<html><head>" + meta + "<title>«T»</title></head><body>"
            "<div class=\"nav\"><a href=\"/\">HomePage</a> | "
            "<a href=\"/a\">AboutUs</a> | "
            "<a href=\"/c\">ContactUs</a></div>"
            "<p id=\"main\">" + article + "</p>"
            "<div class=\"footer\"><a href=\"/t\">Terms</a> | "
            "<a href=\"/p\">Privacy</a> | <a href=\"/k\">Cookies</a>"
            "</div></body></html>").encode(charset)

    def chunked(data: bytes, size: int = 200) -> bytes:
        out = []
        for i in range(0, len(data), size):
            p = data[i:i + size]
            out.append(f"{len(p):x}".encode() + b"\r\n" + p + b"\r\n")
        return b"".join(out) + b"0\r\n\r\n"

    def http_msg(body: bytes, ct: str, *extra: str) -> bytes:
        head = [b"HTTP/1.1 200 OK",
                b"Content-Type: " + ct.encode()]
        head += [e.encode() for e in extra]
        return b"\r\n".join(head) + blank + body

    def rec(uri: str, payload: bytes) -> bytes:
        raw = (b"WARC/1.0" + crlf + b"WARC-Type: response" + crlf
               + b"WARC-Target-URI: " + uri.encode() + crlf
               + b"Content-Length: " + str(len(payload)).encode()
               + blank + payload + blank)
        return gzip.compress(raw)

    art_a = "« " + " ".join(f"alpha{i}" for i in range(25)) + " »"
    art_b = "— " + " ".join(f"beta{i}" for i in range(25)) + " …"
    art_cp = "“cp” " + " ".join(f"gamma{i}" for i in range(25))
    art_bare = "the " + " ".join(f"delta{i}" for i in range(25))

    f1 = (
        # chunked only
        rec("page://a", http_msg(chunked(page(art_a)),
                                 "text/html; charset=utf-8",
                                 "Transfer-Encoding: chunked"))
        # chunked + gzip entity
        + rec("page://b", http_msg(
            chunked(gzip.compress(page(art_b), mtime=0)),
            "text/html; charset=utf-8",
            "Transfer-Encoding: chunked",
            "Content-Encoding: gzip"))
        # windows-1252 via Content-Type, no transfer coding
        + rec("page://cp", http_msg(page(art_cp, "windows-1252"),
                                    "text/html; charset=windows-1252"))
        # NON-HTTP payload: bare page degrades to whole-payload body
        + rec("page://bare", page(art_bare))
        # 404 body → require_http_ok must drop it before extraction
        + rec("page://gone",
              b"HTTP/1.1 404 Not Found\r\nContent-Type: text/html"
              + b"\r\n\r\n" + page("gone " * 30))
        # robots noindex → drop_noindex must drop it
        + rec("page://ni", http_msg(
            page("noidx " + " ".join(f"n{i}" for i in range(25)),
                 "utf-8",
                 "<meta name=\"robots\" content=\"noindex\">"),
            "text/html; charset=utf-8"))
    )

    src = str(tmp_path / "incoming")
    corpus_dir = str(tmp_path / "hm_corpus")
    schema = T.StructType([T.StructField("blob", T.BinaryType())])
    spark.createDataFrame([(f1,)], schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f1")

    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_web_ingest(
        stream, corpus_dir, str(tmp_path / "ckpt"),
        cosine_threshold=0.999, n_cells=2,
        binary_blobs=True, gzip_members=True, http_messages=True,
        require_http_ok=True, drop_noindex=True)
    q.awaitTermination(240)

    rows = {r.uri: r.text for r in
            spark.read.parquet(corpus_dir).collect()}
    # the 404 and the noindex page never landed
    assert sorted(rows) == ["page://a", "page://b", "page://bare",
                            "page://cp"], sorted(rows)
    assert rows["page://a"] == " ".join(art_a.split())
    assert rows["page://b"] == " ".join(art_b.split())
    assert rows["page://cp"] == " ".join(art_cp.split())
    assert "�" not in rows["page://cp"] and "“cp”" in rows["page://cp"]
    assert rows["page://bare"] == " ".join(art_bare.split())
    for t in rows.values():
        assert "HTTP/1.1" not in t and "HomePage" not in t

    with pytest.raises(ValueError):
        streaming_web_ingest(stream, corpus_dir,
                             str(tmp_path / "ckpt2"),
                             http_messages=True)
    with pytest.raises(ValueError):
        streaming_web_ingest(stream, corpus_dir,
                             str(tmp_path / "ckpt3"),
                             binary_blobs=True, require_http_ok=True)


def test_streaming_web_ingest_politeness_gates(spark, tmp_path):
    """The streaming twin of the batch politeness gates (r15):
    blocked_domains + robots_rules are stream-static broadcast anti
    joins inside the micro-batch — a banned-domain capture and a
    robots-disallowed path never land; the lookalike domain and the
    allowed path do."""
    import gzip

    from pyspark.sql import types as T

    from pyspark_deduplication_spark.crawl import robots_star_rules
    from pyspark_deduplication_spark.streaming.ops import (
        streaming_web_ingest,
    )

    crlf, blank = b"\r\n", b"\r\n\r\n"

    def rec(uri, article):
        payload = ("<html><body><p id=\"main\">" + article
                   + "</p></body></html>").encode()
        raw = (b"WARC/1.0" + crlf + b"WARC-Type: response" + crlf
               + b"WARC-Target-URI: " + uri.encode() + crlf
               + b"Content-Length: " + str(len(payload)).encode()
               + blank + payload + blank)
        return gzip.compress(raw)

    def art(tag):
        return " ".join(f"{tag}{i}" for i in range(30))

    f1 = (rec("https://ads.banned.com/x", art("a"))
          + rec("https://not-banned.com/x", art("b"))
          + rec("https://ok.com/tmp/secret", art("c"))
          + rec("https://ok.com/public/fine", art("d")))

    src = str(tmp_path / "incoming")
    corpus_dir = str(tmp_path / "pol_corpus")
    schema = T.StructType([T.StructField("blob", T.BinaryType())])
    spark.createDataFrame([(f1,)], schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{src}/f1")

    rules = robots_star_rules(spark.createDataFrame(
        [("ok.com", "User-agent: *\nDisallow: /tmp\n")],
        "domain string, robots_txt string"))
    stream = (spark.readStream.format("parquet").schema(schema)
              .option("maxFilesPerTrigger", "1").load(f"{src}/*"))
    q = streaming_web_ingest(
        stream, corpus_dir, str(tmp_path / "ckpt"),
        cosine_threshold=0.999, n_cells=2,
        binary_blobs=True, gzip_members=True,
        blocked_domains=["banned.com"], robots_rules=rules)
    q.awaitTermination(240)

    uris = sorted(r.uri for r in spark.read.parquet(corpus_dir)
                  .collect())
    assert uris == ["https://not-banned.com/x",
                    "https://ok.com/public/fine"], uris
