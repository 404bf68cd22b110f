"""Structured Streaming operators (SURVEY.md §2.12, §7 M5).

The reference is batch-only; streaming enters through the north-star
extension: streaming dedup, watermarked window aggregation, and
sessionization over the ``events`` table (event_id, ts, user_id,
event_type, value, props).

Every streaming transform here is written against an unbounded
DataFrame and therefore also runs in batch mode — tests drive them with
``readStream.format("parquet")`` over the fixture directory plus a
``memory`` sink and ``processAllAvailable()`` (synchronous, exactly the
public-doc smoke pattern), and cross-check results against the batch
equivalents below.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("user_id", T.LongType(), True),
    T.StructField("event_type", T.StringType(), True),
    T.StructField("value", T.DoubleType(), True),
    T.StructField("props", T.StringType(), True),
])


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the events fixture (schema declared —
    streaming sources cannot infer)."""
    return (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(path)
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — the unbounded counterpart of
    ``dropDuplicates`` (reference A1). The watermark bounds the dedup
    state: duplicates arriving later than the watermark delay are not
    caught, but state stays O(events within the watermark window) instead
    of growing forever — the only viable contract on an infinite stream.
    """
    keys = keys or ["event_id"]
    return events.withWatermark(watermark_col, watermark).dropDuplicatesWithinWatermark(keys)


def streaming_tumbling_counts(
    events: DataFrame,
    window_len: str = "1 hour",
    watermark: str = "30 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling (or sliding, if ``slide`` given) window
    aggregation per event_type: count + sum(value). Late rows beyond the
    watermark are dropped; state for closed windows is evicted."""
    win = (
        F.window("ts", window_len, slide) if slide else F.window("ts", window_len)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), F.col("event_type"))
        # decimal-exact sum: double accumulation is order-dependent and
        # a streaming run would not reproduce the batch twin bit-for-bit
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n_events", "sum_value",
        )
    )


def streaming_session_window(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session windows per user: a session extends while events arrive
    within ``gap`` of the previous one (native ``session_window``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("sum_value"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id", "n_events", "sum_value",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: pair left events with right
    events for the same key where right happened within ``within`` BEFORE
    the left event. Both sides carry watermarks so Spark can bound the
    join state and evict rows older than the time constraint — without
    the range condition + watermarks the state would grow forever.
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = (
        right.withWatermark(right_ts, watermark)
        .withColumnRenamed(key, f"__r_{key}")
        .withColumnRenamed(right_ts, "__r_ts")
        .alias("r")
    )
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.__r_{key}"))
        & (F.col("__r_ts") <= F.col(f"l.{left_ts}"))
        & (F.col("__r_ts") >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, "inner")


def write_stream_foreach_batch(
    df: DataFrame,
    batch_fn,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Custom-sink streaming write via ``foreachBatch``: each micro-batch
    arrives as a plain DataFrame + epoch id, so any batch writer (JDBC,
    merge-into emulation, multi-sink fanout) becomes a streaming sink.
    With the checkpoint dir, Spark tracks delivered epochs — the batch_fn
    must be idempotent per epoch for exactly-once end-to-end."""
    writer = (
        df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def epoch_micros(events: DataFrame, ts_col: str = "ts"):
    """Epoch-micros extractor for ``ts_col``, safe for both TIMESTAMP and
    TIMESTAMP_NTZ inputs. ``unix_micros`` rejects NTZ outright, and the
    driver's vanilla session reads the fixture's TIMESTAMP(NANOS) parquet
    as NTZ — so every epoch computation must branch on the actual column
    type. Returns a ``Column -> Column`` function usable on aggregates of
    the column too (``fn(F.max(ts_col))``)."""
    if dict(events.dtypes).get(ts_col) == "timestamp_ntz":
        ntz_epoch = F.to_timestamp_ntz(F.lit("1970-01-01 00:00:00"))
        return lambda c: F.timestamp_diff("MICROSECOND", ntz_epoch, c)
    return F.unix_micros


def sessionize_batch(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Batch sessionization (lag + cumulative sum of gap breaks) — the
    SQL-expressible twin of ``streaming_session_window``, used both as a
    batch operator and as the oracle-checkable spelling: session_id is
    the per-user index of the session, 1-based.

    One shuffle (partition by user, order by ts); entirely native window
    functions, no state store.
    """
    w_user = Window.partitionBy(user_col).orderBy(ts_col, "event_id")
    micros = epoch_micros(events, ts_col)(F.col(ts_col))
    gap_break = (
        F.when(
            micros - F.lag(micros).over(w_user) > gap_minutes * 60 * 1_000_000,
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    return events.withColumn(
        "session_id",
        (F.sum(gap_break).over(
            w_user.rowsBetween(Window.unboundedPreceding, 0)) + 1).cast("long"),
    )


def _hadoop_path_exists(spark, path: str) -> bool:
    """True iff ``path`` exists on its Hadoop filesystem — the existence
    probe the ingest sinks use instead of a bare try/except around the
    standing-table read: a TRANSIENT read error (throttle, listing
    blip) must PROPAGATE so the streaming runtime retries the batch,
    rather than be misread as "first epoch" — which would silently skip
    cross-epoch dedup and, for the embedding ingest, retrain and
    overwrite the frozen centroid geometry, desynchronizing every
    already-indexed epoch."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _epoch_partitions(spark, path: str) -> set[int]:
    """``epoch=<n>`` partition values present under an epoch-partitioned
    parquet table — a filesystem METADATA listing (no data read). The
    ingest loops compare these sets to decide whether the persisted
    signature index COVERS the corpus: a merely non-empty check let an
    index rebuilt by a fallback epoch (holding only that epoch's
    survivors) shadow all earlier epochs forever, silently admitting
    their near-dups (advisory r8). Missing path → empty set; transient
    listing errors propagate so the streaming runtime retries the batch
    (same contract as ``_hadoop_path_exists``)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return set()
    epochs = set()
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("epoch="):
            # Non-integer partition values (epoch=__HIVE_DEFAULT_PARTITION__
            # from a null epoch, a stray directory) must not become a
            # poison pill that permanently fails every micro-batch
            # (ADVICE r9): skip them — coverage comparison only needs
            # the integer epochs both tables can actually carry.
            try:
                epochs.add(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return epochs


def _hadoop_delete_path(spark, path: str) -> None:
    """Recursively delete ``path`` if it exists — the quality-aware
    survivorship rewrite needs it for epoch partitions EMPTIED by a
    replacement wave: dynamic partition overwrite only replaces
    partitions present in the written frame, so a fully-superseded
    epoch's stale files must be removed explicitly or its rows would
    resurrect on the next read."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(jpath):
        fs.delete(jpath, True)


def _heal_epoch_index(spark, corpus_dir: str, index_dir: str,
                      corpus_epochs: set, epoch_id: int, id_col: str,
                      build) -> None:
    """Heal-before-trust for an epoch-partitioned index: an index
    missing corpus epochs below this batch (deleted mid-history, or
    newly enabled over an existing corpus) would silently admit those
    epochs' near-dups forever, so ``build`` re-derives the uncovered
    epochs' entries from their corpus rows. The entries are a pure
    function of the rows, so a replay rewrites identical partitions."""
    missing = corpus_epochs - {e for e in _epoch_partitions(spark, index_dir)
                               if e < epoch_id}
    if missing:
        miss_rows = spark.read.parquet(corpus_dir).where(
            F.col("epoch").isin(sorted(missing)))
        (build(miss_rows.drop("epoch"))
         .join(miss_rows.select(id_col, "epoch"), id_col)
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("epoch")
         .parquet(index_dir))


def _sig_indexed_dedup_ingest(
    batch_df: DataFrame,
    epoch_id: int,
    corpus_dir: str,
    sig_dir: str,
    fam,
    text_col: str,
    id_col: str,
    threshold: float,
    num_hashes: int,
    bands: int,
    max_bucket_size: int | None,
    maintain_sig_index: bool,
) -> None:
    """Shared ``foreachBatch`` body of the MinHash / weighted-MinHash
    corpus ingest loops. The loops differ only in ``fam``, the signature
    family record of ``operators.dedup`` (``_SET`` / ``_WEIGHTED``),
    whose public operations this body calls: the family's index builder
    over survivors and backfilled epochs, its incremental dedup against
    the earlier epochs, and its batch dedup for the first epoch.

    Epoch-coverage contract: the persisted signature index is trusted
    ONLY when its epoch partitions cover every corpus epoch below this
    batch; a missing or BEHIND index is backfilled first
    (``_heal_epoch_index``) and the healed table probed, so every later
    epoch trusts a complete index again. (Checking only that the
    index is non-empty is not enough: one fallback epoch would rebuild
    ``<corpus_dir>_sigs`` with its OWN survivors, and near-dups of all
    earlier epochs would be admitted forever after.)

    Exactly-once: survivors (and their signatures) overwrite their own
    ``epoch=<id>`` partition, so a replayed micro-batch rewrites the
    identical partition instead of appending duplicates."""
    def build_index(df):
        return fam.call("build_index", df, text_col, id_col, num_hashes)

    spark = batch_df.sparkSession
    corpus_epochs = {e for e in _epoch_partitions(spark, corpus_dir)
                     if e < epoch_id}
    corpus, corpus_sigs = None, None
    if corpus_epochs and maintain_sig_index:
        _heal_epoch_index(spark, corpus_dir, sig_dir, corpus_epochs,
                          epoch_id, id_col, build_index)
        # parquet-backed, hence deterministic — safe to feed unpersisted
        # to the incremental probe's fan-out (corpus_sigs contract)
        corpus_sigs = spark.read.parquet(sig_dir).where(
            F.col("epoch") < F.lit(epoch_id)).drop("epoch")
    elif corpus_epochs:
        corpus = spark.read.parquet(corpus_dir).where(
            F.col("epoch") < F.lit(epoch_id)).drop("epoch")
    if corpus_epochs:
        fresh = fam.call("incremental", batch_df, corpus, text_col, id_col,
                         threshold, num_hashes, bands,
                         max_bucket_size=max_bucket_size,
                         corpus_sigs=corpus_sigs)
    else:
        fresh = fam.call("dedup", batch_df, text_col, id_col, threshold,
                         num_hashes, bands)
    if maintain_sig_index:
        # one materialization feeds both epoch appends
        fresh = fresh.localCheckpoint(eager=True)
        (build_index(fresh)
         .withColumn("epoch", F.lit(epoch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("epoch")
         .parquet(sig_dir))
    (fresh.withColumn("epoch", F.lit(epoch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("epoch")
     .parquet(corpus_dir))


def _latest_epoch_state(spark, state_dir: str, epoch_id: int):
    """Read the LATEST prior epoch's rows from an epoch-partitioned
    state table (epoch < this batch's id — a replayed batch must see
    the same prior state it saw the first time), or None when the dir
    is absent or holds no earlier epoch. The shared prior-state read
    of the snapshot-style ingest loops (reservoir, quantile sketch,
    PCA stats — review-caught triplication); transient read errors
    past the existence probe propagate so the runtime retries
    (``_hadoop_path_exists``)."""
    if not _hadoop_path_exists(spark, state_dir):
        return None
    prior_all = spark.read.parquet(state_dir).where(
        F.col("epoch") < F.lit(epoch_id))
    head = prior_all.select(F.max("epoch").alias("__e")).collect()
    if not head or head[0]["__e"] is None:
        return None
    return (prior_all
            .where(F.col("epoch") == F.lit(head[0]["__e"]))
            .drop("epoch"))


def streaming_corpus_ingest(
    docs_stream: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = 4096,
    maintain_sig_index: bool = True,
):
    """Continuously ingest documents into a near-dup-free corpus: each
    micro-batch first dedups internally, then drops docs that near-
    duplicate ANY earlier epoch (``incremental_minhash_dedup`` — the
    standing corpus is probed by band key, never self-joined), and the
    survivors land as an epoch-partitioned parquet append.

    Exactly-once: each epoch OVERWRITES its own ``epoch=<id>`` partition
    directory, so a replayed micro-batch (restart between sink write and
    checkpoint commit) rewrites the identical partition instead of
    appending duplicates — idempotence per epoch, which is the
    ``foreachBatch`` contract.

    ``maintain_sig_index`` (default on — the ``streaming_fused_ingest``
    pattern, now in the single-signal loop too): each epoch's survivors
    also append their clone-collapsed signatures to
    ``<corpus_dir>_sigs``, and later batches probe THAT table instead of
    re-signing the whole corpus — the per-batch cost drops from
    O(corpus) shingle+hash work to a parquet read of compact signatures.
    Per-epoch collapse suffices because survivors are cross-epoch clean
    (an exact clone of an earlier epoch has Jaccard 1 and never lands).
    Crash windows HEAL: the index is trusted only when its epoch
    partitions cover every corpus epoch below the batch — a missing or
    behind sig table (deleted mid-history, or the flag newly enabled
    over an existing corpus) triggers a one-batch backfill of the
    uncovered epochs' signatures from their corpus rows before the
    probe, so later epochs trust a complete index again (advisory r8:
    the old non-empty check let one fallback epoch shadow all earlier
    epochs forever). ``False`` restores the re-sign-per-batch spelling
    (no side artifact).

    ``max_bucket_size`` (armed by DEFAULT here — the streaming path IS
    the continuous-ingest workload the guard exists for) bounds the
    corpus-side probe: exact corpus clones collapse to one banded
    representative and skewed buckets cap, so a clone-heavy standing
    corpus cannot cost b·m candidates on every micro-batch.

    RECALL TRADE (behavior change vs the unguarded pre-r6 default,
    advisory r6): the clone collapse is lossless, but the per-bucket
    CAP is not — in a legitimately dense bucket of >4096 DISTINCT
    near-dup corpus docs, probes can miss candidates whose only bucket
    partner was capped out (mitigated by the other bands − 1
    independent probes). Callers who prefer the old exhaustive banding
    pass ``max_bucket_size=None``; callers with heavier clone skew
    lower the cap.
    """
    from pyspark_deduplication_spark.operators.dedup import _SET

    sig_dir = corpus_dir.rstrip("/") + "_sigs"

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        _sig_indexed_dedup_ingest(
            batch_df, epoch_id, corpus_dir, sig_dir, _SET, text_col, id_col,
            threshold, num_hashes, bands, max_bucket_size,
            maintain_sig_index)

    return write_stream_foreach_batch(docs_stream, ingest, checkpoint_dir)


def streaming_weighted_corpus_ingest(
    docs_stream: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = 4096,
    maintain_sig_index: bool = True,
):
    """Continuously ingest documents into a corpus free of TF-WEIGHTED
    near-dups — the ICWS twin of ``streaming_corpus_ingest``, for
    corpora where set semantics are blind (boilerplate-repetition
    variants): each micro-batch dedups internally under generalized
    Jaccard, then drops docs whose Σmin/Σmax against ANY earlier epoch
    reaches ``threshold`` (``incremental_weighted_minhash_dedup``).
    Exactly-once, the armed-by-default skew guard with its recall trade
    and ``maintain_sig_index`` work as in the set-path loop; the index
    is ``<corpus_dir>_wsigs``, and it matters MORE here, since the ICWS
    kernel is the priciest signature stage in the family."""
    from pyspark_deduplication_spark.operators.dedup import _WEIGHTED

    sig_dir = corpus_dir.rstrip("/") + "_wsigs"

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        _sig_indexed_dedup_ingest(
            batch_df, epoch_id, corpus_dir, sig_dir, _WEIGHTED, text_col,
            id_col, threshold, num_hashes, bands, max_bucket_size,
            maintain_sig_index)

    return write_stream_foreach_batch(docs_stream, ingest, checkpoint_dir)


def streaming_embedding_ingest(
    vec_stream: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: int = 16,
    n_iter: int = 4,
    n_probe: int = 2,
    max_cell_size: int | None = 4096,
):
    """Continuously ingest EMBEDDINGS into a semantically-dedup-free
    corpus — the SemDeDup twin of ``streaming_corpus_ingest``: each
    micro-batch dedups internally (``semantic_dedup``), then drops rows
    cosine-≥-threshold against ANY earlier epoch via the persisted
    (centroids, index) pair, and survivors append as an
    epoch-partitioned parquet that IS the index for later batches.

    Production shape end-to-end: centroids train ONCE on the first
    epoch and persist to ``<corpus_dir>_centroids`` — cell geometry
    stays fixed across the stream's lifetime, so every later batch does
    ZERO corpus-sized work (``incremental_semantic_dedup(index=...)``
    scans only the standing index's probed cells; the corpus never
    re-trains, re-assigns or self-joins). Each epoch's survivors are
    single-cell-assigned with the SAME frozen centroids and their
    (id, vector, cell_id) rows land as that epoch's partition —
    appending the index entries, exactly the maintenance contract
    ``build_semantic_dedup_index`` documents. Re-train-and-rebuild on
    geometry drift is a batch job outside the stream.

    Exactly-once mirrors the MinHash twin: each epoch dynamically
    OVERWRITES its own ``epoch=<id>`` partition (and epoch 0 overwrites
    the centroid table — retraining on the identical replayed batch is
    deterministic), so a replayed micro-batch rewrites identical files.

    ``max_cell_size`` arms the mega-cell guard inside every
    batch-INTERNAL dedup. The standing table is deliberately UNCAPPED:
    it is simultaneously the corpus content and the index, so a
    per-cell cap would silently delete corpus rows — and the lossless
    half of the guard has nothing to shed anyway (every stored row
    already survived a ≥-threshold filter, so the table holds no exact
    clones). A degenerate embedding space can still grow a dense cell
    across epochs; bound it with a periodic offline
    ``build_semantic_dedup_index`` rebuild (capped index + separate
    content table), the same cadence geometry drift needs.
    """
    from pyspark_deduplication_spark.operators.knn import (
        assign_cells,
        incremental_semantic_dedup,
        semantic_dedup,
        train_centroids,
    )

    cent_dir = corpus_dir.rstrip("/") + "_centroids"

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if len(batch_df.take(1)) == 0:
            # idle trigger: nothing to dedup and no partition to write
            # (train_centroids cannot train on an empty first batch)
            return
        if _hadoop_path_exists(spark, cent_dir):
            # transient read errors past the existence probes propagate
            # (runtime retries the batch); only genuinely-missing paths
            # route to the first-epoch / crash-window branches
            cents = spark.read.parquet(cent_dir)
            if _hadoop_path_exists(spark, corpus_dir):
                idx = (
                    spark.read.parquet(corpus_dir)
                    .where(F.col("epoch") < F.lit(epoch_id))
                    .select(F.col(vec_id).alias("__cid"),
                            F.col(vec_col).alias("__cvec"), "cell_id")
                )
            else:
                # crash window: centroids committed but the epoch-0
                # entries write never landed — replay must not die;
                # an empty index makes the incremental path reduce to
                # the batch-internal dedup with the existing geometry
                idx = (
                    batch_df.select(F.col(vec_id).alias("__cid"),
                                    F.col(vec_col).alias("__cvec"))
                    .withColumn("cell_id", F.lit(0).cast("int"))
                    .limit(0)
                )
            fresh = incremental_semantic_dedup(
                batch_df, batch_df.limit(0), threshold, n_cells,
                vec_id, vec_col, n_iter, n_probe,
                max_cell_size=max_cell_size, index=(cents, idx),
            )
        else:
            keep = (
                semantic_dedup(batch_df, threshold, n_cells, vec_id,
                               vec_col, n_iter, 1, 1, max_cell_size)
                .filter(F.col("keep")).select(vec_id)
            )
            fresh = batch_df.join(keep, vec_id, "left_semi")
            cents = train_centroids(
                fresh.select(F.col(vec_id), F.col(vec_col)),
                n_cells, vec_id, vec_col, n_iter, 1)
            cents.write.mode("overwrite").parquet(cent_dir)
        entries = assign_cells(
            fresh.select(F.col(vec_id), F.col(vec_col)), cents, vec_col, 1)
        (entries.withColumn("epoch", F.lit(epoch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("epoch")
         .parquet(corpus_dir))

    return write_stream_foreach_batch(vec_stream, ingest, checkpoint_dir)


def fused_ingest_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    *,
    corpus_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    jaccard_threshold: float = 0.7,
    cosine_threshold: float = 0.95,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_bucket_size: int | None = 4096,
    n_cells: int = 16,
    n_iter: int = 4,
    n_probe: int = 2,
    max_cell_size: int | None = 4096,
    weighted_threshold: float | None = None,
    quality_col: str | None = None,
) -> None:
    """ONE epoch of the fused corpus ingest — the exact merge
    ``streaming_fused_ingest`` runs per micro-batch, extracted to a
    callable so BATCH pipelines can drive the same artifacts (r15:
    ``crawl.ingest_crawl_incremental`` ingests crawl N+1 against
    crawl N's persisted corpus through THIS function — cross-mode
    equivalence is by construction, not by reimplementation; pinned
    in ``tests/test_pipelines.py``). Semantics — probe indexes,
    heal-before-trust, quality-aware insert/drop/replace, ghost
    detection, epoch appends — are documented on the streaming
    wrapper's docstring."""
    from pyspark_deduplication_spark.operators.dedup import _SET, _WEIGHTED
    from pyspark_deduplication_spark.operators.fused import (
        fused_dedup,
        incremental_fused_dedup,
        incremental_fused_match_pairs,
    )
    from pyspark_deduplication_spark.operators.knn import (
        assign_cells,
        train_centroids,
    )

    base = corpus_dir.rstrip("/")
    sig_dir = base + "_sigs"
    cent_dir = base + "_centroids"
    idx_dir = base + "_index"
    wsig_dir = base + "_wsigs"
    # signature index dir -> its MinHash family, one per armed leg
    sig_legs = {sig_dir: _SET}
    if weighted_threshold is not None:
        sig_legs[wsig_dir] = _WEIGHTED

    def sig_entries(fam, df: DataFrame) -> DataFrame:
        return fam.call("build_index", df, text_col, id_col, num_hashes,
                        shingle_size)

    def cell_entries(df: DataFrame) -> DataFrame:
        return assign_cells(df.select(F.col(id_col), F.col(vec_col)),
                            cents, vec_col, 1)

    spark = batch_df.sparkSession
    if len(batch_df.take(1)) == 0:
        return
    if _hadoop_path_exists(spark, cent_dir):
        # transient read errors past the existence probes propagate
        # (runtime retries); genuinely-missing paths are the
        # centroids-committed-first crash window — empty stand-ins
        # reduce the probe to the batch-internal fused collapse
        cents = spark.read.parquet(cent_dir)
        corpus_epochs = {e for e in
                         _epoch_partitions(spark, corpus_dir)
                         if e < epoch_id}
        sig_idx = {}
        for path, fam in sig_legs.items():
            if corpus_epochs:
                _heal_epoch_index(spark, corpus_dir, path, corpus_epochs,
                                  epoch_id, id_col,
                                  functools.partial(sig_entries, fam))
                sig_idx[path] = (spark.read.parquet(path)
                                 .where(F.col("epoch") < F.lit(epoch_id))
                                 .drop("epoch"))
            else:
                sig_idx[path] = sig_entries(fam, batch_df).limit(0)
        mh_idx, w_idx = sig_idx[sig_dir], sig_idx.get(wsig_dir)
        if corpus_epochs:
            _heal_epoch_index(spark, corpus_dir, idx_dir, corpus_epochs,
                              epoch_id, id_col, cell_entries)
            sem_idx = (
                spark.read.parquet(idx_dir)
                .where(F.col("epoch") < F.lit(epoch_id))
                .select(F.col(id_col).alias("__cid"),
                        F.col(vec_col).alias("__cvec"), "cell_id")
            )
            if max_cell_size is not None:
                # probe-time mega-cell cap: the standing entries
                # accumulate ACROSS epochs, so a per-epoch cap at
                # append time cannot bound a degenerate cell's
                # total — cap the deterministic hash-ranked subset
                # here instead (the MinHash leg's per-bucket cap
                # already re-applies at probe time; this is its
                # cell twin). Safe because idx_dir is a pure index
                # — the corpus content lives in corpus_dir — and
                # lossless-in-spirit: survivors hold no exact
                # clones (cosine 1 ≥ any threshold drops them), so
                # the cap trades only the marginal recall the
                # batch operators document.
                from pyspark_deduplication_spark.operators.sampling \
                    import cap_per_group

                sem_idx = (
                    sem_idx.withColumn(
                        "__ord",
                        F.struct(F.xxhash64(F.col("__cid")),
                                 F.col("__cid")))
                    .transform(lambda d: cap_per_group(
                        d, "cell_id", "__ord", max_cell_size))
                    .filter(F.col("__kept"))
                    .drop("__ord", "__kept")
                )
        else:
            sem_idx = (
                batch_df.select(F.col(id_col).alias("__cid"),
                                F.col(vec_col).alias("__cvec"))
                .withColumn("cell_id", F.lit(0).cast("int"))
                .limit(0)
            )
        if quality_col is None:
            fresh = incremental_fused_dedup(
                batch_df, corpus=None, id_col=id_col,
                text_col=text_col,
                vec_col=vec_col, jaccard_threshold=jaccard_threshold,
                cosine_threshold=cosine_threshold,
                num_hashes=num_hashes,
                bands=bands, shingle_size=shingle_size,
                max_bucket_size=max_bucket_size, n_cells=n_cells,
                n_iter=n_iter, n_probe=n_probe,
                max_cell_size=max_cell_size,
                minhash_index=mh_idx, semantic_index=(cents, sem_idx),
                weighted_threshold=weighted_threshold,
                weighted_index=w_idx,
            )
        else:
            # quality-aware survivorship: per-matched-pair probe,
            # then insert/drop/replace per batch doc (docstring)
            pairs = incremental_fused_match_pairs(
                batch_df, corpus=None, id_col=id_col,
                text_col=text_col,
                vec_col=vec_col, jaccard_threshold=jaccard_threshold,
                cosine_threshold=cosine_threshold,
                num_hashes=num_hashes,
                bands=bands, shingle_size=shingle_size,
                max_bucket_size=max_bucket_size, n_cells=n_cells,
                n_iter=n_iter, n_probe=n_probe,
                max_cell_size=max_cell_size,
                minhash_index=mh_idx, semantic_index=(cents, sem_idx),
                weighted_threshold=weighted_threshold,
                weighted_index=w_idx,
            )
            bq = batch_df.select(F.col(id_col).alias("new_id"),
                                 F.col(quality_col).alias("__bq"))
            if corpus_epochs:
                # quality is read from the CORPUS rows, not the
                # index — matches whose corpus row is gone are
                # GHOSTS (stale entries from a crash between the
                # corpus rewrite and the index re-derivation):
                # excluded from survivorship, healed below.
                # Liveness rides an EXPLICIT marker, not quality
                # nullness (ADVICE r12): a live corpus row whose
                # quality is NULL must not read as a ghost — it
                # would re-trigger the full epoch re-derivation
                # on every matching batch, forever, since the row
                # itself never goes away. Instead it competes at
                # -inf: any scored batch doc replaces it.
                cq = (spark.read.parquet(corpus_dir)
                      .where(F.col("epoch") < F.lit(epoch_id))
                      .select(F.col(id_col).alias("corpus_id"),
                              F.col(quality_col).alias("__cq"),
                              F.col("epoch").alias("__cep"),
                              F.lit(True).alias("__clive")))
                m = (pairs.join(cq, "corpus_id", "left")
                     .localCheckpoint(eager=True))
            else:
                m = (pairs
                     .withColumn("__cq",
                                 F.lit(None).cast("double"))
                     .withColumn("__cep", F.lit(None).cast("int"))
                     .withColumn("__clive",
                                 F.lit(None).cast("boolean")))
            live = m.filter(F.col("__clive"))
            best = live.groupBy("new_id").agg(
                F.max(F.coalesce(F.col("__cq"),
                                 F.lit(float("-inf"))))
                .alias("__best_cq"))
            # insert (no live match) or replace (strictly better);
            # ties drop in favor of the standing corpus → replay
            # idempotent
            cand = batch_df.join(
                bq.join(best, "new_id", "left")
                .filter(F.col("__best_cq").isNull()
                        | (F.col("__bq") > F.col("__best_cq")))
                .select(F.col("new_id").alias(id_col)),
                id_col, "left_semi")
            if len(cand.take(1)) == 0:
                fresh = cand
            else:
                # batch-internal collapse keeps the BEST-QUALITY
                # member per fused component, not fused_dedup's
                # min-id canonical (ADVICE r12): under min-id a
                # strictly-better replacer could be collapsed
                # away in favor of a worse batch sibling — losing
                # both the quality win and the retirement its
                # survival would have triggered. Ties (equal
                # quality, incl. both NULL at -inf) break to
                # min-id, so replay stays deterministic.
                labels = fused_dedup(
                    cand, id_col, text_col, vec_col,
                    jaccard_threshold, cosine_threshold, num_hashes,
                    bands, shingle_size, max_bucket_size, n_cells,
                    n_iter, 1, 1, max_cell_size,
                    weighted_threshold=weighted_threshold,
                ).select(id_col, "component")
                keep = (
                    labels.join(
                        cand.select(
                            F.col(id_col),
                            F.coalesce(
                                F.col(quality_col).cast("double"),
                                F.lit(float("-inf"))).alias("__q")),
                        id_col)
                    .withColumn("__rk", F.row_number().over(
                        Window.partitionBy("component").orderBy(
                            F.col("__q").desc(), F.col(id_col))))
                    .filter(F.col("__rk") == 1).select(id_col))
                fresh = (cand.join(keep, id_col, "left_semi")
                         .localCheckpoint(eager=True))
            # superseded = live matches of SURVIVING replacing docs
            # (a replacer collapsed away batch-internally retires
            # nothing — its kept sibling made its own decisions)
            superseded = (
                live.join(fresh.select(F.col(id_col)
                                       .alias("new_id")),
                          "new_id", "left_semi")
                .select("corpus_id", "__cep").distinct()
                .localCheckpoint(eager=True))
            # ghost = matched corpus_id with NO corpus row — the
            # LIVENESS marker is null, not the quality (ADVICE
            # r13): a live row with NULL quality has __clive=True
            # and __cq null; filtering on __cq would re-schedule
            # the full epoch heal on every batch that matches it,
            # forever, since the live row never goes away.
            ghosts = (m.filter(F.col("__clive").isNull())
                      .select("corpus_id").distinct())
            ghost_eps: set[int] = set()
            if len(ghosts.take(1)) > 0:
                for path in [*sig_legs, idx_dir]:
                    if not _hadoop_path_exists(spark, path):
                        continue
                    ge = (spark.read.parquet(path)
                          .where(F.col("epoch") < F.lit(epoch_id))
                          .select(F.col(id_col).alias("corpus_id"),
                                  "epoch")
                          .join(ghosts, "corpus_id", "left_semi")
                          .select("epoch").distinct().collect())
                    ghost_eps |= {r.epoch for r in ge}
            sup_eps = {r[0] for r in superseded
                       .select("__cep").distinct().collect()}
            affected = sorted(sup_eps | ghost_eps)
            if affected:
                remaining = (
                    spark.read.parquet(corpus_dir)
                    .where(F.col("epoch").isin(affected))
                    .join(superseded.select(F.col("corpus_id")
                                            .alias(id_col)),
                          id_col, "left_anti")
                    .localCheckpoint(eager=True))
                kept_eps = {r.epoch for r in remaining
                            .select("epoch").distinct().collect()}
                emptied = [e for e in affected if e not in kept_eps]
                # corpus first, then indexes: a crash in between
                # leaves ghost entries the NEXT replay detects and
                # re-derives (the convergence note in the docstring)
                if kept_eps:
                    (remaining.write.mode("overwrite")
                     .option("partitionOverwriteMode", "dynamic")
                     .partitionBy("epoch").parquet(corpus_dir))
                for e in emptied:
                    _hadoop_delete_path(spark,
                                        f"{corpus_dir}/epoch={e}")

                def _rederive(path: str, sign) -> None:
                    if kept_eps:
                        (sign(remaining.drop("epoch"))
                         .join(remaining.select(id_col, "epoch"),
                               id_col)
                         .write.mode("overwrite")
                         .option("partitionOverwriteMode", "dynamic")
                         .partitionBy("epoch").parquet(path))
                    for e in emptied:
                        _hadoop_delete_path(spark,
                                            f"{path}/epoch={e}")

                for path, fam in sig_legs.items():
                    _rederive(path, functools.partial(sig_entries, fam))
                _rederive(idx_dir, cell_entries)
    else:
        keep = fused_dedup(
            batch_df, id_col, text_col, vec_col, jaccard_threshold,
            cosine_threshold, num_hashes, bands, shingle_size,
            max_bucket_size, n_cells, n_iter, 1, 1, max_cell_size,
            weighted_threshold=weighted_threshold,
        ).filter(F.col("keep")).select(id_col)
        fresh = batch_df.join(keep, id_col, "left_semi")
        cents = train_centroids(
            fresh.select(F.col(id_col), F.col(vec_col)),
            n_cells, id_col, vec_col, n_iter, 1)
        cents.write.mode("overwrite").parquet(cent_dir)
    # one materialization feeds the three epoch appends
    fresh = fresh.localCheckpoint(eager=True)

    def _epoch_append(df: DataFrame, path: str) -> None:
        (df.withColumn("epoch", F.lit(epoch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("epoch")
         .parquet(path))

    for path, fam in sig_legs.items():
        _epoch_append(sig_entries(fam, fresh), path)
    _epoch_append(cell_entries(fresh), idx_dir)
    _epoch_append(fresh, corpus_dir)



def streaming_fused_ingest(
    doc_stream: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    jaccard_threshold: float = 0.7,
    cosine_threshold: float = 0.95,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_bucket_size: int | None = 4096,
    n_cells: int = 16,
    n_iter: int = 4,
    n_probe: int = 2,
    max_cell_size: int | None = 4096,
    weighted_threshold: float | None = None,
    quality_col: str | None = None,
):
    """Continuously ingest (text, embedding) rows into a corpus that is
    near-dup-free under BOTH signals — the fused capstone of the ingest
    family (`streaming_corpus_ingest` = lexical leg,
    `streaming_embedding_ingest` = semantic leg): each micro-batch
    probes the standing corpus through `operators/fused.py::
    incremental_fused_dedup` (drop on EITHER MinHash-Jaccard or
    cosine-cell hit, then ONE fused CC collapse batch-internally), and
    survivors append to three epoch-partitioned artifacts that ARE the
    probe state for later batches (``weighted_threshold`` arms a THIRD
    leg — tf-weighted ICWS generalized Jaccard, the
    boilerplate-repetition signal set semantics miss — with its own
    persisted per-epoch index at ``<corpus_dir>_wsigs``, the
    ``streaming_weighted_corpus_ingest`` artifact shape, healed under
    the same epoch-coverage contract):

    - ``corpus_dir``                 — the content rows themselves;
    - ``<corpus_dir>_sigs``          — clone-collapsed MinHash
      signatures of each epoch's survivors (`build_minhash_index`
      shape; per-epoch collapse suffices because survivors are already
      cross-epoch clean — an exact clone of an earlier epoch has
      Jaccard 1 and never lands);
    - ``<corpus_dir>_centroids`` + ``<corpus_dir>_index`` — the frozen
      cell geometry (trained ONCE on epoch 0, the
      `streaming_embedding_ingest` contract) and each epoch's
      (id, vector, cell_id) entries.

    Every post-0 batch therefore runs ZERO corpus-sized work on either
    leg. Exactly-once mirrors the single-signal twins: each epoch
    dynamically overwrites its own partitions and epoch 0's centroid
    retrain on a replayed batch is deterministic. Skew guards
    (``max_bucket_size``, ``max_cell_size``) arm the per-batch probes
    and the batch-internal collapse by default. Both probe indexes
    carry the heal-before-trust contract (advisory r8, see
    ``_sig_indexed_dedup_ingest``): an index whose epoch partitions
    lag the corpus is backfilled from the corpus rows before any batch
    trusts it, so a mid-history index deletion costs one re-derivation
    instead of silently admitting earlier epochs' near-dups forever.

    ``quality_col`` arms QUALITY-AWARE SURVIVORSHIP (VERDICT r11 item
    6 — the streaming carry-over of ``incremental_keep_best_quality_
    docs``'s insert/drop/replace semantics): the stream must carry a
    numeric quality column, and each batch doc that fused-matches the
    standing corpus is decided per-doc instead of dropped wholesale —
    *insert* when nothing matches, *drop* when the best-quality match
    is at least as good (ties favor the STANDING corpus, so replays
    are idempotent), *replace* when the batch doc is strictly better:
    it lands AND every corpus doc it matched is retired — the affected
    epochs' corpus partitions rewrite without the superseded rows and
    their index entries re-derive from the rewritten rows (epochs
    emptied entirely are deleted outright; dynamic overwrite cannot
    express an empty partition). Batch-INTERNAL collapse is also
    quality-aware (ADVICE r12): the keeper per fused component is
    the best-quality member (ties break to min-id, so replay stays
    deterministic) — a strictly-better replacer is never collapsed
    away in favor of a worse batch sibling. A live corpus row whose
    quality is NULL competes at -inf — replaceable by any scored
    doc, never mistaken for a ghost (liveness is an explicit marker,
    not quality nullness). Crash windows converge: the probe reads quality
    from the CORPUS rows, so an index entry orphaned between the
    corpus rewrite and the index re-derivation surfaces as a GHOST
    match (no corpus row) on the replay, which schedules its epoch
    for re-derivation instead of trusting it — the heal-before-trust
    contract extended from missing partitions to stale entries."""
    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        fused_ingest_epoch(
            batch_df, epoch_id, corpus_dir=corpus_dir,
            id_col=id_col, text_col=text_col, vec_col=vec_col,
            jaccard_threshold=jaccard_threshold,
            cosine_threshold=cosine_threshold,
            num_hashes=num_hashes, bands=bands,
            shingle_size=shingle_size,
            max_bucket_size=max_bucket_size, n_cells=n_cells,
            n_iter=n_iter, n_probe=n_probe,
            max_cell_size=max_cell_size,
            weighted_threshold=weighted_threshold,
            quality_col=quality_col)

    return write_stream_foreach_batch(doc_stream, ingest, checkpoint_dir)


def streaming_web_ingest(
    blob_stream: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    blob_col: str = "blob",
    dim: int = 16,
    jaccard_threshold: float = 0.7,
    cosine_threshold: float = 0.95,
    n_cells: int = 16,
    max_bucket_size: int | None = 4096,
    max_cell_size: int | None = 4096,
    binary_blobs: bool = False,
    gzip_members: bool = False,
    http_messages: bool = False,
    canonical_ids: bool = False,
    require_http_ok: bool = False,
    drop_noindex: bool = False,
    blocked_domains: list[str] | None = None,
    robots_rules: DataFrame | None = None,
):
    """The streaming spelling of the web-ingest capstone
    (``queries.web_ingest_pipeline_docs``): a stream of raw WARC blobs
    runs the full production stage order per micro-batch — Content-
    Length-sliced record parse → main-content extraction (the
    link-density block classifier) → quality scoring → hashed-BoW
    featurization — and lands in a corpus kept near-dup-free AND
    best-quality by the quality-aware ``streaming_fused_ingest``
    (insert/drop/replace with epoch rewrites). A re-crawl of a page
    whose extraction got longer/cleaner therefore REPLACES the
    standing copy instead of being dropped as a near-dup.

    Every pre-ingest stage is a STATELESS streaming transformation
    (parse + explode + map-only extraction/scoring/featurization), so
    the only stateful machinery is the ingest's own epoch-partitioned
    artifacts. Doc identity is ``xxhash64(WARC-Target-URI)`` (the CC
    collapse and the packed survivorship keys need LONG ids; the raw
    URI rides along as a ``uri`` column for provenance) — re-crawls
    arrive as new rows and survive or replace on quality like any
    other near-dup. The hashed-BoW vectors stand in for learned
    embeddings (fresh crawl text has none yet); swap a real embedder
    into ``vec_col`` upstream when one exists.

    ``binary_blobs=True`` reads the blob column as BINARY through the
    octet-exact kernel (``warc_records_sliced_binary`` — required for
    any non-ASCII page, where char offsets mis-slice Content-Length),
    and ``gzip_members=True`` additionally inflates the multi-member
    ``.warc.gz`` layout first — i.e. raw CommonCrawl files stream
    straight into the keep-best corpus. Pages decode through
    ``decode_web_text`` — BOM / ``<meta charset>`` sniffing, legacy
    charsets (windows-1252 et al.) transcoded, ``errors='replace'``
    throughout — so a binary or garbage payload yields U+FFFDs, never
    a crashed micro-batch (ADVICE r13).

    ``http_messages=True`` (requires ``binary_blobs``) treats each
    payload as a FULL HTTP message — the real CommonCrawl record
    shape — and runs the framing/coding chain before extraction:
    ``http_split_message`` (byte-boundary head/body split) →
    ``http_decode_body`` (chunked reassembly, then Content-Encoding
    gunzip/inflate — RFC 9112 order) → ``decode_web_text`` with the
    Content-Type header's charset. A non-HTTP payload degrades to
    the whole-payload body (``http_split_message``'s contract), so
    mixed streams keep working. With all three flags the stream
    ingests genuine CommonCrawl bytes end-to-end: gzip members →
    WARC records → HTTP messages → coded bodies → legacy charsets →
    articles.

    ``canonical_ids=True`` keys doc identity on the CANONICAL URI
    (``canonicalize_url(strip_tracking=True)`` — lowercased host,
    sorted query, utm_*/fbclid/… dropped; non-absolute URIs fall back
    to the raw spelling) instead of the raw ``WARC-Target-URI``: a
    re-crawl arriving through a campaign link is the SAME page, and
    raw-URI identity would double-ingest it past every quality gate.
    The ``uri`` column keeps the raw spelling for provenance — the
    corpus stores whichever variant survived.

    ``require_http_ok=True`` (http_messages mode only) keeps 2xx
    responses and non-HTTP payloads (the degradation class — a bare
    page has no status to judge); 404s/redirect bodies/5xx error
    pages never reach extraction. ``drop_noindex=True`` applies the
    robots ``noindex`` drop (``has_noindex``) before extraction —
    the polite-crawl contract, any mode. ``blocked_domains`` /
    ``robots_rules`` arm the SITE-level gates via the batch recipe's
    ``crawl.apply_url_politeness`` (stateless broadcast anti joins —
    legal stream-static), so both spellings drop identical record
    sets."""
    from pyspark_deduplication_spark.functions.text import (
        HTTP_OK_RE,
        decode_web_text,
        extract_main_content,
        has_noindex,
        http_decode_body,
        http_header_of,
        http_split_message,
        quality_features,
        warc_header_of,
        warc_records_sliced,
        warc_records_sliced_binary,
    )
    from pyspark_deduplication_spark.functions.vectors import (
        hashed_bow_embedding,
    )

    if gzip_members and not binary_blobs:
        raise ValueError("gzip_members requires binary_blobs=True "
                         "(a gzip blob is bytes by definition)")
    if http_messages and not binary_blobs:
        raise ValueError("http_messages requires binary_blobs=True "
                         "(an HTTP message is bytes by definition)")
    if require_http_ok and not http_messages:
        raise ValueError("require_http_ok requires http_messages=True "
                         "(there is no status line to judge without "
                         "framing)")
    if binary_blobs:
        rec = F.explode(warc_records_sliced_binary(
            F.col(blob_col), gzip_members=gzip_members)).alias("r")
        recs = blob_stream.select(rec)
        if http_messages:
            recs = recs.select(
                "r", http_split_message(F.col("r.payload"))
                .alias("__m"))
            if require_http_ok:
                # non-HTTP payloads have status_line == '' (the
                # degradation class — nothing to judge); real
                # statuses must be 2xx
                recs = recs.filter(
                    (F.col("__m.status_line") == "")
                    | F.col("__m.status_line").rlike(HTTP_OK_RE))
            # charset from the Content-Type header outranks the
            # <meta> sniff (decode_web_text's resolution order)
            page = decode_web_text(
                http_decode_body(F.col("__m.body"),
                                 F.col("__m.headers")),
                http_header_of(F.col("__m.headers"), "Content-Type"))
        else:
            # charset-sniffing replace-decode (ADVICE r13 high):
            # Spark 4's F.decode(…, 'UTF-8') RAISES on invalid bytes —
            # one binary or legacy-encoded payload (routine in real
            # .warc.gz) would crash the micro-batch and the stream
            # would replay it forever
            page = decode_web_text(F.col("r.payload"))
    else:
        rec = F.explode(warc_records_sliced(F.col(blob_col))).alias("r")
        recs = blob_stream.select(rec)
        page = F.col("r.payload")
    if canonical_ids:
        from pyspark_deduplication_spark.functions.urls import (
            canonicalize_url,
        )

        ident = F.coalesce(
            canonicalize_url(F.col("uri"), strip_tracking=True),
            F.col("uri"))
    else:
        ident = F.col("uri")
    staged = (
        recs
        .select(warc_header_of(F.col("r.headers"), "WARC-Target-URI")
                .alias("uri"),
                page.alias("__page"))
        .filter(F.col("uri") != "")
    )
    if blocked_domains or robots_rules is not None:
        # site-level politeness, same helper as the batch recipe:
        # stateless broadcast anti joins, legal stream-static
        from pyspark_deduplication_spark.crawl import (
            apply_url_politeness,
        )

        staged = apply_url_politeness(
            staged, "uri", blocked_domains=blocked_domains,
            robots_rules=robots_rules)
    if drop_noindex:
        staged = staged.filter(~has_noindex(F.col("__page")))
    staged = (
        staged
        .withColumn("doc_id", F.xxhash64(ident))
        .withColumn("text", extract_main_content(F.col("__page")))
        .drop("__page")
    )
    docs = staged.select(
        "doc_id", "uri", "text",
        hashed_bow_embedding(F.col("text"), dim).alias("embedding"),
        quality_features(F.col("text"))["quality_score"]
        .alias("quality"))
    return streaming_fused_ingest(
        docs, corpus_dir, checkpoint_dir,
        id_col="doc_id", text_col="text", vec_col="embedding",
        jaccard_threshold=jaccard_threshold,
        cosine_threshold=cosine_threshold,
        n_cells=n_cells, max_bucket_size=max_bucket_size,
        max_cell_size=max_cell_size, quality_col="quality")


def compact_corpus_epochs(
    spark: SparkSession,
    corpus_dir: str,
    keep_last: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    num_hashes: int = 64,
    shingle_size: int = 3,
) -> dict | None:
    """Compact the epoch-partitioned corpus (VERDICT r12 advisory 2):
    the streaming ingests create ONE partition per micro-batch and
    never merge them, so a long-lived stream accumulates thousands of
    small parquet partitions — every corpus read pays the listing, and
    the survivorship rewrite's affected-epoch logic walks an
    ever-longer epoch set. This pass rewrites all epochs except the
    newest ``keep_last`` into a single coarse partition and re-derives
    their index entries, bounding partition count at
    ``keep_last + compactions``.

    The merged partition keeps epoch id ``max(compacted)`` — strictly
    below every retained epoch and every future ``epoch_id``, so the
    ingest's ``epoch < epoch_id`` probe filters and the replay
    semantics are untouched. Content is exactly preserved: rows are
    only re-labelled, and each index artifact present (MinHash sigs /
    cell index / weighted sigs) re-derives the merged epoch's entries
    from the merged rows — the same pure-function-of-the-rows
    derivation the ingest's heal contract uses, so a crash anywhere
    in the window converges on the next run: corpus writes first (a
    crash after it shows the same id in the merged and a stale
    partition — the merge id-dedups, so a re-run collapses the pair
    back to one row before its stale deletes land), indexes
    re-derive after (a lagging index is exactly the ghost/heal
    window the ingest already detects and re-derives).

    Driver state is the epoch-id list only (bounded); the data moves
    as one distributed read + one write per artifact. Run it from the
    maintenance cadence of the stream's owner — e.g. every K
    micro-batches or on a size trigger — not inside the hot loop.
    Returns ``{"compacted": [...], "into": e, "kept": [...]}`` or
    ``None`` when fewer than two epochs are old enough to merge."""
    from pyspark_deduplication_spark.operators.dedup import (
        build_minhash_index,
        build_weighted_minhash_index,
    )
    from pyspark_deduplication_spark.operators.knn import assign_cells

    base = corpus_dir.rstrip("/")
    sig_dir = base + "_sigs"
    cent_dir = base + "_centroids"
    idx_dir = base + "_index"
    wsig_dir = base + "_wsigs"

    eps = sorted(_epoch_partitions(spark, base))
    old = eps[:len(eps) - keep_last] if keep_last > 0 else eps
    if len(old) < 2:
        return None
    target = max(old)
    stale = [e for e in old if e != target]
    merged = (
        spark.read.parquet(base)
        .where(F.col("epoch").isin(old))
        .drop("epoch")
        # id-dedup makes the crash window CONVERGE rather than merely
        # tolerate: a crash between the merged write and the stale
        # deletes leaves the same row in epoch=target AND a stale
        # partition — a plain re-run would fold both copies into the
        # merged partition forever. Same id ⇒ same row here (rows are
        # only ever re-labelled), so keep-any is exact.
        .dropDuplicates([id_col])
        .localCheckpoint(eager=True)  # breaks lineage: we overwrite base
    )
    (merged.withColumn("epoch", F.lit(target))
     .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("epoch").parquet(base))
    for e in stale:
        _hadoop_delete_path(spark, f"{base}/epoch={e}")

    def _reindex(path: str, sign) -> None:
        if not _hadoop_path_exists(spark, path):
            return
        (sign(merged).withColumn("epoch", F.lit(target))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("epoch").parquet(path))
        for e in stale:
            _hadoop_delete_path(spark, f"{path}/epoch={e}")

    _reindex(sig_dir, lambda df: build_minhash_index(
        df, text_col, id_col, num_hashes, shingle_size))
    if _hadoop_path_exists(spark, cent_dir):
        cents = spark.read.parquet(cent_dir)
        _reindex(idx_dir, lambda df: assign_cells(
            df.select(F.col(id_col), F.col(vec_col)), cents, vec_col, 1))
    _reindex(wsig_dir, lambda df: build_weighted_minhash_index(
        df, text_col, id_col, num_hashes, shingle_size))
    return {"compacted": old, "into": target,
            "kept": [e for e in eps if e not in old]}


def streaming_span_ingest(
    doc_stream: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 8,
    hash_grams: bool = False,
):
    """Continuously ingest documents with ExactSubstr span hygiene —
    the streaming loop of `chunking.incremental_remove_duplicate_spans`
    (the span-level member of the ingest family): each micro-batch
    removes token positions covered by any ``span``-token window
    already in the standing index OR shared across the batch,
    reassembles the cleaned text, appends the cleaned rows
    ``(id, n_tokens, n_kept, clean_text)`` as that epoch's
    ``corpus_dir`` partition, and appends the CLEANED text's own
    windows to ``<corpus_dir>_spanidx`` so later batches dedup against
    exactly what the corpus now contains.

    Exactly-once mirrors the other ingest loops: every epoch
    dynamically overwrites its own partitions, and the whole pipeline
    is deterministic, so replay rewrites identical files. The standing
    corpus is immutable per the incremental operator's contract (its
    copies of a shared span remain; the offline batch operator
    restores remove-all semantics at maintenance cadence —
    ``consolidate_epochs(mode="append")`` handles the index lineage
    there too)."""
    from pyspark_deduplication_spark.operators.chunking import (
        build_span_index,
        incremental_remove_duplicate_spans,
    )

    idx_dir = corpus_dir.rstrip("/") + "_spanidx"

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if len(batch_df.take(1)) == 0:
            return
        if _hadoop_path_exists(spark, idx_dir):
            span_index = (spark.read.parquet(idx_dir)
                          .where(F.col("epoch") < F.lit(epoch_id))
                          .drop("epoch"))
        else:
            span_index = build_span_index(
                batch_df, text_col, id_col, span, hash_grams).limit(0)
        cleaned = incremental_remove_duplicate_spans(
            batch_df, text_col=text_col, id_col=id_col, span=span,
            hash_grams=hash_grams, span_index=span_index,
        ).localCheckpoint(eager=True)

        def _epoch_append(df: DataFrame, path: str) -> None:
            (df.withColumn("epoch", F.lit(epoch_id))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("epoch")
             .parquet(path))

        _epoch_append(cleaned, corpus_dir)
        _epoch_append(
            build_span_index(
                cleaned.select(F.col(id_col),
                               F.col("clean_text").alias(text_col)),
                text_col, id_col, span, hash_grams),
            idx_dir)

    return write_stream_foreach_batch(doc_stream, ingest, checkpoint_dir)


def streaming_reservoir_ingest(
    stream: DataFrame,
    reservoir_dir: str,
    checkpoint_dir: str,
    group_col: str,
    key_col: str,
    k: int,
    seed: str = "42",
):
    """Maintain a bounded per-group uniform sample over a stream — the
    streaming twin of ``stratified_sample_docs``'s deterministic-hash
    family, built on ``sampling.reservoir_per_group``'s merge property
    (``bottomk(A ∪ B) == bottomk(bottomk(A) ∪ B)``): each micro-batch
    unions the standing reservoir with the new rows and re-caps to the
    bottom-k-by-``md5(key‖seed)`` per group. No per-row streaming
    state, no dependence on arrival order — after ANY prefix of
    batches the reservoir equals the batch operator run over the
    concatenation of those batches (pinned in ``test_streaming.py``),
    which Algorithm-R-style random reservoirs cannot promise under
    replay.

    Exactly-once: each epoch writes the FULL new reservoir state
    (≤ k·|groups| rows — bounded by construction, so a full rewrite
    per epoch is cheap) into its own ``epoch=<id>`` partition; a
    replayed micro-batch reads the same prior state (latest epoch
    < its own) and deterministically rewrites the identical
    partition. Prior epochs remain as a bounded audit trail of the
    sample's evolution; compact with ``compact_small_files`` or drop
    old partitions when lineage is not wanted."""
    from pyspark_deduplication_spark.operators.sampling import (
        reservoir_per_group,
    )

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if len(batch_df.take(1)) == 0:
            # idle trigger: the standing reservoir is already current —
            # writing an identical epoch partition would only grow the
            # audit trail for nothing
            return
        base = batch_df
        prior = _latest_epoch_state(spark, reservoir_dir, epoch_id)
        if prior is not None:
            base = batch_df.unionByName(prior)
        new_res = reservoir_per_group(base, group_col, key_col, k, seed)
        (new_res.withColumn("epoch", F.lit(epoch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("epoch")
         .parquet(reservoir_dir))

    return write_stream_foreach_batch(stream, ingest, checkpoint_dir)


def streaming_quantile_sketch_ingest(
    stream: DataFrame,
    sketch_dir: str,
    checkpoint_dir: str,
    group_col: str,
    key_col: str,
    value_col: str,
    k: int = 128,
    seed: str = "42",
):
    """Maintain per-group quantile sketches over a stream — the
    streaming member of the mergeable-sketch family's quantile leg,
    riding ``profiling.quantile_sketch_build``'s KMV merge property
    (bottomk(A ∪ B) == bottomk(bottomk(A) ∪ B), the exact contract
    the reservoir ingest uses): each micro-batch sketches its own rows
    and re-caps the union with the standing sketch. No per-row
    streaming state, arrival-order independent — after any prefix of
    batches the sketch equals ``quantile_sketch_build`` over the
    concatenation (pinned in ``test_streaming.py``), so
    ``quantile_sketch_estimate`` over the standing table serves live
    p50/p90/p99 dashboards without ever re-scanning history.

    Exactly-once mirrors the reservoir ingest: every epoch writes the
    FULL bounded state (≤ k·|groups| rows) into its own
    ``epoch=<id>`` partition; replayed batches deterministically
    rewrite identical partitions; fold lineage with
    ``consolidate_epochs(mode="snapshot")``."""
    from pyspark_deduplication_spark.operators.profiling import (
        quantile_sketch_build,
        quantile_sketch_merge,
    )

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if len(batch_df.take(1)) == 0:
            return
        new_sk = quantile_sketch_build(
            batch_df, group_col, key_col, value_col, k, seed)
        prior = _latest_epoch_state(spark, sketch_dir, epoch_id)
        if prior is not None:
            new_sk = quantile_sketch_merge(
                new_sk, prior, group_col=group_col, k=k)
        (new_sk.withColumn("epoch", F.lit(epoch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("epoch")
         .parquet(sketch_dir))

    return write_stream_foreach_batch(stream, ingest, checkpoint_dir)


def streaming_pca_stats_ingest(
    stream: DataFrame,
    stats_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
):
    """Maintain the persisted PCA sufficient-statistics artifact over
    an embedding stream — the PCA/OPQ member of the artifact-ingest
    family (MinHash signature index, SemDeDup cells, reservoir,
    quantile sketch): each micro-batch reduces to its own one-row
    (n, Σx, XᵀX) stats and merges EXACTLY into the standing row
    (sums of sums — ``knn.merge_pca_stats``), so
    ``knn.pca_from_stats`` can re-derive the current rotation model at
    any time with zero corpus re-reads. State is d² + d + 1 scalars,
    written whole per epoch into its own ``epoch=<id>`` partition —
    replayed batches deterministically rewrite identical state
    (snapshot idiom; fold lineage with
    ``consolidate_epochs(mode="snapshot")``). Stream ≡ batch pinned
    in ``test_streaming.py``."""
    from pyspark_deduplication_spark.operators.knn import (
        merge_pca_stats,
        pca_stats,
    )

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if len(batch_df.take(1)) == 0:
            return
        new_stats = pca_stats(batch_df, vec_col)
        prior = _latest_epoch_state(spark, stats_dir, epoch_id)
        if prior is not None:
            new_stats = merge_pca_stats(prior, new_stats)
        (new_stats.withColumn("epoch", F.lit(epoch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("epoch")
         .parquet(stats_dir))

    return write_stream_foreach_batch(stream, ingest, checkpoint_dir)


def stream_static_enrich(
    stream: DataFrame,
    static_dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static join: enrich an unbounded stream with a bounded
    dimension (the lookup-table pattern — user profiles, model scores,
    allowlists). Unlike stream-stream joins this needs NO watermark and
    keeps NO join state: each micro-batch joins against the static side
    as-of that batch, and a broadcastable dim never shuffles the stream.
    The static side is re-read per micro-batch from its source when it
    is a file-backed table — refreshing the dim file rolls new lookup
    data into the running query without a restart."""
    from pyspark.sql import functions as F

    return stream.join(F.broadcast(static_dim), on, how)
