"""Similarity search over embedding columns (``array<float>``).

Training-data-pipeline extension (BASELINE.json north star): given the
``embeddings`` table (vec_id, embedding, label), find nearest neighbors
by cosine similarity.

- ``brute_force_knn``  exact top-k: broadcast the (small) query set
  against every vector — one scan, no shuffle of the big side, native
  ``zip_with``/``aggregate`` arithmetic, window top-k per query.
- ``ivf_knn``          the scale path: IVF-style cell pruning. Vectors
  are assigned once to their nearest centroid cell; a query probes only
  ``n_probe`` cells, so the scored candidate set shrinks by
  ~n_cells/n_probe. Approximate (recall < 1.0 near cell borders) —
  recall measured against brute force in tests.
- ``embedding_near_dup_pairs``  near-duplicate detection: all pairs with
  cosine ≥ threshold, label-blocked or full, for the dedup family.

At 100 TB the big side never shuffles in any of these: queries and
centroids are broadcast, candidates are filtered before scoring, and
top-k is a partial-aggregate-friendly window over a small result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_deduplication_spark.functions.vectors import cosine_similarity, dot, l2_norm


def brute_force_knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is expected to be small (it is broadcast); ``vectors``
    streams through in place. Returns (query_id, neighbor_id, score,
    rank), ties broken by neighbor id for determinism.
    """
    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(query_col).alias("__qvec")
    )
    joined = vectors.join(F.broadcast(q), how="cross")
    if exclude_self:
        joined = joined.filter(F.col(vec_id) != F.col("__qid"))
    scored = joined.select(
        F.col("__qid").alias(query_id),
        F.col(vec_id).alias("neighbor_id"),
        cosine_similarity(F.col(vec_col), F.col("__qvec")).alias("score"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hard_negative_mining(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_col: str = "embedding",
    label_col: str = "label",
    query_label_col: str = "label",
    dup_threshold: float | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/SimCSE
    recipe): for each query, the top-k most-similar corpus vectors
    that are NOT positives — a candidate must carry a DIFFERENT label
    than the query, and (optionally) score BELOW ``dup_threshold``,
    which drops near-duplicates that are overwhelmingly unlabeled
    positives (mining them as negatives poisons the loss). Both
    exclusions apply BEFORE ranking — a hard negative is the best
    among eligible candidates, not a leftover of the unfiltered top-k.

    Same scale shape as ``brute_force_knn``: the bounded query set
    (id, vector, label) broadcasts, the corpus streams once, native
    ``zip_with``/``aggregate`` cosine, window top-k. Returns
    (query_id, neighbor_id, score, rank), ties broken by neighbor id.
    Exact by construction — the IVF/PQ family is the approximate
    scale path when the query set itself is corpus-sized."""
    q = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_col).alias("__qvec"),
        F.col(query_label_col).alias("__qlabel"),
    )
    joined = (
        vectors.join(F.broadcast(q), how="cross")
        .filter(F.col(vec_id) != F.col("__qid"))
        .filter(~F.col(label_col).eqNullSafe(F.col("__qlabel")))
    )
    scored = joined.select(
        F.col("__qid").alias(query_id),
        F.col(vec_id).alias("neighbor_id"),
        cosine_similarity(F.col(vec_col), F.col("__qvec")).alias("score"),
    )
    if dup_threshold is not None:
        scored = scored.filter(F.col("score") < dup_threshold)
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _cell_sim_structs(cents: list[tuple[int, list[float]]], vec_col: str):
    """``array<struct<sim,negid>>`` of per-cell similarity scores as a
    pure per-row expression over centroid literals — no join, no
    shuffle. Centroids are unit-normalized driver-side, so argmax cosine
    reduces to argmax dot: ONE array pass per cell instead of three
    (dot + both norms — the row norm is a per-cell-constant positive
    factor and the centroid norm folds into the literal). ``negid``
    makes struct-ordering ties break toward the smaller cell id under
    BOTH max (``_nearest_cell_expr``) and descending sort
    (``_topn_cells_expr``). For very large n_cells × dim the literal
    expression tree would stress codegen; assignment falls back to the
    broadcast-join path there (``assign_cells``)."""
    return F.array(*[
        F.struct(
            dot(F.col(vec_col),
                F.array(*[F.lit(float(x)) for x in u])).alias("sim"),
            F.lit(-int(cid)).alias("negid"),
        )
        for (cid, _), u in zip(cents, _unit_rows(cents))
    ])


def _nearest_cell_expr(cents: list[tuple[int, list[float]]], vec_col: str):
    """Argmax-similarity cell id, row-local (see ``_cell_sim_structs``).

    The result is COALESCED to a −1 sentinel so the column is
    statically non-nullable (r11): downstream equi-joins on the cell id
    otherwise make ``InferFiltersFromConstraints`` add
    ``isnotnull(<this whole argmax expression>)``, which predicate
    pushdown then sinks BELOW every exchange to the file scan — the
    entire interpreted assignment (n_cells dot products plus any
    upstream normalization chain, all CodegenFallback) re-ran per row
    inside a Filter at raw scan parallelism; jstack at the 10× fixture
    showed exactly this stack grinding minutes on 2 of 32 cores. A
    null argmax only arises from a null/absent vector; the −1 sentinel
    matches no real cell, so inner joins drop those rows exactly as
    the null did."""
    best = (-F.array_max(_cell_sim_structs(cents, vec_col))["negid"]).cast(
        "long"
    )
    return F.coalesce(best, F.lit(-1).cast("long"))


def _topn_cells_expr(
    cents: list[tuple[int, list[float]]], vec_col: str, n: int
):
    """``array<long>`` of the ``n`` nearest cell ids, best first —
    row-local sort+slice over the literal struct array (multi-probe
    assignment without the per-row window exchange)."""
    ranked = F.slice(
        F.sort_array(_cell_sim_structs(cents, vec_col), asc=False), 1, n
    )
    return F.transform(ranked, lambda s: (-s["negid"]).cast("long"))


def coreset_sample(
    vectors: DataFrame,
    n_cells: int = 32,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 4,
    per_cell: int = 1,
    train_sample_mod: int = 1,
    budget: int | None = None,
) -> DataFrame:
    """Diversity-preserving subset selection (k-center-style coreset —
    the curation counterpart of dedup: instead of dropping what is too
    SIMILAR, keep what best COVERS the space): train spherical k-means
    cells, then keep the ``per_cell`` vectors most cosine-similar to
    their own cell's centroid — one representative per region, so the
    sample spans every populated mode of the embedding distribution
    where a uniform sample oversamples dense modes and misses thin
    ones.

    Scale shape: centroids are model state (broadcast-free literals);
    the corpus is scanned ONCE with a row-local argmax for assignment
    and the within-cell selection shuffles only slim (id, cell, score)
    rows for the rank window — payload vectors never move. Note the
    assignment dot is against UNIT centroids, so ranking rows within a
    cell divides by the row norm to get true cosine (the row norm is
    constant across CELLS, which is why assignment can skip it, but
    not across ROWS). Zero vectors score NULL and sort last.

    Returns (``vec_id``, cell_id, score, rank ≤ ``per_cell``), rank 1
    = the cell's medoid-like representative. ``budget`` switches from
    the flat per-cell cap to PROPORTIONAL quotas (max(1, round(
    budget·n_c/n)) per cell): dense modes get more representatives,
    every populated cell keeps at least one, output within n_cells of
    the budget. Deterministic (hash init, 9dp-rounded Lloyd sums, id
    tiebreaks)."""
    cents_df = train_centroids(
        vectors, n_cells, vec_id, vec_col, n_iter, train_sample_mod)
    cents = sorted(
        (int(r["cell_id"]), [float(x) for x in r["centroid"]])
        for r in cents_df.collect()     # n_cells rows — model state
    )
    best = F.array_max(_cell_sim_structs(cents, vec_col))
    scored = vectors.select(
        F.col(vec_id),
        (-best["negid"]).cast("long").alias("cell_id"),
        (best["sim"] / l2_norm(F.col(vec_col))).alias("score"),
    )
    w = Window.partitionBy("cell_id").orderBy(
        F.col("score").desc(), F.col(vec_id).asc())
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if budget is None:
        return ranked.filter(F.col("rank") <= per_cell)
    # proportional quotas: a total sample budget splits across cells by
    # mass — quota_c = max(1, round(budget·n_c/n)) — so dense modes get
    # more representatives while every populated cell keeps at least
    # one (the uniform-coverage floor). Same single slim-row exchange:
    # the cell count rides the rank window's partitioning and the
    # total is a broadcast scalar. Output size is within n_cells of
    # the budget (per-cell rounding).
    total = vectors.count()
    quota = F.greatest(
        F.lit(1),
        F.round(F.lit(float(budget))
                * F.count(F.lit(1)).over(Window.partitionBy("cell_id"))
                / F.lit(float(total))).cast("int"))
    return (
        ranked.withColumn("__quota", quota)
        .filter(F.col("rank") <= F.col("__quota"))
        .drop("__quota")
    )


def _interpreted_hof_input_rows(df: DataFrame) -> int | None:
    """Planning-time row estimate for the spread decision: sum of
    parquet footer row counts over the frame's input files (driver
    metadata reads — no Spark job). Returns None when the inputs are
    not file-backed (in-memory batches, streaming sources); for
    multi-table plans (joins) it over-counts, which only errs toward
    spreading — the safe direction at scale."""
    try:
        files = [f for f in df.inputFiles() if f]
    except Exception:
        return None
    if not files:
        return None
    try:
        import pyarrow.parquet as pq
    except Exception:
        return None
    total = 0
    for f in files:
        path = f.split("://", 1)[-1] if f.startswith("file:") else f
        path = path.replace("file:", "", 1)
        try:
            total += pq.ParquetFile(path).metadata.num_rows
        except Exception:
            return None
    return total


def _spread_for_lloyd(df: DataFrame) -> DataFrame:
    """Round-robin an interpreted-HOF-bound stream to the session
    shuffle width when it is big enough to matter (r11). The argmin
    assignment / PQ distance expressions are interpreted higher-order
    functions (transform/aggregate/zip_with are CodegenFallback —
    excluded from whole-stage codegen), so compute-per-ROW is enormous
    while a compact single-parquet corpus plans 1-2 scan partitions —
    at sf1 each Lloyd round ran minutes on 2 of 32 cores. The exchange
    also MATERIALIZES upstream projection chains that Catalyst's
    projection collapse would otherwise inline into every downstream
    consumer (jstack showed the unit-normalization re-running per
    (vector, subspace, codeword) row inside pq_encode's predicate).

    Below the threshold the per-call shuffle/cache fixed costs buy
    nothing (a 2k-row trainer input is seconds of work either way), so
    small streams stay put. The size signal is parquet FOOTER ROW
    COUNTS (driver metadata, no job) — on-disk bytes are useless here:
    compute is per-ROW×expression, and the scaled fixture's 20k rolled
    vectors zstd-compress to the same ~5 MB as the base's 2k.
    Non-file-backed inputs fall back to the optimizer's byte
    estimate."""
    spark = df.sparkSession
    rows = _interpreted_hof_input_rows(df)
    if rows is not None:
        if rows <= 5_000:
            return df
    else:
        try:
            size = int(str(df._jdf.queryExecution().optimizedPlan()
                           .stats().sizeInBytes()))
        except Exception:
            size = 1 << 60  # unknown → assume big (spread is safe)
        if size <= (16 << 20):
            return df
    return df.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")))


def _unit_rows(cents: list[tuple[int, list[float]]]) -> list[list[float]]:
    """Driver-side unit normalization of centroid rows, shared by the
    assignment literals (``_cell_sim_structs``) and the cosine Lloyd
    kernel (``_lloyd_stats``) so both score against bit-identical
    centroid values."""
    import math

    out = []
    for _cid, c in cents:
        n = math.sqrt(sum(x * x for x in c))
        out.append([x / n for x in c] if n > 0 else list(c))
    return out


def _lloyd_stats(train: DataFrame,
                 book: dict[tuple[int, int], list[float]],
                 vec_col: str, metric: str) -> DataFrame:
    """One Lloyd round's sufficient statistics as a vectorized Arrow
    pass (see ``_lloyd_rounds``): per partition, slice each subspace of
    every vector, assign it to its nearest codeword and emit
    per-(subspace, code, pos) partial sums + member counts. ``metric``
    is ``"cosine"`` (argmax of the dot against driver-side unit
    codewords, ``_unit_rows``; np.argmax takes the first NaN, matching
    the struct max's NaN-largest ordering) or ``"l2"`` (argmin of the
    squared distance, NaN demoted to +inf like struct-min's NaN-largest
    ordering). The arithmetic reproduces the JVM literal-expression
    round it replaced exactly where that round is deterministic: scores
    accumulate position-sequentially in float64 (``acc + x_i*c_i`` /
    ``acc + (a-b)*(a-b)``, the ``F.aggregate`` order), ties break to
    the smaller code (first index over ascending codes), and per-key
    partials accumulate in row order within a batch (``np.cumsum``).
    Cross-batch/cross-partition merge order differs in association
    exactly like the hash-aggregate's partition merge — the 9dp
    rounding downstream absorbs both. Output partials are ≤ partitions
    × codes × dim scalar rows — model state, never corpus-sized."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    books = []
    for s in sorted({s for s, _ in book}):
        rows = sorted((c, w) for (m, c), w in book.items() if m == s)
        cw = _unit_rows(rows) if metric == "cosine" else [w for _, w in rows]
        books.append((s, [c for c, _ in rows],
                      np.asarray(cw, dtype=np.float64)))
    sub = books[0][2].shape[1]
    dim = (books[-1][0] + 1) * sub

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sums: dict[tuple[int, int], np.ndarray] = {}
        counts: dict[tuple[int, int], int] = {}
        for pdf in batches:
            vs = [v for v in pdf[vec_col]
                  if v is not None and len(v) == dim]
            if not vs:
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
            for s, codes, cw in books:
                Xs = X[:, s * sub:(s + 1) * sub]
                score = np.zeros((Xs.shape[0], cw.shape[0]))
                if metric == "cosine":
                    for i in range(sub):
                        score += Xs[:, i:i + 1] * cw[:, i]
                    best = np.argmax(score, axis=1)
                else:
                    for i in range(sub):
                        diff = Xs[:, i:i + 1] - cw[:, i]
                        score += diff * diff
                    best = np.argmin(
                        np.where(np.isnan(score), np.inf, score), axis=1)
                for bi, code in enumerate(codes):
                    mask = best == bi
                    m = int(mask.sum())
                    if not m:
                        continue
                    part = np.cumsum(Xs[mask], axis=0)[-1]
                    key = (s, code)
                    if key in sums:
                        sums[key] = sums[key] + part
                        counts[key] += m
                    else:
                        sums[key] = part
                        counts[key] = m
        if sums:
            yield pd.DataFrame({
                "subspace": [k[0] for k in sums for _ in range(sub)],
                "code": [k[1] for k in sums for _ in range(sub)],
                "pos": [p for _ in sums for p in range(sub)],
                "s": [float(sums[k][p]) for k in sums
                      for p in range(sub)],
                "n": [counts[k] for k in sums for _ in range(sub)],
            })

    return train.select(F.col(vec_col)).mapInPandas(
        stats, "subspace int, code long, pos int, s double, n long")


def _lloyd_rounds(
    vectors: DataFrame,
    book: dict[tuple[int, int], list[float]],
    vec_id: str,
    vec_col: str,
    n_iter: int,
    train_sample_mod: int,
    metric: str,
) -> dict[tuple[int, int], list[float]]:
    """Lloyd's algorithm over a ``{(subspace, code): codeword}`` book —
    the one trainer behind the IVF coarse quantizer (``train_centroids``:
    one subspace, spherical k-means, ``metric="cosine"``) and the
    product quantizer (``train_pq_codebook``/``train_opq``: per-subspace
    L2 k-means, ``metric="l2"``), which Jégou et al. (TPAMI'11) define
    as the same k-means. Returns the trained book; ``n_iter <= 0`` or
    an empty book returns it unchanged without a job.

    Each round is shaped for the 100 TB case:

    1. **Assignment + partial sums** run in ONE vectorized Arrow pass
       over the training stream (``_lloyd_stats``). The codewords are
       model state shipped with the kernel — the corpus is scanned,
       never joined or shuffled. This replaced a per-row literal
       expression (assignment over codeword literals + posexplode +
       hash aggregate) whose tree re-planned, re-optimized and
       re-codegen'd on EVERY round (fresh literals defeat the codegen
       cache) and whose zip_with/aggregate HOFs are interpreted —
       measured 1.5 s/round vs 0.45 s for the kernel at sf0.1.
    2. **Merge**: the partials sum per (subspace, code, pos) in one
       Spark aggregation — the shuffle moves ≤ partitions × codes × dim
       scalar rows at ANY corpus size — and the aggregate collects to
       the driver to become the next round's book (model state, like
       pulling k-means coefficients out of pyspark.ml). The round runs
       under ``model_state_exec`` (AQE off): adaptive re-planning buys
       nothing on a bounded exchange and costs one extra job per round.

    Per-position sums are rounded to 9 decimals before the mean, which
    makes partition-order float jitter overwhelmingly unlikely to leak
    into a codeword (a sum landing within ~1e-10 of a rounding boundary
    could still round differently — rounding shrinks the exposure, it
    is not a bit-reproducibility guarantee). Empty codes keep their
    previous codeword. ``train_sample_mod > 1`` trains on a
    deterministic 1/mod hash-sample of ``vec_id`` (standard practice:
    codebook quality needs ~O(100·k) samples, not 100 TB)."""
    if n_iter <= 0 or not book:
        return book
    from pyspark_deduplication_spark.session import model_state_exec

    spark = vectors.sparkSession
    train = vectors.select(F.col(vec_id), F.col(vec_col))
    if train_sample_mod > 1:
        train = train.filter(
            F.pmod(F.xxhash64(F.col(vec_id)), F.lit(train_sample_mod)) == 0
        )
    # Spread (size-conditional, see _spread_for_lloyd) + pin the
    # training stream across rounds, so later rounds neither re-scan
    # parquet nor re-pay the shuffle; sample-sized when
    # train_sample_mod is armed.
    train = _spread_for_lloyd(train)
    train.persist()
    try:
        for _ in range(n_iter):
            with model_state_exec(spark):
                sums = (
                    _lloyd_stats(train, book, vec_col, metric)
                    .groupBy("subspace", "code", "pos")
                    .agg(F.round(F.sum("s"), 9).alias("s"),
                         F.sum("n").alias("n"))
                    .collect()  # ≤ codes × dim rows — model state
                )
            new: dict[tuple[int, int], list[float]] = {}
            counts: dict[tuple[int, int], int] = {}
            for r in sums:
                key = (int(r["subspace"]), int(r["code"]))
                new.setdefault(key, [0.0] * len(book[key]))[
                    int(r["pos"])] = float(r["s"])
                counts[key] = int(r["n"])
            book = {
                key: ([s / counts[key] for s in new[key]] if key in new
                      else cw)
                for key, cw in book.items()
            }
    finally:
        train.unpersist()
    return book


def train_centroids(
    vectors: DataFrame,
    n_cells: int = 16,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 4,
    train_sample_mod: int = 1,
) -> DataFrame:
    """Spherical k-means centroids for IVF, Lloyd's algorithm.

    Init is the deterministic hash-elected representative per cell (one
    pass, no RNG) — ``n_iter=0`` reproduces the former stand-in. The
    ``n_iter`` rounds run in ``_lloyd_rounds`` on a one-subspace book
    scored by unit dot (argmax cosine, ties to the smaller cell id);
    its docstring describes the round's 100 TB shape, the 9dp sum
    rounding and ``train_sample_mod``. Empty cells keep their previous
    centroid.

    Returns (cell_id, centroid array<double>), always broadcastable.
    """
    spark = vectors.sparkSession
    # hash-elected representative per cell as a min_by aggregate: same
    # election as the former row_number-over-window spelling (the row
    # with the minimum id per cell) but with map-side partial
    # aggregation instead of a full per-cell sort — shuffles one
    # candidate row per (partition, cell) rather than every row
    init = (
        vectors.select(
            F.col(vec_id),
            F.col(vec_col),
            F.pmod(F.xxhash64(F.col(vec_id)), F.lit(n_cells)).alias("__cell"),
        )
        .groupBy("__cell")
        .agg(F.min_by(F.col(vec_col), F.col(vec_id)).alias("centroid"))
        .select(F.col("__cell").alias("cell_id"), "centroid")
    )
    if n_iter <= 0:
        return init

    # NOTE: the init collect deliberately keeps AQE ON — this job also
    # materializes any upstream lazy checkpoints (clone-collapse
    # windows, anti-join survivors), which are DATA-sized at scale;
    # only the per-round stats jobs are bounded by construction.
    book = {
        (0, int(r["cell_id"])): [float(x) for x in r["centroid"]]
        for r in init.collect()  # n_cells rows — model state, tiny
    }
    if not book:
        # EMPTY training input (e.g. an ingest batch whose rows all
        # dropped against the corpus): return the empty init frame —
        # downstream assign_cells/pairing handle an empty centroid
        # table through the join fallback
        return init
    book = _lloyd_rounds(vectors, book, vec_id, vec_col, n_iter,
                         train_sample_mod, "cosine")
    return spark.createDataFrame(
        [(cid, c) for (_, cid), c in sorted(book.items())],
        "cell_id long, centroid array<double>",
    )


# n_cells × dim ceiling for the literal-expression assignment path;
# beyond it the codegen'd expression tree gets unwieldy and the
# broadcast-join fallback takes over. 256k terms ≈ 1024 cells × 256 dims.
_LITERAL_ASSIGN_MAX_TERMS = 262144


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    n_assign: int = 1,
) -> DataFrame:
    """Assign each vector to its ``n_assign`` nearest centroid cells
    (n_assign > 1 = multi-probe indexing, trades storage for recall).

    Centroids are model state (n_cells rows): they collect to the
    driver and fold into a per-row literal argmax expression
    (``_nearest_cell_expr``) — the corpus is scanned, never joined,
    never shuffled. Multi-probe sorts the per-row struct array and
    slices the top ``n_assign`` (still row-local; the explode is a
    map-side generator). The former broadcast-crossJoin +
    ``Window.partitionBy(__row)`` spelling moved n_cells copies of
    every vector through a full exchange — the widest shuffle in the
    SemDeDup/IVF index builds at 100 TB; it survives only as the
    fallback for n_cells × dim beyond the codegen comfort zone."""
    cents = sorted(
        (int(r["cell_id"]), [float(x) for x in r["centroid"]])
        for r in centroids.collect()  # n_cells rows — model state, tiny
    )
    n_terms = len(cents) * (len(cents[0][1]) if cents else 0)
    if not cents or n_terms > _LITERAL_ASSIGN_MAX_TERMS:
        return _assign_cells_join(vectors, centroids, vec_col, n_assign)
    if n_assign <= 1:
        return vectors.withColumn(
            "cell_id", _nearest_cell_expr(cents, vec_col)
        )
    return vectors.withColumn(
        "cell_id", F.explode(_topn_cells_expr(cents, vec_col, n_assign))
    )


def _assign_cells_join(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    n_assign: int = 1,
) -> DataFrame:
    """Broadcast-join assignment fallback for centroid sets too large to
    inline as literals. Same output contract and tie-break (similarity
    desc, cell_id asc) as the literal path; costs one per-row window
    exchange, which is why it is not the default."""
    with_row = vectors.withColumn("__row", F.monotonically_increasing_id())
    scored = with_row.join(F.broadcast(centroids), how="cross").withColumn(
        "__csim", cosine_similarity(F.col(vec_col), F.col("centroid"))
    )
    w = Window.partitionBy("__row").orderBy(
        F.col("__csim").desc(), F.col("cell_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_assign)
        .drop("centroid", "__csim", "__rn", "__row")
    )


def build_ivf_index(
    vectors: DataFrame,
    n_cells: int = 16,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 4,
    train_sample_mod: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assigned_vectors) for ``ivf_knn(index=...)`` — the
    TRAIN-ONCE step a production vector store persists (centroids as a
    tiny table, the cell-assigned corpus as cell-partitioned parquet)
    and probes on every query batch instead of re-training and
    re-assigning per call; append a new batch's assignments to keep the
    index current (cell geometry stays fixed until a periodic
    re-train). Completes the train-once family alongside the MinHash,
    SemDeDup and decontamination indexes."""
    centroids = train_centroids(
        vectors, n_cells, vec_id, vec_col, n_iter, train_sample_mod
    )
    return centroids, assign_cells(vectors, centroids, vec_col)


def ivf_knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_col: str = "embedding",
    n_iter: int = 4,
    train_sample_mod: int = 1,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors whose cell is among the
    query's ``n_probe`` nearest cells. Same output schema as
    ``brute_force_knn``; recall rises with n_probe (== n_cells ⇒ exact).
    ``n_iter``/``train_sample_mod`` feed centroid training (k-means
    rounds; ``n_iter=0`` = the single-pass hash-representative init).

    ``index`` short-circuits the build with a persisted
    (centroids, assigned_vectors) pair from ``build_ivf_index`` — the
    train-once shape shared with the MinHash/SemDeDup/decontamination
    indexes: the corpus is scanned only for the probed cells' rows and
    ``vectors`` is never touched.
    """
    if index is not None:
        centroids, indexed = index
    else:
        centroids, indexed = build_ivf_index(
            vectors, n_cells, vec_id, vec_col, n_iter, train_sample_mod
        )

    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(query_col).alias("__qvec")
    )
    # probe assignment = multi-probe cell assignment of the query set
    # (same literal-argmax path, same tie-break — no window exchange)
    probes = assign_cells(q, centroids, "__qvec", n_probe).select(
        "__qid", "__qvec", "cell_id"
    )

    candidates = indexed.join(
        F.broadcast(probes), on="cell_id", how="inner"
    ).filter(F.col(vec_id) != F.col("__qid"))
    scored = candidates.select(
        F.col("__qid").alias(query_id),
        F.col(vec_id).alias("neighbor_id"),
        cosine_similarity(F.col(vec_col), F.col("__qvec")).alias("score"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def block_pairs_arrow(
    indexed: DataFrame,
    threshold: float = 0.95,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "cell_id",
) -> DataFrame:
    """Within-block all-pairs cosine as ONE numpy matmul per block
    (``applyInPandas``) — the throughput spelling of
    ``embedding_near_dup_pairs(block_col=...)`` for blocks bounded by a
    cell-size cap. The Catalyst higher-order-function cosine is
    interpreted per pair (the MinHash lesson in BASELINE.md: HOFs cost
    ~3-4× a vectorized kernel); a capped block fits in one Arrow batch,
    where BLAS scores all m² pairs at once. Semantics match
    ``cosine_similarity`` up to float summation order (zero-norm
    vectors score 0.0); returns (id_a, id_b, cosine_sim), id_a < id_b.
    """
    import numpy as np
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[vec_id].to_numpy()
        mat = np.stack([
            np.asarray(v, dtype=np.float64) for v in pdf[vec_col]
        ])
        norms = np.linalg.norm(mat, axis=1)
        unit = mat / np.where(norms > 0, norms, 1.0)[:, None]
        sims = unit @ unit.T
        valid = norms > 0
        sims = np.where(valid[:, None] & valid[None, :], sims, 0.0)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sims[iu, ju] >= threshold
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame({
            "id_a": np.minimum(ia, ib).astype("int64"),
            "id_b": np.maximum(ia, ib).astype("int64"),
            "cosine_sim": sims[iu, ju][keep].astype("float64"),
        })

    return indexed.groupBy(block_col).applyInPandas(
        kernel, "id_a long, id_b long, cosine_sim double"
    )


def semantic_dedup_edges(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 4,
    n_assign: int = 1,
    train_sample_mod: int = 1,
    max_cell_size: int | None = None,
) -> DataFrame:
    """Near-duplicate edge set feeding ``semantic_dedup``'s transitive
    closure — factored out so tests can pin its size (the m² guard).

    Unguarded (``max_cell_size=None``): assign every vector to its
    learned cell(s) and pair within cells — quadratic in the largest
    cell, fine until a degenerate cell appears.

    Guarded (the 100 TB path, mirrors ``minhash_candidate_pairs``'s
    ``max_bucket_size``): near-duplicate-heavy corpora — exactly
    SemDeDup's use case — produce mega-cells dominated by exact clones,
    recreating the O(m²) blowup the cells were meant to prevent. Two
    stages bound it:

    1. **Exact-clone collapse.** Group rows by a 128-bit content key
       over the embedding (two independent ``xxhash64`` passes —
       collision odds ~n²/2¹²⁹, ignorable at any corpus size) and emit
       STAR edges from each group's min id to its other members: m−1
       edges instead of C(m,2), and a byte-identical vector is a
       semantic duplicate by definition (cosine(v,v)=1 for any nonzero
       v; all-zero clones are likewise collapsed — documented deviation
       from the cosine≥t contract, which is undefined at ‖v‖=0). Only
       one representative per distinct vector proceeds to clustering,
       so clone mass also stops distorting the centroids.
    2. **Cell chunk-split.** Distinct vectors that STILL exceed
       ``max_cell_size`` in one cell (degenerate embedding space) are
       hash-split into ⌈m/max⌉ chunks, bounding the within-block join
       at ~m·max_cell_size pairs. Cross-chunk pairs inside such a cell
       are missed — the same bounded-cost/marginal-recall trade as the
       MinHash guard, mitigated by ``n_assign`` multi-probe redundancy.

    Returns distinct (id_a, id_b) with id_a < id_b."""
    if max_cell_size is None:
        cents = train_centroids(
            vectors, n_cells, vec_id, vec_col, n_iter, train_sample_mod
        )
        indexed = assign_cells(vectors, cents, vec_col, n_assign)
        pairs = embedding_near_dup_pairs(
            indexed, threshold, vec_id, vec_col, block_col="cell_id"
        )
        # multi-assign can surface the same pair from two shared cells
        return pairs.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])

    # -- stage 1: exact-clone collapse (shared core:
    # dedup.clone_representatives) -------------------------------------
    from pyspark_deduplication_spark.operators.dedup import (
        clone_representatives,
    )

    # The collapse window fans out into every downstream consumer (each
    # Lloyd round, the assignment, the pair join, the star edges) —
    # materialize it once, same rationale as the MinHash signature cache
    # (at cluster scale: a persisted intermediate table).
    # localCheckpoint (not persist+count): storage is released when the
    # plan is garbage-collected, so repeated calls in a long-lived
    # session (bench loops, incremental pipelines) don't accumulate
    # pinned cache partitions. Lazy (eager=False): the trainer's init
    # collect is the first action over ``reps`` and materializes the
    # checkpoint blocks as a side effect — one Spark action instead of
    # two (the CC-loop lesson; ~0.3s of fixed per-action cost at bench
    # SF).
    with_rep = clone_representatives(
        vectors.select(F.col(vec_id), F.col(vec_col)), vec_id, vec_col
    ).localCheckpoint(eager=False)
    star = with_rep.filter(F.col(vec_id) != F.col("__rep")).select(
        F.col("__rep").alias("id_a"), F.col(vec_id).alias("id_b")
    )
    reps = with_rep.filter(F.col(vec_id) == F.col("__rep")).select(
        F.col(vec_id), F.col(vec_col)
    )

    # -- stage 2: cluster the distinct vectors, chunk-split fat cells --
    cents = train_centroids(
        reps, n_cells, vec_id, vec_col, n_iter, train_sample_mod
    )
    indexed = assign_cells(reps, cents, vec_col, n_assign)
    wcell = Window.partitionBy("cell_id")
    chunked = (
        indexed.withColumn("__csz", F.count(F.lit(1)).over(wcell))
        .withColumn(
            "__nchunks",
            F.ceil(F.col("__csz") / F.lit(max_cell_size)).cast("long"),
        )
        .withColumn(
            "__block",
            F.xxhash64(
                F.col("cell_id"),
                F.pmod(F.xxhash64(F.col(vec_id)), F.col("__nchunks")),
            ),
        )
    )
    pairs = block_pairs_arrow(
        chunked, threshold, vec_id, vec_col, block_col="__block"
    )
    return (
        star.unionByName(pairs.select("id_a", "id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 4,
    n_assign: int = 1,
    train_sample_mod: int = 1,
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, find
    cosine-near-duplicate pairs WITHIN each learned cell, connect them
    transitively, and keep the minimum id per component. Returns
    (vec_id, component, keep) — ``keep`` marks each component's
    representative; filtering ``keep`` yields the deduplicated corpus.

    The learned cells bound the pair scan: O(Σ m_c²) over cell sizes
    instead of O(n²) — the entire point of the method at 100 TB, where
    whole-corpus pairing is impossible but per-cell blocks (~n/k rows)
    pair locally after one broadcast-assign pass. Recall contract:
    near-dup pairs split across cells are missed; ``n_assign > 1``
    (multi-probe assignment) trades index size for cross-border recall,
    exactly as in the paper's k-means-overlap variants.

    ``max_cell_size`` is the mega-cell skew guard (see
    ``semantic_dedup_edges``): exact clones collapse to star edges and
    oversized cells of distinct vectors chunk-split, so no block ever
    pairs more than ``max_cell_size`` rows. Clone-heavy corpora — the
    method's target — need it at scale.

    Dedup semantics follow the engine's CC policy (transitive closure,
    min-id representative — see ``linkage.connected_components``), so
    results compose with ``embedding_cluster_dedup``'s reporting."""
    from pyspark_deduplication_spark.operators.linkage import (
        transitive_clusters,
    )

    edges = semantic_dedup_edges(
        vectors, threshold, n_cells, vec_id, vec_col,
        n_iter, n_assign, train_sample_mod, max_cell_size,
    )
    clustered = transitive_clusters(
        vectors.select(vec_id), edges, vec_id)
    # min-label CC: the component label IS the minimum member id, so the
    # representative test is a pure projection — no extra shuffle
    return clustered.select(
        F.col(vec_id),
        F.col("component"),
        (F.col(vec_id) == F.col("component")).alias("keep"),
    )


def build_semantic_dedup_index(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 4,
    train_sample_mod: int = 1,
    max_cell_size: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(centroids, corpus_index) for ``incremental_semantic_dedup`` —
    the TRAIN-ONCE step a production pipeline persists (centroids as a
    tiny table, the index as parquet) and reuses on every ingest batch
    instead of re-deriving both from the 100 TB corpus each time; when
    a batch is appended, append its rows' index entries too (cell
    geometry stays fixed until a periodic re-train).

    The mega-cell guard stages live HERE, at index-build time: exact
    clones collapse to a min-id representative before anything else
    (lossless for the drop decision — see
    ``incremental_semantic_dedup_candidates``) and per-cell membership
    caps at a deterministic hash-ranked ``max_cell_size`` subset.
    Returns (centroids(cell_id, centroid),
    corpus_index(__cid, __cvec, cell_id))."""
    from pyspark_deduplication_spark.operators.dedup import (
        clone_representatives,
    )
    from pyspark_deduplication_spark.operators.sampling import cap_per_group

    reps = corpus.select(F.col(vec_id), F.col(vec_col))
    if max_cell_size is not None:
        # The clone-collapse window fans out into THREE consumers here
        # (the trainer's init aggregate, the Lloyd training stream's
        # persist, and the assignment scan building the index) — without
        # a checkpoint each one re-runs the scan + window exchange.
        # Lazy: the trainer's init collect is the first action and
        # stores the blocks as a side effect (the CC-loop lesson; same
        # shape as semantic_dedup_edges' batch-side collapse).
        reps = (
            clone_representatives(reps, vec_id, vec_col)
            .filter(F.col(vec_id) == F.col("__rep"))
            .select(F.col(vec_id), F.col(vec_col))
            .localCheckpoint(eager=False)
        )
    cents = train_centroids(
        reps, n_cells, vec_id, vec_col, n_iter, train_sample_mod
    )
    corpus_idx = assign_cells(reps, cents, vec_col, 1).select(
        F.col(vec_id).alias("__cid"), F.col(vec_col).alias("__cvec"),
        "cell_id",
    )
    if max_cell_size is not None:
        corpus_idx = corpus_idx.withColumn(
            "__ord", F.struct(F.xxhash64(F.col("__cid")), F.col("__cid")))
        corpus_idx = (
            cap_per_group(corpus_idx, "cell_id", "__ord", max_cell_size)
            .filter(F.col("__kept"))
            .drop("__ord", "__kept")
        )
    return cents, corpus_idx


def incremental_semantic_dedup_candidates(
    new_vectors: DataFrame,
    corpus: DataFrame,
    n_cells: int = 16,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 4,
    n_probe: int = 2,
    train_sample_mod: int = 1,
    max_cell_size: int | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """(batch × corpus) candidate rows for ``incremental_semantic_dedup``
    — factored out so tests can pin the candidate-count bound (the
    batch-twin precedent: ``semantic_dedup_edges``).

    Unguarded (``max_cell_size=None``): corpus rows index as-is; a
    clone-heavy corpus cell of m rows probed by b batch rows yields
    b·m candidates every batch, forever (VERDICT r5 weak #1).

    Guarded, two stages mirroring ``semantic_dedup_edges``:

    1. **Corpus exact-clone collapse.** Byte-identical corpus vectors
       (128-bit double-xxhash64 content key) collapse to their min-id
       representative BEFORE indexing: cosine(q, v) is identical for
       every clone of v, so matching the representative ⇔ matching all
       m clones — the index sheds clone mass losslessly, and centroids
       train on distinct vectors only (clone mass stops distorting the
       geometry, exactly as in the batch twin).
    2. **Per-cell candidate cap.** Distinct vectors that STILL exceed
       ``max_cell_size`` in one cell (degenerate embedding space) keep
       only a deterministic hash-ranked ``max_cell_size`` subset in the
       index, bounding the join at b·max_cell_size candidates per cell.
       A batch duplicate whose ONLY corpus partner was capped out
       survives erroneously — the same bounded-cost/marginal-recall
       trade as the MinHash ``max_bucket_size`` guard, mitigated by the
       clone collapse upstream (mega-cells are clone-dominated in the
       method's target workload) and by ``n_probe`` redundancy.

    ``index`` short-circuits the build: pass the persisted
    (centroids, corpus_index) pair from ``build_semantic_dedup_index``
    and the corpus argument is never touched — the production shape
    where cell geometry and the index live as tables.

    Returns (cell_id, __nid, __nvec, __cid, __cvec) candidate rows; a
    pair sharing several probed cells appears once per shared cell (the
    dedup happens AFTER scoring, on bare ids — see the caller)."""
    if index is not None:
        cents, corpus_idx = index
    else:
        cents, corpus_idx = build_semantic_dedup_index(
            corpus, n_cells, vec_id, vec_col, n_iter, train_sample_mod,
            max_cell_size,
        )
    batch_idx = assign_cells(
        new_vectors.select(F.col(vec_id), F.col(vec_col)), cents,
        vec_col, n_probe,
    ).select(
        F.col(vec_id).alias("__nid"), F.col(vec_col).alias("__nvec"),
        "cell_id",
    )
    return batch_idx.join(corpus_idx, "cell_id")


def incremental_semantic_dedup(
    new_vectors: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 4,
    n_probe: int = 2,
    train_sample_mod: int = 1,
    max_cell_size: int | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Semantic near-dup filter for a NEW embedding batch against an
    EXISTING corpus — the incremental twin of ``semantic_dedup``,
    mirroring ``incremental_minhash_dedup``: continuous-ingest
    pipelines must not re-pair 100 TB per batch.

    The corpus never self-joins and never re-pairs: centroids train on
    the corpus (in production: trained once, persisted — stable cell
    geometry across batches) and the corpus's single-cell assignment is
    its persisted index table, scanned once. The batch multi-probes its
    ``n_probe`` nearest cells (cross-border recall, exactly the
    paper's overlap trade) and equi-joins the index on ``cell_id``;
    candidates score with the Arrow-vectorized cosine. A batch row at
    or above ``threshold`` against ANY corpus row drops; survivors
    then dedup batch-internally with ``semantic_dedup``, so the
    returned frame is clean against corpus ∪ itself — append it and
    the invariant holds for the next batch.

    ``max_cell_size`` arms the mega-cell guard (corpus exact-clone
    collapse + per-cell candidate cap — see
    ``incremental_semantic_dedup_candidates``) and passes through to
    the batch-internal ``semantic_dedup``; without it a clone-heavy
    corpus cell re-pairs b·m candidates on EVERY ingest batch.
    ``index`` passes the persisted (centroids, corpus_index) pair from
    ``build_semantic_dedup_index`` so no corpus-sized work runs per
    batch at all — the production shape.

    Candidate pairs surfaced from two shared probed cells are scored
    per appearance and deduped only at the final id ``distinct()`` —
    deliberately: a ``dropDuplicates`` on the pair BEFORE scoring
    would shuffle both full embedding vectors, while re-scoring the
    (rare) double-probed pair costs one extra Arrow row and the
    post-filter distinct moves bare ids only.

    Returns the surviving rows of ``new_vectors`` (all columns)."""
    cand = incremental_semantic_dedup_candidates(
        new_vectors, corpus, n_cells, vec_id, vec_col,
        n_iter, n_probe, train_sample_mod, max_cell_size, index,
    )
    dup_ids = _semantic_hit_ids(cand, threshold, vec_id)
    fresh = new_vectors.join(dup_ids, vec_id, "left_anti")
    # lazy checkpoint: the batch-internal semantic_dedup's clone
    # collapse + trainer init is the first action over ``fresh`` and
    # materializes the blocks inside its own job — one action saved
    fresh = fresh.localCheckpoint(eager=False)
    keep = semantic_dedup(
        fresh, threshold, n_cells, vec_id, vec_col, n_iter, 1,
        train_sample_mod, max_cell_size,
    ).filter(F.col("keep")).select(vec_id)
    return fresh.join(keep, vec_id, "left_semi")


def _semantic_hit_ids(cand: DataFrame, threshold: float, vec_id: str):
    """Distinct batch ids whose candidate rows score cosine ≥ threshold
    — the shared score-then-slim tail of ``incremental_semantic_dedup``
    and ``semantic_decontaminate``: candidates score with the Arrow
    cosine per appearance, and only BARE ids shuffle afterwards."""
    from pyspark_deduplication_spark.functions.vectors import (
        cosine_similarity_pd,
    )

    return (
        cand.filter(
            cosine_similarity_pd(F.col("__nvec"), F.col("__cvec"))
            >= threshold)
        .select(F.col("__nid").alias(vec_id))
        .distinct()
    )


def semantic_decontaminate(
    batch: DataFrame,
    heldout: DataFrame,
    threshold: float = 0.95,
    n_cells: int = 16,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 4,
    n_probe: int = 2,
    train_sample_mod: int = 1,
    max_cell_size: int | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Embedding-space decontamination — the semantic leg of the
    decontamination family (exact grams: ``quality.decontaminate_exact``;
    Bloom grams: ``quality.bloom_decontaminate``; this: paraphrased /
    re-worded benchmark leakage that shares no n-gram). Flags every
    batch vector whose cosine to ANY held-out vector is ≥ ``threshold``.

    Plumbing is the incremental-SemDeDup candidate machinery verbatim:
    the HELD-OUT set plays the corpus role — ``index`` takes a persisted
    ``build_semantic_dedup_index(heldout)`` pair (built once per
    benchmark release, the train-once shape), the batch multi-probes
    ``n_probe`` cells, candidates score with the Arrow cosine, and ONLY
    bare ids shuffle after scoring. Approximate in the same direction
    as the underlying index: a contaminated vector whose match falls
    outside its probed cells (or was capped out) can slip through —
    raise ``n_probe`` for recall; the exact-gram leg stays the
    guaranteed-no-false-negative backstop.

    Returns batch rows (all columns) + ``contaminated`` (bool)."""
    from pyspark_deduplication_spark.operators.quality import flag_by_ids

    cand = incremental_semantic_dedup_candidates(
        batch, heldout, n_cells, vec_id, vec_col,
        n_iter, n_probe, train_sample_mod, max_cell_size, index,
    )
    return flag_by_ids(
        batch, _semantic_hit_ids(cand, threshold, vec_id), vec_id)


def hyperplane_lsh_buckets(
    vectors: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) LSH bucket per row.

    ``n_planes`` deterministic pseudo-random hyperplanes are generated
    driver-side from ``seed`` and embedded as literals in the plan (tiny:
    n_planes × dim floats). Bucket bit p = sign(v · plane_p); two vectors
    share a bucket with probability 1 - θ/π per bit. Entirely native
    expressions — zero shuffle, codegen-friendly, reproducible across
    runs and clusters.
    """
    import numpy as np

    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim))
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(float(x)) for x in planes[p]])
        d = dot(F.col(vec_col), plane)
        bucket = bucket + F.when(d > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return vectors.withColumn("lsh_bucket", bucket)


def lsh_near_dup_pairs(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.3,
    n_planes: int = 8,
    n_tables: int = 4,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs via multi-table hyperplane LSH —
    the 100 TB path (the exact variant pairs everything in a block).

    ``n_tables`` independent bucketings (different seeds); a pair is a
    candidate if it collides in ANY table. Candidates are verified with
    exact cosine ≥ threshold, so false positives cost compute, never
    correctness; recall grows with tables (measured in tests).
    """
    bucketed = vectors
    for t in range(n_tables):
        bucketed = hyperplane_lsh_buckets(
            bucketed, dim, n_planes, seed=42 + t, vec_col=vec_col
        ).withColumnRenamed("lsh_bucket", f"__b{t}")
    # The band self-join moves ONLY (id, table, bucket) — never the
    # vectors. At 100 TB of embeddings the exploded ×n_tables frame is
    # the widest shuffle in this pipeline; carrying the vector column
    # through it would multiply vector bytes by n_tables on both join
    # sides. Vectors are joined back for the surviving candidate ids
    # only (same pattern as dedup.minhash_candidate_pairs).
    slim = bucketed.select(
        F.col(vec_id),
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("table"), F.col(f"__b{t}").alias("bucket"))
            for t in range(n_tables)
        ])).alias("tb"),
    ).select(vec_id, "tb.table", "tb.bucket")

    a, b = slim.alias("a"), slim.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{vec_id}") < F.col(f"b.{vec_id}")),
        )
        .select(
            F.col(f"a.{vec_id}").alias("id_a"),
            F.col(f"b.{vec_id}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    va = vectors.select(F.col(vec_id).alias("id_a"),
                        F.col(vec_col).alias("vec_a"))
    vb = vectors.select(F.col(vec_id).alias("id_b"),
                        F.col(vec_col).alias("vec_b"))
    pairs = cand.join(va, "id_a").join(vb, "id_b")
    return pairs.select(
        "id_a", "id_b",
        cosine_similarity(F.col("vec_a"), F.col("vec_b")).alias("cosine_sim"),
    ).filter(F.col("cosine_sim") >= threshold)


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ t).

    With ``block_col`` the self-join is an equi-join on the block (e.g. a
    coarse IVF cell or label) — the scale path. Without it, a full
    O(n²) cross pair scan — exact but only for small/test n.
    """
    a = vectors.select(
        F.col(vec_id).alias("id_a"), F.col(vec_col).alias("vec_a"),
        *([F.col(block_col).alias("block_a")] if block_col else []),
    )
    b = vectors.select(
        F.col(vec_id).alias("id_b"), F.col(vec_col).alias("vec_b"),
        *([F.col(block_col).alias("block_b")] if block_col else []),
    )
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        cond = cond & (F.col("block_a") == F.col("block_b"))
    pairs = a.join(b, cond)
    out = pairs.select(
        "id_a",
        "id_b",
        cosine_similarity(F.col("vec_a"), F.col("vec_b")).alias("cosine_sim"),
    )
    return out.filter(F.col("cosine_sim") >= threshold)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------


def _subvec(vec_col: str, m: int, sub_dim: int):
    return F.slice(F.col(vec_col), m * sub_dim + 1, sub_dim)


def _collect_book(codebook: DataFrame) -> dict[tuple[int, int], list[float]]:
    """{(subspace, code): codeword} from a (subspace, code, codeword)
    frame — m·k rows of model state. AQE stays ON for this collect: it
    may also materialize upstream lazy checkpoints (data-sized at
    scale) — see train_centroids."""
    return {
        (int(r["subspace"]), int(r["code"])): [float(x) for x in r["codeword"]]
        for r in codebook.collect()
    }


def train_pq_codebook(
    vectors: DataFrame,
    dim: int,
    m_subspaces: int = 8,
    k_codes: int = 16,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 4,
    train_sample_mod: int = 1,
    init_book: dict | None = None,
) -> DataFrame:
    """PQ codebook: the vector space splits into ``m_subspaces``
    contiguous slices; each subspace gets ``k_codes`` codewords trained
    by per-subspace L2 k-means (Lloyd), initialized from deterministic
    hash-elected representative subvectors — ``n_iter=0`` reproduces the
    single-pass stand-in — or warm-started from ``init_book``. Returns
    (subspace, code, codeword) — ``m_subspaces * k_codes`` rows, always
    broadcastable.

    All subspaces train in ONE distributed pass per Lloyd round in
    ``_lloyd_rounds`` (``metric="l2"``, ties to the smaller code); its
    docstring describes the round's 100 TB shape, the 9dp sum rounding
    and ``train_sample_mod``. Empty codes keep their previous codeword.

    PQ compresses each vector to ``m_subspaces`` small ints (8 bytes at
    8×16) instead of ``dim`` floats (256 bytes at dim=64) — the memory
    step that makes billion-vector indexes fit a cluster (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI'11).
    """
    if dim % m_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by m={m_subspaces}")
    spark = vectors.sparkSession
    sub = dim // m_subspaces
    if init_book is not None:
        # warm start from a caller-provided {(subspace, code): codeword}
        # so Lloyd refines instead of re-electing hash representatives.
        # Validate shape up front: a wrong-k/wrong-dim book would
        # otherwise train silently with the wrong code set, or corrupt
        # distances deep inside zip_with (which truncates to the
        # shorter array) — review-caught.
        expect_keys = {(m, c) for m in range(m_subspaces)
                       for c in range(k_codes)}
        if set(init_book) != expect_keys:
            raise ValueError(
                f"train_pq_codebook: init_book keys do not cover "
                f"m={m_subspaces} × k={k_codes}")
        if any(len(v) != sub for v in init_book.values()):
            raise ValueError(
                f"train_pq_codebook: init_book codeword length != "
                f"sub_dim {sub}")
        book: dict[tuple[int, int], list[float]] = {
            k: [float(x) for x in v] for k, v in init_book.items()}
    else:
        parts = []
        for m in range(m_subspaces):
            # min_by election instead of a row_number window — same
            # representative (min id per code), map-side combinable
            parts.append(
                vectors.select(
                    F.col(vec_id),
                    _subvec(vec_col, m, sub).alias("codeword"),
                    F.pmod(F.xxhash64(F.lit(m), F.col(vec_id)),
                           F.lit(k_codes)).alias("__code"),
                )
                .groupBy("__code")
                .agg(F.min_by(F.col("codeword"), F.col(vec_id))
                     .alias("codeword"))
                .select(F.lit(m).alias("subspace"),
                        F.col("__code").alias("code"), "codeword")
            )
        init = parts[0]
        for p in parts[1:]:
            init = init.unionAll(p)
        if n_iter <= 0:
            return init
        book = _collect_book(init)
    book = _lloyd_rounds(vectors, book, vec_id, vec_col, n_iter,
                         train_sample_mod, "l2")
    return spark.createDataFrame(
        [(m, c, w) for (m, c), w in sorted(book.items())],
        "subspace int, code long, codeword array<double>",
    )


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    dim: int,
    m_subspaces: int = 8,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Quantize every vector to its per-subspace nearest codeword
    (L2 on the slice). Returns (id, *carry_cols, codes array<int>) —
    the compact index representation. The codebook broadcasts; the big
    side is scanned once; no wide shuffle (the groupBy that
    re-assembles the codes array moves ``m_subspaces`` ints per
    vector). ``carry_cols`` ride along through the groupBy (they must
    be functionally dependent on ``vec_id`` — e.g. the IVF ``cell_id``)
    so composite indexes need no corpus-×-corpus re-join afterwards."""
    carry = list(carry_cols or [])
    sub = dim // m_subspaces
    exploded = vectors.select(
        F.col(vec_id),
        *[F.col(c) for c in carry],
        F.posexplode(
            F.array(*[_subvec(vec_col, m, sub) for m in range(m_subspaces)])
        ).alias("subspace", "__sv"),
    )
    dist2 = F.aggregate(
        F.zip_with(F.col("__sv"), F.col("codeword"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy(vec_id, "subspace").orderBy(
        F.col("__d2").asc(), F.col("code").asc())
    best = (
        exploded.join(F.broadcast(codebook), "subspace")
        .withColumn("__d2", dist2)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return (
        best.groupBy(vec_id, *carry)
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("subspace", "code"))),
            lambda s: s["code"],
        ).alias("codes"))
    )


def pq_knn(
    encoded: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    dim: int,
    k: int = 10,
    vec_id: str = "vec_id",
    query_id: str = "query_id",
    query_col: str = "embedding",
    m_subspaces: int = 8,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query stays exact,
    the corpus is its codes. score(q, x) ≈ Σ_m dot(q_m, codeword(m,
    code_m)) — the exact dot of q with x's reconstruction, computed by
    table lookup.

    Plan shape for 100 TB: the per-query lookup table (queries ×
    codebook, both tiny) broadcasts; codes explode to (id, m, code) and
    equi-join the table — the only data that ever moves for a search is
    ``m_subspaces`` ints per corpus vector plus partial sums. The full
    float vectors are never read, which is the point of PQ.
    """
    sub = dim // m_subspaces
    qsub = queries.select(
        F.col(query_id).alias("__qid"),
        F.posexplode(
            F.array(*[F.slice(F.col(query_col), m * sub + 1, sub)
                      for m in range(m_subspaces)])
        ).alias("subspace", "__qsv"),
    )
    table = (
        qsub.join(F.broadcast(codebook), "subspace")
        .select(
            "__qid", "subspace", "code",
            F.aggregate(
                F.zip_with(F.col("__qsv"), F.col("codeword"),
                           lambda a, b: a * b),
                F.lit(0.0), lambda acc, x: acc + x,
            ).alias("__part"),
        )
    )
    code_rows = encoded.select(
        F.col(vec_id),
        F.posexplode(F.col("codes")).alias("subspace", "code"),
    )
    scored = (
        code_rows.join(F.broadcast(table), ["subspace", "code"])
        .groupBy("__qid", vec_id)
        .agg(F.sum("__part").alias("score"))
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("score").desc(), F.col(vec_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("__qid").alias(query_id),
                F.col(vec_id).alias("neighbor_id"), "score", "rank")
    )


def build_ivfpq_index(
    vectors: DataFrame,
    dim: int,
    n_cells: int = 16,
    m_subspaces: int = 8,
    k_codes: int = 16,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 4,
    train_sample_mod: int = 1,
    residual: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(centroids, codebook, codes) for ``ivfpq_knn(index=...)`` — the
    TRAIN-ONCE step of the billion-scale ANN shape (FAISS persists
    exactly these three artifacts): coarse centroids and the PQ
    codebook are tiny model tables; ``codes`` is the (id, cell_id,
    codes) table at ~m bytes per vector — the piece that makes the
    index fit memory at 100 TB. Query batches probe via
    ``ivfpq_knn(index=...)`` without re-training or re-encoding;
    append a new batch's codes to stay current (cell geometry and
    codebook fixed until a periodic re-train). ``residual`` must match
    between build and search (it changes what the codes encode)."""
    # Cosine metric ⇒ index UNIT vectors (standard practice for
    # IP/cosine PQ): dot(q, x̂) is then ∝ cosine within a query, so the
    # ADC shortlist ranks by the same metric the rerank and the truth
    # use. Zero-norm vectors index as-is (they score 0 everywhere).
    # The exact rerank still reads the ORIGINAL vectors.
    nrm = l2_norm(F.col(vec_col))
    unit_vecs = vectors.select(
        F.col(vec_id),
        F.when(nrm > 0, F.transform(F.col(vec_col).cast("array<double>"),
                                    lambda x: x / nrm))
        .otherwise(F.col(vec_col).cast("array<double>")).alias(vec_col),
    )
    # MATERIALIZE the normalization at scale (r11): the transform chain
    # is an interpreted higher-order expression, and Catalyst's
    # projection collapse inlines it into every downstream consumer —
    # jstack at sf1 showed the pq_encode distance predicate re-running
    # CaseWhen(ArrayTransform(Divide)) per (vector, subspace, codeword)
    # row, i.e. m·k normalizations per vector instead of one. A
    # size-conditional exchange (same rule as the Lloyd spread) cuts
    # the chain and buys parallelism; below the threshold the old
    # single-pass plan stands.
    unit_vecs = _spread_for_lloyd(unit_vecs)
    cents = train_centroids(
        unit_vecs, n_cells, vec_id, vec_col, n_iter, train_sample_mod
    )
    indexed = assign_cells(unit_vecs, cents, vec_col, 1)
    if residual:
        # v − centroid(cell): centroids broadcast, map-only transform
        indexed = indexed.join(F.broadcast(cents), "cell_id").select(
            F.col(vec_id), F.col("cell_id"),
            F.zip_with(F.col(vec_col).cast("array<double>"),
                       F.col("centroid"),
                       lambda a, b: a - b).alias(vec_col),
        )
        # same collapse hazard for the residual zip_with feeding the
        # encode explode
        indexed = _spread_for_lloyd(indexed)
    cb = train_pq_codebook(
        indexed, dim, m_subspaces, k_codes, vec_id, vec_col,
        n_iter, train_sample_mod,
    )
    # cell_id rides through the encode groupBy (functionally dependent
    # on vec_id) — a corpus-×-corpus (assignments ⋈ codes) re-join
    # would be a second full shuffle of the index build
    codes = pq_encode(indexed, cb, dim, m_subspaces, vec_id, vec_col,
                      carry_cols=["cell_id"])
    return cents, cb, codes


def ivfpq_knn(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    m_subspaces: int = 8,
    k_codes: int = 16,
    rerank: int = 50,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_col: str = "embedding",
    n_iter: int = 4,
    train_sample_mod: int = 1,
    residual: bool = False,
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF×PQ composition — the standard billion-scale ANN shape
    (Jégou et al. TPAMI'11, the FAISS ``IVFx,PQy`` index): coarse IVF
    cells prune the corpus, PQ asymmetric-distance scores the surviving
    candidates FROM CODES (``m_subspaces`` table lookups per candidate
    instead of ``dim`` float multiplies), and the top-``rerank``
    shortlist per query re-scores exactly before the final top-k.

    ``residual=True`` is the full IVFADC refinement (the paper's §V):
    PQ encodes ``v − centroid(cell(v))`` instead of ``v``. Residuals
    concentrate around the origin with far smaller variance than raw
    vectors, so the same ``m×k`` codebook budget quantizes them more
    finely and the ADC shortlist ranks better — measured in tests as a
    strict recall win at identical settings. ADC then scores
    ``dot(q, c_cell) + Σ_m dot(q_m, r̂_m)`` — the per-(query, probed
    cell) constant rides on the probe rows, everything else is
    unchanged table lookups.

    Why compose: at equal SCORED-FLOAT cost, PQ's ~dim/m cheapness buys
    proportionally more probed cells, and probe count — not per-cell
    scoring fidelity — is what recall is starved by near cell borders
    (measured in tests: IVFPQ at n_probe=4 beats exact IVF at
    n_probe=2). The exact rerank erases PQ's quantization error for
    everything that reaches the shortlist.

    100 TB plan shape: the index is (id, cell_id, codes) — 8-ish bytes
    of codes per vector, the memory step that fits a cluster; the full
    float vectors are read ONLY in the final rerank scan, where the
    (queries × rerank)-row shortlist broadcasts against the corpus (no
    corpus shuffle anywhere: centroids, codebook, ADC tables and
    shortlists are all broadcast model state).

    Returns (query_id, neighbor_id, score, rank) — exact cosine on the
    reranked survivors, same schema as ``ivf_knn``.

    ``index`` short-circuits the build with a persisted
    (centroids, codebook, codes) triple from ``build_ivfpq_index``
    (built with the same ``residual`` flag). ``vectors`` is then read
    ONLY by the final exact rerank — the full-vector corpus table the
    production layout keeps alongside the codes."""
    if index is not None:
        cents, cb, codes = index
    else:
        cents, cb, codes = build_ivfpq_index(
            vectors, dim, n_cells, m_subspaces, k_codes, vec_id, vec_col,
            n_iter, train_sample_mod, residual,
        )

    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(query_col).alias("__qvec")
    )
    # probe assignment via the shared literal-argmax path (no window
    # exchange); residual mode joins the broadcast centroids back only
    # to compute the per-(query, cell) dot(q, c_cell) ADC constant
    probed = assign_cells(q, cents, "__qvec", n_probe)
    if residual:
        probes = probed.join(F.broadcast(cents), "cell_id").select(
            "__qid", "cell_id",
            dot(F.col("__qvec"), F.col("centroid")).alias("__qc"),
        )
    else:
        probes = probed.select(
            "__qid", "cell_id", F.lit(0.0).alias("__qc"))

    # per-(query, subspace, code) partial dot — the ADC lookup table
    sub = dim // m_subspaces
    qsub = q.select(
        "__qid",
        F.posexplode(
            F.array(*[F.slice(F.col("__qvec"), m * sub + 1, sub)
                      for m in range(m_subspaces)])
        ).alias("subspace", "__qsv"),
    )
    table = (
        qsub.join(F.broadcast(cb), "subspace")
        .select(
            "__qid", "subspace", "code",
            F.aggregate(
                F.zip_with(F.col("__qsv"), F.col("codeword"),
                           lambda a, b: a * b),
                F.lit(0.0), lambda acc, x: acc + x,
            ).alias("__part"),
        )
    )

    cand = (
        codes.join(F.broadcast(probes), "cell_id")
        .filter(F.col(vec_id) != F.col("__qid"))
        .select("__qid", vec_id, "__qc",
                F.posexplode("codes").alias("subspace", "code"))
    )
    adc = (
        cand.join(F.broadcast(table), ["__qid", "subspace", "code"])
        # __qc is constant per (query, vector): single-assign means a
        # vector lives in exactly one probed cell
        .groupBy("__qid", vec_id, "__qc")
        .agg(F.sum("__part").alias("__dot"))
        .select("__qid", vec_id,
                (F.col("__qc") + F.col("__dot")).alias("__adc"))
    )
    wr = Window.partitionBy("__qid").orderBy(
        F.col("__adc").desc(), F.col(vec_id).asc())
    shortlist = (
        adc.withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") <= rerank)
        .select("__qid", vec_id)
    )

    # exact rerank: shortlist broadcasts against the corpus scan
    exact = (
        vectors.select(F.col(vec_id), F.col(vec_col))
        .join(F.broadcast(shortlist), vec_id)
        .join(F.broadcast(q), "__qid")
        .select(
            F.col("__qid").alias(query_id),
            F.col(vec_id).alias("neighbor_id"),
            cosine_similarity(F.col(vec_col), F.col("__qvec")).alias("score"),
        )
    )
    wk = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        exact.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
    )


def train_pca(
    vectors: DataFrame,
    vec_col: str = "embedding",
    n_components: int = 8,
):
    """One-pass distributed PCA — the OPQ-style preprocessing step a
    vector pipeline runs before coarse quantization (rotate/reduce so
    IVF cells and PQ subspaces see decorrelated coordinates), and the
    standard embedding-drift / intrinsic-dimension diagnostic.

    Model-state shape (the ``train_bpe_merges`` / Gram-trainer
    pattern): the corpus is touched EXACTLY ONCE — an Arrow
    ``mapInPandas`` kernel reduces each partition to (n, Σx, XᵀX), a
    d + d² float payload independent of partition row count — and the
    driver sums the ≤ n_partitions stat rows, forms the covariance,
    and eigendecomposes a d×d matrix (d-bounded model state; LAPACK
    ``eigh``). Nothing corpus-sized ever shuffles; d ≲ a few thousand
    is the documented regime (d² floats per partition).

    Returns ``(mean, components, explained_ratio)``: ``mean`` is the
    length-d column mean; ``components`` the top ``n_components`` unit
    eigenvectors (rows, eigenvalue-descending, sign-normalized so each
    row's largest-|entry| coordinate is positive — eigenvector sign is
    otherwise arbitrary); ``explained_ratio`` their eigenvalue shares
    of total variance. Floating-point partial sums make the last
    digits partition-order-sensitive — agreement to ~1e-9, pinned at
    1e-6 in tests; rows-only in the catalog by design.

    Feed ``components`` to ``project_pca`` for the zero-shuffle
    projection."""
    try:
        return pca_from_stats(pca_stats(vectors, vec_col), n_components)
    except ValueError as e:
        if "empty input" in str(e):
            raise ValueError("train_pca: empty input") from e
        raise


def pca_stats(
    vectors: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """The PCA family's PERSIST-ONCE artifact: reduce the corpus to its
    sufficient statistics (n, Σx, XᵀX) as a ONE-ROW frame — write it
    next to the other train-once indexes (MinHash signatures, SemDeDup
    cells, decontamination grams) and the PCA/OPQ preprocessing never
    re-reads history: an ingest batch's stats MERGE exactly
    (``merge_pca_stats`` — sums of sums), and ``pca_from_stats``
    re-derives the model from the standing row in O(d²) driver work.
    Exactness is structural, not approximate: stats of a union ARE the
    elementwise sums, so incremental == retrain-on-union up to float
    summation order (pinned at 1e-9 in ``test_knn.py``)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n, sx, g = 0, None, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            n += X.shape[0]
            sx = X.sum(axis=0) if sx is None else sx + X.sum(axis=0)
            gg = X.T @ X
            g = gg if g is None else g + gg
        if n:
            yield pd.DataFrame(
                {"n": [n], "sx": [sx.tolist()], "g": [g.ravel().tolist()]})

    parts = (
        vectors.select(F.col(vec_col))
        .mapInPandas(stats, "n long, sx array<double>, g array<double>")
        .collect()
    )
    if not parts:
        raise ValueError("pca_stats: empty input")
    n = sum(r["n"] for r in parts)
    sx = np.sum([np.asarray(r["sx"]) for r in parts], axis=0)
    g = np.sum([np.asarray(r["g"]) for r in parts], axis=0)
    return vectors.sparkSession.createDataFrame(
        [(int(n), [float(x) for x in sx], [float(x) for x in g])],
        "n long, sx array<double>, g array<double>")


def merge_pca_stats(*stats: DataFrame) -> DataFrame:
    """Merge persisted PCA stats rows (standing corpus + new batches):
    elementwise sums, computed driver-side — each frame is d + d² + 1
    scalars of MODEL STATE, so collecting them is the same discipline
    as ``train_centroids``' per-round aggregate, not a data-path
    collect. Exact and order-independent up to float summation."""
    import numpy as np

    if not stats:
        raise ValueError("merge_pca_stats: no stats frames given")
    rows = [r for s in stats for r in s.collect()]
    if not rows:
        raise ValueError("merge_pca_stats: empty input (no stats rows)")
    n = sum(int(r["n"]) for r in rows)
    sx = np.sum([np.asarray(r["sx"], dtype=np.float64) for r in rows],
                axis=0)
    g = np.sum([np.asarray(r["g"], dtype=np.float64) for r in rows],
               axis=0)
    return stats[0].sparkSession.createDataFrame(
        [(int(n), [float(x) for x in sx], [float(x) for x in g])],
        "n long, sx array<double>, g array<double>")


def pca_from_stats(stats: DataFrame, n_components: int = 8):
    """Derive the (mean, components, explained_ratio) model from a
    stats row — ``train_pca``'s tail, factored so persisted/merged
    stats skip the corpus pass entirely. Enforces the documented
    ONE-ROW contract: a multi-row frame (e.g. the epoch-partitioned
    table ``streaming_pca_stats_ingest`` writes, read WITHOUT
    filtering to the latest epoch) would otherwise silently derive the
    model from an arbitrary row (review-caught)."""
    import numpy as np

    rows = stats.collect()              # model state
    if not rows:
        raise ValueError("pca_from_stats: empty input")
    if len(rows) != 1:
        raise ValueError(
            f"pca_from_stats: expected exactly one stats row, got "
            f"{len(rows)} — reading the epoch-partitioned ingest table? "
            "filter to the latest epoch (or merge_pca_stats) first")
    row = rows[0]
    n = int(row["n"])
    sx = np.asarray(row["sx"], dtype=np.float64)
    d = sx.shape[0]
    g = np.asarray(row["g"], dtype=np.float64).reshape(d, d)
    mean = sx / n
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)          # ascending
    order = np.argsort(evals)[::-1][:n_components]
    comps = []
    ratios = []
    total = float(np.clip(evals.sum(), 1e-300, None))
    for idx in order:
        v = evecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:    # sign convention
            v = -v
        comps.append([float(x) for x in v])
        ratios.append(float(max(evals[idx], 0.0) / total))
    return [float(x) for x in mean], comps, ratios


def project_pca(
    df: DataFrame,
    model,
    vec_col: str = "embedding",
    out_col: str = "pca",
    unroll_threshold: int = 512,
) -> DataFrame:
    """Project vectors onto a trained PCA basis — out[i] =
    Σ_j (x_j − mean_j)·W_ij, built as a per-row LITERAL expression
    over the broadcast-free model constants (the ``_nearest_cell_expr``
    discipline: model state enters the plan as literals, the corpus
    never shuffles, whole-stage codegen keeps it JVM-side). Appends
    ``out_col`` as array<double> of length n_components.

    Two spellings of the same arithmetic: small models unroll into
    scalar multiply-adds (widest codegen span); past 512 weight terms
    the unrolled Java method body outgrows the JVM's 64 KB limit
    (codegen fallback + constant-folding heap blowup observed at
    16×64), so wide models switch to a literal weight MATRIX walked by
    ``transform``/``zip_with``/``aggregate`` — a runtime loop in one
    compact expression, still JVM-side, with the mean folded into a
    per-component bias (out_i = Σ_j x_j·W_ij − mean·W_i).

    ``unroll_threshold=0`` forces the matrix spelling: callers that
    re-plan the projection with FRESH weights many times per query
    (train_opq's per-round rotation) pay Catalyst analysis + codegen
    on the unrolled tree on every plan — measured +3 s per
    ``opq_distortion_report`` run at 16×16 — while the matrix walk
    keeps the tree three nodes wide no matter the model size."""
    mean, comps, _ = model
    if len(comps) * len(mean) <= unroll_threshold:
        outs = []
        for row in comps:
            term = None
            for j, (m, w) in enumerate(zip(mean, row)):
                if w == 0.0:
                    continue
                t = (F.element_at(F.col(vec_col), j + 1).cast("double")
                     - F.lit(float(m))) * F.lit(float(w))
                term = t if term is None else term + t
            outs.append(term if term is not None else F.lit(0.0))
        return df.withColumn(out_col, F.array(*outs))
    w_lit = F.array(*[
        F.array(*[F.lit(float(w)) for w in row]) for row in comps])
    b_lit = F.array(*[
        F.lit(float(sum(m * w for m, w in zip(mean, row))))
        for row in comps])
    xd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    proj = F.transform(
        w_lit,
        lambda row, i: F.aggregate(
            F.zip_with(xd, row, lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x,
        ) - F.element_at(b_lit, i + 1),
    )
    return df.withColumn(out_col, proj)


def opq_reorder(model, m_subspaces: int):
    """Parametric-OPQ dimension allocation (Ge et al. 2013, "Optimized
    Product Quantization", §parametric solution): reorder a trained PCA
    basis so the ``m_subspaces`` contiguous slices PQ will cut carry
    BALANCED variance — greedy: walk components by explained variance
    descending, assign each to the subspace with the smallest current
    log-variance sum AMONG the subspaces holding the fewest components
    so far (capacity d/m each). The minimum-count restriction is
    load-bearing: log-sum comparisons are scale-invariant only between
    bins with EQUAL counts (rescaling all variances by c shifts a
    count-n bin by n·log c) — the unrestricted greedy applied to
    normalized ratios (< 1, negative logs) keeps refilling the same
    bin and degenerates to the identity permutation, i.e. exactly the
    eigenvalue-sorted anti-pattern this function exists to avoid
    (caught by the distortion test).

    Why not plain PCA order: contiguous slicing of an
    eigenvalue-sorted basis concentrates the leading eigenvalues into
    subspace 0, which must then quantize ALL the signal with one
    codebook while the other subspaces quantize noise — measurably
    WORSE than raw-space PQ (pinned in
    ``test_pca_rotation_improves_pq_recall``'s raw-vs-plain
    comparison). Balancing gives each codebook one share of the
    spectrum — the independent-quantizer regime PQ's error analysis
    assumes.

    Input/output are ``train_pca`` models (mean, components,
    explained_ratio); feed the result to ``project_pca`` and run
    ``train_pq_codebook`` / ``pq_encode`` / ``pq_knn`` on the
    projected column. The component count must be divisible by
    ``m_subspaces``."""
    import math as _math

    mean, comps, ratios = model
    d = len(comps)
    if d % m_subspaces != 0:
        raise ValueError(
            f"opq_reorder: {d} components not divisible by "
            f"m={m_subspaces}")
    cap = d // m_subspaces
    order = sorted(range(d), key=lambda i: (-ratios[i], i))
    bins: list[list[int]] = [[] for _ in range(m_subspaces)]
    sums = [0.0] * m_subspaces
    for idx in order:
        open_bins = [b for b in range(m_subspaces) if len(bins[b]) < cap]
        min_count = min(len(bins[b]) for b in open_bins)
        eligible = [b for b in open_bins if len(bins[b]) == min_count]
        b = min(eligible, key=lambda x: (sums[x], x))
        bins[b].append(idx)
        sums[b] += _math.log(max(ratios[idx], 1e-12))
    perm = [i for b in bins for i in b]
    return (mean,
            [comps[i] for i in perm],
            [ratios[i] for i in perm])


def _opq_procrustes_stats(
    vectors: DataFrame,
    vec_col: str,
    mean,
    base,
    rot,
    books,
):
    """One corpus pass of the learned-OPQ loop: per partition, center
    the raw vectors (A = X − mean), project onto the FIXED base
    (A′ = A·Bᵀ — the init rotation, possibly dimension-reducing), apply
    the learned SQUARE rotation (Z = A′·Rᵀ), quantize each contiguous
    subspace slice of Z against its codebook (argmin-L2), and reduce to
    the d_out×d_out correlation M = Σ a′ᵀ·ŷ plus the total quantization
    error — the sufficient statistics of the orthogonal-Procrustes
    update. The base/square split is load-bearing for exactness
    (review-caught): for square R, ‖R·a′‖ = ‖a′‖, so minimizing
    Σ‖R·a′ − ŷ‖² reduces to maximizing tr(R·M) and the SVD solution
    R = V·Uᵀ is the EXACT minimizer; a rectangular W updated the same
    way ignores the W-dependent tr(W·S·Wᵀ) energy term (unbalanced
    Procrustes — no closed form), which is what Ge et al. 2013 avoid
    by reducing with PCA FIRST and rotating square in the reduced
    space. Model-state shape: payload is d_out² + 2 floats per
    partition, independent of row count; the corpus never shuffles.
    Returns (M, err, n) summed on the driver."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    mu = np.asarray(mean, dtype=np.float64)
    B = np.asarray(base, dtype=np.float64)         # d_out × d_in rows
    R = np.asarray(rot, dtype=np.float64)          # d_out × d_out
    d_out = B.shape[0]
    sub = d_out // len(books)
    cw = [np.asarray(b, dtype=np.float64) for b in books]   # m × (k×sub)

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        M, err, n = np.zeros((d_out, d_out)), 0.0, 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            Ap = (X - mu) @ B.T
            Z = Ap @ R.T
            Y = np.empty_like(Z)
            for s, C in enumerate(cw):
                Zs = Z[:, s * sub:(s + 1) * sub]
                d2 = ((Zs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                Y[:, s * sub:(s + 1) * sub] = C[np.argmin(d2, axis=1)]
            M += Ap.T @ Y
            err += float(((Z - Y) ** 2).sum())
            n += X.shape[0]
        if n:
            yield pd.DataFrame(
                {"m": [M.ravel().tolist()], "err": [err], "n": [n]})

    parts = (
        vectors.select(F.col(vec_col))
        .mapInPandas(stats, "m array<double>, err double, n long")
        .collect()
    )
    if not parts:
        raise ValueError("train_opq: empty input")
    M = np.sum([np.asarray(r["m"]).reshape(d_out, d_out) for r in parts],
               axis=0)
    return (M,
            float(sum(r["err"] for r in parts)),
            int(sum(r["n"] for r in parts)))


def train_opq(
    vectors: DataFrame,
    dim: int,
    m_subspaces: int = 4,
    k_codes: int = 16,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n_components: int | None = None,
    n_rounds: int = 3,
    pq_iter: int = 2,
    init: str = "pca",
):
    """Learned (non-parametric) OPQ — Ge et al. 2013 §non-parametric
    solution, the iterative upgrade of ``opq_reorder``'s one-shot
    eigenvalue allocation: alternate (a) train PQ codebooks in the
    current rotated space (the PQ Lloyd of ``train_pq_codebook``,
    hash-seeded on the first pass) and (b) re-solve the rotation as an
    orthogonal Procrustes problem against the codebooks'
    reconstructions. The learned parameter is a
    SQUARE d_out×d_out rotation R applied AFTER the fixed init
    projection B (the paper's own composition — PCA-reduce first,
    rotate square in the reduced space): for square R,
    ‖R·a′‖ = ‖a′‖, so min_R Σ‖R·a′ − ŷ‖² is solved EXACTLY by the
    SVD of M = Σ a′·ŷᵀ (R = V·Uᵀ) — each round's rotation step
    cannot increase distortion against the current quantizer. (A
    rectangular W updated the same way would be the unbalanced
    Procrustes problem with no closed form — review-caught; the
    composed model rows R·B stay row-orthonormal either way.)

    Distributed shape per round: one codebook train (its own bounded
    Lloyd passes) + ONE Procrustes stats pass reducing partitions to
    d_out² floats; the driver SVDs a d-bounded matrix. Nothing
    corpus-sized shuffles or collects.

    ``n_components < dim`` reduces dimension via the init projection
    (B is the eigenvalue-balanced PCA basis) with the square rotation
    learned in the reduced space; ``init="pca"`` seeds from the
    balanced parametric model (recommended), ``init="identity"`` from
    the raw axes (requires ``n_components == dim``).

    Returns ``(model, codebook, history)``: ``model`` is a
    ``train_pca``-shaped tuple (mean, R·B rows, ratios — ratios
    carried from the init for tuple compatibility, not meaningful
    after learned updates) ready for ``project_pca``; ``codebook`` a
    (subspace, code, codeword) frame matching the returned rotation
    (feed both to ``pq_encode``/``pq_knn``/``ivfpq_knn`` on the
    projected column); ``history`` the per-state mean quantization
    error (init state first, final rotation+codebook last). Both
    alternation steps are non-increasing — the rotation update is the
    exact Procrustes minimizer and codebooks WARM-START from the
    previous round's book, so history is monotone up to the Lloyd 9dp
    sum rounding (pinned). The returned
    (model, codebook) is still the BEST MEASURED state (belt and
    braces for that rounding edge): its distortion is
    ``min(history)``, never worse than the parametric init at
    ``history[0]``. Float partial sums keep this rows-only (catalog:
    ``opq_distortion_report``); contracts pinned in ``test_knn.py``."""
    import numpy as np

    d_out = n_components or dim
    if d_out % m_subspaces != 0:
        raise ValueError(
            f"train_opq: {d_out} components not divisible by "
            f"m={m_subspaces}")
    if init == "pca":
        model0 = opq_reorder(
            train_pca(vectors, vec_col, n_components=d_out), m_subspaces)
        mean, base, ratios = model0
    elif init == "identity":
        if d_out != dim:
            raise ValueError("train_opq: identity init requires "
                             "n_components == dim")
        mean_row = vectors.select(F.array(*[
            F.avg(F.element_at(F.col(vec_col), i + 1).cast("double"))
            for i in range(dim)
        ]).alias("mu")).collect()[0]["mu"]
        mean = [float(x) for x in mean_row]
        base = np.eye(dim).tolist()
        ratios = [1.0 / dim] * dim
    else:
        raise ValueError(f"train_opq: unknown init {init!r}")

    sel = vectors.select(F.col(vec_id), F.col(vec_col))
    # The reduced-space projection a′ = B(x − μ) is ROUND-INVARIANT (B
    # and μ never change; only the square R does), so it is computed
    # ONCE and cached: every Lloyd pass and every Procrustes stats
    # pass of every round then reads the d_out-wide cached frame and
    # applies only the cheap d_out×d_out rotation, instead of
    # re-scanning the raw corpus and redoing the d_in×d_out projection
    # per pass (VERDICT r11 item 7 — the report's cost was
    # trainer-JOB-bound). The stats kernel is reused unchanged via the
    # identity spelling: over a0, mean=0 and base=I make Ap = a0
    # exactly. (The projection now sums in expression order rather
    # than numpy's — a last-ulp reassociation the Lloyd 9dp rounding
    # and the keep-best return already absorb.)
    # lazy checkpoint: round 1's codebook-init collect is the first
    # action over a0 and materializes the projection blocks inside its
    # own job — one action saved vs the former eager materialization
    a0 = (project_pca(sel, (mean, base, ratios), vec_col, "__a0")
          .select(F.col(vec_id), F.col("__a0"))
          .localCheckpoint(eager=False))
    zero_mu = [0.0] * d_out
    eye_base = np.eye(d_out).tolist()
    history: list[float] = []
    R = np.eye(d_out)

    def composed_rows():
        return [[float(x) for x in row]
                for row in (R @ np.asarray(base, dtype=np.float64))]

    def to_books(book):
        # {(subspace, code): codeword} → per-subspace codeword lists,
        # code-ascending
        books = []
        for s in range(m_subspaces):
            codes = sorted(
                (c, w) for (s2, c), w in book.items() if s2 == s)
            books.append([w for _, w in codes])
        return books

    best = None                         # (err, R, books)
    book = None                         # warm start across passes
    # n_rounds alternations, then one last codebook + distortion pass in
    # the final rotation (no rotation update after it)
    for r in range(n_rounds + 1):
        proj = project_pca(
            a0, (zero_mu, R.tolist(), ratios), "__a0", "__opq",
            unroll_threshold=0)
        if book is None:
            book = _collect_book(train_pq_codebook(
                proj, dim=d_out, m_subspaces=m_subspaces, k_codes=k_codes,
                vec_id=vec_id, vec_col="__opq", n_iter=0))
        book = _lloyd_rounds(proj, book, vec_id, "__opq", pq_iter, 1, "l2")
        books = to_books(book)
        M, err, n = _opq_procrustes_stats(
            a0, "__a0", zero_mu, eye_base, R.tolist(), books)
        history.append(err / n / d_out)
        if best is None or history[-1] < best[0]:
            best = (history[-1], R.copy(), books)
        if r < n_rounds:
            U, _, Vh = np.linalg.svd(M, full_matrices=False)
            R = Vh.T @ U.T              # exact square-Procrustes update
    # keep-best: with warm-started codebooks both alternation steps
    # are non-increasing, but the Lloyd update rounds per-position
    # sums to 9dp, so a boundary-adjacent state can in principle
    # measure a hair worse. Return the best MEASURED (rotation,
    # codebook) pair — the returned model's distortion is
    # min(history), never worse than the parametric init (history[0]).
    _, R, books = best
    spark = vectors.sparkSession
    codebook = spark.createDataFrame(
        [(s, c, w) for s, rows_ in enumerate(books)
         for c, w in enumerate(rows_)],
        "subspace int, code long, codeword array<double>")
    return (mean, composed_rows(), ratios), codebook, history
