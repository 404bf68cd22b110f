"""Fused lexical + semantic deduplication (batch and incremental).

The production composition a training pipeline actually runs: near-verbatim
copies (lexical signal — MinHash/LSH over shingle sets) AND paraphrased
re-encodings (semantic signal — cosine over embeddings) must BOTH collapse,
and they must collapse TOGETHER: a doc lexically tied to one neighbor and
semantically tied to another pulls all three into one component — the
transitive closure ACROSS signal types that running the two dedups
independently cannot produce (the batch query ``queries.fused_dedup_docs``
pins this coarsening property against a recursive-CTE oracle; this module
is its operator form plus the incremental/continuous-ingest twin).

Scale shape (everything here composes existing guarded operators):

- Lexical edges/probes ride the MinHash machinery — slim ``(id, band,
  bucket)`` shuffles, exact-Jaccard verification via id join-backs, the
  ``max_bucket_size`` clone-collapse + cap skew guard
  (``dedup.incremental_minhash_candidates``).
- Semantic edges/probes ride the SemDeDup machinery — literal-argmax cell
  assignment (zero shuffle), within-cell Arrow matmul pair kernels, the
  ``max_cell_size`` guard (``knn.incremental_semantic_dedup_candidates``).
- The fusion itself moves BARE id pairs only: one union, one
  pointer-doubling connected-components pass (O(log diameter) rounds).
- Both legs take their persisted train-once indexes
  (``build_minhash_index``, ``build_semantic_dedup_index``) so a
  continuous-ingest pipeline runs ZERO corpus-sized work per batch.

Reference anchor: the reference's whole program is single-signal fuzzy
dedup (``soulutionOne.py:41-72`` exact keys, ``solutionTwo.py:40-53``
name-similarity links); fusing independent similarity signals through one
closure is the engine extension a 100 TB curation pipeline needs (near-dup
families in Lee et al. 2022 and Abbas et al. 2023 are complementary, not
nested — each catches pairs the other scores near zero).
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_deduplication_spark.functions.vectors import cosine_similarity_pd
from pyspark_deduplication_spark.operators.dedup import (
    _SET,
    _WEIGHTED,
    _corpus_probe,
)
from pyspark_deduplication_spark.operators.knn import (
    incremental_semantic_dedup_candidates,
    semantic_dedup_edges,
)
from pyspark_deduplication_spark.operators.linkage import transitive_clusters


def fused_dedup_edges(
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    jaccard_threshold: float = 0.7,
    cosine_threshold: float = 0.95,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_bucket_size: int | None = None,
    n_cells: int = 16,
    n_iter: int = 4,
    n_probe: int = 1,
    train_sample_mod: int = 1,
    max_cell_size: int | None = None,
    sigs: DataFrame | None = None,
    weighted_threshold: float | None = None,
    wsigs: DataFrame | None = None,
) -> DataFrame:
    """Distinct ``(id_a, id_b)`` near-dup edges within ``batch`` under
    ANY enabled signal: MinHash-blocked exact-Jaccard ≥
    ``jaccard_threshold`` on ``text_col`` ∪ cell-blocked cosine ≥
    ``cosine_threshold`` on ``vec_col`` ∪ (when ``weighted_threshold``
    is set) ICWS-blocked exact generalized Jaccard Σmin(tf)/Σmax(tf) ≥
    ``weighted_threshold`` on the same text — the third leg for
    boilerplate-repetition near-dups, where tf weighting fires on pairs
    whose SET Jaccard is near zero (shared mass in repeated grams, so
    neither other signal sees them). The batch carries both columns in
    one frame (the 1:1 documents ↔ embeddings id space).

    ``sigs``/``wsigs`` forward precomputed MinHash / ICWS signatures
    (see each ``*_candidate_pairs``); all guards (``max_bucket_size``,
    ``max_cell_size``) forward to their legs — the weighted leg shares
    the banding machinery and hence the same clone-collapse/cap guard.
    Only bare id pairs move through the union."""
    def minhash_edges(fam, threshold, fam_sigs):
        return fam.call(
            "candidates", batch, text_col, id_col, num_hashes, bands,
            shingle_size, max_bucket_size, sigs=fam_sigs,
        ).filter(F.col(fam.sim_col) >= threshold).select("id_a", "id_b")

    lex = minhash_edges(_SET, jaccard_threshold, sigs)
    sem = semantic_dedup_edges(
        batch.select(F.col(id_col), F.col(vec_col)), cosine_threshold,
        n_cells, id_col, vec_col, n_iter, n_probe, train_sample_mod,
        max_cell_size,
    ).select("id_a", "id_b")
    edges = lex.unionByName(sem)
    if weighted_threshold is not None:
        edges = edges.unionByName(
            minhash_edges(_WEIGHTED, weighted_threshold, wsigs))
    return edges.dropDuplicates(["id_a", "id_b"])


def fused_dedup(
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    jaccard_threshold: float = 0.7,
    cosine_threshold: float = 0.95,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_bucket_size: int | None = None,
    n_cells: int = 16,
    n_iter: int = 4,
    n_probe: int = 1,
    train_sample_mod: int = 1,
    max_cell_size: int | None = None,
    sigs: DataFrame | None = None,
    weighted_threshold: float | None = None,
    wsigs: DataFrame | None = None,
) -> DataFrame:
    """Fused dedup labelling for one batch: ``(id, component, keep)`` —
    one connected-components pass over the union edge set, min-id keep
    per fused component. The MinHash-leg twin of
    ``queries.fused_dedup_docs`` (which spells the lexical leg with the
    exact inverted-index join so its oracle stays deterministic); this
    operator form is the 100 TB spelling for all legs.
    ``weighted_threshold`` arms the optional third (tf-weighted ICWS)
    edge leg — see ``fused_dedup_edges``."""
    edges = fused_dedup_edges(
        batch, id_col, text_col, vec_col, jaccard_threshold,
        cosine_threshold, num_hashes, bands, shingle_size, max_bucket_size,
        n_cells, n_iter, n_probe, train_sample_mod, max_cell_size, sigs,
        weighted_threshold, wsigs,
    )
    clustered = transitive_clusters(batch.select(id_col), edges, id_col)
    return clustered.select(
        F.col(id_col),
        F.col("component"),
        (F.col(id_col) == F.col("component")).alias("keep"),
    )


def incremental_fused_dedup(
    new_batch: DataFrame,
    corpus: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    jaccard_threshold: float = 0.7,
    cosine_threshold: float = 0.95,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_bucket_size: int | None = None,
    n_cells: int = 16,
    n_iter: int = 4,
    n_probe: int = 2,
    train_sample_mod: int = 1,
    max_cell_size: int | None = None,
    minhash_index: DataFrame | None = None,
    semantic_index: tuple[DataFrame, DataFrame] | None = None,
    weighted_threshold: float | None = None,
    weighted_index: DataFrame | None = None,
) -> DataFrame:
    """Fused near-dup filter for a NEW batch against an EXISTING corpus —
    the OR-composition of ``incremental_minhash_dedup`` and
    ``incremental_semantic_dedup``: a batch row drops if it near-matches
    ANY corpus row under EITHER signal (lexical Jaccard ≥
    ``jaccard_threshold`` via the LSH band probe, or cosine ≥
    ``cosine_threshold`` via the cell probe); survivors then collapse
    batch-internally through ONE fused connected-components pass
    (``fused_dedup``), so the returned frame is clean against
    corpus ∪ itself under the FUSED relation — append it (and its index
    entries) and the invariant holds for the next batch.

    The corpus never self-joins on either leg. In production both legs
    probe their persisted train-once artifacts — pass
    ``minhash_index=build_minhash_index(corpus)`` and
    ``semantic_index=build_semantic_dedup_index(corpus)`` and the
    ``corpus`` argument is never touched (it may be ``None``); without
    them the indexes derive from ``corpus`` per call (correct, but
    corpus-sized work per batch). Guards (``max_bucket_size``,
    ``max_cell_size``) forward to each leg's candidate machinery; when
    an index is passed its guard stages already ran at build time.

    Fusing the CORPUS probe is pure OR (drop if either leg hits), so leg
    independence is lossless there; fusing the BATCH-internal collapse
    uses the union edge graph, whose components coarsen both
    single-signal partitions (pinned for the batch operator in
    ``test_queries``' fused coarsening test, and for this path in
    ``test_fused.py``).

    ``weighted_threshold`` arms the optional third (tf-weighted ICWS)
    leg on both the corpus probe and the batch-internal collapse — the
    boilerplate-repetition signal the other two miss (see
    ``fused_dedup_edges``); ``weighted_index`` passes its persisted
    ``build_weighted_minhash_index`` table.

    Returns the surviving rows of ``new_batch`` (all columns)."""
    with ExitStack() as stack:
        pairs, new_sigs, new_wsigs = _fused_corpus_pairs(
            stack, "incremental_fused_dedup", new_batch, corpus, id_col,
            text_col, vec_col, jaccard_threshold, cosine_threshold,
            num_hashes, bands, shingle_size, max_bucket_size, n_cells,
            n_iter, n_probe, train_sample_mod, max_cell_size, minhash_index,
            semantic_index, weighted_threshold, weighted_index)
        # Materialize the bare hit-id set ONCE before it fans out into the
        # anti-joins below — without this, each eager localCheckpoint
        # re-executes the whole lexical AND semantic (AND weighted) corpus
        # probe (band join, Jaccard verify, cell assignment, Arrow cosine)
        # a second time; dup_ids is ids only, so the checkpoint is tiny.
        dup_ids = pairs.select(F.col("new_id").alias(id_col)).distinct() \
            .localCheckpoint(eager=True)

        # Materialize the survivor set and its signatures before the fused
        # self-collapse fans out into the edge legs (and before leaving
        # the block releases the signature caches).
        def survivors(df):
            return df.join(dup_ids, id_col, "left_anti") \
                .localCheckpoint(eager=True)

        fresh, fresh_sigs = survivors(new_batch), survivors(new_sigs)
        fresh_wsigs = None if new_wsigs is None else survivors(new_wsigs)

    # -- batch-internal fused collapse ---------------------------------
    keep = fused_dedup(
        fresh, id_col, text_col, vec_col, jaccard_threshold,
        cosine_threshold, num_hashes, bands, shingle_size, max_bucket_size,
        n_cells, n_iter, 1, train_sample_mod, max_cell_size,
        sigs=fresh_sigs, weighted_threshold=weighted_threshold,
        wsigs=fresh_wsigs,
    ).filter(F.col("keep")).select(id_col)
    return fresh.join(keep, id_col, "left_semi")


def incremental_fused_match_pairs(
    new_batch: DataFrame,
    corpus: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    jaccard_threshold: float = 0.7,
    cosine_threshold: float = 0.95,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    max_bucket_size: int | None = None,
    n_cells: int = 16,
    n_iter: int = 4,
    n_probe: int = 2,
    train_sample_mod: int = 1,
    max_cell_size: int | None = None,
    minhash_index: DataFrame | None = None,
    semantic_index: tuple[DataFrame, DataFrame] | None = None,
    weighted_threshold: float | None = None,
    weighted_index: DataFrame | None = None,
) -> DataFrame:
    """The PAIR-level fused corpus probe: distinct (new_id, corpus_id)
    rows for every batch doc that near-matches a corpus doc under ANY
    armed signal — exactly ``incremental_fused_dedup``'s probe stage
    with the ids kept instead of collapsed to a drop set. This is the
    primitive quality-aware SURVIVORSHIP needs (streaming keep-best:
    the decision is per matched corpus doc, so the probe cannot
    pre-aggregate), and it is independently useful as a streaming
    provenance/lineage report ("what did this batch collide with").

    Same index contracts as ``incremental_fused_dedup``: pass the
    persisted ``minhash_index`` / ``semantic_index`` /
    ``weighted_index`` artifacts and the ``corpus`` argument is never
    touched; guards forward to each leg's candidate machinery. The
    corpus never self-joins. The returned frame is eagerly
    materialized (ids only — tiny), so callers may fan it out freely.
    """
    with ExitStack() as stack:
        pairs, _, _ = _fused_corpus_pairs(
            stack, "incremental_fused_match_pairs", new_batch, corpus,
            id_col, text_col, vec_col, jaccard_threshold, cosine_threshold,
            num_hashes, bands, shingle_size, max_bucket_size, n_cells,
            n_iter, n_probe, train_sample_mod, max_cell_size, minhash_index,
            semantic_index, weighted_threshold, weighted_index)
        # eager ids-only materialization BEFORE the signature caches are
        # released (the dup_ids discipline in incremental_fused_dedup)
        return pairs.distinct().localCheckpoint(eager=True)


def _fused_corpus_pairs(
    stack: ExitStack, caller: str, new_batch, corpus, id_col, text_col,
    vec_col, jaccard_threshold, cosine_threshold, num_hashes, bands,
    shingle_size, max_bucket_size, n_cells, n_iter, n_probe,
    train_sample_mod, max_cell_size, minhash_index, semantic_index,
    weighted_threshold, weighted_index,
):
    """The corpus probe of both incremental fused operators: lazy
    ``(new_id, corpus_id)`` rows (not distinct) from every armed leg,
    plus the lexical and weighted legs' cached batch signatures
    ``(new_sigs, new_wsigs)`` — ``new_wsigs`` is None with the weighted
    leg off. The MinHash legs are ``dedup._corpus_probe`` blocks entered
    on ``stack``, so their caches live until the caller closes it; a
    passed index is caller-owned and never released."""
    if corpus is None and (minhash_index is None or semantic_index is None):
        raise ValueError(
            f"{caller}: corpus=None requires BOTH minhash_index and "
            "semantic_index")
    if (corpus is None and weighted_threshold is not None
            and weighted_index is None):
        raise ValueError(
            f"{caller}: corpus=None with the weighted leg armed requires "
            "weighted_index")

    def probe(fam, index, threshold):
        return stack.enter_context(_corpus_probe(
            fam, new_batch, corpus, index, text_col, id_col, threshold,
            num_hashes, bands, shingle_size, max_bucket_size,
            index is not None))

    pairs, new_sigs = probe(_SET, minhash_index, jaccard_threshold)
    sem_cand = incremental_semantic_dedup_candidates(
        new_batch.select(F.col(id_col), F.col(vec_col)),
        None if corpus is None
        else corpus.select(F.col(id_col), F.col(vec_col)),
        n_cells, id_col, vec_col, n_iter, n_probe, train_sample_mod,
        max_cell_size, semantic_index,
    )
    pairs = pairs.unionByName(
        sem_cand.filter(
            cosine_similarity_pd(F.col("__nvec"), F.col("__cvec"))
            >= cosine_threshold)
        .select(F.col("__nid").alias("new_id"),
                F.col("__cid").alias("corpus_id")))
    new_wsigs = None
    if weighted_threshold is not None:
        wpairs, new_wsigs = probe(_WEIGHTED, weighted_index,
                                  weighted_threshold)
        pairs = pairs.unionByName(wpairs)
    return pairs, new_sigs, new_wsigs
