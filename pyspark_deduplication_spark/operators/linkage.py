"""Fuzzy record linkage / entity resolution (SURVEY.md §2.4-§2.5, §7 M2-M3).

The reference's Task 2 in three flavors, all reproduced here:
- ``similarity_join_faithful``  ≙ UDF-theta self-join (``soulutionOne.py:53-57``)
  — kept for small-n parity; O(n²), never the scale path.
- ``levenshtein_link``          ≙ edit-distance self-join + per-anchor
  collect_list(struct) (``solutionThree.py:16-27``), with the string-``+``
  concat bug fixed to real ``concat`` (SURVEY §2.8 F6).
- ``blocked_similarity_join``   the 100 TB path: cheap blocking key →
  equi-join → native n-gram-Jaccard / levenshtein prefilter → optional
  difflib rescore on survivors only.
- ``connected_components``      distributed transitive closure over the
  match graph (min-label propagation with pointer doubling, O(log d)
  rounds) — the scalable rewrite of the reference's driver-side greedy
  clustering (``solutionTwo.py:56-78``, SURVEY §2.5 A7).
- ``cluster_members`` / ``transitive_clusters``  cluster-level set
  aggregation ≙ windowed ``collect_set`` (``soulutionOne.py:65-72``).

Semantics policy (SURVEY §7 risk 2): the engine implements the evident
intent — transitive closure over the ≥-threshold pair graph — and
documents the reference's quirks (one row merging into several clusters,
``>80`` vs ``>=80``) as deviations rather than reproducing them.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_deduplication_spark.functions.similarity import (
    canonical_pair_key,
    ngram_jaccard,
    ratcliff_similarity,
)


def similarity_join_faithful(
    df: DataFrame,
    name_col: str = "name",
    iban_col: str = "iban",
    threshold: float = 80.0,
) -> DataFrame:
    """Reference-parity fuzzy self-join (``soulutionOne.py:53-62``).

    Inner theta self-join where names differ, both IBANs non-empty, and
    difflib similarity of names OR ibans ≥ threshold. Output matches the
    reference's projection: canonical pair key (``least``) + both sides.
    O(n²) with Python scoring per pair — parity mode only; use
    ``blocked_similarity_join`` beyond toy sizes.
    """
    a, b = df.alias("a"), df.alias("b")
    an, bn = F.col(f"a.{name_col}"), F.col(f"b.{name_col}")
    ai, bi = F.col(f"a.{iban_col}"), F.col(f"b.{iban_col}")
    cond = (
        (an != bn)                      # P4: 3VL — null names drop
        & (ai != "") & (bi != "")       # P5: non-empty iban guard
        & (
            (ratcliff_similarity(an, bn) >= threshold)
            | (ratcliff_similarity(ai, bi) >= threshold)
        )
    )
    return a.join(b, cond, "inner").select(
        canonical_pair_key(an, bn).alias("uniq_id"),
        an.alias("name_a"),
        bn.alias("name_b"),
        ai.alias("iban_a"),
        bi.alias("iban_b"),
    )


def levenshtein_link(
    df: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    iban_col: str = "iban",
    max_dist: int = 3,
) -> DataFrame:
    """Edit-distance linkage ≙ ``solutionThree.py:16-27``, intent-fixed:

    - ``concat(name, iban)`` (the reference's string ``+`` nulls out,
      SURVEY §2.8 F6),
    - self-pairs excluded via id inequality (the reference includes them),
    - per-anchor aggregation of matched (name, iban) structs, sorted for
      determinism.
    """
    keyed = df.withColumn(
        "name_iban", F.concat(F.col(name_col), F.col(iban_col))
    )
    from pyspark_deduplication_spark.functions.similarity import levenshtein_within

    a, b = keyed.alias("a"), keyed.alias("b")
    linked = a.join(
        b,
        levenshtein_within(F.col("a.name_iban"), F.col("b.name_iban"), max_dist)
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
    )
    return (
        linked.groupBy(F.col(f"a.{id_col}").alias(id_col))
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(f"b.{name_col}").alias("name"),
                        F.col(f"b.{iban_col}").alias("iban"),
                    )
                )
            ).alias("linked_counterparts")
        )
    )


# ---------------------------------------------------------------------------
# Blocking (the scale path)
# ---------------------------------------------------------------------------


def sorted_token_key(col: Column | str, num_tokens: int = 2) -> Column:
    """Blocking key: first ``num_tokens`` tokens of the name after
    lowercase+sort — robust to word reordering and trailing edits."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.sort_array(F.split(F.lower(F.trim(c)), r"\s+"))
    return F.concat_ws(" ", F.slice(toks, 1, num_tokens))


def prefix_key(col: Column | str, length: int = 4) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.lower(F.trim(c)), 1, length)


def suffix_key(col: Column | str, length: int = 6) -> Column:
    """Blocking on the trailing characters — the right key when entities
    share identifier-like suffixes across tables (account numbers, codes)
    while prefixes differ by entity type."""
    c = F.col(col) if isinstance(col, str) else col
    low = F.lower(F.trim(c))
    return F.substring(low, -length, length)


def blocked_similarity_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    blocking: str = "prefix",
    block_len: int = 4,
    ngram: int = 3,
    rescore_difflib: bool = False,
    difflib_threshold: float = 80.0,
) -> DataFrame:
    """Scalable similarity self-join: equi-join on a blocking key, then
    native n-gram Jaccard ≥ ``threshold``, then (optionally) difflib
    rescore ≥ ``difflib_threshold`` on the survivors.

    Returns (id_a, id_b, text_a, text_b, sim) with id_a < id_b.

    Plan shape at 100 TB: one shuffle on the blocking key (hash equi-join,
    AQE-skew-splittable), Jaccard evaluated inside codegen on candidate
    pairs only, Python (difflib) touched only by rescore survivors. The
    reference's equivalent is an unblocked O(n²) UDF nested-loop join.
    """
    keyers = {"prefix": prefix_key, "sorted_token": sorted_token_key,
              "suffix": suffix_key}
    key_fn = keyers[blocking]
    keyed = df.select(
        F.col(id_col),
        F.col(text_col),
        key_fn(F.col(text_col), block_len).alias("__block"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    ta, tb = F.col(f"a.{text_col}"), F.col(f"b.{text_col}")
    pairs = a.join(
        b,
        (F.col("a.__block") == F.col("b.__block"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        ta.alias("text_a"),
        tb.alias("text_b"),
        ngram_jaccard(ta, tb, ngram).alias("sim"),
    ).filter(F.col("sim") >= threshold)
    if rescore_difflib:
        pairs = pairs.withColumn(
            "difflib_sim", ratcliff_similarity(F.col("text_a"), F.col("text_b"))
        ).filter(F.col("difflib_sim") >= difflib_threshold)
    return pairs


def blocked_similarity_cross_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_text: str,
    right_id: str,
    right_text: str,
    threshold: float = 0.5,
    blocking: str = "prefix",
    block_len: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """Cross-TABLE entity matching (e.g. customer names vs supplier
    names): same blocking-key equi-join shape as the self-join variant,
    but between two different relations — the classic record-linkage
    setting. Returns (left_id, right_id, left_text, right_text, sim)."""
    keyers = {"prefix": prefix_key, "sorted_token": sorted_token_key,
              "suffix": suffix_key}
    key_fn = keyers[blocking]
    lk = left.select(
        F.col(left_id).alias("left_id"),
        F.col(left_text).alias("left_text"),
        key_fn(F.col(left_text), block_len).alias("__block"),
    )
    rk = right.select(
        F.col(right_id).alias("right_id"),
        F.col(right_text).alias("right_text"),
        key_fn(F.col(right_text), block_len).alias("__block"),
    )
    return (
        lk.join(rk, "__block")
        .select(
            "left_id", "right_id", "left_text", "right_text",
            ngram_jaccard(F.col("left_text"), F.col("right_text"), ngram)
            .alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Connected components (distributed transitive clustering)
# ---------------------------------------------------------------------------


_STRIP_STATS_WARNED = False


def _strip_inherited_stats(df: DataFrame) -> DataFrame:
    """Re-wrap a checkpointed DataFrame so its logical plan stops
    carrying the ORIGIN plan's sizeInBytes estimate.

    checkpoint/localCheckpoint copy the optimized plan's statistics
    into the new LogicalRDD (good for one-shot checkpoints: estimates
    stay informative). But Spark's default join estimate is the PRODUCT
    of child sizes, so in an ITERATIVE algorithm each round's
    checkpoint inherits the previous round's product and the estimate
    grows as a power tower — at sf0.1 the fused-dedup CC loop crossed
    BigInteger's 2^31-bit ceiling by round ~15, with Catalyst spending
    minutes per stats call multiplying million-digit integers while
    executors sat idle, then throwing 'BigInteger would overflow
    supported range' (r9 scale checkpoint). The rewrap
    (``internalCreateDataFrame`` over the SAME materialized InternalRow
    RDD — no recompute, no Python round-trip) resets the estimate to
    ``defaultSizeInBytes``; join strategies stay sound because AQE
    picks them from RUNTIME shuffle sizes."""
    try:
        jdf = df._jdf
        spark = df.sparkSession
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False)
        return DataFrame(new_jdf, spark)
    except Exception as exc:
        # no py4j internals (non-classic session, or the private
        # internalCreateDataFrame API changed): keep the plain
        # checkpoint — correct, merely exposed to the stats-growth
        # overflow at scale. Warn ONCE per process so a scale run that
        # silently fell back here is visible in the logs (ADVICE r9).
        global _STRIP_STATS_WARNED
        if not _STRIP_STATS_WARNED:
            _STRIP_STATS_WARNED = True
            warnings.warn(
                "stats-strip rewrap unavailable "
                f"({type(exc).__name__}: {exc}); iterative checkpoints "
                "keep inherited sizeInBytes estimates — long CC loops "
                "may hit the BigInteger stats overflow at scale",
                RuntimeWarning,
                stacklevel=3,
            )
        return df


def _checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Lineage truncation. Uses the reliable checkpoint dir when the
    session has one (cluster mode: survives executor loss, required for
    long iterative jobs); falls back to localCheckpoint (executor-local
    blocks — fine for local mode and short iteration counts). The
    result's inherited stats estimate is stripped — required for
    iterative callers (see ``_strip_inherited_stats``).

    ``eager=False`` defers materialization to the FIRST action over the
    returned frame: the checkpoint flag lives on the physical RDD, so
    whichever job computes it first stores the blocks as a side effect
    (and lazily-chained checkpoints all materialize inside that one
    job). The CC loop leans on this to fuse each round's
    materialization into its convergence-sum action — one Spark action
    per round instead of two (measured ~0.3s of fixed per-action cost
    at bench SF, ×rounds×every CC caller)."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir():
        return _strip_inherited_stats(df.checkpoint(eager=eager))
    return _strip_inherited_stats(df.localCheckpoint(eager=eager))


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list: min-label
    propagation with pointer-doubling shortcutting per round —

    1. every node adopts the minimum label in its one-hop neighborhood,
    2. every node then adopts its label's label (``comp(comp(x))``),

    the short-cutting step of the classic MapReduce CC algorithms
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). Plain one-hop propagation needs O(diameter) rounds — a
    pathological chain of length 10^6 would silently hit the iteration
    cap; with doubling the label distance-to-root halves each round, so
    convergence is O(log(diameter)) and 25 rounds cover any realistic
    graph (2^25 diameter). Stop when no label changes; a loop that
    reaches ``max_iterations`` first returns its partial labels with a
    ``RuntimeWarning``.

    Returns (node, component) with component = min node id reachable.
    Each round is one edge-join + union-fused min aggregation (the
    propagate) and one label self-join (the doubling); checkpointing
    truncates lineage each round so plans don't grow exponentially —
    required for iterative algorithms on Spark.
    """
    # Materialize the edge list once: the symmetrization union reads it
    # twice and every iteration reads it again — without this, the entire
    # upstream pipeline (e.g. MinHash banding) re-executes per reference.
    # Lazy checkpoint chain: edges → sym → labels all carry the
    # checkpoint flag but materialize inside the ONE init-sum job below
    # (each stores its blocks as that job computes it), instead of
    # three separate materializing actions plus the sum.
    edges = _checkpoint(edges.select(F.col(src).alias("e_src"),
                                     F.col(dst).alias("e_dst")),
                        eager=False)
    sym = _checkpoint(
        edges.select(F.col("e_src").alias("u"), F.col("e_dst").alias("v"))
        .union(edges.select(F.col("e_dst").alias("u"),
                            F.col("e_src").alias("v")))
        .distinct(),
        eager=False,
    )
    # Init each node's label to min(node, min one-hop neighbor) — the
    # first propagation round folded into the init aggregation (the
    # init needs a per-node pass over sym anyway, so the min() rides
    # the same exchange for free). The fixpoint is unchanged — labels
    # stay min-reachable-id monotone — but star/pair components (the
    # overwhelming shape of near-dup graphs) now converge AT init, so
    # the loop's first sum check terminates one full
    # propagate+double+checkpoint round earlier.
    labels = _checkpoint(
        sym.groupBy("u").agg(F.min("v").alias("__mv"))
        .select(F.col("u").alias("node"),
                F.least(F.col("u"), F.col("__mv")).alias("component")),
        eager=False,
    )

    # Convergence detection without an extra join: per-node labels are
    # non-increasing (every update is F.least(old, ...)), so the label
    # SUM is strictly monotone until the fixpoint — sum unchanged ⟺ no
    # node changed. One cheap aggregation over the freshly-checkpointed
    # labels replaces a self-join + count job per round. decimal(38,0)
    # keeps the sum exact (bigint ids × node count would overflow long).
    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))
        ).collect()[0][0]

    # NOTE (r16, measured and rejected): two variants of making the
    # loop's joins cheaper at model-state size were A/B'd and both
    # LOST to the current shape — (a) AQE off for the rounds regressed
    # 2× (semantic_dedup 6.8 → 13.0 s): with stripped stats the static
    # planner picks sort-merge and it is AQE's runtime broadcast
    # conversion that keeps rounds cheap; (b) an explicit
    # F.broadcast(labels) hint gated on a sym.count() measured net
    # zero — the per-round broadcast rebuild plus the count job eat
    # exactly what the skipped conversion saves. The loop stays on
    # AQE with unhinted joins.
    prev_sum = _label_sum(labels)
    for _ in range(max_iterations):
        # Propagate = min over {own label} ∪ {neighbors' labels}, spelled
        # as a UNION into the neighbor-min aggregation instead of a
        # second keyed join: the old shape (aggregate neighbor mins,
        # then join them back onto labels) paid one more join + exchange
        # per round for the exact same per-node minimum — every node in
        # ``labels`` appears in ``sym`` by construction, so streaming
        # the own-label rows through the same groupBy is lossless
        # (measured 0.65× per CC call on the round-15 semantic graph,
        # identical labels; r15 guide §2.3 "aggregate before you join").
        propagated = (
            sym.join(labels, sym.v == labels.node, "inner")
            .select(F.col("u").alias("node"), F.col("component"))
            .union(labels.select("node", "component"))
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # pointer doubling: comp(x) <- min(comp(x), comp(comp(x))) —
        # halves every node's label distance to its component root
        parent = propagated.select(
            F.col("node").alias("p_node"), F.col("component").alias("p_comp")
        )
        # lazy checkpoint: the convergence sum right below is the
        # action that materializes this round's labels — one job per
        # round, not a materialize + a sum
        new_labels = _checkpoint(
            propagated.join(
                parent, propagated.component == parent.p_node, "left"
            ).select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("p_comp"), F.col("component")),
                ).alias("component"),
            ),
            eager=False,
        )
        labels = new_labels
        new_sum = _label_sum(labels)
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        warnings.warn(
            f"connected_components stopped at max_iterations="
            f"{max_iterations} before its labels converged; components "
            "may be split",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def transitive_clusters(
    df: DataFrame,
    edges: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Attach a ``component`` column to every row of ``df`` given the match
    edge list; singletons (unmatched rows) become their own component."""
    comps = connected_components(edges, src, dst)
    return (
        df.join(comps, df[id_col] == comps.node, "left")
        .drop("node")
        .withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
    )


def cluster_members(
    clustered: DataFrame,
    component_col: str = "component",
    member_cols: list[str] | None = None,
) -> DataFrame:
    """Cluster-level set aggregation ≙ the reference's windowed
    ``collect_set`` + dedup (``soulutionOne.py:65-72``) and the driver
    dict's name/iban sets (``solutionTwo.py:40-53``), distributed.

    For each component: member count and the sorted distinct values of
    each requested column (sorted ⇒ deterministic, testable — SURVEY §5).
    The idiomatic spelling is groupBy, not a window: every row in a
    partition got the same windowed value in the reference and was then
    dropDuplicated away, so the group-by is semantically identical with
    one fewer shuffle.
    """
    member_cols = member_cols or []
    aggs = [F.count(F.lit(1)).alias("cluster_size")]
    for c in member_cols:
        aggs.append(F.sort_array(F.collect_set(F.col(c))).alias(f"{c}s"))
    return clustered.groupBy(F.col(component_col)).agg(*aggs)
