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
- ``connected_components``      transitive closure over the match graph,
  labeling every node with its component's minimum id — the scalable
  rewrite of the reference's driver-side greedy clustering
  (``solutionTwo.py:56-78``, SURVEY §2.5 A7). Two paths: an edge list of
  at most ``_LOCAL_CC_EDGES`` (2^16) rows is collected once and labeled
  by a driver union-find rooted at each set's smallest id (one bounded
  collect, no rounds); larger lists run the distributed min-label
  propagation with pointer doubling. Both return the same minimum-id
  labels, so which path ran never shows in the output.
- ``cluster_members`` / ``transitive_clusters``  cluster-level set
  aggregation ≙ windowed ``collect_set`` (``soulutionOne.py:65-72``).

Semantics policy (SURVEY §7 risk 2): the engine implements the evident
intent — transitive closure over the ≥-threshold pair graph — and
documents the reference's quirks (one row merging into several clusters,
``>80`` vs ``>=80``) as deviations rather than reproducing them.
"""

from __future__ import annotations

import logging
import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType

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


# Edge lists of at most this many rows are labeled on the driver (see
# ``connected_components``): the driver holds at most 2^16 + 1 edge
# rows, and on a 4-core box a 2^16-row (node, component) result frame
# builds from Arrow and counts in under 0.2 s.
_LOCAL_CC_EDGES = 1 << 16

_log = logging.getLogger("pyspark_deduplication_spark")


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Both directions of every ``(e_src, e_dst)`` edge as distinct
    ``(u, v)`` rows; the union widens mixed-width endpoint columns to
    one id type."""
    return (
        edges.select(F.col("e_src").alias("u"), F.col("e_dst").alias("v"))
        .union(edges.select(F.col("e_dst").alias("u"),
                            F.col("e_src").alias("v")))
        .distinct()
    )


def _init_labels(sym: DataFrame) -> DataFrame:
    """Each node's label initialized to min(node, min one-hop neighbor)
    — the first propagation round folded into the init aggregation (the
    init needs a per-node pass over sym anyway, so the min() rides the
    same exchange for free). The fixpoint is unchanged — labels stay
    min-reachable-id monotone — but star/pair components (the
    overwhelming shape of near-dup graphs) converge AT init, so the
    loop's first convergence check terminates one full
    propagate+double+checkpoint round earlier."""
    return (
        sym.groupBy("u").agg(F.min("v").alias("__mv"))
        .select(F.col("u").alias("node"),
                F.least(F.col("u"), F.col("__mv")).alias("component"))
    )


def _cc_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One propagate + pointer-doubling round over ``labels``."""
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
    # halves a node's label distance to its component root when ids
    # grow away from the root (see ``connected_components``)
    parent = propagated.select(
        F.col("node").alias("p_node"), F.col("component").alias("p_comp")
    )
    return propagated.join(
        parent, propagated.component == parent.p_node, "left"
    ).select(
        "node",
        F.least(
            F.col("component"),
            F.coalesce(F.col("p_comp"), F.col("component")),
        ).alias("component"),
    )


def _min_label_union_find(pairs) -> dict:
    """node → minimum node id of its component, by a path-compressing
    union-find whose every root is the smallest id of its set."""
    parent: dict = {}

    def find(x):
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def _driver_orderable(dtype) -> bool:
    """Id types whose Python ordering is Spark's: integers, and strings
    under the default byte-order collation (UTF-8 byte order is code
    point order)."""
    return isinstance(dtype, IntegralType) or (
        isinstance(dtype, StringType) and dtype == StringType())


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list. Returns
    (node, component) with component = min node id reachable.

    Two paths compute the same labels, column names and types:

    - **local** — an edge list of at most ``_LOCAL_CC_EDGES`` (2^16)
      rows, with integer or string ids and no null endpoint, is
      collected once (``limit(B + 1)`` bounds what the driver holds)
      and labeled by a path-compressing union-find that roots every set
      at its smallest id. Each label is therefore the component's
      minimum id, which is the loop's fixpoint; Python orders these id
      types as Spark does (strings by code point, which is UTF-8 byte
      order). The result is one Arrow-backed ``createDataFrame`` whose
      schema is taken from the loop's own analyzed plan. This is
      Kiveris et al.'s finish-on-one-machine step (SoCC'14) applied
      from the start: near-dup and linkage match graphs at catalog
      scale are small, and the loop's per-round jobs, not its compute,
      are their cost. The path always reaches the fixpoint;
      ``max_iterations`` bounds only the loop.
    - **distributed** — every other edge list: min-label propagation
      with pointer-doubling shortcutting per round —

      1. every node adopts the minimum label in its one-hop
         neighborhood,
      2. every node then adopts its label's label (``comp(comp(x))``),

      the short-cutting step of the classic MapReduce CC algorithms
      (Kiveris et al.). Plain one-hop propagation needs O(diameter)
      rounds. Doubling halves a node's distance to its root when ids
      grow away from the component minimum (a 200-node path numbered
      in order converges in a handful of rounds), but not for
      arbitrary id order: a seeded 200-node path with random ids took
      75 rounds. Stop when no label changes; a loop that reaches
      ``max_iterations`` first returns its partial labels with a
      ``RuntimeWarning``. Each round is one edge-join + union-fused
      min aggregation (the propagate) and one label self-join (the
      doubling); checkpointing truncates lineage each round so plans
      don't grow exponentially — required for iterative algorithms on
      Spark. Null endpoints take this path so they keep its semantics
      (a null node is labeled, but joins nothing), and so do id types
      whose order Python does not share (fractional numbers, dates,
      collated strings).

    Each call logs one decision line at INFO on the
    ``pyspark_deduplication_spark`` logger: the path, the edge count
    (``edges>B`` when the list overflowed the bound, ``edges=?`` when
    the id type skipped the collect), the node count and, on the loop,
    why it ran, the rounds run and whether it converged or hit the cap.
    """
    # Materialize the edge list once: the bounded collect below and,
    # on the loop, the symmetrization union and every round read it —
    # without this, the entire upstream pipeline (e.g. MinHash banding)
    # re-executes per reference. The checkpoint is lazy: the first
    # action over it stores its blocks.
    edges = _checkpoint(edges.select(F.col(src).alias("e_src"),
                                     F.col(dst).alias("e_dst")),
                        eager=False)
    sym = _symmetrize(edges)
    # the loop's output schema, from its analyzed plan (no job)
    schema = _cc_round(sym, _init_labels(sym)).schema
    id_type = schema["node"].dataType

    if not _driver_orderable(id_type):
        reason, edges_seen = f"id_type={id_type.simpleString()}", "=?"
    else:
        # the union's type coercion, applied to the collected endpoints
        rows = edges.select(*(
            F.col(c) if edges.schema[c].dataType == id_type
            else F.col(c).cast(id_type)
            for c in ("e_src", "e_dst")
        )).limit(_LOCAL_CC_EDGES + 1).collect()
        if len(rows) > _LOCAL_CC_EDGES:
            reason, edges_seen = "over_bound", f">{_LOCAL_CC_EDGES}"
        elif any(a is None or b is None for a, b in rows):
            reason, edges_seen = "null_endpoint", f"={len(rows)}"
        else:
            import pyarrow as pa

            comps = _min_label_union_find(rows)
            _log.info("connected_components path=local edges=%d nodes=%d",
                      len(rows), len(comps))
            return edges.sparkSession.createDataFrame(
                pa.table({"node": list(comps),
                          "component": list(comps.values())}),
                schema,
            )

    # Lazy checkpoint chain: sym → labels carry the checkpoint flag
    # but materialize inside the ONE init job below (the label sum or
    # count; each stores its blocks as that job computes it), instead
    # of separate materializing actions plus the check.
    sym = _checkpoint(sym, eager=False)
    labels = _checkpoint(_init_labels(sym), eager=False)

    # Convergence detection. Per-node labels are non-increasing (every
    # update is F.least(old, ...)), so for integer ids the label SUM is
    # strictly monotone until the fixpoint — sum unchanged ⟺ no node
    # changed — and one cheap aggregation over the freshly-checkpointed
    # labels replaces a self-join + count job per round. decimal(38,0)
    # keeps the sum exact (bigint ids × node count would overflow
    # long). Other id types (strings, fractional numbers) have no exact
    # sum, so their rounds count the nodes whose label moved, by a
    # null-safe join against the previous round's labels.
    by_sum = isinstance(id_type, IntegralType)
    label_sum = F.sum(F.col("component").cast("decimal(38,0)"))

    def _moved(new: DataFrame, old: DataFrame) -> int:
        old = old.select(F.col("node").alias("__n"),
                         F.col("component").alias("__c"))
        return new.join(old, new.node.eqNullSafe(old.__n)).filter(
            ~new.component.eqNullSafe(old.__c)).count()

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
    if by_sum:
        prev_sum, nodes = labels.agg(
            label_sum, F.count(F.lit(1))).collect()[0]
    else:
        nodes = labels.count()
    for rounds in range(1, max_iterations + 1):
        # lazy checkpoint: the convergence check right below is the
        # action that materializes this round's labels — one job per
        # round, not a materialize + a check
        prev, labels = labels, _checkpoint(_cc_round(sym, labels),
                                           eager=False)
        if by_sum:
            new_sum = labels.agg(label_sum).collect()[0][0]
            converged, prev_sum = new_sum == prev_sum, new_sum
        else:
            converged = _moved(labels, prev) == 0
        if converged:
            outcome = "converged"
            break
    else:
        rounds, outcome = max_iterations, "hit_cap"
        warnings.warn(
            f"connected_components stopped at max_iterations="
            f"{max_iterations} before its labels converged; components "
            "may be split",
            RuntimeWarning,
            stacklevel=2,
        )
    _log.info("connected_components path=distributed reason=%s edges%s "
              "nodes=%d rounds=%d %s", reason, edges_seen, nodes, rounds,
              outcome)
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
