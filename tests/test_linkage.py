"""Fuzzy linkage: reference-parity semantics (guards, thresholds),
connected-components transitivity, cluster aggregation."""

from __future__ import annotations

import logging
import random
import warnings
from difflib import SequenceMatcher

import pytest
from pyspark.sql import functions as F

from pyspark_deduplication_spark.operators import linkage
from pyspark_deduplication_spark.operators.linkage import (
    blocked_similarity_join,
    cluster_members,
    connected_components,
    levenshtein_link,
    similarity_join_faithful,
    transitive_clusters,
)

# Counterparty-style fixture with the cases FIXTURES.md §1.1 calls for:
# exact dups, near-dups above/below threshold, empty iban, null name,
# and a transitive chain.
CP = [
    (1, "acme industries", "DE001"),
    (2, "acme industriez", "DE002"),    # name ~ 1 (>=80)
    (3, "acme industr", "DE003"),       # chain: ~2, weaker vs 1
    (4, "zeta logistics", "FR004"),
    (5, "zeta logistics", "FR005"),     # exact same name as 4 → != guard drops
    (6, "empty iban co", ""),           # empty iban → guard drops
    (7, None, "XX007"),                 # null name → 3VL drops
    (8, "unrelated gmbh", "DE008"),
]


def _cp(spark):
    return spark.createDataFrame(CP, "id long, name string, iban string")


def test_faithful_join_reference_semantics(spark):
    out = similarity_join_faithful(_cp(spark), "name", "iban", 80.0).collect()
    names = {(r.name_a, r.name_b) for r in out}
    # near-dup pair found, both directions (reference keeps both)
    assert ("acme industries", "acme industriez") in names
    assert ("acme industriez", "acme industries") in names
    # equal names excluded by the != guard even though sim = 100
    assert ("zeta logistics", "zeta logistics") not in names
    # empty-iban and null-name rows never appear
    for r in out:
        assert r.iban_a != "" and r.iban_b != ""
        assert r.name_a is not None and r.name_b is not None
    # uniq_id is the lexicographic least of the pair (≙ equalName UDF)
    for r in out:
        assert r.uniq_id == min(r.name_a, r.name_b)
    # threshold honored exactly as difflib computes it
    for r in out:
        assert (
            SequenceMatcher(None, r.name_a, r.name_b).ratio() * 100 >= 80
            or SequenceMatcher(None, r.iban_a, r.iban_b).ratio() * 100 >= 80
        )


def test_levenshtein_link_excludes_self_and_sorts(spark):
    df = spark.createDataFrame(
        [(1, "hot rod", "A"), (2, "hot rodz", "A"), (3, "hot road", "A")],
        "id long, name string, iban string",
    )
    out = {r.id: r.linked_counterparts
           for r in levenshtein_link(df, max_dist=3).collect()}
    assert set(out) == {1, 2, 3}
    # anchor 1 links to 2 and 3 (dist 1 and 2 on name+iban concat)
    assert [c.name for c in out[1]] == ["hot road", "hot rodz"]  # sorted
    for anchor, links in out.items():
        assert all(c.name != df.where(F.col("id") == anchor).first().name
                   for c in links)


def test_connected_components_transitive_chain(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    comps = {r.node: r.component
             for r in connected_components(edges).collect()}
    assert comps[1] == comps[2] == comps[3] == 1
    assert comps[10] == comps[11] == 10
    assert comps[20] == comps[21] == comps[22] == comps[23] == 20


def test_transitive_clusters_singletons(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (9, "z")],
                               "id long, txt string")
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = {r.id: r.component
           for r in transitive_clusters(df, edges, "id").collect()}
    assert out == {1: 1, 2: 1, 9: 9}


def test_cluster_members_sorted_sets(spark):
    df = spark.createDataFrame(
        [(1, 1, "b"), (2, 1, "a"), (3, 1, "a"), (4, 9, "z")],
        "id long, component long, name string",
    )
    rows = {r.component: r for r in
            cluster_members(df, "component", ["name"]).collect()}
    assert rows[1].cluster_size == 3
    assert rows[1].names == ["a", "b"]  # distinct + sorted
    assert rows[9].names == ["z"]


def test_blocked_join_no_cross_product(spark, sf_dir):
    from pyspark_deduplication_spark.plans.inspect import has_cartesian_or_bnl

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    names = part.groupBy("p_name").agg(F.min("p_partkey").alias("id"))
    pairs = blocked_similarity_join(
        names.select("id", F.col("p_name").alias("txt")),
        id_col="id", text_col="txt", threshold=0.4,
    )
    assert not has_cartesian_or_bnl(pairs)
    rows = pairs.collect()
    assert all(r.id_a < r.id_b for r in rows)
    assert all(r.sim >= 0.4 for r in rows)


@pytest.mark.parametrize("path", ["local", "distributed"])
def test_connected_components_long_chain_converges(spark, monkeypatch, path):
    """A 200-node path graph has diameter 200 — one-hop propagation would
    silently hit the 25-iteration cap; pointer doubling must converge.
    Run on both paths: the graph is under the local bound, so the loop
    is forced for the distributed case."""
    if path == "distributed":
        monkeypatch.setattr(linkage, "_LOCAL_CC_EDGES", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long")
    comps = connected_components(edges, max_iterations=25).collect()
    assert {r.component for r in comps} == {0}
    assert len(comps) == 201


def test_connected_components_warns_at_iteration_cap(spark, monkeypatch):
    """A path graph cut off after one round returns partial labels and
    says so; the converging chain above stays silent. Both graphs are
    under the local bound, so the loop is forced."""
    monkeypatch.setattr(linkage, "_LOCAL_CC_EDGES", 0)
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long")
    with pytest.warns(RuntimeWarning, match="max_iterations=1"):
        comps = connected_components(path, max_iterations=1).collect()
    assert {r.component for r in comps} != {0}

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(chain).collect()
    assert not [w for w in caught if "max_iterations" in str(w.message)]


def test_checkpoint_strips_inherited_stats(spark):
    """Iterated checkpoints must NOT compound the origin plan's
    sizeInBytes estimate: checkpoint/localCheckpoint copy it into the
    new LogicalRDD, and Spark's default join estimate is the product
    of child sizes, so an iterative algorithm's estimate grows as a
    power tower — the r9 sf1 run crossed BigInteger's 2^31-bit ceiling
    inside connected components (minutes of million-digit stats math,
    then 'BigInteger would overflow supported range').
    ``_checkpoint`` strips the inherited stats; three join+checkpoint
    rounds must leave the estimate flat instead of squaring it."""
    from pyspark_deduplication_spark.operators.linkage import _checkpoint

    def est(df) -> int:
        return int(str(df._jdf.queryExecution()
                       .optimizedPlan().stats().sizeInBytes()))

    a = spark.range(1000).select(F.col("id").alias("x"))
    j = a.join(a.withColumnRenamed("x", "y"),
               F.col("x") == F.col("y")).drop("y")
    inherited = est(j.localCheckpoint())      # the raw-Spark behavior
    df = _checkpoint(j)
    s0 = est(df)
    for _ in range(3):
        df = _checkpoint(
            df.join(df.withColumnRenamed("x", "y"),
                    F.col("x") == F.col("y")).drop("y"))
    assert est(df) <= s0, "estimate compounds across checkpoint rounds"
    # sanity: raw Spark really does inherit (the behavior we strip) —
    # if this ever stops holding upstream, the strip can be retired
    assert inherited == est(j)


def test_propagate_union_spelling_matches_join_spelling(spark):
    """r15: the CC propagate step became a UNION into the neighbor-min
    aggregation (one keyed join + exchange fewer per round). Pin that
    one round of the new spelling equals the old
    aggregate-then-join-back formulation on a graph with chains, a
    star, a pair and a singleton-in-sym shape."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),        # chain
         (10, 11), (10, 12), (10, 13),          # star
         (20, 21)],                              # pair
        "id_a long, id_b long")
    e = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.distinct()
    labels = (sym.groupBy("u").agg(F.min("v").alias("__mv"))
              .select(F.col("u").alias("node"),
                      F.least(F.col("u"), F.col("__mv")).alias("component")))

    old = labels.join(
        sym.join(labels, sym.v == labels.node, "inner")
        .select(F.col("u").alias("node"), F.col("component"))
        .groupBy("node").agg(F.min("component").alias("nbr_component")),
        "node", "left",
    ).select(
        "node",
        F.least(F.col("component"),
                F.coalesce(F.col("nbr_component"),
                           F.col("component"))).alias("component"),
    )
    new = (sym.join(labels, sym.v == labels.node, "inner")
           .select(F.col("u").alias("node"), F.col("component"))
           .union(labels.select("node", "component"))
           .groupBy("node").agg(F.min("component").alias("component")))
    assert sorted(map(tuple, old.collect())) == \
        sorted(map(tuple, new.collect()))


# ---------------------------------------------------------------------------
# Connected components: the driver union-find path vs the distributed loop
# ---------------------------------------------------------------------------

_CC_LOG = "pyspark_deduplication_spark"

# id kind → (column DDL, id encoder)
_ID_KINDS = {
    "int": ("id_a int, id_b int", lambda i: i),
    "bigint": ("id_a bigint, id_b bigint", lambda i: (1 << 40) + i),
    # prefixes make string order disagree with numeric order; "é" is
    # multi-byte in UTF-8, "Z" sorts before "z"
    "string": ("id_a string, id_b string",
               lambda i: ("", "é", "Z", "z")[i % 4] + str(i)),
    # the union widens int src and bigint dst to bigint
    "mixed_width": ("id_a int, id_b bigint", lambda i: i),
}


def _random_graph(seed: int) -> list[tuple[int, int]]:
    """A star, a long chain, random small components, self-loops
    (some on otherwise isolated nodes), and duplicate and reversed
    copies of existing edges, in shuffled order."""
    rng = random.Random(seed)
    ids = rng.sample(range(1, 5000), 260)
    hub, leaves = ids[0], ids[1:25]
    chain = ids[25:75]
    pool = ids[75:240]
    edges = [(hub, x) for x in leaves]
    edges += list(zip(chain, chain[1:]))
    edges += [tuple(rng.sample(pool, 2)) for _ in range(60)]
    edges += [(x, x) for x in rng.sample(ids[:240], 8) + ids[240:]]
    edges += rng.sample(edges, 12)
    edges += [(b, a) for a, b in rng.sample(edges, 12)]
    rng.shuffle(edges)
    return edges


def _cc_rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()), key=repr)


def _cc_paths(caplog) -> list[str]:
    return [r.getMessage().split()[1] for r in caplog.records
            if r.name == _CC_LOG and "connected_components" in r.getMessage()]


@pytest.mark.parametrize("kind,seed", [
    ("int", 11), ("bigint", 12), ("string", 13), ("mixed_width", 14)])
def test_local_cc_matches_loop(spark, monkeypatch, caplog, kind, seed):
    """The driver union-find returns the loop's rows and schema on
    seeded graphs with stars, long chains, self-loops, and duplicate
    and reversed edges, for int, bigint, string and mixed-width ids.
    The chain's ids are in random order, which the loop's pointer
    doubling does not shortcut (dozens of rounds, not log2 of the
    chain length), so the loop gets room to reach its fixpoint and
    must report that it did."""
    caplog.set_level(logging.INFO, logger=_CC_LOG)
    ddl, enc = _ID_KINDS[kind]
    edges = spark.createDataFrame(
        [(enc(a), enc(b)) for a, b in _random_graph(seed)], ddl)
    local = connected_components(edges)
    local_rows = _cc_rows(local)
    monkeypatch.setattr(linkage, "_LOCAL_CC_EDGES", 0)
    loop = connected_components(edges, max_iterations=100)
    assert _cc_paths(caplog) == ["path=local", "path=distributed"]
    assert caplog.records[-1].getMessage().endswith(" converged")
    assert local.schema == loop.schema
    assert local_rows == _cc_rows(loop)


def test_local_cc_bound_is_inclusive(spark, monkeypatch, caplog):
    """With the bound patched to 8, exactly 8 edges take the local path
    and 9 take the loop; both label every node with its component's
    minimum id."""
    caplog.set_level(logging.INFO, logger=_CC_LOG)
    monkeypatch.setattr(linkage, "_LOCAL_CC_EDGES", 8)
    eight = [(5, 3), (3, 9), (9, 1), (7, 8), (8, 4), (10, 10), (2, 6),
             (6, 2)]
    nine = eight + [(4, 9)]
    at = connected_components(
        spark.createDataFrame(eight, "id_a long, id_b long"))
    over = connected_components(
        spark.createDataFrame(nine, "id_a long, id_b long"))
    assert _cc_paths(caplog) == ["path=local", "path=distributed"]
    assert dict(at.collect()) == {1: 1, 3: 1, 5: 1, 9: 1, 4: 4, 7: 4,
                                  8: 4, 10: 10, 2: 2, 6: 2}
    assert dict(over.collect()) == {1: 1, 3: 1, 5: 1, 9: 1, 4: 1, 7: 1,
                                    8: 1, 10: 10, 2: 2, 6: 2}
    monkeypatch.setattr(linkage, "_LOCAL_CC_EDGES", 0)
    loop = connected_components(
        spark.createDataFrame(eight, "id_a long, id_b long"))
    assert _cc_rows(at) == _cc_rows(loop)


def test_cc_null_endpoints_keep_loop_output(spark, monkeypatch, caplog):
    """Edge lists with a null ``src`` or ``dst`` give exactly the loop's
    output: a null node is labeled with its neighbors' minimum but joins
    no two components."""
    caplog.set_level(logging.INFO, logger=_CC_LOG)
    edges = spark.createDataFrame(
        [(1, None), (None, 2), (None, None), (3, 4), (4, 4)],
        "id_a long, id_b long")
    default = connected_components(edges)
    assert _cc_rows(default) == sorted(
        [(1, 1), (2, 2), (3, 3), (4, 3), (None, 1)], key=repr)
    monkeypatch.setattr(linkage, "_LOCAL_CC_EDGES", 0)
    loop = connected_components(edges)
    assert _cc_rows(default) == _cc_rows(loop)
    assert default.schema == loop.schema
    reasons = [r.getMessage() for r in caplog.records if r.name == _CC_LOG]
    assert "reason=null_endpoint" in reasons[0]


def test_local_cc_leaves_no_cache(spark, caplog):
    """The local path persists nothing: the count of cached RDDs that
    are not local checkpoints is back at its baseline after the call."""
    from test_dedup import _cache_rdds

    caplog.set_level(logging.INFO, logger=_CC_LOG)
    edges = spark.createDataFrame(_random_graph(3), "id_a long, id_b long")
    before = _cache_rdds(spark)
    connected_components(edges).collect()
    assert _cc_paths(caplog) == ["path=local"]
    assert _cache_rdds(spark) == before


def test_cc_logs_one_decision_line_per_call(spark, monkeypatch, caplog):
    """Every call logs exactly one line naming its path with edge and
    node counts; loop lines add the rounds run and how the loop ended."""
    caplog.set_level(logging.INFO, logger=_CC_LOG)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "id_a long, id_b long")

    def line() -> str:
        caplog.clear()
        connected_components(chain, max_iterations=cap).collect()
        msgs = [r.getMessage() for r in caplog.records if r.name == _CC_LOG]
        assert len(msgs) == 1, msgs
        return msgs[0]

    cap = 25
    assert line() == "connected_components path=local edges=16 nodes=17"
    monkeypatch.setattr(linkage, "_LOCAL_CC_EDGES", 0)
    msg = line()
    assert msg.startswith("connected_components path=distributed "
                          "reason=over_bound edges>0 nodes=17 rounds=")
    assert msg.endswith(" converged")
    cap = 1
    with pytest.warns(RuntimeWarning, match="max_iterations=1"):
        msg = line()
    assert msg.endswith("nodes=17 rounds=1 hit_cap")
