"""The benchmark workloads: inputs, one pass, and exact output checks.

Each workload calls the engine only through module attributes
(``readers.read_parquet``, ``knn.semantic_dedup``, ...), so the tracer can
rebind them. A pass runs from input read to result written; checks and
quality scoring run after the pass, outside its clock, and read the written
files with DuckDB and the planted truth.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import shutil
import time

from gen import Knobs

# Sizes fit the time budget (4 + 22 runs per workload in under an hour) on a
# shared 4-core VM whose speed changed 2.5x within hours; per-job fixed cost
# is a large share of every pass.
KNOBS = {
    "counterparty_linkage": Knobs(records=8_000, dup_rate=0.3, length=24,
                                  vocab=8000),
    "incremental_ingest": Knobs(records=1_000, dup_rate=0.3, length=60,
                                batches=16, batch_size=200),
    "semantic_dedup": Knobs(records=6_000, dup_rate=0.3, length=32),
}

MINHASH_THRESHOLD = 0.8
NAME_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.95


class CheckFailed(Exception):
    """An exact output check did not hold."""


def _require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _one(duck, sql: str):
    return duck.execute(sql).fetchone()[0]


def _pq(path: str) -> str:
    """DuckDB source for a Spark parquet output directory (or file)."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}')"


def _family_quality(duck, truth: str, survivors_sql: str, id_col: str):
    """Quality counts of a dedup against planted families.

    A family of n docs needs n-1 removed (a family left with no survivor
    counts all n-1 as removed). An entity (a family or a lone doc) is
    lost, that is wrongly merged or dropped, when none of its docs
    survive."""
    row = duck.execute(f"""
        WITH s AS (SELECT DISTINCT {id_col} AS id FROM {survivors_sql}),
        f AS (
          SELECT t.family, count(*) AS n, count(s.id) AS kept
          FROM {truth} t LEFT JOIN s ON s.id = t.{id_col}
          GROUP BY t.family)
        SELECT sum(CASE WHEN n > 1 THEN n - greatest(kept, 1) END),
               sum(CASE WHEN n > 1 THEN n - 1 END),
               sum(CASE WHEN kept = 0 THEN 1 ELSE 0 END),
               count(*), sum(kept)
        FROM f""").fetchone()
    return dict(zip(("removed", "dups", "lost", "entities"), row[:4]),
                rows_out=int(row[4]))


def _check_survivors(duck, out_sql, input_sql, truth, id_col):
    """Survivors are distinct, a subset of the input ids, and at most one
    per planted exact-clone group."""
    _require(_one(duck, f"SELECT count(*) - count(DISTINCT {id_col}) "
                        f"FROM {out_sql}") == 0, "duplicate survivor ids")
    _require(_one(duck, f"SELECT count(*) FROM {out_sql} o ANTI JOIN "
                        f"{input_sql} i USING ({id_col})") == 0,
             "survivor ids not in the input")
    _require(_one(duck, f"""SELECT count(*) FROM (
        SELECT t.clone_group FROM {out_sql} o JOIN {truth} t USING ({id_col})
        WHERE t.clone_group >= 0 GROUP BY t.clone_group
        HAVING count(*) > 1)""") == 0,
             "two survivors from one exact-clone group")


class Workload:
    """One workload bound to a session. A pass is one request of the
    closed-loop client: the whole input, or one batch."""

    name = ""
    input_file = ""
    max_passes = None  # passes one session can run; None = unbounded
    # The JIT is still compiling in the pass after the cold one; settling
    # passes are checked but not timed.
    settle_passes = 1
    min_warm = 3  # timed passes a run makes even past --seconds

    def __init__(self, spark, data_dir: str, work_dir: str, duck):
        self.spark, self.data, self.work, self.duck = spark, data_dir, work_dir, duck
        self.knobs = KNOBS[self.name]
        self.truth = _pq(os.path.join(data_dir, "truth.parquet"))
        self.input = os.path.join(data_dir, self.input_file)
        self.input_rows = self.input_rows_of(self.knobs)

    @staticmethod
    def input_rows_of(knobs: Knobs) -> int:
        """Input rows one pass processes."""
        return knobs.records

    def setup(self) -> None:
        """One-time builds that a deployment pays once (timed in setup_s)."""

    def run_pass(self, tag: str) -> float:
        """Run one pass; return its wall seconds."""
        raise NotImplementedError

    def check(self, tag: str) -> dict:
        """Raise CheckFailed on a wrong output. Returns the pass's quality
        counts: planted duplicates ``removed`` of ``dups``, entities
        ``lost`` (wrongly merged or dropped) of ``entities``, and
        ``rows_out``."""
        raise NotImplementedError

    def out_dir(self, tag: str) -> str:
        return os.path.join(self.work, f"out_{tag}")

    def clear_outputs(self, tag: str) -> None:
        for path in glob.glob(os.path.join(self.work, f"*_{tag}")):
            shutil.rmtree(path, ignore_errors=True)


class SemanticDedup(Workload):
    name = "semantic_dedup"
    input_file = "vectors.parquet"

    def run_pass(self, tag):
        from pyspark_deduplication_spark.operators import knn
        from pyspark_deduplication_spark.sources import readers, writers

        t0 = time.perf_counter()
        vecs = readers.read_parquet(self.spark, self.input)
        # a cell cap arms the clone collapse and the Arrow pair kernel
        out = knn.semantic_dedup(vecs, threshold=COSINE_THRESHOLD,
                                 n_cells=16, max_cell_size=4096)
        writers.write_parquet(out, self.out_dir(tag))
        return time.perf_counter() - t0

    def check(self, tag):
        out, inp, d = _pq(self.out_dir(tag)), _pq(self.input), self.duck
        _require(_one(d, f"SELECT count(*) FROM {out}") == self.input_rows
                 and _one(d, f"SELECT count(*) FROM {inp} i ANTI JOIN {out} o "
                             f"USING (vec_id)") == 0,
                 "output does not label every input vector once")
        _require(_one(d, f"""SELECT count(*) FROM (
            SELECT component FROM {out} GROUP BY component
            HAVING min(vec_id) <> component)""") == 0,
                 "component label is not the minimum member id")
        _require(_one(d, f"SELECT count(*) FROM {out} WHERE keep <> "
                         f"(vec_id = component)") == 0,
                 "keep flag disagrees with the component label")
        kept = f"(SELECT vec_id FROM {out} WHERE keep)"
        _check_survivors(d, kept, inp, self.truth, "vec_id")
        return _family_quality(d, self.truth, kept, "vec_id")


def _char_grams(s: str) -> set:
    # functions.similarity.char_ngrams: distinct 3-grams, whole string if short
    return {s[i:i + 3] for i in range(max(len(s) - 2, 1))}


class CounterpartyLinkage(Workload):
    """The paper's Task 1 (exact dedup + surrogate ids) then Task 2
    (blocked fuzzy linkage + transitive clusters) on a counterparty CSV."""

    name = "counterparty_linkage"
    input_file = "counterparties.csv"

    def __init__(self, *a):
        super().__init__(*a)
        self._reference = None

    def run_pass(self, tag):
        from pyspark.sql import functions as F

        from pyspark_deduplication_spark import pipelines
        from pyspark_deduplication_spark.operators import linkage
        from pyspark_deduplication_spark.sources import readers

        t0 = time.perf_counter()
        raw = pipelines.extract(self.spark, self.input)
        # the stage hand-off goes through parquet, so the surrogate ids
        # are fixed once and every later stage reads the same ones
        _, path = pipelines.transform(
            self.spark, df=raw, dedup_keys=["name", "iban"], id_col="sid",
            output_path=os.path.join(self.work, f"keyed_{tag}"))
        keyed = readers.read_parquet(self.spark, path)
        edges = linkage.blocked_similarity_join(
            keyed, "sid", "name", threshold=NAME_THRESHOLD)
        clustered = linkage.transitive_clusters(keyed, edges, "sid")
        members = linkage.cluster_members(
            clustered.withColumn("member", F.struct("sid", "name", "iban")),
            member_cols=["member"])
        pipelines.load(self.spark, df=members, csv_path=self.out_dir(tag))
        return time.perf_counter() - t0

    def _reference_clusters(self, records):
        """Union-find over the blocking + char-3-gram Jaccard rule of
        ``blocked_similarity_join``, recomputed in Python."""
        parent = list(range(len(records)))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        blocks: dict = {}
        for i, (name, _) in enumerate(records):
            if name is not None:
                blocks.setdefault(name.strip(" ").lower()[:4], []).append(i)
        grams = [None if n is None else _char_grams(n) for n, _ in records]
        for members in blocks.values():
            for x in range(len(members)):
                gx = grams[members[x]]
                for y in range(x + 1, len(members)):
                    gy = grams[members[y]]
                    if len(gx & gy) / len(gx | gy) >= NAME_THRESHOLD:
                        parent[find(members[x])] = find(members[y])
        groups: dict = {}
        for i, rec in enumerate(records):
            groups.setdefault(find(i), set()).add(rec)
        return {frozenset(g) for g in groups.values()}

    def check(self, tag):
        files = glob.glob(os.path.join(self.out_dir(tag), "*.csv"))
        _require(len(files) == 1, "load did not write one CSV file")
        clusters = []
        with open(files[0], newline="") as fh:
            # Spark's CSV writer escapes quotes with a backslash
            for row in csv.DictReader(fh, escapechar="\\", doublequote=False):
                members = json.loads(row["members"])
                sids = [m["sid"] for m in members]
                _require(int(row["cluster_size"]) == len(members),
                         "cluster_size disagrees with the member list")
                _require(int(row["component"]) == min(sids),
                         "component label is not the minimum member id")
                clusters.append([(m["sid"], m.get("name"), m.get("iban"))
                                 for m in members])
        sids = sorted(s for c in clusters for s, _, _ in c)
        _require(len(sids) == len(set(sids)), "surrogate ids are not unique")
        _require(not sids or sids[-1] - sids[0] + 1 == len(sids),
                 "surrogate ids are not contiguous")
        src = f"read_csv('{self.input}', header=true, all_varchar=true)"
        distinct = self.duck.execute(
            f"SELECT DISTINCT name, iban FROM {src}").fetchall()
        _require(len(sids) == len(distinct),
                 "exact-dedup row count differs from DuckDB's distinct count")
        records = {(n, i) for c in clusters for _, n, i in c}
        _require(records == set(distinct),
                 "deduplicated (name, iban) set differs from DuckDB's")
        if self._reference is None:
            self._reference = self._reference_clusters(distinct)
        got = {frozenset((n, i) for _, n, i in c) for c in clusters}
        _require(got == self._reference,
                 "clusters differ from the reference connected components")
        return self._quality(clusters, src)

    def _quality(self, clusters, src):
        rows = self.duck.execute(f"""SELECT s.name, s.iban, t.entity
            FROM {src} s JOIN {self.truth} t ON t.id = CAST(s.id AS BIGINT)
            """).fetchall()
        cluster_of = {(n, i): k for k, c in enumerate(clusters) for _, n, i in c}
        by_entity: dict = {}
        for n, i, e in rows:
            by_entity.setdefault(e, []).append((n, i))
        entities_in: dict = {}
        for e, recs in by_entity.items():
            for r in set(recs):
                entities_in.setdefault(cluster_of[r], set()).add(e)
        linked = dups = merged = 0
        for e, recs in by_entity.items():
            if len(recs) > 1:
                per_cluster: dict = {}
                for r in set(recs):
                    per_cluster[cluster_of[r]] = per_cluster.get(cluster_of[r], 0) + 1
                # exact copies are removed; variants count when they share
                # the entity's largest cluster
                linked += len(recs) - len(set(recs)) + max(per_cluster.values()) - 1
                dups += len(recs) - 1
            if any(len(entities_in[cluster_of[r]]) > 1 for r in set(recs)):
                merged += 1
        return {"removed": linked, "dups": dups, "lost": merged,
                "entities": len(by_entity), "rows_out": len(clusters)}


class IncrementalIngest(Workload):
    """Small batches probe a persisted MinHash index built once in set-up.
    A pass is one batch: its survivors are written and their signatures
    appended, so the index grows through the session."""

    name = "incremental_ingest"
    input_file = "corpus.parquet"
    # a batch is short and its latency jitters, so the median takes more
    # of them than of the whole-pass workloads
    min_warm = 4

    def __init__(self, *a):
        super().__init__(*a)
        self.index = os.path.join(self.work, "index")
        self.max_passes = self.knobs.batches
        self._next = 0
        self._index_rows = 0
        self.duck.execute("CREATE TABLE survivors (doc_id BIGINT)")

    @staticmethod
    def input_rows_of(knobs: Knobs) -> int:
        return knobs.batch_size

    def batch(self, b: int) -> str:
        return os.path.join(self.data, f"batch_{b:03d}.parquet")

    def setup(self):
        from pyspark_deduplication_spark.operators import dedup
        from pyspark_deduplication_spark.sources import readers, writers

        corpus = readers.read_parquet(self.spark, self.input)
        writers.write_parquet(dedup.build_minhash_index(corpus, "text", "doc_id"),
                              self.index)
        self._index_rows = _one(self.duck, f"SELECT count(*) FROM {_pq(self.index)}")

    def run_pass(self, tag):
        from pyspark_deduplication_spark.operators import dedup
        from pyspark_deduplication_spark.sources import readers, writers

        b, self._next = self._next, self._next + 1
        out = self.out_dir(tag)
        t0 = time.perf_counter()
        new = readers.read_parquet(self.spark, self.batch(b))
        index = readers.read_parquet(self.spark, self.index)
        fresh = dedup.incremental_minhash_dedup(
            new, None, "text", "doc_id", threshold=MINHASH_THRESHOLD,
            corpus_sigs=index)
        writers.write_parquet(fresh, out)
        # survivors are signed from what was written, so the append does
        # not recompute the dedup
        written = readers.read_parquet(self.spark, out)
        writers.write_parquet(dedup.build_minhash_index(written, "text", "doc_id"),
                              self.index, mode="append")
        return time.perf_counter() - t0

    def check(self, tag):
        d, k = self.duck, self.knobs
        b = self._next - 1
        out = _pq(self.out_dir(tag))
        _check_survivors(d, out, _pq(self.batch(b)), self.truth, "doc_id")
        n_surv = _one(d, f"SELECT count(*) FROM {out}")
        rows = _one(d, f"SELECT count(*) FROM {_pq(self.index)}")
        _require(rows == self._index_rows + n_surv,
                 "the index did not grow by exactly the survivors")
        self._index_rows = rows
        # no survivor repeats an exact clone already in the corpus or in an
        # earlier batch's survivors
        _require(_one(d, f"""SELECT count(*) FROM {out} o
            JOIN {self.truth} t USING (doc_id)
            WHERE t.clone_group >= 0 AND t.clone_group IN (
              SELECT t2.clone_group FROM (
                SELECT doc_id FROM {_pq(self.input)}
                UNION ALL SELECT doc_id FROM survivors) p
              JOIN {self.truth} t2 USING (doc_id))""") == 0,
                 "a survivor repeats an exact clone seen earlier")
        d.execute(f"INSERT INTO survivors SELECT doc_id FROM {out}")
        # a batch doc is a planted duplicate when its family already has a
        # doc earlier in the stream; ids follow stream order
        row = d.execute(f"""
            WITH t AS (SELECT doc_id, family, row_number() OVER (
                    PARTITION BY family ORDER BY doc_id) > 1 AS is_dup
                  FROM {self.truth}),
            s AS (SELECT doc_id FROM {out})
            SELECT count(*) FILTER (WHERE is_dup AND s.doc_id IS NULL),
                   count(*) FILTER (WHERE is_dup),
                   count(*) FILTER (WHERE NOT is_dup AND s.doc_id IS NULL),
                   count(*) FILTER (WHERE NOT is_dup)
            FROM t LEFT JOIN s USING (doc_id)
            WHERE t.doc_id >= {k.records + b * k.batch_size}
              AND t.doc_id < {k.records + (b + 1) * k.batch_size}""").fetchone()
        return dict(zip(("removed", "dups", "lost", "entities"), row),
                    rows_out=n_surv)


WORKLOADS = {w.name: w for w in
             (CounterpartyLinkage, IncrementalIngest, SemanticDedup)}
