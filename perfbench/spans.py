"""Layer spans around the engine's public functions, and the fold of
Spark's event log into a per-span table.

``Tracer.install`` rebinds each spanned function in every engine module
that holds it (a ``from x import f`` copy is a separate binding, and a
missed one would silently drop the span). Each span sets its own Spark job
group, so the event log charges every job to the innermost span that was
open when an action ran it. Frames are lazy: a call that only builds a
plan launches no job, and its work is charged to the span whose action
runs it; ``lazy_charges`` names those spans.

The event-log fold uses the standard library only.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import time

_PKG = "pyspark_deduplication_spark"

# layer -> (module, public functions whose calls are spanned)
LAYERS = {
    "session": (f"{_PKG}.session", ["get_spark"]),
    "readers": (f"{_PKG}.sources.readers", ["read_parquet", "read_csv"]),
    "pipelines": (f"{_PKG}.pipelines", ["extract", "transform", "load"]),
    "dedup.exact": (f"{_PKG}.operators.dedup",
                    ["dedup_exact", "dedup_keep_first", "dedup_fingerprint"]),
    "dedup.surrogate": (f"{_PKG}.operators.dedup", ["with_surrogate_id"]),
    "dedup.sign": (f"{_PKG}.operators.dedup",
                   ["minhash_signatures", "build_minhash_index"]),
    "dedup.candidates": (f"{_PKG}.operators.dedup",
                         ["minhash_candidate_pairs",
                          "incremental_minhash_candidates"]),
    "dedup.incremental": (f"{_PKG}.operators.dedup",
                          ["incremental_minhash_dedup"]),
    "linkage.block_join": (f"{_PKG}.operators.linkage",
                           ["blocked_similarity_join"]),
    "linkage.cc": (f"{_PKG}.operators.linkage", ["connected_components"]),
    "linkage.cluster": (f"{_PKG}.operators.linkage",
                        ["transitive_clusters", "cluster_members"]),
    "knn.train": (f"{_PKG}.operators.knn", ["train_centroids"]),
    "knn.assign": (f"{_PKG}.operators.knn", ["assign_cells"]),
    "knn.edges": (f"{_PKG}.operators.knn", ["semantic_dedup_edges"]),
    "writers": (f"{_PKG}.sources.writers", ["write_parquet", "write_csv"]),
}

# The session span runs before any job, so only its times are reported.
SPAN_FIELDS = ["wall_s", "self_s", "driver_gap_s", "jobs", "tasks", "task_s",
               "shuffle_mb", "spill_mb"]
SESSION_FIELDS = ["wall_s", "self_s", "driver_gap_s", "jobs"]
COUNT_FIELDS = ["dedup.candidates.pairs_in", "dedup.candidates.pairs_kept",
                "dedup.candidates.yield", "linkage.block_join.pairs_out",
                "linkage.cc.nodes", "knn.edges.pairs_out"]
# traced functions whose output row count is a per-layer counter
_COUNTED = {"blocked_similarity_join": "linkage.block_join.pairs_out",
            "connected_components": "linkage.cc.nodes",
            "semantic_dedup_edges": "knn.edges.pairs_out"}
TRACE_FIELDS = ["trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s",
                "trace.coverage", "outside.jobs"]


def metric_names() -> list[str]:
    names = [f"session.{f}" for f in SESSION_FIELDS]
    names += [f"{layer}.{f}" for layer in LAYERS if layer != "session"
              for f in SPAN_FIELDS]
    return names + COUNT_FIELDS + TRACE_FIELDS


class Span:
    __slots__ = ("sid", "layer", "fn", "parent", "phase", "start", "end",
                 "jobs", "receivers", "children")

    def __init__(self, sid, layer, fn, parent, phase):
        self.sid, self.layer, self.fn = sid, layer, fn
        self.parent, self.phase = parent, phase
        self.start = time.time()
        self.end = self.start
        self.jobs: list = []
        self.receivers: list = []
        self.children: list = []
        if parent is not None:
            parent.children.append(self)


class Tracer:
    """Spans kept in memory; ``fold`` turns them and the event log into
    per-layer metrics once the session has stopped."""

    def __init__(self, minhash_threshold: float):
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.phase = "setup"
        self.enabled = True
        self.counting = False
        self.counts: dict[str, float] = {}
        self.threshold = minhash_threshold
        self._frames: dict[int, tuple] = {}

    # -- spans --------------------------------------------------------

    def _set_group(self, span):
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        sc.setLocalProperty("spark.jobGroup.id", f"pb-{self.phase}"
                            if span is None else f"pb{span.sid}")

    def install(self) -> None:
        import importlib

        importlib.import_module(_PKG)  # loads every engine module
        for layer, (mod_name, fns) in LAYERS.items():
            mod = importlib.import_module(mod_name)
            for fn in fns:
                orig = getattr(mod, fn)
                wrapped = self._wrap(layer, fn, orig)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith(_PKG):
                        for attr, val in list(vars(m).items()):
                            if val is orig:
                                setattr(m, attr, wrapped)

    def _wrap(self, layer, fn, orig):
        from pyspark.sql import DataFrame

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            parent = self.stack[-1] if self.stack else None
            span = Span(len(self.spans), layer, fn, parent, self.phase)
            self.spans.append(span)
            for a in list(args) + list(kwargs.values()):
                src = self._frames.get(id(a))
                if src is not None and src[1] is a:
                    src[0].receivers.append(span)
            self.stack.append(span)
            self._set_group(span)
            try:
                out = orig(*args, **kwargs)
            finally:
                span.end = time.time()
                self.stack.pop()
                self._set_group(parent)
            frame = out[0] if isinstance(out, tuple) and out else out
            if isinstance(frame, DataFrame):
                self._frames[id(frame)] = (span, frame)
                if self.counting:
                    self._count(fn, frame)
            return out

        return spanned

    def start_pass(self, phase: str, enabled: bool = True) -> None:
        """Begin a pass; jobs outside any span are grouped under it."""
        self.phase, self.enabled = phase, enabled
        self._frames.clear()
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", f"pb-{phase}")

    def _count(self, fn, frame):
        """Counts of a traced call's output, taken only in the counting
        pass (its timings are discarded) under a job group of its own."""
        from pyspark.sql import functions as F

        sc = frame.sparkSession.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", "pb-counter")
        try:
            if fn == "minhash_candidate_pairs":
                kept = F.count(F.when(F.col("jaccard_sim") >= self.threshold, 1))
                row = frame.agg(F.count("*"), kept).first()
                self._add("dedup.candidates.pairs_in", row[0])
                self._add("dedup.candidates.pairs_kept", row[1])
            elif fn in _COUNTED:
                self._add(_COUNTED[fn], frame.count())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    def _add(self, name, n):
        self.counts[name] = self.counts.get(name, 0) + n


# ---------------------------------------------------------------------------
# event log fold
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs from a Spark event log: group, stages and task records."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    jobs, stage_job, tasks = {}, {}, []
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"group": (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id"), "tasks": []}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for ev in tasks:
        jid = stage_job.get(ev["Stage ID"])
        if jid is None:
            continue
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        jobs[jid]["tasks"].append({
            "start": info["Launch Time"] / 1000.0,
            "end": info["Finish Time"] / 1000.0,
            "run_s": m.get("Executor Run Time", 0) / 1000.0,
            "shuffle_b": (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0),
            "spill_b": m.get("Memory Bytes Spilled", 0)
            + m.get("Disk Bytes Spilled", 0),
        })
    return jobs


def _subtract(intervals, cuts):
    """Parts of ``intervals`` not covered by ``cuts`` (both [a, b] lists)."""
    out = []
    cuts = sorted(cuts)
    for a, b in intervals:
        cur = a
        for c, d in cuts:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
            if cur >= b:
                break
        if cur < b:
            out.append((cur, b))
    return out


def _length(intervals):
    return sum(b - a for a, b in intervals)


def fold(tracer: Tracer, jobs: dict,
         warm_phases: list[str]) -> tuple[dict, dict]:
    """Per-layer metrics: each warm pass summed per layer, then the median
    over warm passes; the session layer comes from set-up. Also returns
    the jobs of each layer in each warm pass."""
    by_group: dict = {}
    for j in jobs.values():
        by_group.setdefault(j["group"], []).append(j)
    per_phase: dict = {}
    for s in tracer.spans:
        s.jobs = by_group.get(f"pb{s.sid}", [])
        own = _subtract([(s.start, s.end)],
                        [(k.start, k.end) for k in s.children])
        task_iv = [(t["start"], t["end"]) for j in s.jobs for t in j["tasks"]]
        nested_same = _ancestor_layer(s, s.layer)
        row = per_phase.setdefault(s.phase, {}).setdefault(
            s.layer, dict.fromkeys(SPAN_FIELDS, 0.0))
        if not nested_same:
            row["wall_s"] += s.end - s.start
        row["self_s"] += _length(own)
        row["driver_gap_s"] += _length(_subtract(own, task_iv))
        row["jobs"] += len(s.jobs)
        tasks = [t for j in s.jobs for t in j["tasks"]]
        row["tasks"] += len(tasks)
        row["task_s"] += sum(t["run_s"] for t in tasks)
        row["shuffle_mb"] += sum(t["shuffle_b"] for t in tasks) / 1e6
        row["spill_mb"] += sum(t["spill_b"] for t in tasks) / 1e6
    metrics = {}
    setup = per_phase.get("setup", {}).get("session", {})
    for f in SESSION_FIELDS:
        metrics[f"session.{f}"] = setup.get(f, 0.0)
    for layer in LAYERS:
        if layer == "session":
            continue
        for f in SPAN_FIELDS:
            vals = [per_phase.get(p, {}).get(layer, {}).get(f, 0.0)
                    for p in warm_phases]
            metrics[f"{layer}.{f}"] = statistics.median(vals) if vals else 0.0
    c = tracer.counts
    for name in COUNT_FIELDS:
        metrics[name] = c.get(name, 0)
    pin = c.get("dedup.candidates.pairs_in", 0)
    metrics["dedup.candidates.yield"] = (
        c.get("dedup.candidates.pairs_kept", 0) / pin if pin else 0.0)
    metrics["outside.jobs"] = statistics.median(
        len(by_group.get(f"pb-{p}", [])) for p in warm_phases)
    jobs_per_pass = {
        layer: [int(per_phase.get(p, {}).get(layer, {}).get("jobs", 0))
                for p in warm_phases]
        for layer in LAYERS if layer != "session"}
    return metrics, {k: v for k, v in jobs_per_pass.items() if any(v)}


def _ancestor_layer(span, layer) -> bool:
    p = span.parent
    while p is not None:
        if p.layer == layer:
            return True
        p = p.parent
    return False


def coverage(tracer: Tracer, phase: str, pass_start: float, pass_end: float):
    """Share of a pass's wall time covered by its top-level spans."""
    top = [(s.start, s.end) for s in tracer.spans
           if s.phase == phase and s.parent is None]
    return _length(_merge(top)) / (pass_end - pass_start)


def _merge(iv):
    out = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def lazy_charges(tracer: Tracer, phases: list[str]) -> dict:
    """For each layer whose calls launched no job of their own: the
    layers whose actions ran that work, with how many calls each."""
    out: dict = {}
    for s in tracer.spans:
        if s.phase not in phases or s.jobs or s.layer == "session":
            continue
        target = _charged_span(s)
        name = target.layer if target is not None else "(outside a traced call)"
        row = out.setdefault(s.layer, {})
        row[name] = row.get(name, 0) + 1
    return out


def _charged_span(span):
    """First span downstream of a lazy span that ran jobs, searching the
    calls that received its frame, its own nested calls (and theirs), then
    its enclosing call."""
    todo = span.receivers + span.children + ([span.parent] if span.parent else [])
    seen = {span.sid}
    while todo:
        cur = todo.pop(0)
        if cur.sid in seen:
            continue
        seen.add(cur.sid)
        if cur.jobs:
            return cur
        todo += cur.receivers + cur.children
    return None
