"""Seeded end-to-end benchmark of the dedup / linkage engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The inputs are generated from ``--seed`` under
``.perfbench_work/``, which is removed again at exit. Each Spark session runs
in a child process on ``local[nproc]``; this process only generates inputs,
samples the children's memory from ``/proc`` and folds their results.

A pass is one request of the workload's single closed-loop client: the whole
input for three workloads, one batch for ``incremental_ingest``.

Both modes run one session that sets up and runs a cold pass.
``--trace 0`` then runs the workload's untimed settling passes and warm
passes for ``--seconds`` (at least the workload's ``min_warm``). ``--trace 1`` turns Spark's event log on,
takes the per-layer counts in the second pass, then alternates untraced
passes with traced ones (a span and a job group around every call into a
layer) and prints the per-layer table. The last stdout line is the result
object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORK_ROOT = ".perfbench_work"
# recall and merge precision pool the first passes, which every run makes,
# so a rerun with the same seed repeats them exactly
QUALITY_PASSES = 4


# ---------------------------------------------------------------------------
# child: one Spark session
# ---------------------------------------------------------------------------


def _stamp(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
    }


def child(args) -> dict:
    import duckdb

    from workloads import MINHASH_THRESHOLD, WORKLOADS

    tracer = None
    t0 = time.perf_counter()
    if args.role == "traced":
        from spans import Tracer

        tracer = Tracer(MINHASH_THRESHOLD)
        tracer.install()
    from pyspark_deduplication_spark import session

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse")}
    if tracer is not None:
        log_dir = os.path.join(args.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = session.get_spark("perfbench", extra_conf=conf)
    spark.range(1).count()
    duck = duckdb.connect()
    duck.execute(f"SET threads TO {os.cpu_count()}")
    wl = WORKLOADS[args.workload](spark, args.data, args.work, duck)
    wl.setup()
    res = {"setup_s": time.perf_counter() - t0, "stamp": _stamp(spark),
           "passes": [], "failed": 0, "attempted": 0, "errors": []}

    def one_pass(tag):
        res["attempted"] += 1
        start = time.time()
        try:
            secs = wl.run_pass(tag)
            end = time.time()
            quality = wl.check(tag)
        except Exception as exc:  # CheckFailed or an engine error: counted
            res["failed"] += 1
            res["errors"].append(f"{tag}: {type(exc).__name__}: {exc}"[:300])
            return
        finally:
            wl.clear_outputs(tag)
        res["passes"].append({"tag": tag, "pass_s": secs, "quality": quality,
                              "start": start, "end": end})

    max_passes = wl.max_passes or sys.maxsize
    if tracer is None:
        one_pass("cold")
        # settling passes are checked but not timed into pass_s
        for j in range(wl.settle_passes):
            one_pass(f"settle{j}")
        window_end = time.perf_counter() + args.budget
        i = 0
        while ((i < wl.min_warm or time.perf_counter() < window_end)
               and i + 1 + wl.settle_passes < max_passes):
            one_pass(f"warm{i}")
            i += 1
        spark.stop()
        return res

    # Traced session: untraced and traced passes alternate, flipping the
    # order each round, so the overhead is a paired difference within one
    # process; the event log is on throughout, so its own cost is outside
    # that difference.
    from spans import coverage, fold, lazy_charges, read_event_log

    tracer.start_pass("cold", enabled=False)
    one_pass("cold")
    # counts come from the second pass, which sees the same input in every
    # run; its timings are discarded
    tracer.counting = True
    tracer.start_pass("count")
    one_pass("count")
    tracer.counting = False
    window_end = time.perf_counter() + args.budget
    i = 0
    while ((i < 2 or time.perf_counter() < window_end)
           and 2 * i + 4 <= max_passes):
        pair = [(f"warm{i}", False), (f"traced{i}", True)]
        for tag, on in (pair if i % 2 == 0 else pair[::-1]):
            tracer.start_pass(tag, enabled=on)
            one_pass(tag)
        i += 1
    traced = [p for p in res["passes"] if p["tag"].startswith("traced")]
    res["passes"] = [p for p in res["passes"] if p not in traced]
    spark.stop()
    if not traced:  # every traced pass failed; the parent reports it
        return res
    jobs = read_event_log(os.path.join(args.work, "eventlog"))
    tags = [p["tag"] for p in traced]
    res["layers"], res["jobs_per_pass"] = fold(tracer, jobs, tags)
    res["traced_pass_s"] = statistics.median(p["pass_s"] for p in traced)
    res["coverage"] = statistics.median(
        coverage(tracer, p["tag"], p["start"], p["end"]) for p in traced)
    res["lazy"] = lazy_charges(tracer, tags)
    return res


# ---------------------------------------------------------------------------
# parent: inputs, sessions, memory sampling, result
# ---------------------------------------------------------------------------


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for task in _listdir(f"/proc/{p}/task"):
            try:
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _listdir(path):
    try:
        return os.listdir(path)
    except OSError:
        return []


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler(threading.Thread):
    """Peak summed RSS of a session's driver JVM and Python workers (all
    descendants of the child process), read from /proc every 250 ms; a
    walk reads one file per JVM thread, so faster sampling would load the
    cores being measured."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak, self._halt = pid, 0.0, threading.Event()

    def run(self):
        while not self._halt.wait(0.25):
            self.peak = max(self.peak, sum(
                _rss_mb(p) for p in _descendants(self.pid)))

    def stop(self):
        self._halt.set()
        self.join()


def run_session(args, role: str, budget: float, work: str, env: dict):
    cmd = [sys.executable, os.path.abspath(__file__), "--child", role,
           "--workload", args.workload, "--seed", str(args.seed),
           "--data", os.path.abspath(os.path.join(work, "data")),
           "--work", os.path.abspath(os.path.join(work, role)),
           "--budget", str(budget)]
    os.makedirs(os.path.join(work, role), exist_ok=True)
    # own process group, so the session is stopped together with its JVM
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True,
                            start_new_session=True)
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        out, _ = proc.communicate(timeout=150)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        sampler.stop()
    if proc.returncode != 0:
        raise RuntimeError(f"{role} session exited with {proc.returncode}")
    res = json.loads(out.strip().splitlines()[-1])
    res["peak_rss_mb"] = sampler.peak
    shutil.rmtree(os.path.join(work, role), ignore_errors=True)
    return res


def tail_percentile(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it; the
    maximum when there are fewer than eleven samples."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return s[-1], f"p100 of n={n}"
    k = n - 11  # ten samples lie above index k
    return s[k], f"p{100.0 * (k + 1) / n:.1f} of n={n}"


def _on_sigterm(signum, frame):
    # unwind through run_session's finally, which stops the session
    sys.exit(128 + signum)


def parent(args) -> int:
    if not os.path.isfile(os.path.join("pyspark_deduplication_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root; the engine package "
              "is not in this directory", file=sys.stderr)
        return 2
    from gen import generate
    from workloads import KNOBS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, _on_sigterm)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    ncpu = os.cpu_count() or 1
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(ncpu),
               SPARK_GRAFT_DRIVER_MEM="2g",
               SPARK_LOCAL_DIRS=os.path.abspath(os.path.join(work, "spark-local")),
               TMPDIR=os.path.abspath(os.path.join(work, "tmp")),
               PYTHONPATH=os.pathsep.join(
                   [HERE, os.getcwd(), os.environ.get("PYTHONPATH", "")]))
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    knobs = KNOBS[args.workload]
    try:
        digests = generate(args.workload, args.seed, knobs,
                           os.path.join(work, "data"))
        main = run_session(args, "traced" if args.trace else "full",
                           args.seconds, work, env)
    except (RuntimeError, ValueError, subprocess.TimeoutExpired) as exc:
        # a session that crashed or hung is a failed run, not a result
        print(f"perfbench-error {type(exc).__name__}: {exc}")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not _listdir(WORK_ROOT):
            shutil.rmtree(WORK_ROOT, ignore_errors=True)

    print("perfbench-env " + json.dumps(dict(
        main["stamp"], seed=args.seed, workload=args.workload,
        knobs=knobs.__dict__, input_sha256=digests), sort_keys=True))
    attempted, failed = main["attempted"], main["failed"]
    for e in main["errors"]:
        print("perfbench-error " + e)
    passes = main["passes"]
    warm = [p["pass_s"] for p in passes if p["tag"].startswith("warm")]
    cold = [p["pass_s"] for p in passes if p["tag"] == "cold"]
    if failed or not warm or not cold:
        print(json.dumps({"correct": False, "attempted": max(attempted, 1),
                          "failed": max(failed, 1), "metrics": {}}))
        return 0
    pass_s = statistics.median(warm)
    q = {k: sum(p["quality"][k] for p in passes[:QUALITY_PASSES])
         for k in ("removed", "dups", "lost", "entities")}
    tail, tail_name = tail_percentile(warm)
    detail = {
        "cold_s": cold[0], "warm_s": warm, "failed_ops": failed / attempted,
        "input_rows": WORKLOADS[args.workload].input_rows_of(knobs),
        "false_merge_rate": q["lost"] / q["entities"],
        "batch_tail_s": tail, "batch_tail": tail_name,
        "peak_rss_mb": main["peak_rss_mb"],
        "rows_out": [p["quality"]["rows_out"] for p in passes[:QUALITY_PASSES]],
    }
    if args.trace:
        tpass = main["traced_pass_s"]
        metrics = dict(main["layers"])
        metrics.update({"trace.pass_s": tpass, "trace.untraced_pass_s": pass_s,
                        "trace.overhead_s": tpass - pass_s,
                        "trace.coverage": main["coverage"]})
        detail["jobs_per_pass"] = main["jobs_per_pass"]
        print_trace_report(args.workload, metrics, main["lazy"])
        units = _layer_units()
        out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        values = {
            "setup_s": (main["setup_s"], "s"),
            "cold_pass_s": (cold[0], "s"),
            "pass_s": (pass_s, "s"),
            "rows_per_s": (detail["input_rows"] / pass_s, "rows/s"),
            "recall": (q["removed"] / q["dups"], "ratio"),
            "merge_precision": (1.0 - q["lost"] / q["entities"], "ratio"),
        }
        out = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    print("perfbench-detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": True, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


def _layer_units() -> dict:
    from spans import metric_names

    units = {}
    for name in metric_names():
        field = name.rsplit(".", 1)[1]
        units[name] = ("s" if field.endswith("_s") else
                       "MB" if field.endswith("_mb") else
                       "ratio" if field in ("yield", "coverage") else "count")
    return units


def print_trace_report(workload: str, m: dict, lazy: dict) -> None:
    from spans import LAYERS, SPAN_FIELDS

    print(f"perfbench-trace {workload}: median traced pass, per layer span")
    print("  " + "layer".ljust(20) + "".join(f.rjust(13) for f in SPAN_FIELDS))
    for layer in LAYERS:
        row = [m.get(f"{layer}.{f}", 0.0) for f in SPAN_FIELDS]
        if any(row):
            print("  " + layer.ljust(20) + "".join(f"{v:13.3f}" for v in row))
    print(f"  traced pass {m['trace.pass_s']:.3f} s, untraced "
          f"{m['trace.untraced_pass_s']:.3f} s, tracing overhead "
          f"{m['trace.overhead_s']:+.3f} s; top-level spans cover "
          f"{100 * m['trace.coverage']:.1f}% of the traced pass")
    print("  jobs are charged to the span whose action ran them; "
          "spans that only built lazy plans:")
    for layer, to in sorted(lazy.items()):
        where = ", ".join(f"{k} ({n} calls)" for k, n in sorted(to.items()))
        print(f"    {layer} -> work ran in {where}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=9)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", dest="role", help=argparse.SUPPRESS)
    ap.add_argument("--data", help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    ap.add_argument("--budget", type=float, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    if args.role:
        print(json.dumps(child(args)))
        return 0
    sys.path.insert(1, os.getcwd())
    return parent(args)


if __name__ == "__main__":
    sys.exit(main())
