#!/usr/bin/env python3
"""Warm, seeded benchmark of string_grouper_spark (one workload per run).

    python3 perfbench/run.py --workload names_reference --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout.  One process, one Spark application
at ``local[nproc]``; the session shape is pinned only through the package's
own env knobs (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_SHUFFLE_PARTITIONS``,
``SPARK_GRAFT_DRIVER_MEM``) and a fresh ``SPARK_LOCAL_DIRS`` that is removed
on exit.

Untraced (``--trace 0``): set-up is repeated ``SETUP_REPS`` times, then one
cold call (``first_job_s``, also the untimed warm-up), then warm calls
repeated for ``--seconds`` (at least ``MIN_TIMED``).  Every call's output
goes through the workload's gates.  The last stdout line is the JSON result
with every end-to-end metric.

Traced (``--trace 1``): the same set-up and cold call, then untraced calls
for half the time (the overhead base), then one call with every layer wrapped
(see spans.py) and the event log on.  The last stdout line carries the
per-layer metrics; the per-layer table is printed above it.

See README.md for the workloads, the metrics and what each layer should move.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
MIN_TIMED = 1
SHUFFLE_PARTITIONS = 8


def log(msg: str) -> None:
    print(msg, flush=True)


def host_fingerprint() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=30,
        ).stdout.strip() or "not a git checkout"
    except (OSError, subprocess.SubprocessError):
        commit = "not a git checkout"
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": commit,
    }


def configure_env(work: str, trace: bool) -> None:
    """Session shape through the package's env knobs, plus traced-run conf."""
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(SHUFFLE_PARTITIONS)
    # well below host RAM: the package default (64g) lets the heap outgrow
    # a small host and the kernel kills the JVM
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(mem_gb // 4)))}g"
    local = os.path.join(work, "local")
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    # Python workers import the package from the checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = [
        f"--driver-java-options '-Djava.io.tmpdir={local} -XX:-UsePerfData'",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{events}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])


def process_tree(root_pid: int) -> list:
    children: dict = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark() -> None:
    """Stop the Spark session, then end its JVM and the JVM's Python workers
    and wait for every one of them, so no process outlives the run.

    PySpark leaves the JVM to notice on its own, after this process exits,
    that its stdin has closed; it and its workers would still be running
    when the run returns."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    workers = set(process_tree(proc.pid)[1:])
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # still end the JVM below
            traceback.print_exc()
    workers.update(process_tree(proc.pid)[1:])
    # the gateway JVM exits when its stdin reaches EOF
    try:
        proc.stdin.close()
    except (OSError, AttributeError):
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # the workers lost their parent with the JVM: give them 10 s to exit on
    # their own, then end them
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in workers:
            if sig is not None and _alive(pid):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and any(_alive(p) for p in workers):
            time.sleep(0.05)
        if not any(_alive(p) for p in workers):
            break


def peak_rss_mb(spark) -> list:
    """VmHWM in MB of the JVM (first) and each of its Python workers."""
    out = []
    for pid in process_tree(spark.sparkContext._gateway.proc.pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out.append(int(line.split()[1]) / 1024)
        except OSError:
            continue
    return out


def quartiles(values: list) -> tuple:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


class Ops:
    """Every timed call and every gate is one operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.messages.append(what)
            log(f"FAILED: {what}")


def timed_call(wl, i, ops, tracer=None):
    """One call: untimed hand-off, timed job, untimed gates.  A traced call
    runs inside the root span ``job``."""
    wl.prepare(i)
    t0 = time.perf_counter()
    try:
        if tracer is None:
            out = wl.call()
        else:
            with tracer.span("job"):
                out = wl.call(tracer)
    except Exception as exc:  # a failed call is a failed operation, not a crash
        traceback.print_exc()
        ops.record(False, f"call {i} raised {type(exc).__name__}: {exc}")
        return None, None
    wall = time.perf_counter() - t0
    ops.record(True, f"call {i}")
    fails, recall, precision = wl.check(out)
    ops.record(not fails, f"gates of call {i}: {'; '.join(fails)}")
    return wall, (recall, precision)


def run(args) -> tuple:
    import workloads

    from string_grouper_spark.session import get_spark

    ops = Ops()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    wl = workloads.WORKLOADS[args.workload](spark, args.seed, args.size, args.work)
    setups = []
    for _ in range(SETUP_REPS):
        if setups:
            wl.drop_inputs()
        t = time.perf_counter()
        wl.setup()
        setups.append(time.perf_counter() - t)
    inputs_s = statistics.median(setups)
    log(f"setup: session {session_s:.3f} s, inputs {['%.3f' % s for s in setups]} s")

    jvm = spark.sparkContext._jvm.System
    log(f"java: {jvm.getProperty('java.vm.name')} {jvm.getProperty('java.version')}")

    first, scores = timed_call(wl, 0, ops)
    log(f"first call: {first} s")
    budget = args.seconds / 2 if args.trace else args.seconds
    walls, score_list, i = [], [scores], 1
    start = time.perf_counter()
    while i <= MIN_TIMED or time.perf_counter() - start < budget:
        wall, sc = timed_call(wl, i, ops)
        i += 1
        if wall is not None:
            walls.append(wall)
            score_list.append(sc)
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    rss = peak_rss_mb(spark)
    log(f"peak rss: jvm {rss[0]:.0f} MB + {len(rss) - 1} python processes "
        f"{sum(rss[1:]):.0f} MB")
    q1, job_s, q3 = quartiles(walls) if walls else (0.0, 0.0, 0.0)
    good = [s for s in score_list if s is not None]
    recall = min(s[0] for s in good) if good else 0.0
    precision = min(s[1] for s in good) if good else 0.0
    log(
        f"job_s: median {job_s:.4f} s, quartiles [{q1:.4f}, {q3:.4f}], "
        f"n={len(walls)} warm calls {[round(w, 3) for w in walls]}; docs={wl.rows}; "
        f"persisted RDDs {persisted}"
    )
    result = {
        "setup_s": (session_s + inputs_s, "s"),
        "first_job_s": (first or 0.0, "s"),
        "job_s": (job_s, "s"),
        "docs_per_s": (wl.rows / job_s if job_s else 0.0, "1/s"),
        "dup_pair_recall": (recall, "ratio"),
        "dup_pair_precision": (precision, "ratio"),
        "peak_rss_mb": (sum(rss), "MB"),
    }
    if args.trace:
        import spans as tr

        tracer = tr.Tracer(spark)
        wl.trace_layers(tracer)
        try:
            traced, _ = timed_call(wl, i, ops, tracer)
        finally:
            tracer.uninstall()
        spark.stop()
        logs = glob.glob(os.path.join(args.work, "events", "*"))
        events = tr.event_log_metrics(logs[0]) if logs else {}
        return {**layer_metrics(
            tracer, events, traced, job_s, session_s, inputs_s, persisted
        ), **{k: result[k] for k in DEMOTED}}, ops
    spark.stop()
    for name, (value, unit) in result.items():
        note = "  (per-layer: single sample, not steady within a tenth)" if name in DEMOTED else ""
        log(f"metric {name} = {value:.6g} {unit}{note}")
    return {k: v for k, v in result.items() if k not in DEMOTED}, ops


# single-sample numbers whose run-to-run spread on the 4-core host exceeded
# a tenth: printed by every run, reported as per-layer metrics (README.md)
DEMOTED = ("first_job_s", "peak_rss_mb")


PER_LAYER_EVENTS = (
    "plans.fast_dedup.terms", "plans.fast_dedup.idf", "plans.fast_dedup.vectors",
    "plans.fast_dedup.candidates", "plans.fast_dedup.rescore",
    "operators.candidates.substring", "operators.grouping.cc",
    "functions.tfidf.postings", "operators.similarity.cosine_join",
    "functions.gopher.gate",
)
SELF_TIMES = {
    "plans.fast_dedup.terms_s": "plans.fast_dedup.terms",
    "plans.fast_dedup.idf_s": "plans.fast_dedup.idf",
    "plans.fast_dedup.vectors_s": "plans.fast_dedup.vectors",
    "plans.fast_dedup.candidates_s": "plans.fast_dedup.candidates",
    "plans.fast_dedup.rescore_s": "plans.fast_dedup.rescore",
    "plans.fast_dedup.plan_s": "plans.fast_dedup.fast_lsh_dedup",
    "operators.candidates.skew_policy_s": "operators.candidates.skew_policy",
    "operators.candidates.substring_s": "operators.candidates.substring",
    "operators.dedup.union_plan_s": "operators.dedup.near_duplicate_clusters_scale",
    "operators.grouping.cc_s": "operators.grouping.cc",
    "operators.grouping.group_labels_s": "operators.grouping.group_labels",
    "functions.tfidf.postings_s": "functions.tfidf.postings",
    "operators.similarity.cosine_join_s": "operators.similarity.cosine_join",
    "operators.matching.match_edges_s": "operators.matching.match_edges",
    "pandas_api.fit_s": "pandas_api.fit",
    "pandas_api.get_matches_s": "pandas_api.get_matches",
    "pandas_api.get_groups_s": "pandas_api.get_groups",
    "sources.warc.read_s": "sources.warc.read",
    "sources.warc.extract_s": "sources.warc.to_pages",
    "functions.urls.url_dedup_s": "functions.urls.url_dedup",
    "functions.gopher.gate_s": "functions.gopher.gate",
    "plans.curate.curate_s": "plans.curate.curate_pages",
    "plans.curate.election_s": "plans.curate.election",
    "plans.curate.write_s": "plans.curate.write",
}
COUNTS = (
    "plans.fast_dedup.n_candidates", "plans.fast_dedup.n_pairs_kept",
    "operators.candidates.n_buckets_salted", "operators.candidates.n_buckets_dropped",
    "operators.candidates.n_rows_dropped", "operators.candidates.max_bucket_rows",
    "operators.candidates.n_containments", "operators.grouping.n_edges_in",
    "operators.grouping.max_component_size", "operators.similarity.n_gram_pairs",
    "operators.similarity.n_doc_pairs", "sources.warc.n_records",
)
EVENT_UNITS = {
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "peak_exec_mem_mb": "MB",
}


def layer_metrics(tracer, events, traced, job_s, session_s, inputs_s, persisted):
    import spans as tr

    table = tracer.table()
    counts = tracer.counts
    root = table.get("job", [1, traced or 0.0, traced or 0.0])
    counters_s = table.get(tr.COUNTERS, [0, 0.0, 0.0])[1]
    wall = root[1] - counters_s
    covered = 1.0 - root[2] / wall if wall > 0 else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    m = {
        "setup.session_s": (session_s, "s"),
        "setup.inputs_s": (inputs_s, "s"),
        "trace.wall_s": (wall, "s"),
        "trace.coverage_frac": (covered, "ratio"),
        "trace.overhead_frac": (ratio(root[1], job_s), "ratio"),
        "trace.failed_tasks": (sum(e["failed_tasks"] for e in events.values()), "count"),
        "pandas_api.persisted_rdds": (persisted, "count"),
        "operators.grouping.cc_jobs": (events.get("operators.grouping.cc", {}).get("jobs", 0), "count"),
        "plans.fast_dedup.rescore_keep_ratio": (ratio(
            counts.get("plans.fast_dedup.n_pairs_kept", 0),
            counts.get("plans.fast_dedup.n_candidates", 0)), "ratio"),
        "operators.similarity.keep_ratio": (ratio(
            counts.get("operators.similarity.n_pairs_kept", 0),
            counts.get("operators.similarity.n_doc_pairs", 0)), "ratio"),
        "functions.gopher.kept_frac": (ratio(
            counts.get("functions.gopher.n_kept", 0),
            counts.get("functions.gopher.n_in", 0)), "ratio"),
    }
    for name, span in SELF_TIMES.items():
        m[name] = (table.get(span, [0, 0.0, 0.0])[2], "s")
    for name in COUNTS:
        m[name] = (counts.get(name, 0), "count")
    for layer in PER_LAYER_EVENTS:
        ev = events.get(layer, {})
        for field, unit in EVENT_UNITS.items():
            m[f"{layer}.{field}"] = (ev.get(field, 0.0), unit)

    log(f"{'layer':48s} {'calls':>5s} {'total_s':>9s} {'self_s':>9s} {'jobs':>5s} "
        f"{'run_s':>8s} {'cpu_s':>8s} {'gc_s':>6s} {'shr_mb':>8s} {'shw_mb':>8s}")
    for name in sorted(set(table) | set(events)):
        calls, total, self_s = table.get(name, [0, 0.0, 0.0])
        ev = events.get(name, {})
        log(f"{name:48s} {calls:5d} {total:9.3f} {self_s:9.3f} {int(ev.get('jobs', 0)):5d} "
            f"{ev.get('executor_run_s', 0):8.2f} {ev.get('executor_cpu_s', 0):8.2f} "
            f"{ev.get('gc_s', 0):6.2f} {ev.get('shuffle_read_mb', 0):8.2f} "
            f"{ev.get('shuffle_write_mb', 0):8.2f}")
    log(f"traced wall {wall:.3f} s (counters excluded), coverage {covered:.3f}, "
        f"overhead {ratio(root[1], job_s):.3f}x of untraced job_s {job_s:.3f} s")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import string_grouper_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still ends the JVM it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(args.work, ignore_errors=True)
    os.makedirs(args.work)
    try:
        configure_env(args.work, bool(args.trace))
        fp = host_fingerprint()
        log("host: " + json.dumps(fp, sort_keys=True))
        log(f"session: local[{os.environ['SPARK_GRAFT_CPUS']}], shuffle partitions "
            f"{SHUFFLE_PARTITIONS}, driver memory {os.environ['SPARK_GRAFT_DRIVER_MEM']}")
        metrics, ops = run(args)
    finally:
        stop_spark()
        shutil.rmtree(args.work, ignore_errors=True)
    log(f"operations: {ops.attempted} attempted, {ops.failed} failed"
        + (f" ({ops.messages[:3]})" if ops.failed else ""))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
