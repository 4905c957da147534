"""The repository's benchmark: one workload, one fresh Spark session.

    python3 perfbench/run.py --workload crawl_pipeline --seed 1 --seconds 30 --trace 0

Run from the repository root. The run generates its inputs from --seed
(set-up, repeated and reported as setup_s), builds the oracle answers,
warms the JVM on a tiny input, then times repetitions of the workload
until --seconds is used up (at least one), checking every output against
functions/oracle_numpy. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric of BENCHMARK.json (--trace 0) or every per-layer metric (--trace 1).

--trace 1 makes three repetitions: untraced, traced, untraced. The traced
one gives the per-layer split: spans around each layer call joined with
the run's Spark event log (see tracing.py); its run time minus the mean of
the two untraced ones is the tracing overhead. Workload sizes live in perfbench/spec.json.

Everything the run writes (inputs, Spark local dirs, temp dirs, event
log, checkpoints) stays under one temp root in .perfbench_tmp/, removed
on exit.
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
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from geminigraph_spark.session import get_spark  # noqa: E402

from probes import (  # noqa: E402
    MemorySampler, SessionState, become_subreaper, descendants, end_processes, job_floor_s,
    reap_children, start_time,
)
from tracing import WORKLOAD, SpanTree, Tracer, dur, read_event_log, sum_stats  # noqa: E402
from workloads import DF, LAYERS, WORKLOADS, install_wrappers  # noqa: E402

#: set-ups per run; setup_s is their median
SETUP_REPEATS = 5
#: empty jobs timed for spark.job_floor_s (median)
JOB_FLOOR_PROBES = 5
#: below the host's 15 GB, which other processes share
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate_env(tmp: str, driver_mem: str) -> dict[str, str]:
    """Point every temp, spill and state location at ``tmp`` and let the
    Python workers import the package from any working directory. Must
    run before the JVM starts: it inherits this environment."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_DRIVER_MEM"] = driver_mem
    # every JVM spark-submit starts (its launcher too): temp files under
    # ``tmp``, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }


def stop_spark() -> None:
    """Stop the session and end every process it started, waiting for
    each: ``SparkSession.stop`` leaves the JVM running until the Python
    process exits, and the JVM's Python workers exit after it. Safe to
    call when no session, or only its JVM, was started."""
    from pyspark import SparkContext

    me = os.getpid()
    tree = {p: start_time(p) for p in descendants(me) - {me}}
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:
            traceback.print_exc(file=sys.stderr)
    tree.update({p: start_time(p) for p in descendants(me) - {me} - set(tree)})
    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the JVM's gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # orphans of the JVM are re-parented here (become_subreaper)
    tree.update({p: start_time(p) for p in descendants(me) - {me} - set(tree)})
    left = end_processes(tree, 30.0)
    reap_children()
    if left:
        log(f"processes still running after stop: {sorted(left)}")


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_rep(wl) -> dict | None:
    try:
        return wl.rep()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return None


def layer_metrics(tree, stats, reps, floor, leaks, n_pages) -> dict:
    """Per-layer metrics of the traced repetition ``tree``; ``reps`` are
    [untraced, traced, untraced]."""
    def subtree_sum(names, key):
        ids = [i for n in names for s in tree.named(n) for i in tree.subtree(s)]
        return sum_stats(stats, ids, key)

    zero = {"jobs": 0, "task_run_s": 0.0, "max_task_s": 0.0}
    steps = tree.named("edge_aggregate")
    wall = [dur(s) for s in steps]
    step_stats = [stats.get(s["id"], zero) for s in steps]
    df_ids = [s["id"] for s in tree.spans if s["layer"] == DF]
    rep_ids = [i for s in tree.named("rep") for i in tree.subtree(s)]
    counts = reps[1]["counts"]
    extract_s = tree.total("extract_links")
    selfs = tree.self_times()
    m = {
        "extract.s": extract_s,
        "extract.links": counts.get("extract.links", 0),
        "extract.pages_per_s": n_pages / extract_s if extract_s else 0.0,
        "encode.s": tree.total("encode_edges"),
        "encode.vertices": counts.get("encode.vertices", 0),
        "encode.shuffle_bytes": subtree_sum(["encode_edges"], "shuffle_bytes"),
        "build.s": tree.total("build"),
        "build_sym.s": tree.total("build_sym"),
        "build.spark_jobs": subtree_sum(["build", "build_sym"], "jobs"),
        "build.shuffle_bytes": subtree_sum(["build", "build_sym"], "shuffle_bytes"),
        "graph_save.s": tree.total("graph_save"),
        "graph_load.s": tree.total("graph_load"),
        "superstep.n": len(steps),
        "superstep.wall_s": median(wall),
        "superstep.task_run_s": median([st["task_run_s"] for st in step_stats]),
        "superstep.floor_s": median([w - st["max_task_s"] for w, st in zip(wall, step_stats)]),
        "superstep.spark_jobs": sum(st["jobs"] for st in step_stats),
        "superstep.processed_edges": sum(s["counts"]["processed_edges"] for s in steps),
        "superstep.bytes_shipped": sum(s["counts"]["bytes_shipped"] for s in steps),
        "superstep.sparse_share": (
            sum(s["counts"]["mode"] == "sparse" for s in steps) / len(steps) if steps else 0.0
        ),
        "pagerank20.s": tree.total("pagerank20"),
        "pagerank20.gteps": reps[1]["pagerank20_gteps"],
        "cc.s": tree.total("cc"),
        "cc.supersteps": counts.get("cc.supersteps", 0),
        "cc.gteps": reps[1]["cc_gteps"],
        "lp10.s": tree.total("lp10"),
        "df_pagerank20.s": tree.total("df_pagerank20"),
        "df_cc.s": tree.total("df_cc"),
        "tc.s": tree.total("tc"),
        "df.spark_jobs": sum_stats(stats, df_ids, "jobs"),
        "df.shuffle_bytes": sum_stats(stats, df_ids, "shuffle_bytes"),
        "df.task_run_s": sum_stats(stats, df_ids, "task_run_s"),
        "ckpt.save_s": tree.total("snapshot_save"),
        "ckpt.saves": counts.get("ckpt.saves", 0),
        "ckpt.bytes_written": counts.get("ckpt.bytes_written", 0),
        "ckpt.restore_s": tree.total("snapshot_latest"),
        "resume.s": tree.total("resume"),
        "spark.job_floor_s": floor,
        "spark.gc_s": sum_stats(stats, rep_ids, "gc_s"),
        "trace.uncovered_s": selfs.get(WORKLOAD, 0.0),
        "trace.overhead_s": reps[1]["run_s"] - (reps[0]["run_s"] + reps[2]["run_s"]) / 2,
        "trace.spans": len(tree.spans),
    }
    m.update(leaks)
    for layer in LAYERS:
        m[f"self_s.{layer}"] = selfs.get(layer, 0.0)
    return m


def run(args, bench: dict, spec: dict, tmp: str) -> tuple[dict, bool]:
    conf = isolate_env(tmp, DRIVER_MEMORY)
    if args.trace:
        event_dir = os.path.join(tmp, "events")
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    wspec = spec["workloads"][args.workload]
    cores = len(os.sched_getaffinity(0))
    tr = None
    try:
        spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        tr = Tracer(spark.sparkContext)
        if args.trace:
            install_wrappers(tr)
        wl = WORKLOADS[args.workload](spark, tr, tmp, args.seed, wspec)
        setup_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup()
            setup_s.append(time.perf_counter() - t0)
        log(f"set-up x{len(setup_s)}: {[round(x, 2) for x in setup_s]} s")
        wl.prepare()
        state = SessionState(spark, tmp)
        t0 = time.perf_counter()
        try:
            wl.warmup()
        except Exception:  # the program is broken: every check fails
            traceback.print_exc(file=sys.stderr)
            n = len(wl.checks)
            return {"correct": False, "attempted": n, "failed": n, "metrics": {}}, False
        state.restore()
        floor = job_floor_s(spark.sparkContext, cores, JOB_FLOOR_PROBES)
        log(f"warm-up {time.perf_counter() - t0:.1f} s "
            f"{ {k: round(v, 2) for k, v in tr.times.items()} }; job floor {floor:.3f} s")

        # untraced: repetitions until --seconds is spent (at least one);
        # traced: untraced, traced (the split), untraced. Repetitions keep
        # getting faster for a while after the warm-up; comparing the traced
        # one with the mean of its neighbours cancels a steady trend
        plan = [False, True, False] if args.trace else None
        reps, leaks, spans = [], [], []
        n_reps = attempted = failed = 0
        with MemorySampler() as mem:
            t_start = time.perf_counter()
            while True:
                tr.begin_rep()
                tr.enabled = plan[n_reps] if plan else False
                t0 = time.perf_counter()
                r = run_rep(wl)
                if tr.enabled:
                    spans = tr.spans
                tr.enabled = False
                n_reps += 1
                attempted += len(wl.checks)
                passed = r["checks"] if r else {}
                failed += sum(1 for c in wl.checks if not passed.get(c))
                if r:
                    r["peak_rss_mb"] = mem.peak_mb(*r["window"])
                    reps.append(r)
                leaks.append(state.leaks())
                state.restore()
                log(f"rep {n_reps}: {r['run_s'] if r else 'failed'} s "
                    f"{ {k: round(v, 2) for k, v in tr.times.items()} } {leaks[-1]}")
                now = time.perf_counter()
                if plan and n_reps == len(plan):
                    break
                if not plan and now - t_start + (now - t0) > args.seconds:
                    break
    finally:
        if tr is not None:
            tr.unwrap_all()
        stop_spark()

    complete = len(reps) == n_reps
    result = {"correct": failed == 0 and complete, "attempted": attempted,
              "failed": failed, "metrics": {}}
    if not complete:
        return result, False
    if args.trace:
        values = layer_metrics(
            SpanTree(spans), read_event_log(event_dir), reps, floor, leaks[1],
            wspec["sizes"]["n_pages"],
        )
        names = bench["per_layer"]
    else:
        values = {
            "setup_s": median(setup_s),
            "run_s": median([r["run_s"] for r in reps]),
            "peak_rss_mb": median([r["peak_rss_mb"] for r in reps]),
        }
        names = bench["end_to_end"]
    result["metrics"] = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names
    }
    return result, True


def on_sigterm(signum, frame):
    # unwind through the finally blocks, which stop Spark and remove the
    # temp root
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, on_sigterm)
    become_subreaper()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}; known: {sorted(spec['workloads'])}",
              file=sys.stderr)
        return 2
    tmp_parent = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=tmp_parent)
    try:
        result, complete = run(args, bench, spec, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_parent)
        except OSError:  # another run still owns a temp root there
            pass
    print(json.dumps(result))
    return 0 if complete else 1


if __name__ == "__main__":
    sys.exit(main())
