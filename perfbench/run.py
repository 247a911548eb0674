#!/usr/bin/env python3
"""Seeded end-to-end benchmark of data_pipeline_csv_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload csv_etl --seed 1 --seconds 28 --trace 0

Workloads: csv_etl, neardup_feed (see
perfbench/README.md for why each exists and what it stresses).

One process, one client, closed loop. A run:

1. generates the workload's inputs from ``--seed`` (cached per seed
   under ``.perfbench/inputs``);
2. sets up ``SETUP_REPS`` times: ``session.get_spark`` plus one warm-up
   pass over a small input of its own; the first launches the JVM,
   later ones stop the session and build a fresh one in that JVM;
   ``setup_s`` is the median;
3. warms the workload's operations on the full input, untimed
   (``Workload.prepare``);
4. runs ``round(--seconds / NOMINAL_CYCLE_S)`` whole cycles of the
   workload's operations (at least one): a fixed amount of work sized
   to last about ``--seconds`` on a 4-core host, so every run sees the
   same mix of operations and the same state growth;
5. checks every recorded output (a wrong output is a failed operation);
6. prints one line of details, then the result line: with
   ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
   per-layer metrics of a run with spans and the Spark event log on.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_pipeline_csv_spark"
SETUP_REPS = 3
WARM_SCALE = 0.1
MAX_CPUS = 4
# a fixed heap (-Xms = -Xmx): peak RSS then no longer depends on when
# in a run G1 chose to grow the heap
HEAP = "1g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("csv_etl", "neardup_feed"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile
    with 10 samples beyond it; with fewer than 40 samples, the one with
    a quarter of them beyond, so the tail is never below the 75th
    percentile; with fewer than 4 samples, the maximum."""
    s = sorted(xs)
    n = len(s)
    beyond = min(10, n // 4)
    k = n - 1 - beyond
    return s[k], 100.0 * (k + 1) / n, beyond


def dir_state(dirs: list[str]) -> dict:
    out = {}
    for d in dirs:
        for r, _ds, fs in os.walk(d):
            for f in fs:
                p = os.path.join(r, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def new_bytes(before: dict, after: dict) -> int:
    """Bytes of files created or rewritten between two ``dir_state``s."""
    return sum(v[1] for p, v in after.items() if before.get(p) != v)


def spark_conf(work: str, rep: int, trace: bool) -> dict:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, f"rep{rep}", "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xms{HEAP}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    return conf


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit. Safe to call when Spark never started."""
    import subprocess

    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def canary(spark, reps: int = 3) -> dict:
    """Host-speed reference read next to the timed phase: median
    seconds of a fixed pure-Python loop and of a fixed small Spark job.
    Compare metrics across runs against these when the host's speed
    drifts."""
    def py_loop():
        t0 = time.perf_counter()
        acc = 0
        for i in range(500_000):
            acc += i * i % 7
        return time.perf_counter() - t0

    def spark_job():
        t0 = time.perf_counter()
        spark.range(0, 2_000_000, numPartitions=4).selectExpr("sum(hash(id)) AS h").collect()
        return time.perf_counter() - t0

    return {"python_s": statistics.median(py_loop() for _ in range(reps)),
            "spark_s": statistics.median(spark_job() for _ in range(reps))}


def run_ops(w, ops, seq0: int, rec: dict) -> int:
    """Run ``ops`` in order; record latencies, rows, input bytes,
    bytes written and exceptions. Returns the next sequence number."""
    seq = seq0
    for op in ops:
        if op.prep is not None:
            op.prep()
        t0 = time.perf_counter()
        try:
            op.fn(seq)
        except Exception:  # a failed operation is counted, not fatal
            rec["raised"][seq] = traceback.format_exc(limit=4)
        rec[op.kind].append(time.perf_counter() - t0)
        if op.after is not None:
            op.after()
        rec["rows"] += op.rows
        if op.kind == "write":
            rec["in_bytes"] += op.in_bytes
            state = dir_state(w.out_dirs())
            rec["written"] += new_bytes(rec["dirs"], state)
            rec["dirs"] = state
        seq += 1
    return seq


def layer_metrics(names, sp, known: dict, job_recs, starts, n_ops) -> dict:
    """Every per-layer metric in ``names``: ``known`` holds the ones
    the workload computed; span self times (medians per call), job
    counts and Spark counters (per operation) come from the spans
    ``sp`` and the event log's ``job_recs``. A layer that did not run
    reads 0."""
    from eventlog import COUNTERS, attribute
    from spans import group_of, self_seconds

    self_s = self_seconds(sp)
    owned = attribute(job_recs, sp, group_of)

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    jobs_of = {"sources.csv.jobs": "sources.csv.construct", "engine.load.jobs": "engine.load"}
    out = {"session.start_s": med(starts), "session.cold_start_s": starts[0], **known}
    for name in names:
        if name in out:
            continue
        if name in jobs_of:
            out[name] = med([len(owned[s.sid]) for s in sp if s.key == jobs_of[name]])
        elif ".spark." in name:
            layer, counter = name.split(".spark.")
            if counter not in COUNTERS:
                raise ValueError(f"unknown Spark counter in {name}")
            total = sum(job_recs[j][counter] for s in sp if s.layer == layer for j in owned[s.sid])
            out[name] = total / n_ops
        elif name.endswith("_s"):
            out[name] = med([self_s[s.sid] for s in sp if s.key == name[:-2]])
        else:
            out[name] = 0
    return {n: out[n] for n in names}


def run(args, state: str, work: str) -> int:
    import eventlog
    import gen
    import procstat
    import spans

    from data_pipeline_csv_spark.session import get_spark

    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    trace = bool(args.trace)
    cache = os.path.join(state, "inputs")
    os.makedirs(cache, exist_ok=True)
    inputs, manifest = gen.materialize(cache, args.workload, args.seed)
    warm = [gen.materialize(cache, args.workload, args.seed * 1000 + 1 + r, WARM_SCALE)
            for r in range(SETUP_REPS)]
    W = workloads.WORKLOADS[args.workload]
    cpus = min(MAX_CPUS, os.cpu_count() or 1)

    # -- set-up, SETUP_REPS times -------------------------------------
    setup, starts = [], []
    spark = None
    cold_s = 0.0
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        t1 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus, driver_memory=HEAP,
                          extra_conf=spark_conf(work, rep, trace))
        starts.append(time.perf_counter() - t1)
        tracer = spans.Tracer(spark.sparkContext if trace else None)
        wdir, wman = warm[rep]
        w = W(spark, tracer, wdir, wman, os.path.join(work, f"rep{rep}", "warm"), warm_up=True)
        w.prepare()
        rec = {"write": [], "read": [], "raised": {}, "rows": 0, "in_bytes": 0, "written": 0, "dirs": {}}
        run_ops(w, w.warm_ops(), 0, rec)
        if rec["raised"]:
            raise RuntimeError("warm-up operation failed:\n" + next(iter(rec["raised"].values())))
        setup.append(time.perf_counter() - t0)
        if rep == 0:
            cold_s = procstat.age_s(os.getpid())

    # -- timed phase ----------------------------------------------------
    w = W(spark, tracer, inputs, manifest, os.path.join(work, "main"))
    t0 = time.perf_counter()
    w.prepare()
    prepare_s = time.perf_counter() - t0
    before = canary(spark)
    tracer.reset()
    rec = {"write": [], "read": [], "raised": {}, "rows": 0, "in_bytes": 0, "written": 0,
           "dirs": dir_state(w.out_dirs())}
    me = os.getpid()
    seq = 0
    cycles = max(1, round(args.seconds / W.NOMINAL_CYCLE_S))
    cpu0 = procstat.tree_cpu_seconds(me)
    with procstat.PeakMem(me) as peak:
        t0 = time.perf_counter()
        for i in range(cycles):
            seq = run_ops(w, w.cycle(i), seq, rec)
        wall = time.perf_counter() - t0
    cpu = procstat.tree_cpu_seconds(me) - cpu0
    attempted = seq
    after = canary(spark)

    # -- output checks (untimed) ----------------------------------------
    try:
        w.verify()
    except Exception:  # a check that cannot run fails every operation
        w.failed.update({s: "verify raised: " + traceback.format_exc(limit=4) for s in range(attempted)})
    failed = dict(w.failed)
    failed.update(rec["raised"])

    wt, wp, wb = tail(rec["write"])
    rt, rp, rb = tail(rec["read"])
    e2e = {
        "setup_s": statistics.median(setup),
        "write_p50_s": statistics.median(rec["write"]),
        "write_tail_s": wt,
        "read_p50_s": statistics.median(rec["read"]),
        "read_tail_s": rt,
        "rows_per_s": rec["rows"] / wall,
        "cpu_s_per_op": cpu / attempted,
        "peak_rss_mb": peak.peak / 2**20,
        "write_amp": rec["written"] / rec["in_bytes"] if rec["in_bytes"] else 0.0,
    }
    per_layer = {}
    if trace:
        known = w.layer_metrics(tracer.spans, attempted)  # may read the table
        app_id = spark.sparkContext.applicationId
    shutdown(spark)  # also flushes the event log
    if trace:
        job_recs = eventlog.jobs(eventlog.read_events(
            eventlog.app_log_files(os.path.join(work, "eventlog"), app_id)))
        per_layer = layer_metrics([m["name"] for m in spec["per_layer"]], tracer.spans,
                                  known, job_recs, starts, attempted)

    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": cpus,
        "params": manifest["params"],
        "setup_samples_s": setup,
        "process_start_to_ready_s": cold_s,
        "prepare_s": prepare_s,
        "timed_s": wall,
        "cycles": cycles,
        "canary": {k: [before[k], after[k]] for k in before},
        "ops": {"write": len(rec["write"]), "read": len(rec["read"])},
        "write_tail": {"percentile": wp, "samples": len(rec["write"]), "beyond": wb},
        "read_tail": {"percentile": rp, "samples": len(rec["read"]), "beyond": rb},
        "latencies_s": {k: [round(x, 4) for x in rec[k]] for k in ("write", "read")},
        "failed_frac": len(failed) / attempted,
        "failures": sorted(failed.items())[:5],
        "end_to_end": e2e,
    }
    if trace:
        details["per_layer"] = per_layer
    print(json.dumps(details))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    chosen = per_layer if trace else e2e
    result = {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # keep every temp file (Python, Py4J, workers, JVMs) inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM does not read spark.driver.* options
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    # on SIGTERM, unwind through the finally below like on an error
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return run(args, state, work)
    finally:
        if "pyspark" in sys.modules:
            shutdown(None)  # no-op after a clean run
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
