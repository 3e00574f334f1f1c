"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The program is started in this process
the way a user starts it (``session.get_spark``), with the environment it
reads pinned (cores, driver memory, local dirs, worker PYTHONPATH). A run is
a closed loop from one driver thread: the first job is the cold one, then
warm jobs follow one at a time until ``--seconds`` have passed (and at
least the workload's minimum count has completed). Every job's output is
checked.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead: Spark's event log is turned on, every job runs
inside benchmark spans that also set the Spark job group, and the warm
jobs are followed by probe jobs of the layers a warm job leaves out. The
tracing overhead is the traced runs' ``trace.job_cpu_s`` minus the untraced
runs' ``job_cpu_s``.

All files go under ``.perfbench/`` in the checkout: seeded inputs (cached by
size and seed), per-run scratch (removed at the end) and one detail record
per run in ``.perfbench/results/`` with host, environment and per-job data.
"""

import time

T0 = time.time()  # process start, the zero of setup_s

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# small enough that the heap fills in every run: with a 1-2 GB cap the JVM's
# adaptive heap growth moved peak RSS by up to a fifth from run to run
DRIVER_MEM_MB = 512
DEADLINE_S = 170      # a run that is still going here is killed without a result
SCALING_FILES = 4     # footprint catalog files the scaling test reads


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail_percentile(times: list[float]) -> tuple[float, float, int]:
    """(percentile, value, n): the highest percentile with at least ten
    samples beyond it; with fewer than 11 samples, the maximum."""
    xs = sorted(times)
    n = len(xs)
    if n < 11:
        return 100.0, (xs[-1] if xs else 0.0), n
    k = n - 11            # ten samples lie above index k
    return 100.0 * (k + 1) / n, xs[k], n


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    import subprocess

    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def start_watchdog(get_proc, run_dir: str):
    def fire():
        print(f"perfbench: run exceeded {DEADLINE_S} s, aborting", file=sys.stderr, flush=True)
        proc = get_proc()
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(3)
    t = threading.Timer(max(DEADLINE_S - (time.time() - T0), 1.0), fire)
    t.daemon = True
    t.start()
    return t


def run_jobs(wl, spark, tracer, seconds: float, trace: bool):
    """Closed loop, one job at a time: the cold job, then warm jobs until
    ``seconds`` have passed and the minimum count is met; a traced run then
    runs the workload's probe jobs. Every job is checked; its record names
    its role and its wall and CPU time."""
    from perfbench.hostenv import cpu_s_since, tree_ticks
    records, results = [], []
    tracer.active = trace

    def one(role: str, **kw) -> None:
        i = len(records)
        tracer.job = i
        ticks = tree_ticks()
        t = time.perf_counter()
        dt = cpu = None
        try:
            out = wl.job(spark, tracer, i, **kw)
            dt, cpu = time.perf_counter() - t, cpu_s_since(ticks)
            problems = wl.check(out)
        except Exception:  # a failed job is counted, the loop goes on
            if dt is None:
                dt, cpu = time.perf_counter() - t, cpu_s_since(ticks)
            out, problems = None, [traceback.format_exc()]
        if problems:
            print(f"perfbench: job {i} failed: {problems}", file=sys.stderr, flush=True)
        records.append({"i": i, "role": role, "s": dt, "cpu_s": cpu,
                        "check_s": time.perf_counter() - t - dt,
                        "ok": not problems, "problems": problems[:3]})
        results.append(out)

    one("cold")
    t0, n = time.perf_counter(), 0
    while len(records) < wl.max_jobs:
        one("warm")
        n += 1
        if time.perf_counter() - t0 >= seconds and n >= wl.min_warm:
            break
    if trace:
        for kw in wl.probe_jobs:
            one("probe", **kw)
    tracer.active = False
    return records, results


def scaling_eff(spark, get_spark, wl):
    """Flagship tile-count time at local[nproc] vs local[1] over the first
    SCALING_FILES files of the workload's footprint catalog: eff = t_1 /
    (nproc * t_n). The local[nproc] session is warm from the run's jobs;
    the new local[1] session first runs over one file, which builds its
    polygon index and compiles the plan. Returns (eff, the local[1]
    session, which replaces the stopped one)."""
    import numpy as np

    from perfbench import gen, oracles, workloads
    from perfbench.hostenv import nproc
    parts = sorted(glob.glob(os.path.join(wl.tdir, "images", "part-*.parquet")))
    phash = np.load(os.path.join(wl.tdir, "phash.npy"))
    per_file = -(-len(phash) // gen.N_FILES)

    def timed(s, files: int) -> float:
        t = time.perf_counter()
        images = s.read.parquet(*parts[:files])
        rows = workloads.tile_counts(workloads.flagship_pairs(s, images)).collect()
        dt = time.perf_counter() - t
        got = {(r["rid"], r["tr"], r["tc"]): r["n_images"] for r in rows}
        want = oracles.region_tile_counts(phash[:files * per_file])
        if workloads.count_problems(got, want, "scaling tile counts"):
            raise RuntimeError("the scaling test produced wrong tile counts")
        return dt

    t_n = timed(spark, SCALING_FILES)
    spark.stop()
    one = get_spark(master="local[1]")
    timed(one, 1)
    return timed(one, SCALING_FILES) / (nproc() * t_n), one


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mapshaper_spark", "__init__.py")):
        print("perfbench: the program (mapshaper_spark/) is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import hostenv
    from perfbench.tracing import EventLog, Tracer
    from perfbench.workloads import WORKLOADS, median
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} (have {sorted(WORKLOADS)})",
              file=sys.stderr)
        return 2
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cache_root = os.path.join(work, "inputs")

    t_prep = time.time()
    wl = WORKLOADS[args.workload](cache_root, args.seed, run_dir)
    wl.prepare()
    prep_s = time.time() - t_prep

    pinned = hostenv.pin_environment(ROOT, run_dir, DRIVER_MEM_MB)
    events = os.path.join(run_dir, "events")
    if trace:
        os.makedirs(events)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{events} "
            "--conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false "
            "pyspark-shell")
    sampler = hostenv.Sampler().start()
    jvm = {}
    start_watchdog(lambda: jvm.get("proc"), run_dir)

    from mapshaper_spark.session import get_spark
    t = time.perf_counter()
    spark = get_spark()
    get_spark_s = time.perf_counter() - t
    from pyspark import SparkContext
    jvm["proc"] = SparkContext._gateway.proc
    sampler.jvm_pid = jvm["proc"].pid
    wl.register(spark)
    setup_s = time.time() - T0 - prep_s
    spark.sparkContext.setLogLevel("ERROR")

    tracer = Tracer()
    tracer.sc = spark.sparkContext
    records, results = run_jobs(wl, spark, tracer, args.seconds, trace)

    layers = {}
    if trace:
        layers.update(wl.probe(spark, tracer, results))
        if wl.flagship:
            layers["tiles.scaling_eff_1to4"], spark = scaling_eff(spark, get_spark, wl)
    load = sampler.stop()
    t = time.perf_counter()
    shutdown_spark(spark)
    shutdown_s = time.perf_counter() - t

    warm = [r for r in records if r["role"] == "warm"]
    failed = sum(not r["ok"] for r in records)
    p50 = median(r["s"] for r in warm)
    cpu = median(r["cpu_s"] for r in warm)
    tail_p, tail_s, tail_n = tail_percentile([r["s"] for r in warm])
    if trace:
        log = EventLog(events)
        layers.update(wl.layers(log, tracer, records, results))
        layers.update({
            "session.get_spark_s": get_spark_s,
            "trace.cold_job_s": records[0]["s"],
            "trace.job_p50_s": p50,
            "trace.job_cpu_s": cpu,
            "job_tail_s": tail_s,
            "failed_ratio": failed / len(records),
            "input_gen_s": wl.gen_s,
        })
        metrics = {k: {"value": v, "unit": unit} for k, unit in PER_LAYER.items()
                   for v in [float(layers.get(k, 0.0))]}
    else:
        values = {"setup_s": setup_s, "cold_job_cpu_s": records[0]["cpu_s"], "job_cpu_s": cpu,
                  "rows_per_cpu_s": wl.input_rows / cpu if cpu else 0.0,
                  "peak_rss_mb": load["peak_rss_mb"]}
        metrics = {k: {"value": values[k], "unit": unit} for k, unit in END_TO_END.items()}

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": hostenv.host_record(), "env": pinned, "load": load,
        "input": {"dir": os.path.relpath(wl.dir, ROOT), "rows": wl.input_rows,
                  "gen_s": wl.gen_s, "cached": wl.gen_cached},
        "prepare_s": prep_s, "setup_s": setup_s, "get_spark_s": get_spark_s,
        "shutdown_s": shutdown_s, "jobs": records,
        "job_tail": {"percentile": tail_p, "value_s": tail_s, "samples": tail_n},
        "failed_ratio": failed / len(records), "metrics": metrics,
        "layers": layers, "spans": tracer.spans,
    }
    results_dir = os.path.join(work, "results")
    os.makedirs(results_dir, exist_ok=True)
    detail_path = os.path.join(
        results_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{int(T0)}-{os.getpid()}.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"detail: {os.path.relpath(detail_path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": len(records), "failed": failed,
                      "metrics": metrics}))
    return 0


END_TO_END = {
    "setup_s": "s",
    "cold_job_cpu_s": "s",
    "job_cpu_s": "s",
    "rows_per_cpu_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "spatial.index_build_s": "s",
    "spatial.cover_build_s": "s",
    "spatial.cover_rows": "count",
    "spatial.cover_boundary_share": "ratio",
    "spatial.tiles.candidate_rows": "count",
    "spatial.tiles.verify_kept_ratio": "ratio",
    "spatial.parcels.candidate_rows": "count",
    "spatial.parcels.verify_kept_ratio": "ratio",
    "spatial.salt.probe_s": "s",
    "spatial.salt.hot_cells": "count",
    "spatial.salt.replicated_rows": "count",
    "spatial.join_task_skew": "ratio",
    "images.decode_task_s": "s",
    "text.metrics_task_s": "s",
    "dedup.phash_candidate_pairs": "count",
    "dedup.phash_kept_ratio": "ratio",
    "checkpoint.write_s.stats": "s",
    "checkpoint.write_s.text": "s",
    "checkpoint.write_s.near_dups": "s",
    "checkpoint.write_s.tiles": "s",
    "checkpoint.write_s.parcels": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.overhead_s": "s",
    "cli.cmd.i_s": "s",
    "cli.cmd.simplify_s": "s",
    "cli.cmd.dissolve_s": "s",
    "cli.cmd.o_s": "s",
    "cli.spark_jobs_per_request": "count",
    "topology.arcs": "count",
    "simplify.vertex_kept_ratio": "ratio",
    "tiles.scaling_eff_1to4": "ratio",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "trace.cold_job_s": "s",
    "trace.job_p50_s": "s",
    "trace.job_cpu_s": "s",
    "job_tail_s": "s",
    "failed_ratio": "ratio",
    "input_gen_s": "s",
}


if __name__ == "__main__":
    sys.exit(main())
