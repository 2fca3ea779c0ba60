"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline_fresh --seed 1 \
        --seconds 8 --trace 0

Runs one workload of ``BENCHMARK.json`` from the root of a checkout,
single-process on ``local[<nproc>]``, and prints as the last stdout line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see README.md). Scratch data, Spark's local dirs
and temp files stay under ``.perfbench_work/`` in the checkout; a record
of each run (settings, samples, spans) is kept in
``.perfbench_work/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline_fresh", "pipeline_resume")
DRIVER_MEM = "3g"          # fits a 15 GB host shared with other work
MIN_SAMPLES = 2            # timed operations per run, at least
TRACE_PAIRS = 2            # plain + traced operation pairs per traced run
MAX_OPS = 24               # bounds a run whose operations keep failing
GEN_REPEATS = 2            # input generations per set-up; median is used


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    checkout, and pin the driver heap."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])


def start_spark(work: str, cores: int):
    from log2seq_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()          # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, run_id)
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)

    from bench import cpu_calibration
    from workloads import PipelineWorkload
    from tracing import Tracer, host_counters, tree_peak_rss_mb

    t_start = time.monotonic()
    host0 = host_counters()
    calib = [cpu_calibration()]
    record = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
              "trace": args.trace, "nproc": cores, "master": f"local[{cores}]",
              "driver_mem": DRIVER_MEM, "seconds": args.seconds}
    log(f"settings nproc={cores} seed={args.seed} driver_mem={DRIVER_MEM} "
        f"cpu_calibration={calib[0]} lines/s")
    t0 = time.monotonic()
    spark = start_spark(work, cores)
    session_s = time.monotonic() - t0
    try:
        from pyspark import SparkContext
        jvm_pid = SparkContext._gateway.proc.pid
        wl = PipelineWorkload(args.workload, spark, os.path.join(work, "data"),
                              args.seed, cores)
        gens = []
        for _ in range(GEN_REPEATS):
            t0 = time.monotonic()
            wl.generate()
            gens.append(time.monotonic() - t0)
        t0 = time.monotonic()
        wl.prepare()
        warmup_s = time.monotonic() - t0
        setup_s = session_s + statistics.median(gens) + warmup_s
        attempted = wl.warmup_ops
        failed = wl.warmup_failed

        tracer = Tracer(run_id, enabled=bool(args.trace),
                        spark_context=spark.sparkContext)
        # the timed loop; a traced run interleaves each plain operation
        # with one run inside a span and job group
        walls, traced, peak_rss = [], [], tree_peak_rss_mb(jvm_pid)
        min_samples = TRACE_PAIRS if args.trace else MIN_SAMPLES
        t_end = time.monotonic() + args.seconds
        while ((len(walls) < min_samples or time.monotonic() < t_end)
               and attempted < MAX_OPS):
            for tr in ((None, tracer) if args.trace else (None,)):
                attempted += 1
                try:
                    wall, res = wl.op(tr)
                except Exception as exc:  # counted as failed, not fatal
                    failed += 1
                    last_ok = False
                    wl.problems.append(f"operation raised {exc!r}")
                    continue
                (traced.append((wall, res)) if tr else walls.append(wall))
                peak_rss = max(peak_rss, tree_peak_rss_mb(jvm_pid))
                bad = wl.check_result(res)
                last_ok = not bad
                failed += bool(bad)
                wl.problems += bad
        if not walls or (args.trace and not traced):
            raise RuntimeError("every timed operation failed")

        layers = {}
        if args.trace:
            with tracer.span("trace"):
                layers = wl.trace_layers(tracer, walls, traced)
        t0 = time.monotonic()
        bad = wl.check_output()
        check_s = time.monotonic() - t0
        # the output checked is the last operation's: count it failed once
        failed += bool(bad) and last_ok
        wl.problems += bad
        calib.append(cpu_calibration())
    finally:
        host = {k: v - host0[k] for k, v in host_counters().items()}
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    wall_s = statistics.median(walls)
    if args.trace:
        values = dict(layers, peak_rss_mb=peak_rss)
    else:
        values = {"wall_s": wall_s, "turns_per_s": wl.n_turns / wall_s,
                  "setup_s": setup_s, "ok_ops_share": 1.0 - failed / attempted}
    metrics = declared_metrics(values, "per_layer" if args.trace
                               else "end_to_end")
    record.update({
        "cpu_calibration": calib, "n_turns": wl.n_turns,
        "n_convs": wl.n_convs, "n_buckets": wl.cfg.n_buckets,
        "session_s": session_s, "gen_s": gens, "warmup_s": warmup_s,
        "check_s": check_s, "total_s": time.monotonic() - t_start,
        "host": host, "walls": walls, "problems": wl.problems,
        "spans": tracer.dump(),
        "attempted": attempted, "failed": failed, "metrics": metrics})
    os.makedirs(os.path.join(work_root, "runs"), exist_ok=True)
    with open(os.path.join(work_root, "runs", run_id + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    log(f"cpu_calibration={calib} lines/s walls={[round(w, 3) for w in walls]}"
        f" host={ {k: round(v, 2) for k, v in host.items()} }"
        f" problems={wl.problems[:5]}")
    return {"correct": not wl.problems, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def declared_metrics(values: dict, kind: str) -> dict:
    """``values`` with the units BENCHMARK.json declares for ``kind``;
    the names must match the declared list exactly."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        units = {m["name"]: m["unit"] for m in json.load(fh)[kind]}
    if set(values) != set(units):
        raise KeyError(f"{kind} metrics differ from BENCHMARK.json: "
                       f"missing {sorted(set(units) - set(values))}, "
                       f"undeclared {sorted(set(values) - set(units))}")
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT]
    try:
        import log2seq_spark
        import bench  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the program from {ROOT}: {exc}")
        return 2
    if not os.path.abspath(log2seq_spark.__file__).startswith(ROOT + os.sep):
        log(f"log2seq_spark resolves outside the checkout {ROOT}")
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
