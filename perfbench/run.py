"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload index|query --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  Everything a run writes stays under ``.perfbench/`` in
the checkout; a run's own directory is removed when it ends, generated
corpora are kept for the next run with the same seed.
"""

from __future__ import annotations

import argparse
import functools
import importlib.util
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "4g"  # below this host class's RAM; the package default is 24g
WORKLOAD_NAMES = ("index", "query")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("datamart_spark") is None:
        print(f"datamart_spark is not in {ROOT}: run from the root of a checkout",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(STATE, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _pin_environment(run_dir: str) -> None:
    """Host-fitting settings, through the knobs the package already reads,
    and every scratch path inside the run's directory."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.chdir(run_dir)  # spark-warehouse and the like land here


def _start_session(run_dir: str, trace: bool):
    """A cold session: the package zip the executors import is built anew
    in the run's directory instead of the shared, mtime-reused default."""
    from datamart_spark import session
    from workloads import MASTER

    session.package_zip = functools.partial(session.package_zip, dest_dir=run_dir)
    java_opts = f"-Duser.timezone=UTC -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
    conf = {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # untruncated scan locations in the logged plans, to tell tables apart
            "spark.sql.maxMetadataStringLength": "100000",
        })
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", master=MASTER, extra_conf=conf)
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _environment(spark) -> dict:
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "master": spark.sparkContext.master,
        "parallelism": spark.sparkContext.defaultParallelism,
        "driver_memory": DRIVER_MEM,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


def _run(args, run_dir: str) -> int:
    _pin_environment(run_dir)
    import workloads
    from stats import percentile
    from tracing import Tracer, event_log_file, parse_event_log, peak_rss_mb

    corpus = workloads.corpus_path(
        os.path.join(STATE, "corpus"), args.seed, workloads.N_DOCS + workloads.GROW_DOCS)
    spark, start_s = _start_session(run_dir, bool(args.trace))
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    tracer = Tracer(spark, enabled=bool(args.trace))
    tracer.install()
    run = workloads.Run(spark=spark, work_dir=run_dir, corpus=corpus, seed=args.seed, tracer=tracer)
    try:
        env = _environment(spark)
        workloads.prepare(run)
        workloads.WORKLOADS[args.workload](run, args.seconds, os.path.join(run_dir, "catalogs"))
        jvm_mb, workers_mb = peak_rss_mb(jvm_pid)
    finally:
        tracer.uninstall()
        _stop_session(spark)

    tally = run.tally
    print(f"# env {json.dumps(env)}")
    print(f"# ops attempted={len(tally.attempted)} failed={len(tally.failed)} "
          f"error_rate={tally.error_rate}")
    for name, values in sorted(run.t.items()):
        print(f"# samples {name} (ms): n={len(values)} {[round(1000 * v) for v in values]}")
    if run.t.get("search"):
        # not a bounded metric: ten samples leave one beyond the p90
        print(f"# search_p90_ms {1000 * percentile(run.t['search'], 90)} ms")
    try:
        e2e = workloads.end_to_end(run, start_s)
    except (KeyError, ValueError, ZeroDivisionError) as e:
        print(f"# no end-to-end metrics: {e!r}", file=sys.stderr)
        e2e = {}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        if tracer.absent:
            print(f"# absent entry points (not wrapped): {', '.join(tracer.absent)}")
        with open(event_log_file(os.path.join(run_dir, "events"))) as log:
            groups = parse_event_log(log, tracer.spans)
        session_metrics = {
            "session.start_s": start_s,
            "session.jvm_peak_rss_mb": jvm_mb,
            "session.python_workers_peak_rss_mb": workers_mb,
        }
        try:
            metrics = workloads.per_layer(run, session_metrics, groups)
        except (KeyError, ValueError, ZeroDivisionError) as e:
            print(f"# no per-layer metrics: {e!r}", file=sys.stderr)
            metrics = {}
        _report_overhead(args, e2e)
    else:
        metrics = e2e
        _save(args, e2e, env)
    result = {
        "correct": not tally.failed and all(m["name"] in metrics for m in declared),
        "attempted": len(tally.attempted),
        "failed": len(tally.failed),
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in declared if m["name"] in metrics
        },
    }
    print(json.dumps(result))
    return 0


def _save(args, e2e: dict, env: dict) -> None:
    """Keep the untraced end-to-end result for the traced run of the same
    workload and seed, which reports the difference as tracing overhead."""
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    path = os.path.join(STATE, "results", f"{args.workload}-s{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"metrics": e2e, "env": env}, f)


def _report_overhead(args, traced: dict) -> None:
    path = os.path.join(STATE, "results", f"{args.workload}-s{args.seed}.json")
    if not os.path.exists(path):
        print("# tracing overhead: no untraced result for this workload and seed yet")
        return
    with open(path) as f:
        untraced = json.load(f)["metrics"]
    for k in sorted(traced):
        if k in untraced and untraced[k]:
            print(f"# tracing overhead {k}: traced {traced[k]:.6g} untraced {untraced[k]:.6g} "
                  f"({100 * (traced[k] - untraced[k]) / untraced[k]:+.1f}%)")


if __name__ == "__main__":
    sys.exit(main())
