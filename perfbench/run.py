"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch_suite,ingest_stream} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. It drives the engine in that checkout
through its public entry points, makes every input from ``--seed``,
measures for ``--seconds`` after a fixed set-up and warm-up, checks the
outputs, and prints two JSON lines on stdout: a detail record (environment,
warm-up samples, per-operation timings, failures) and, last, the result
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics. Progress goes
to stderr. Everything the run writes lives under ``.perfbench-work/`` in
the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

T_PROCESS = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "experimentsplan_datapipeline_spark"


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T_PROCESS:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["batch_suite", "ingest_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _check_checkout() -> None:
    """Fail before doing anything when the engine is not beside us."""
    needed = [
        os.path.join(ROOT, ENGINE, "__init__.py"),
        os.path.join(ROOT, "scripts", "check_oracle.py"),
    ]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        sys.exit(f"perfbench: engine sources not found: {missing}")


def start_session(work: str, trace: bool):
    """The engine's session with every path it writes made private to this
    run. Returns (spark, seconds it took)."""
    from experimentsplan_datapipeline_spark.session import get_session

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job, stage and execution of the run for the REST read
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    t0 = time.monotonic()
    spark = get_session(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.monotonic() - t0


def stop_session(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    from pyspark import SparkContext

    from procs import descendants

    gw = SparkContext._gateway
    children = descendants(os.getpid())
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def env_block(spark, cpu) -> dict:
    sc = spark.sparkContext
    jvm = sc._jvm
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(
            spark.conf.get("spark.sql.shuffle.partitions")
        ),
        "nproc": os.cpu_count(),
        "driver_heap": sc.getConf().get("spark.driver.memory", "1g"),
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "python_version": sys.version.split()[0],
        "foreign_cpu_busy_cores": round(cpu.foreign_busy_cores(), 3),
    }


def main(argv=None) -> int:
    args = _parse_args(argv)
    _check_checkout()
    work = os.path.join(ROOT, ".perfbench-work", f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local", "warehouse", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
        # every JVM the run starts keeps its temporary files in the run
        # directory, writes no perf-data file to /tmp, and keeps its JIT
        # compiler threads for its whole life (see procs.tree_cpu_s)
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "SPARK_GRAFT_CPUS": str(os.cpu_count()),
        # a small heap: the inputs are small and the box is shared
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path[:0] = [ROOT, HERE]
    from metrics import END_TO_END, PER_LAYER
    from procs import CpuMeter

    spark = None
    try:
        cpu = CpuMeter()
        spark, session_s = start_session(work, bool(args.trace))
        log(f"session up in {session_s:.1f}s")
        if args.workload == "batch_suite":
            import batch as workload
        else:
            import stream as workload
        res = workload.run(
            spark, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), work=work, t_process=T_PROCESS,
            log=log,
        )
        res.layers["session.start_s"] = session_s
        env = env_block(spark, cpu)
        if args.trace:
            from layers import peak_rss_mb

            res.layers["jvm.peak_rss_mb"] = peak_rss_mb(
                spark.sparkContext._gateway.proc.pid
            )
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    counter = res.counter
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "env": env,
        "attempted": counter.attempted, "failed": counter.failed,
        "failed_frac": counter.failed_frac, "failures": counter.failures,
        **res.detail,
    }
    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                   for k, v in res.layer_metrics().items()}
    else:
        metrics = {k: {"value": res.e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": counter.failed == 0,
        "attempted": counter.attempted,
        "failed": counter.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
