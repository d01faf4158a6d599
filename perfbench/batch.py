"""``batch_suite``: batch curation and analytics queries, closed loop.

One client runs the suite's queries one after another. Each query is
built through ``plans.queries.QUERIES[name]`` and materialized through the
noop sink; a pass runs every query once in an order drawn afresh from the
seed. Set-up writes the seeded tables and runs a fixed warm-up pass; the
timed passes follow, as many as fill ``seconds`` on the reference box. Afterwards every
query runs once more, is collected and compared with its DuckDB ``ORACLE``
twin, outside the timed region.
"""

from __future__ import annotations

import importlib.util
import math
import os
import random
import time

import datagen
from metrics import BATCH_SUITE, RunResult
from procs import tree_cpu_s
from stats import OpCounter, median, passes_for

WARMUP_PASSES = 1
# a warm pass of the suite on the 4-core reference box
NOMINAL_PASS_S = 3.4


def _load_check_oracle(root: str):
    path = os.path.join(root, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_query(spark, con, oracle_mod, name, fn, sql, data_dir) -> list[str]:
    """Problems found comparing one query's Spark result with its oracle
    (empty when they agree): columns, row count and the order-insensitive
    value hash of ``scripts/check_oracle.py``."""
    sdf = fn(spark, data_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if sorted(scols) != sorted(dcols):
        return [f"cols spark={sorted(scols)} duck={sorted(dcols)}"]
    if len(srows) != len(drows):
        return [f"rows spark={len(srows)} duck={len(drows)}"]
    sh = oracle_mod.table_hash(srows, scols)
    dh = oracle_mod.table_hash(drows, dcols)
    return [] if sh == dh else [f"hash spark={sh} duck={dh}"]


def check_all(spark, names, data_dir, oracle_mod, counter, log) -> dict:
    """Run every query once more, collect it and compare it with its
    oracle on DuckDB; each comparison is one operation."""
    import duckdb

    from experimentsplan_datapipeline_spark.plans.queries import (
        ORACLE,
        QUERIES,
    )

    con = duckdb.connect()
    for fname in os.listdir(data_dir):
        con.execute(
            f"CREATE VIEW {fname.removesuffix('.parquet')} AS SELECT * "
            f"FROM read_parquet('{os.path.join(data_dir, fname)}')"
        )
    check = {}
    for name in names:
        tq = time.time()
        try:
            problems = check_query(spark, con, oracle_mod, name,
                                   QUERIES[name], ORACLE[name], data_dir)
        except Exception as e:
            problems = [f"raised {type(e).__name__}: {str(e)[:200]}"]
        check[name] = {"s": time.time() - tq, "problems": problems}
        counter.record(not problems, f"{name}: {'; '.join(problems)}")
        if problems:
            log(f"check {name}: {problems}")
    con.close()
    return check


class _Tracer:
    """Job group per query plus the Catalyst listener (traced runs)."""

    def __init__(self, spark) -> None:
        from layers import register_catalyst_listener

        self.sc = spark.sparkContext
        self.listener = register_catalyst_listener(spark)

    def group(self, op_id: str | None) -> None:
        if op_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(op_id, op_id)


def run_pass(spark, names, data_dir, counter, log, tracer=None,
             tag="") -> dict:
    """One pass; returns its wall time and per-query op records."""
    from experimentsplan_datapipeline_spark.plans.queries import QUERIES

    ops = []
    cpu0 = tree_cpu_s()
    t0 = time.time()
    for name in names:
        op_id = f"{tag}:{name}"
        if tracer is not None:
            tracer.group(op_id)
        start = time.time()
        built = None
        ok = True
        try:
            df = QUERIES[name](spark, data_dir)
            built = time.time()
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a failing query is counted, not fatal
            ok = False
            log(f"{name} raised {type(e).__name__}: {str(e)[:200]}")
        end = time.time()
        counter.record(ok, f"{name}: raised")
        ops.append({"id": op_id, "name": name, "start": start,
                    "built": built or end, "end": end})
    wall = time.time() - t0
    if tracer is not None:
        tracer.group(None)
    return {"wall": wall, "cpu": tree_cpu_s() - cpu0, "ops": ops}


def summarize(passes) -> dict[str, float]:
    per_query: dict[str, list[float]] = {}
    for p in passes:
        for op in p["ops"]:
            per_query.setdefault(op["name"], []).append(op["end"] - op["start"])
    typical = [median(v) for v in per_query.values()]
    return {
        "pass_cpu_s": median(p["cpu"] for p in passes),
        # wall: the pass of typical runs, robust to one slow run of a query
        "pass_s": sum(typical),
        # wall: geometric mean over queries of each one's median latency
        "op_s": math.exp(sum(math.log(v) for v in typical) / len(typical)),
    }


def traced_layers(spark, passes, listener) -> tuple[dict, list[float]]:
    """Per-pass layer sums (median over passes), per-query medians, and
    each pass's accounting ratio: (build + Catalyst + action) / wall."""
    from layers import RestSnapshot, job_interval, op_layers

    cores = spark.sparkContext.defaultParallelism
    snap = RestSnapshot(spark)
    by_group: dict[str, list[dict]] = {}
    for j in snap.jobs:
        by_group.setdefault(j.get("jobGroup") or "", []).append(j)
    per_pass, accounting = [], []
    per_query: dict[str, list[float]] = {}
    for p in passes:
        sums: dict[str, float] = {}
        for op in p["ops"]:
            jobs = by_group.get(op["id"], [])
            build_jobs = [j for j in jobs if job_interval(j)[0] < op["built"]]
            lay = op_layers(
                snap, [j for j in jobs if j not in build_jobs],
                op["built"], op["end"], listener.events, cores,
            )
            lay["plans.build_s"] = op["built"] - op["start"]
            lay["plans.build_jobs"] = float(len(build_jobs))
            lay["operators.action_s"] = lay["wall_s"] - lay["catalyst_s"]
            for k, v in lay.items():
                sums[k] = sums.get(k, 0.0) + v
            per_query.setdefault(op["name"], []).append(
                op["end"] - op["start"]
            )
        accounting.append(
            (sums["plans.build_s"] + sums["catalyst_s"]
             + sums["operators.action_s"]) / p["wall"]
        )
        per_pass.append(sums)
    out = {k: median(s[k] for s in per_pass) for k in per_pass[0]
           if k not in ("wall_s", "catalyst_s", "operators.output_mb")}
    for name, walls in per_query.items():
        out[f"query.{name}_s"] = median(walls)
    return out, accounting


def run(spark, seed, seconds, trace, work, t_process, log) -> RunResult:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    oracle_mod = _load_check_oracle(root)
    rng = random.Random(seed)
    counter = OpCounter()
    data_dir = os.path.join(work, "data")
    datagen.write_batch_tables(seed, data_dir)

    def order():
        names = list(BATCH_SUITE)
        rng.shuffle(names)
        return names

    warmup = [run_pass(spark, order(), data_dir, counter, log, tag=f"w{i}")
              for i in range(WARMUP_PASSES)]
    log(f"warm-up passes: {[round(p['wall'], 2) for p in warmup]}")
    setup_wall_s = time.monotonic() - t_process
    setup_cpu_s = tree_cpu_s()
    n_passes = passes_for(seconds, NOMINAL_PASS_S)
    passes = [run_pass(spark, order(), data_dir, counter, log, tag=f"p{i}")
              for i in range(n_passes)]
    log(f"timed passes: {[round(p['wall'], 2) for p in passes]}")
    check = check_all(spark, order(), data_dir, oracle_mod, counter, log)
    summary = summarize(passes)
    e2e = {"setup_s": setup_cpu_s, "pass_cpu_s": summary["pass_cpu_s"]}
    detail = {
        "setup_wall_s": setup_wall_s,
        "setup_cpu_s": setup_cpu_s,
        **summary,
        "warmup_passes": [p["wall"] for p in warmup],
        "warmup_cpu": [p["cpu"] for p in warmup],
        "check": check,
        "passes": [p["wall"] for p in passes],
        "pass_cpu": [p["cpu"] for p in passes],
        "queries": {
            name: [op["end"] - op["start"] for p in passes
                   for op in p["ops"] if op["name"] == name]
            for name in BATCH_SUITE
        },
    }
    res = RunResult(e2e=e2e, counter=counter, detail=detail)
    if trace:
        from layers import jvm_gc_seconds

        tracer = _Tracer(spark)
        gc0 = jvm_gc_seconds(spark)
        tpasses = [
            run_pass(spark, order(), data_dir, counter, log, tracer,
                     tag=f"t{i}")
            for i in range(n_passes)
        ]
        res.layers["jvm.gc_s"] = jvm_gc_seconds(spark) - gc0
        layers, accounting = traced_layers(spark, tpasses, tracer.listener)
        res.layers.update(layers)
        traced = summarize(tpasses)
        res.layers["trace.overhead_pass_s"] = (
            traced["pass_s"] - summary["pass_s"]
        )
        res.layers["trace.overhead_op_s"] = traced["op_s"] - summary["op_s"]
        detail["traced_passes"] = [p["wall"] for p in tpasses]
        detail["pass_accounting_ratio"] = accounting
    return res
