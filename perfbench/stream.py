"""``ingest_stream``: the live ingest funnel over a growing dedup state.

Set-up builds the MinHash band-key index and the fingerprint index over a
seeded corpus with the writers in ``operators/dedup.py``. The stream is
``streaming.ingest.streaming_ingest_funnel`` with ``grow_state=True`` and
``auto_compact_every=4``. Each epoch reads one staged parquet file of
fresh documents, exact copies of corpus documents and near-duplicates of
earlier stream documents. One client drains the stream in a closed loop:
it stages files, then starts the writer with ``trigger(availableNow=True)``
and waits for it under a deadline. One epoch warms up; each timed drain
is four epochs, so it holds exactly one compacting epoch; the timed drains
are as many as fill ``seconds`` on the reference box, at least one. The
decisions are checked after the timed region.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter

import numpy as np
import pandas as pd

import datagen
from layers import parse_rest_time
from metrics import RunResult
from procs import tree_cpu_s
from stats import OpCounter, driver_gap, median, passes_for

CORPUS_DOCS = 150
FILE_DOCS = 24
EXACT_PER_FILE = 2
NEAR_PER_FILE = 2
COMPACT_EVERY = 4
# four consecutive epochs after the first hold exactly one compacting epoch
EPOCHS_PER_DRAIN = COMPACT_EVERY
WARMUP_EPOCHS = 1
MAX_DRAINS = 8
DRAIN_TIMEOUT_S = 150.0
# a timed drain on the 4-core reference box
NOMINAL_DRAIN_S = 24.0
STREAM_ID0 = 1_000_000


def make_inputs(seed: int):
    """The seed corpus and every stream file, with the planted copies.

    Returns (corpus frame, list of file frames, {exact copy id}, {near-dup
    id: source id})."""
    rng = np.random.default_rng(seed)
    corpus = datagen.documents(rng, CORPUS_DOCS)[["doc_id", "text"]]
    files, exact, near = [], set(), {}
    earlier: list[tuple[int, str]] = []
    n_fresh = FILE_DOCS - EXACT_PER_FILE - NEAR_PER_FILE
    for i in range(WARMUP_EPOCHS + MAX_DRAINS * EPOCHS_PER_DRAIN):
        ids = STREAM_ID0 + i * 1000 + np.arange(FILE_DOCS)
        texts = datagen.random_texts(rng, n_fresh)
        for j in rng.choice(CORPUS_DOCS, EXACT_PER_FILE, replace=False):
            texts.append(corpus.text.iat[int(j)])
            exact.add(int(ids[len(texts) - 1]))
        for _ in range(NEAR_PER_FILE):
            if earlier:
                src_id, src_text = earlier[int(rng.integers(len(earlier)))]
                word = datagen.VOCAB[int(rng.integers(len(datagen.VOCAB)))]
                texts.append(f"{src_text} {word}")
                near[int(ids[len(texts) - 1])] = src_id
            else:
                texts.extend(datagen.random_texts(rng, 1))
        earlier.extend(zip(ids[:n_fresh].tolist(), texts[:n_fresh]))
        order = rng.permutation(FILE_DOCS)
        files.append(pd.DataFrame({
            "doc_id": ids[order].astype(np.int64),
            "text": [texts[k] for k in order],
        }))
    return corpus, files, exact, near


class Funnel:
    """One run's stream: its directories, state tables and drain loop."""

    def __init__(self, spark, work: str, files, counter, log) -> None:
        self.spark = spark
        self.files = files
        self.counter = counter
        self.log = log
        root = os.path.join(work, "stream")
        self.dirs = {k: os.path.join(root, k) for k in (
            "staging", "decisions", "accepted", "keys", "fps", "ckpt", "tmp",
        )}
        for k in ("staging", "tmp"):
            os.makedirs(self.dirs[k], exist_ok=True)
        self.staged = 0
        self.epochs: dict[int, dict] = {}
        self.drain_errors: dict[int, str] = {}

    def stage(self, n: int) -> None:
        """Move the next ``n`` files into the staging directory, oldest
        first (the file source orders new files by modification time)."""
        for _ in range(n):
            i = self.staged
            tmp = os.path.join(self.dirs["tmp"], f"{i:05d}.parquet")
            self.files[i].to_parquet(tmp, index=False)
            dst = os.path.join(self.dirs["staging"], f"{i:05d}.parquet")
            os.replace(tmp, dst)
            os.utime(dst, (1_700_000_000 + i * 100,) * 2)
            self.staged += 1

    def drain(self, n_files: int = EPOCHS_PER_DRAIN) -> dict:
        """Stage one drain's files and run them to completion under a
        deadline; a timeout, a query exception or a missing progress
        record marks the drain's epochs failed."""
        from experimentsplan_datapipeline_spark.operators import dedup as dd
        from experimentsplan_datapipeline_spark.streaming.ingest import (
            streaming_ingest_funnel,
        )

        first = self.staged
        self.stage(n_files)
        want = list(range(first, self.staged))
        spark = self.spark
        cpu0 = tree_cpu_s()
        t0 = time.time()
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.dirs["staging"])
        )
        writer = streaming_ingest_funnel(
            stream, dd.minhash_index_read_text(spark, "pb_mh"), "pb_mh",
            "pb_fp", self.dirs["decisions"], "text", "doc_id",
            num_hashes=32, bands=8, shingle_size=3, threshold=0.5,
            portable_seed=42, grow_state=True,
            accepted_dir=self.dirs["accepted"], state_dir=self.dirs["keys"],
            fp_state_dir=self.dirs["fps"], compact_table="pb_state",
            auto_compact_every=COMPACT_EVERY, corpus_text_pushdown=5000,
        ).option("checkpointLocation", self.dirs["ckpt"])
        t_built = time.time()
        q = writer.trigger(availableNow=True).start()
        finished = q.awaitTermination(DRAIN_TIMEOUT_S)
        t_end = time.time()
        err = None
        if not finished:
            q.stop()
            err = f"timed out after {DRAIN_TIMEOUT_S}s"
        elif q.exception() is not None:
            err = f"raised {str(q.exception())[:300]}"
        progress = {p["batchId"]: p for p in q.recentProgress}
        for e in want:
            p = progress.get(e)
            ok = err is None and p is not None and p["numInputRows"] > 0
            if not ok:
                self.drain_errors[e] = err or "no progress record"
            if p is not None:
                self.epochs[e] = {
                    "compacting": e > 0 and e % COMPACT_EVERY == 0,
                    "trigger_s": p["durationMs"]["triggerExecution"] / 1e3,
                    "durations_ms": p["durationMs"],
                    "start": parse_rest_time(p["timestamp"]),
                    "rows": p["numInputRows"],
                }
        if err:
            self.log(f"drain of epochs {want}: {err}")
        return {"epochs": want, "wall": t_end - t0, "start": t0,
                "built": t_built, "end": t_end, "cpu": tree_cpu_s() - cpu0}

    def check(self, exact_ids, near_src) -> dict:
        """Checks the decision log and counts one operation per staged
        epoch: it failed when its drain timed out or raised, its progress
        record is missing, it is not committed, one of its docs has no
        or several decision rows, a planted exact copy of a corpus doc
        is not ``exact_dup``, or a planted near-dup of an accepted doc is
        neither ``near_dup`` nor ``exact_dup``. Returns the failures."""
        from experimentsplan_datapipeline_spark.streaming.ingest import (
            last_committed_epoch,
            read_gate_results,
        )

        rows = read_gate_results(self.spark, self.dirs["decisions"]).collect()
        dec = {}
        seen = Counter(r["doc_id"] for r in rows)
        for r in rows:
            dec[r["doc_id"]] = r
        problems: dict[int, list[str]] = {}
        last = last_committed_epoch(self.spark, self.dirs["ckpt"])
        for e in range(self.staged):
            bad = problems.setdefault(e, [])
            if e in self.drain_errors:
                bad.append(self.drain_errors[e])
            if e > last:
                bad.append("not committed")
            ids = self.files[e].doc_id.tolist()
            if any(seen[i] != 1 for i in ids):
                bad.append("doc without exactly one decision")
            for i in ids:
                r = dec.get(i)
                if r is None:
                    continue
                if i in exact_ids and not r["exact_dup"]:
                    bad.append(f"planted exact copy {i} not exact_dup")
                src = dec.get(near_src.get(i))
                if src is not None and src["accepted"] and not (
                    r["near_dup"] or r["exact_dup"]
                ):
                    bad.append(f"near-dup {i} of accepted doc passed")
        extra = set(seen) - {
            i for e in range(self.staged) for i in self.files[e].doc_id
        }
        if extra:
            problems.setdefault(-1, []).append(f"{len(extra)} unknown ids")
        for e, p in sorted(problems.items()):
            self.counter.record(not p, f"epoch {e}: {p[:3]}")
        self.decisions = dec
        failures = {e: p for e, p in problems.items() if p}
        return failures


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total / 2**20


def plain_epochs(funnel, drains) -> list[float]:
    return [funnel.epochs[e]["trigger_s"] for d in drains for e in d["epochs"]
            if e in funnel.epochs and not funnel.epochs[e]["compacting"]]


def summarize(funnel, drains) -> dict:
    plain = plain_epochs(funnel, drains)
    return {
        "pass_cpu_s": median(d["cpu"] for d in drains),
        "pass_s": median(d["wall"] for d in drains),
        # the mean, not the median: a drain holds only three plain epochs;
        # None when a failed drain left none
        "op_s": statistics.fmean(plain) if plain else None,
    }


def docs_per_s(funnel, drains) -> float:
    """Docs that received a decision per second of drain wall time."""
    decided = sum(
        1 for d in drains for e in d["epochs"]
        for i in funnel.files[e].doc_id if i in funnel.decisions
    )
    return decided / sum(d["wall"] for d in drains)


def run(spark, seed, seconds, trace, work, t_process, log) -> RunResult:
    from experimentsplan_datapipeline_spark.operators import dedup as dd

    counter = OpCounter()
    corpus_pd, files, exact_ids, near_src = make_inputs(seed)
    corpus_path = os.path.join(work, "data", "corpus.parquet")
    corpus_pd.to_parquet(corpus_path, index=False)
    corpus = spark.read.parquet(corpus_path)
    t0 = time.time()
    dd.minhash_index_write(
        corpus, "pb_mh", "text", "doc_id", num_hashes=32, bands=8,
        shingle_size=3, portable_seed=42, n_buckets=4, store_text=True,
    )
    dd.fingerprint_index_write(corpus, "pb_fp", "text", n_buckets=4)
    index_build_s = time.time() - t0
    log(f"indexes built in {index_build_s:.1f}s")

    funnel = Funnel(spark, work, files, counter, log)
    warmup = funnel.drain(WARMUP_EPOCHS)
    log(f"warm-up drain: {warmup['wall']:.2f}s")
    setup_wall_s = time.monotonic() - t_process
    setup_cpu_s = tree_cpu_s()
    n_drains = min(passes_for(seconds, NOMINAL_DRAIN_S), MAX_DRAINS // 2)
    timed = [funnel.drain() for _ in range(n_drains)]
    log(f"timed drains: {[round(d['wall'], 2) for d in timed]}")

    res = RunResult(e2e={"setup_s": setup_cpu_s}, counter=counter)
    res.layers["operators.index_build_s"] = index_build_s
    traced = []
    if trace:
        from layers import jvm_gc_seconds

        tracer = _StreamTracer(spark)
        gc0 = jvm_gc_seconds(spark)
        traced = [funnel.drain() for _ in range(n_drains)]
        res.layers["jvm.gc_s"] = jvm_gc_seconds(spark) - gc0
    failures = funnel.check(exact_ids, near_src)
    if failures:
        log(f"decision check failures: {failures}")
    summary = summarize(funnel, timed)
    res.e2e["pass_cpu_s"] = summary["pass_cpu_s"]
    res.detail = {
        "setup_wall_s": setup_wall_s,
        "setup_cpu_s": setup_cpu_s,
        **summary,
        "index_build_s": index_build_s,
        "warmup_epochs": {
            e: funnel.epochs[e]["trigger_s"] for e in warmup["epochs"]
            if e in funnel.epochs
        },
        "drains": [d["wall"] for d in timed],
        "docs_per_s": docs_per_s(funnel, timed),
        "drain_cpu": [d["cpu"] for d in timed],
        "epochs": {
            e: {k: funnel.epochs[e][k]
                for k in ("trigger_s", "compacting", "rows")}
            for d in timed + traced for e in d["epochs"] if e in funnel.epochs
        },
        "check_failures": {str(k): v for k, v in failures.items()},
    }
    if trace:
        res.layers.update(tracer.layers(
            funnel, traced, spark.sparkContext.defaultParallelism
        ))
        res.layers.update(_outcomes(funnel, traced))
        t = summarize(funnel, traced)
        res.layers["trace.overhead_pass_s"] = t["pass_s"] - summary["pass_s"]
        if t["op_s"] is not None and summary["op_s"] is not None:
            res.layers["trace.overhead_op_s"] = t["op_s"] - summary["op_s"]
        res.detail["traced_drains"] = [d["wall"] for d in traced]
        res.detail["phase_accounting_ratio"] = tracer.accounting
    return res


def _outcomes(funnel, drains) -> dict[str, float]:
    """Funnel outcome shares over the drains' epochs, and the grown
    state."""
    dec = funnel.decisions
    rows = [dec[i] for d in drains for e in d["epochs"]
            for i in funnel.files[e].doc_id if i in dec]
    n = max(len(rows), 1)
    accepted_total = sum(1 for r in dec.values() if r["accepted"])
    state_mb = sum(_dir_mb(funnel.dirs[k]) for k in ("accepted", "keys", "fps"))
    wh = funnel.spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    state_mb += sum(
        _dir_mb(os.path.join(wh, d)) for d in os.listdir(wh)
        if d.startswith("pb_state")
    ) if os.path.isdir(wh) else 0.0
    return {
        "streaming.accept_frac": sum(r["accepted"] for r in rows) / n,
        "streaming.exact_dup_frac": sum(r["exact_dup"] for r in rows) / n,
        "streaming.near_dup_frac": sum(r["near_dup"] for r in rows) / n,
        "streaming.state_rows": float(accepted_total),
        "streaming.state_mb": state_mb,
    }


class _StreamTracer:
    """Catalyst listener and a timing wrapper around the state compactor
    (traced runs). Jobs are attributed to epochs through the description
    Spark gives every job of a micro-batch."""

    def __init__(self, spark) -> None:
        from experimentsplan_datapipeline_spark.streaming import ingest
        from layers import register_catalyst_listener

        self.spark = spark
        self.listener = register_catalyst_listener(spark)
        self.compactions: list[tuple[float, float]] = []
        self.accounting: list[float] = []
        inner = ingest.ingest_state_compact

        def timed_compact(*args, **kwargs):
            t0 = time.time()
            try:
                return inner(*args, **kwargs)
            finally:
                self.compactions.append((t0, time.time()))

        # the funnel looks the compactor up in its module at call time
        ingest.ingest_state_compact = timed_compact

    def layers(self, funnel, traced, cores) -> dict[str, float]:
        import re

        from layers import RestSnapshot, job_interval, op_layers

        snap = RestSnapshot(self.spark)
        batch_re = re.compile(r"batch = (\d+)")
        by_epoch: dict[int, list[dict]] = {}
        for j in snap.jobs:
            m = batch_re.search(j.get("description") or "")
            if m:
                by_epoch.setdefault(int(m.group(1)), []).append(j)
        plain_rows, compact_walls, build = [], [], []
        for d in traced:
            build_jobs = [
                j for j in snap.jobs
                if d["start"] <= job_interval(j)[0] < d["built"]
            ]
            build.append((d["built"] - d["start"], len(build_jobs)))
            for e in d["epochs"]:
                ep = funnel.epochs.get(e)
                if ep is None:
                    continue
                if ep["compacting"]:
                    compact_walls.append(ep["trigger_s"])
                    continue
                start, end = ep["start"], ep["start"] + ep["trigger_s"]
                lay = op_layers(snap, by_epoch.get(e, []), start, end,
                                self.listener.events, cores)
                ms = ep["durations_ms"]
                lay["streaming.trigger_s"] = ep["trigger_s"]
                lay["streaming.add_batch_s"] = ms.get("addBatch", 0) / 1e3
                lay["streaming.planning_s"] = ms.get("queryPlanning", 0) / 1e3
                lay["streaming.commit_s"] = (
                    ms.get("walCommit", 0) + ms.get("commitOffsets", 0)
                    + ms.get("commitBatch", 0)
                ) / 1e3
                lay["streaming.source_s"] = (
                    ms.get("latestOffset", 0) + ms.get("getBatch", 0)
                    + ms.get("setOffsetRange", 0)
                ) / 1e3
                lay["streaming.jobs_per_epoch"] = lay["operators.jobs"]
                lay["streaming.driver_gap_s"] = driver_gap(
                    start, end,
                    [job_interval(j) for j in by_epoch.get(e, [])],
                )
                lay["streaming.write_mb_per_epoch"] = lay.pop(
                    "operators.output_mb"
                )
                lay["operators.action_s"] = lay["wall_s"] - lay["catalyst_s"]
                phases = sum(lay[k] for k in (
                    "streaming.add_batch_s", "streaming.planning_s",
                    "streaming.commit_s", "streaming.source_s",
                ))
                self.accounting.append(phases / ep["trigger_s"])
                plain_rows.append(lay)
        out = {
            k: median(r[k] for r in plain_rows) for k in plain_rows[0]
            if k not in ("wall_s", "catalyst_s")
        } if plain_rows else {}
        out["plans.build_s"] = median(b[0] for b in build)
        out["plans.build_jobs"] = float(median(b[1] for b in build))
        if compact_walls:
            out["streaming.compact_epoch_s"] = median(compact_walls)
        compact = [e - s for s, e in self.compactions
                   if any(d["start"] <= s <= d["end"] for d in traced)]
        if compact:
            out["streaming.compact_s"] = median(compact)
        return out
