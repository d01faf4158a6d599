"""Names and units of every metric the benchmark reports.

``BENCHMARK.json`` lists the same names, and a test in ``tests/`` keeps
the two in step. What each metric means on each workload, and which
end-to-end metric each layer metric should move, is in ``README.md``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from stats import OpCounter

# reported with --trace 0, in CPU seconds of the run's processes (the
# Python driver, the JVM and its Python workers) less the JVM's JIT
# compiler threads: on a shared virtual machine the wall time of the same
# work swings by a third with the CPU other tenants take, and the JIT's
# share of the CPU with how far the JVM has warmed up. Wall times are in
# the detail record. A "pass" is one run of every batch query or one
# four-epoch drain.
END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}

BATCH_SUITE = [
    "events_tumbling",
    "text_entropy",
    "dedup_minhash",
    "media_frame_sample",
]

# reported with --trace 1
PER_LAYER = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "operators.action_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.run_s": "s",
    "operators.cpu_s": "s",
    "operators.busy_frac": "ratio",
    "operators.shuffle_read_mb": "MiB",
    "operators.shuffle_write_mb": "MiB",
    "operators.input_mb": "MiB",
    "operators.driver_gap_s": "s",
    "operators.index_build_s": "s",
    "pyworker.nodes": "count",
    "pyworker.run_s": "s",
    "pyworker.rows": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.source_s": "s",
    "streaming.jobs_per_epoch": "count",
    "streaming.driver_gap_s": "s",
    "streaming.compact_s": "s",
    "streaming.compact_epoch_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MiB",
    "streaming.write_mb_per_epoch": "MiB",
    "streaming.accept_frac": "ratio",
    "streaming.exact_dup_frac": "ratio",
    "streaming.near_dup_frac": "ratio",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MiB",
    "trace.overhead_pass_s": "s",
    "trace.overhead_op_s": "s",
    **{f"query.{q}_s": "s" for q in BATCH_SUITE},
}

# better direction of each per-layer metric (everything else: lower)
HIGHER_IS_BETTER = {
    "operators.busy_frac", "streaming.accept_frac",
}


@dataclass
class RunResult:
    """What a workload hands back to ``run.py``."""

    e2e: dict[str, float]
    counter: OpCounter
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def layer_metrics(self) -> dict[str, float]:
        """Every per-layer metric; a layer the workload does not exercise
        reads 0."""
        return {k: float(self.layers.get(k, 0.0)) for k in PER_LAYER}
