"""Metric catalogue and the arithmetic that turns a run report into it.

Kept free of Spark and DuckDB so the rules (tail percentile, failure
counting, the layer map) are testable on their own.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

WORKLOADS = ["price-pipeline", "surface-sf0.01"]

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "run_s": ("s", "lower"),
    "retained_heap_mb": ("MB", "lower"),
    "spark_jobs": ("count", "lower"),
}

# name -> (unit, better, end-to-end metric it should move, workload)
PER_LAYER = {
    "tables.resolve_s": ("s", "lower", "run_s", "surface-sf0.01"),
    "tables.resolve_jobs": ("count", "lower", "spark_jobs", "surface-sf0.01"),
    "op.p50_s": ("s", "lower", "run_s", "surface-sf0.01"),
    "queries.build_s": ("s", "lower", "run_s", "surface-sf0.01"),
    "queries.build_jobs": ("count", "lower", "spark_jobs", "surface-sf0.01"),
    "queries.build_share": ("ratio", "lower", "run_s", "surface-sf0.01"),
    "plan.plan_s": ("s", "lower", "run_s", "surface-sf0.01"),
    "exec.run_s": ("s", "lower", "run_s", "surface-sf0.01"),
    "exec.jobs": ("count", "lower", "spark_jobs", "surface-sf0.01"),
    "exec.stages": ("count", "lower", "run_s", "surface-sf0.01"),
    "exec.tasks": ("count", "lower", "run_s", "surface-sf0.01"),
    "exec.tasks_per_job": ("count", "lower", "run_s", "surface-sf0.01"),
    "exec.task_cpu_s": ("s", "lower", "run_s", "surface-sf0.01"),
    "exec.task_wait_s": ("s", "lower", "run_s", "surface-sf0.01"),
    "exec.shuffle_read_mb": ("MB", "lower", "run_s", "surface-sf0.01"),
    "exec.shuffle_write_mb": ("MB", "lower", "run_s", "surface-sf0.01"),
    "exec.spill_mb": ("MB", "lower", "run_s", "surface-sf0.01"),
    "exec.failed_tasks": ("count", "lower", "run_s", "surface-sf0.01"),
    "memo.build_s": ("s", "lower", "setup_s", "surface-sf0.01"),
    "memo.jobs": ("count", "lower", "setup_s", "surface-sf0.01"),
    "memo.cached_mb": ("MB", "lower", "retained_heap_mb", "surface-sf0.01"),
    "index.build_s": ("s", "lower", "setup_s", "surface-sf0.01"),
    "cache.drain_s": ("s", "lower", "run_s", "surface-sf0.01"),
    "cache.retained_mb": ("MB", "lower", "retained_heap_mb", "surface-sf0.01"),
    "pipeline.clean_s": ("s", "lower", "run_s", "price-pipeline"),
    "pipeline.clean_jobs": ("count", "lower", "spark_jobs", "price-pipeline"),
    "pipeline.sink_s": ("s", "lower", "run_s", "price-pipeline"),
    "pipeline.sink_mb": ("MB", "lower", "run_s", "price-pipeline"),
    "pipeline.sink_files": ("count", "lower", "run_s", "price-pipeline"),
    "ml.features_s": ("s", "lower", "run_s", "price-pipeline"),
    "ml.mlp_fit_s": ("s", "lower", "run_s", "price-pipeline"),
    "ml.mlp_jobs": ("count", "lower", "spark_jobs", "price-pipeline"),
    "ml.mlp_iter_ms": ("ms", "lower", "run_s", "price-pipeline"),
    "ml.hpo_s": ("s", "lower", "run_s", "price-pipeline"),
    "ml.hpo_jobs": ("count", "lower", "spark_jobs", "price-pipeline"),
    "ml.hpo_trial_s": ("s", "lower", "run_s", "price-pipeline"),
    "ml.score_s": ("s", "lower", "run_s", "price-pipeline"),
    "ml.mae_ratio": ("ratio", "lower", "run_s", "price-pipeline"),
    "ml.hpo_mae_ratio": ("ratio", "lower", "run_s", "price-pipeline"),
    "trace.pass_s": ("s", "lower", "run_s", "surface-sf0.01"),
    "trace.self_sum_s": ("s", "lower", "run_s", "surface-sf0.01"),
    "trace.overhead_s": ("s", "lower", "run_s", "surface-sf0.01"),
}


def tail(samples):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, sample_count).  With n sorted samples the
    value at 0-based rank k has n-1-k samples above it, so the highest
    admissible rank is n-11; its nearest-rank percentile is
    floor(100*(k+1)/n).  Fewer than 11 samples admit no such percentile;
    then the maximum is returned with percentile 100.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 11:
        return xs[-1], 100, n
    k = n - 11
    return xs[k], math.floor(100 * (k + 1) / n), n


def fail_counts(ops, bad_names):
    """(attempted, failed): timed op executions, and those that raised or
    belong to an op whose output check failed."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad_names)
    return attempted, failed


def fail_ratio(attempted, failed):
    return failed / attempted if attempted else 1.0


def end_to_end(report):
    """End-to-end metric values from one untraced run report."""
    passes = len(report["passes"])
    timed = report["counters_timed"]
    jobs = sum(t["jobs"] for t in timed.values())
    return {
        "setup_s": statistics.median(report["setup_s"]),
        "run_s": statistics.median(report["passes"]),
        "retained_heap_mb": report["retained_heap_mb"],
        "spark_jobs": jobs / passes,
    }


def per_layer(report):
    """Per-layer values from one traced run report, per timed pass."""
    passes = len(report["passes"])
    setups = len(report["setup_s"])
    c = report["counters_timed"]
    s = report["self_timed"]
    setup = report["counters_setup"]
    setup_self = report["self_setup"]
    within = {k: v / 1e3 for k, v in report["tables_ms_within_timed"].items()}

    def self_s(layer):
        # a layer's own time, without the table resolution it triggered
        own = s.get(layer, {}).get("self_s", 0.0)
        return own - (within.get(layer, 0.0) if layer != "tables" else 0.0)

    def per_pass(x):
        return x / passes

    tables_s = self_s("tables") + sum(
        v for k, v in within.items() if k != "tables")
    ex = c["exec"]
    pipe = report.get("pipeline", {})
    mlp_iters = pipe.get("mlp_iters", 0)
    hpo_trials = pipe.get("hpo_trials", 0)
    mlp_s = self_s("ml.mlp_fit")
    hpo_s = self_s("ml.hpo")
    op_total = sum(o["seconds"] for o in report["ops"])
    build_s = self_s("queries.build")
    layers = ["tables", "queries.build", "plan", "exec", "cache.drain",
              "pipeline.clean", "pipeline.sink", "ml.features", "ml.mlp_fit",
              "ml.hpo", "ml.score", "op"]
    self_sum = sum(self_s(l) for l in layers) + sum(
        v for k, v in within.items() if k != "tables")
    return {
        "op.p50_s": statistics.median([o["seconds"] for o in report["ops"]]),
        "tables.resolve_s": per_pass(tables_s),
        "tables.resolve_jobs": per_pass(c["tables"]["jobs"]),
        "queries.build_s": per_pass(build_s),
        "queries.build_jobs": per_pass(c["queries.build"]["jobs"]),
        "queries.build_share": build_s / op_total if op_total else 0.0,
        "plan.plan_s": per_pass(self_s("plan")),
        "exec.run_s": per_pass(self_s("exec")),
        "exec.jobs": per_pass(ex["jobs"]),
        "exec.stages": per_pass(ex["stages"]),
        "exec.tasks": per_pass(ex["tasks"]),
        "exec.tasks_per_job": ex["tasks"] / ex["jobs"] if ex["jobs"] else 0.0,
        "exec.task_cpu_s": per_pass(ex["task_cpu_s"]),
        "exec.task_wait_s": per_pass(ex["task_wait_s"]),
        "exec.shuffle_read_mb": per_pass(ex["shuffle_read_mb"]),
        "exec.shuffle_write_mb": per_pass(ex["shuffle_write_mb"]),
        "exec.spill_mb": per_pass(ex["spill_mb"]),
        "exec.failed_tasks": per_pass(ex["failed_tasks"]),
        "memo.build_s": setup_self.get("memo.build", {}).get("self_s", 0.0) / setups,
        "memo.jobs": setup["memo.build"]["jobs"] / setups,
        "memo.cached_mb": report.get("memo_cached_mb", 0.0),
        "index.build_s": setup_self.get("index.build", {}).get("self_s", 0.0) / setups,
        "cache.drain_s": per_pass(self_s("cache.drain")),
        "cache.retained_mb": report["retained_mb"],
        "pipeline.clean_s": per_pass(self_s("pipeline.clean")),
        "pipeline.clean_jobs": per_pass(c["pipeline.clean"]["jobs"]),
        "pipeline.sink_s": per_pass(self_s("pipeline.sink")),
        "pipeline.sink_mb": _mean(pipe.get("sink_bytes", [])) / 1e6,
        "pipeline.sink_files": _mean(pipe.get("sink_files", [])),
        "ml.features_s": per_pass(self_s("ml.features")),
        "ml.mlp_fit_s": per_pass(mlp_s),
        "ml.mlp_jobs": per_pass(c["ml.mlp_fit"]["jobs"]),
        "ml.mlp_iter_ms": 1e3 * per_pass(mlp_s) / mlp_iters if mlp_iters else 0.0,
        "ml.hpo_s": per_pass(hpo_s),
        "ml.hpo_jobs": per_pass(c["ml.hpo"]["jobs"]),
        "ml.hpo_trial_s": per_pass(hpo_s) / hpo_trials if hpo_trials else 0.0,
        "ml.score_s": per_pass(self_s("ml.score")),
        "ml.mae_ratio": _mean(pipe.get("mae_ratio", [])),
        "ml.hpo_mae_ratio": _mean(pipe.get("hpo_mae_ratio", [])),
        "trace.pass_s": per_pass(sum(report["passes"])),
        "trace.self_sum_s": per_pass(self_sum),
        "trace.overhead_s": per_pass(report["trace_overhead_s"]),
    }


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0

