"""Metric arithmetic shared by the runner and its tests: the tail
percentile rule and the per-pass layer split of the traced run."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

from perfbench.trace import Job, Stage, union_length


def tail(values, beyond: int = 10) -> tuple[float, float]:
    """``(percentile, value)`` of the highest percentile that has at
    least ``beyond`` samples above it: the (n - beyond)-th smallest of
    n samples, which sits at percentile 100 * (n - beyond) / n."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"need more than {beyond} samples, got {n}")
    k = n - beyond - 1
    return 100.0 * (k + 1) / n, xs[k]


@dataclass
class QueryRun:
    """One execution of one query in one timed pass. Phase windows are
    epoch seconds; ``plan`` is only set in traced passes."""
    name: str
    group: str
    build: tuple[float, float]
    action: tuple[float, float]
    plan: tuple[float, float] | None = None
    catalyst_ms: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.action[1] - self.build[0]

    def phase_group(self, phase: str) -> str:
        return f"{self.group}:{phase}"


# stage accumulables summed into per-pass totals, with their scale
STAGE_SUMS = {
    "spark.task_run_s": (("internal.metrics.executorRunTime",), 1e-3),
    "spark.task_cpu_s": (("internal.metrics.executorCpuTime",), 1e-9),
    "spark.gc_s": (("internal.metrics.jvmGCTime",), 1e-3),
    "spark.shuffle_read_mb": (
        ("internal.metrics.shuffle.read.localBytesRead",
         "internal.metrics.shuffle.read.remoteBytesRead"), 1e-6),
    "spark.shuffle_write_mb": (
        ("internal.metrics.shuffle.write.bytesWritten",), 1e-6),
    "spark.spill_mb": (("internal.metrics.diskBytesSpilled",), 1e-6),
}
UDF_SUMS = {
    "models.udf_rows_in": (("python output rows",), 1.0),
    "models.udf_bytes_in": (("data sent to Python workers",), 1.0),
    "models.udf_bytes_out": (("data returned from Python workers",), 1.0),
    "models.udf_python_s": (("time to run Python workers",), 1e-3),
}


def _stage_sum(stages, names, scale) -> float:
    return scale * sum(s.metrics.get(n, 0.0) for s in stages for n in names)


def idle_s(run: QueryRun, jobs: list[Job]) -> float:
    """Action wall not covered by any Spark job: never negative, since
    job intervals are clipped to the action window."""
    return (run.action[1] - run.action[0]) - union_length(
        [(j.start, j.end) for j in jobs], *run.action)


def pass_layers(runs: list[QueryRun], jobs: list[Job], stages: list[Stage],
                groups: dict[str, tuple[str, ...]]) -> dict[str, float]:
    """Layer split of one traced pass.

    Every phase window (build, plan, action) is split into time covered
    by Spark jobs and the rest: the rest of build is build-Python time,
    the rest of action is driver idle. Jobs are matched to phases by job
    group; jobs from other threads (streaming micro-batches) are matched
    by the query window holding their start. ``groups`` maps a group
    name of the workload to its queries."""
    by_group: dict[str, list[Job]] = {}
    for j in jobs:
        by_group.setdefault(j.group, []).append(j)
    stages_by_group: dict[str, list[Stage]] = {}
    for s in stages:
        stages_by_group.setdefault(s.group, []).append(s)
    ours = {r.phase_group(p) for r in runs for p in ("build", "plan", "action")}
    foreign = [j for j in jobs if j.group not in ours]

    def span(w):
        return [(j.start, j.end) for j in w]

    def in_group(r, g):
        return r.name in groups.get(g, ())

    out = {k: 0.0 for k in (
        "relational.build_s", "relational.build_jobs",
        "relational.build_python_s", "operators.loop_build_s",
        "operators.loop_build_jobs", "parse_io.schema_jobs",
        "parse_io.schema_s", "driver.idle_s", "streaming.batch_jobs",
        "streaming.query_s", "models.udf_exec_s", "models.expr_exec_s",
        "operators.decode_exec_s", "relational.exec_s",
        "relational.exec_jobs", "spark.tasks", "catalyst.analysis_ms",
        "catalyst.optimization_ms", "catalyst.planning_ms",
        *STAGE_SUMS, *UDF_SUMS,
    )}
    for r in runs:
        bjobs = by_group.get(r.phase_group("build"), [])
        ajobs = by_group.get(r.phase_group("action"), [])
        build_wall = r.build[1] - r.build[0]
        action_wall = r.action[1] - r.action[0]
        build_python = build_wall - union_length(span(bjobs), *r.build)
        schema = [j for j in bjobs
                  if any(n.startswith("parquet at ") for n in j.stage_names)]
        out["relational.build_s"] += build_wall
        out["relational.build_jobs"] += len(bjobs)
        out["relational.build_python_s"] += build_python
        out["parse_io.schema_jobs"] += len(schema)
        out["parse_io.schema_s"] += union_length(span(schema), *r.build)
        if in_group(r, "loop"):
            out["operators.loop_build_s"] += build_wall
            out["operators.loop_build_jobs"] += len(bjobs)
        # any job running in the action window keeps the driver busy
        out["driver.idle_s"] += idle_s(r, jobs)
        if in_group(r, "events"):
            out["streaming.query_s"] += r.wall
            out["streaming.batch_jobs"] += sum(
                1 for j in foreign if r.build[0] <= j.start < r.action[1])
        for g, key in (("udf", "models.udf_exec_s"),
                       ("expr", "models.expr_exec_s"),
                       ("decode", "operators.decode_exec_s")):
            if in_group(r, g):
                out[key] += action_wall
        out["relational.exec_s"] += action_wall
        out["relational.exec_jobs"] += len(ajobs)
        for phase, ms in r.catalyst_ms.items():
            out[f"catalyst.{phase}_ms"] += ms
        qstages = [s for p in ("build", "plan", "action")
                   for s in stages_by_group.get(r.phase_group(p), [])]
        out["spark.tasks"] += sum(s.tasks for s in qstages)
        for key, (names, scale) in STAGE_SUMS.items():
            out[key] += _stage_sum(qstages, names, scale)
        if in_group(r, "udf"):
            for key, (names, scale) in UDF_SUMS.items():
                out[key] += _stage_sum(qstages, names, scale)
    return out


def median_layers(per_pass: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
