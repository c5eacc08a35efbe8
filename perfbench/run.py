#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload melt_models --seed 0 --seconds 15 --trace 0

Runs one workload (``perfbench/workloads.py``) from the root of a
checkout: a closed loop with one client, in which one process holds one
``get_spark()`` session on ``local[nproc]`` and runs the workload's
registry queries one after another, each ending in a noop-sink write.

1. Inputs: the seed's tables (``perfbench/data.py``).
2. Set-up, timed as ``setup_s``: importing the package, ``get_spark``
   with its package shipping, a Python-worker warm-up and the shared
   ``synthetic_melt`` persist (melt workload).
3. One untimed warm pass that collects every query's output; a worker
   process meanwhile runs the DuckDB oracles, and each output is
   checked against its oracle. A second untimed pass runs the timed
   passes' noop action, so timing starts further along the JIT warm-up.
4. A fixed number of timed passes: as many as ``--seconds`` holds at
   the workload's nominal pass time on the reference host, and at
   least eleven query executions, so the tail percentile exists. The
   count never depends on the speed being measured.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` launches
Spark with its event log on, alternates traced and untraced passes,
and prints the per-layer metrics; its spans go to
``perfbench/.work/traces/``. Every run writes a stamped record to
``perfbench/.work/records/``.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is non-zero
when any query raised or returned a wrong answer.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PROGRAM = os.path.join(ROOT, "magmapandas_spark")
sys.path.insert(0, ROOT)

from perfbench import data, kernels, metrics, oracle, procs  # noqa: E402
from perfbench.trace import Tracer, read_event_log  # noqa: E402
from perfbench.workloads import WORKLOADS, Workload  # noqa: E402

TAIL_BEYOND = 10
ORACLE_TIMEOUT_S = 150.0

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
}
PER_LAYER_UNITS = {
    "session.jvm_peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "session.ship_package_s": "s",
    "session.worker_warm_s": "s",
    "relational.synthetic_melt_s": "s",
    "relational.build_s": "s",
    "relational.build_jobs": "count",
    "relational.build_python_s": "s",
    "operators.loop_build_s": "s",
    "operators.loop_build_jobs": "count",
    "parse_io.schema_jobs": "count",
    "parse_io.schema_s": "s",
    "driver.idle_s": "s",
    "streaming.batch_jobs": "count",
    "streaming.query_s": "s",
    "models.udf_exec_s": "s",
    "models.udf_rows_in": "rows",
    "models.udf_bytes_in": "bytes",
    "models.udf_bytes_out": "bytes",
    "models.udf_python_s": "s",
    **{f"models.kernel.{k}_rows_per_s": "rows/s" for k in kernels.KERNELS},
    "models.expr_exec_s": "s",
    "core.convert_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "relational.exec_s": "s",
    "relational.exec_jobs": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "operators.decode_exec_s": "s",
    "trace.overhead_pct": "%",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_launch(run_id: str, traced: bool) -> str | None:
    """Point every scratch path of the driver, the JVM and the Python
    workers into the work area, and launch Spark with its event log on
    in a traced run. Returns the event-log directory of a traced run."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    # every JVM, the launcher's too: temp files in the work area, and no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
    ]
    log_dir = None
    if traced:
        log_dir = os.path.join(WORK, "eventlog", run_id)
        os.makedirs(log_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return log_dir


def _identity(batches):
    yield from batches


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def source_stamp() -> dict:
    """Git commit when the checkout is a repository, and always a digest
    of the program's sources."""
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(PROGRAM)):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(base, fn)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


class Bench:
    """One run of one workload."""

    def __init__(self, wl: Workload, seed: int, seconds: float,
                 traced: bool, sf_dir: str, log_dir: str | None):
        self.wl, self.seed, self.seconds = wl, seed, seconds
        self.traced, self.sf_dir, self.log_dir = traced, sf_dir, log_dir
        self.tracer = Tracer()
        self.root = self.tracer.add("run", "run", time.time(), 0.0,
                                    workload=wl.name, seed=seed)
        self.spark = None
        self.attempted = 0
        self.failures: list[dict] = []
        self.pass_walls: dict[bool, list[float]] = {False: [], True: []}
        # query executions of the timed passes of an untraced run
        self.plain_runs: list[metrics.QueryRun] = []
        self.traced_runs: list[list[metrics.QueryRun]] = []
        self.extra: dict[str, float] = {}
        self.query_spans = {}  # "p<pass>:<query>" -> its span
        self.logging = traced  # Spark's event log is on from launch

    # -- helpers ----------------------------------------------------
    def group(self, name: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(name, name)

    def fail(self, query: str, where: str, reason: str) -> None:
        self.failures.append({"query": query, "where": where, "reason": reason})
        print(f"perfbench: {query} failed in {where}: {reason}", file=sys.stderr)

    def event_logging(self, on: bool) -> None:
        """Attach or detach Spark's event-log listener, so the untraced
        passes of a traced run are not logged."""
        if on == self.logging:
            return
        sc = self.spark.sparkContext._jsc.sc()
        listener = sc.eventLogger().get()
        if on:
            sc.listenerBus().addToEventLogQueue(listener)
        else:
            sc.listenerBus().removeListener(listener)
        self.logging = on

    # -- phases -----------------------------------------------------
    def set_up(self) -> None:
        tr = self.tracer
        with tr.span("setup", "setup", self.root) as setup:
            with tr.span("import", "setup", setup):
                from magmapandas_spark import session
                from magmapandas_spark.relational import suite
            self.suite = suite
            with tr.span("get_spark", "setup", setup) as gs:
                real_ship = session.ship_package

                def timed_ship(spark):
                    with tr.span("ship_package", "setup", gs):
                        real_ship(spark)

                session.ship_package = timed_ship
                try:
                    self.spark = session.get_spark(app_name="perfbench")
                finally:
                    session.ship_package = real_ship
            self.group("setup:worker_warm")
            with tr.span("worker_warm", "setup", setup):
                _noop(self.spark.range(256).repartition(32).mapInPandas(
                    _identity, "id long"))
            if self.wl.persist_melt:
                self.group("setup:synthetic_melt")
                with tr.span("synthetic_melt", "setup", setup):
                    _noop(suite.synthetic_melt(self.spark, self.sf_dir).df)
        self.setup_span = setup
        self.queries = suite.queries()

    def warm_and_check(self) -> None:
        """Untimed warm pass that collects each output, checked against
        the oracle results a worker process computes meanwhile."""
        outputs = {}
        worker = oracle.start(os.path.join(WORK, "oracle"), self.seed,
                              self.wl.sf, self.sf_dir, self.wl.queries)
        try:
            with self.tracer.span("warm", "pass", self.root) as wp:
                for name in self.wl.queries:
                    self.attempted += 1
                    self.group(f"warm:{name}")
                    with self.tracer.span(name, "query", wp):
                        try:
                            outputs[name] = self.queries[name](
                                self.spark, self.sf_dir).toPandas()
                        except Exception as exc:  # noqa: BLE001
                            self.fail(name, "warm",
                                      f"{type(exc).__name__}: {exc}")
        finally:
            with self.tracer.span("oracle_wait", "check", self.root):
                paths = oracle.collect(worker, ORACLE_TIMEOUT_S)
        import pandas as pd

        for name, pdf in outputs.items():
            if name not in paths:
                self.fail(name, "check", "no oracle")
                continue
            reason = oracle.mismatch(pdf, pd.read_pickle(paths[name]))
            if reason:
                self.fail(name, "check", reason)

    def settle(self) -> None:
        """A second untimed pass, with the timed passes' noop action,
        so the timed passes start further along the JIT warm-up."""
        with self.tracer.span("settle", "pass", self.root):
            for name in self.wl.queries:
                self.attempted += 1
                self.group(f"settle:{name}")
                try:
                    _noop(self.queries[name](self.spark, self.sf_dir))
                except Exception as exc:  # noqa: BLE001
                    self.fail(name, "settle", f"{type(exc).__name__}: {exc}")

    def run_query(self, pass_no: int, name: str, traced: bool, parent):
        tr = self.tracer
        group = f"p{pass_no}:{name}"
        with tr.span(name, "query", parent) as qs:
            try:
                if traced:
                    self.group(f"{group}:build")
                t0 = time.time()
                df = self.queries[name](self.spark, self.sf_dir)
                t1 = time.time()
                plan, catalyst = None, {}
                if traced:
                    self.group(f"{group}:plan")
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    phases = qe.tracker().phases()
                    for phase in ("analysis", "optimization", "planning"):
                        got = phases.get(phase)
                        catalyst[phase] = (
                            float(got.get().durationMs()) if got.isDefined()
                            else 0.0)
                    plan = (t1, time.time())
                    t1 = plan[1]
                    self.group(f"{group}:action")
                _noop(df)
                t2 = time.time()
            except Exception as exc:  # noqa: BLE001
                self.fail(name, f"pass {pass_no}", f"{type(exc).__name__}: {exc}")
                return None
        run = metrics.QueryRun(name, group, (t0, plan[0] if plan else t1),
                               (t1, t2), plan, catalyst)
        self.query_spans[group] = qs
        tr.add("build", "phase", run.build[0], run.build[1], qs,
               group=run.phase_group("build"))
        if plan:
            tr.add("plan", "phase", plan[0], plan[1], qs,
                   group=run.phase_group("plan"), catalyst_ms=catalyst)
        tr.add("action", "phase", t1, t2, qs, group=run.phase_group("action"))
        return run

    def timed_passes(self) -> None:
        """The run's fixed number of timed passes. A traced run orders
        them traced, untraced, untraced, traced (and again), so warm-up
        drift cancels out of the tracing overhead."""
        n = self.wl.passes(self.seconds, TAIL_BEYOND + 1, self.traced)
        for pass_no in range(n):
            traced = self.traced and pass_no % 4 in (0, 3)
            if self.traced:
                self.event_logging(traced)
            with self.tracer.span(f"pass {pass_no}", "pass", self.root,
                                  traced=traced) as ps:
                runs = []
                for name in self.wl.queries:
                    self.attempted += 1
                    run = self.run_query(pass_no, name, traced, ps)
                    if run is not None:
                        runs.append(run)
            self.pass_walls[traced].append(ps.duration)
            if traced:
                self.traced_runs.append(runs)
            elif not self.traced:  # latencies come from untraced runs only
                self.plain_runs.extend(runs)
        if self.traced:
            self.event_logging(True)

    def probes(self) -> None:
        """Traced-run probes below the query level: the unit-conversion
        chain on the cached melt, and the numpy model kernels."""
        if self.wl.persist_melt:
            melt = self.suite.synthetic_melt(self.spark, self.sf_dir)
            times = []
            for i in range(3):
                self.group(f"probe:convert:{i}")
                with self.tracer.span("convert", "probe", self.root) as sp:
                    _noop(melt.moles().cations().wt_pc().df)
                times.append(sp.duration)
            self.extra["core.convert_s"] = statistics.median(times)
        else:
            self.extra["core.convert_s"] = 0.0
        with self.tracer.span("kernels", "probe", self.root):
            for name, rate in kernels.probe(self.seed).items():
                self.extra[f"models.kernel.{name}_rows_per_s"] = rate

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- results ----------------------------------------------------
    def setup_seconds(self, name: str) -> float:
        for s in self.tracer.spans:
            if s.kind == "setup" and s.name == name:
                return s.duration
        return 0.0

    def end_to_end(self) -> tuple[dict, dict]:
        latencies = [r.wall for r in self.plain_runs]
        pct, tail_s = metrics.tail(latencies, TAIL_BEYOND)
        values = {
            "setup_s": self.setup_span.duration,
            "pass_s": statistics.median(self.pass_walls[False]),
            "query_p50_s": statistics.median(latencies),
            "query_tail_s": tail_s,
        }
        info = {"tail_percentile": pct, "executions": len(latencies),
                "passes": len(self.pass_walls[False]),
                "phases_s": {s.name: s.duration for s in self.tracer.spans
                             if s.parent in (self.root.id, self.setup_span.id)},
                "query_s": {q: [r.wall for r in self.plain_runs if r.name == q]
                            for q in self.wl.queries}}
        return values, info

    def per_layer(self, rss_mb: float) -> tuple[dict, dict]:
        jobs, stages = read_event_log(self.log_dir)
        self.attach_jobs(jobs, stages)
        layers = metrics.median_layers([
            metrics.pass_layers(runs, jobs, stages, self.wl.groups)
            for runs in self.traced_runs])
        idle = {}
        for run in (r for runs in self.traced_runs for r in runs):
            idle[run.group] = metrics.idle_s(run, jobs)
            self.query_spans[run.group].attrs["idle_s"] = idle[run.group]
        get_spark = self.setup_seconds("get_spark")
        ship = self.setup_seconds("ship_package")
        traced_pass = statistics.median(self.pass_walls[True])
        plain_pass = statistics.median(self.pass_walls[False])
        values = {
            "session.jvm_peak_rss_mb": rss_mb,
            "session.get_spark_s": get_spark - ship,
            "session.ship_package_s": ship,
            "session.worker_warm_s": self.setup_seconds("worker_warm"),
            "relational.synthetic_melt_s": self.setup_seconds("synthetic_melt"),
            **layers,
            **self.extra,
            "trace.overhead_pct": 100.0 * (traced_pass - plain_pass) / plain_pass,
        }
        info = {"traced_passes": len(self.pass_walls[True]),
                "untraced_passes": len(self.pass_walls[False]),
                "jobs": len(jobs), "stages": len(stages),
                "min_query_idle_s": min(idle.values())}
        return values, info

    def attach_jobs(self, jobs, stages) -> None:
        """Hang jobs and stages from the event log under the spans that
        caused them: by job group, else by the query window."""
        tr = self.tracer
        by_group = {s.attrs["group"]: s for s in tr.spans if "group" in s.attrs}
        queries = [s for s in tr.spans if s.kind == "query"]
        setups = {f"setup:{s.name}": s for s in tr.spans if s.kind == "setup"}
        stage_parent = {}
        for j in jobs:
            parent = by_group.get(j.group) or setups.get(j.group)
            if parent is None:
                parent = next((q for q in queries
                               if q.start <= j.start < q.end), self.root)
            js = tr.add(f"job {j.id}", "job", j.start, j.end, parent,
                        group=j.group)
            for sid in j.stage_ids:
                stage_parent.setdefault(sid, js)
        for s in stages:
            tr.add(f"stage {s.id}.{s.attempt}", "stage", s.start, s.end,
                   stage_parent.get(s.id, self.root), stage_name=s.name,
                   tasks=s.tasks)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PROGRAM):
        print(f"perfbench: no program at {PROGRAM}; run from the root of a "
              "checkout of the repository", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)
    procs.become_subreaper()
    load_before, cpu_before = os.getloadavg(), cpu_times()
    run_id = (f"{wl.name}-seed{args.seed}-trace{args.trace}-"
              f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    log_dir = configure_launch(run_id, traced)
    sf_dir = data.prepare(args.seed, wl.sf, WORK)
    # the registry's oracle builders read their tables from here
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    bench = Bench(wl, args.seed, args.seconds, traced, sf_dir, log_dir)
    try:
        bench.set_up()
        bench.warm_and_check()
        bench.settle()
        bench.timed_passes()
        if traced:
            bench.probes()
        rss_mb = bench.peak_rss_mb()
    finally:
        bench.stop()
        # the JVM, its Python workers and the oracle worker end here
        killed = procs.wait_all(grace_s=30.0)
        if killed:
            print(f"perfbench: had to signal pids {killed}", file=sys.stderr)
    bench.root.end = time.time()
    wall_s = time.perf_counter() - T_START
    if traced:
        values, info = bench.per_layer(rss_mb)
        units = PER_LAYER_UNITS
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        bench.tracer.write(os.path.join(WORK, "traces", f"{run_id}.json"),
                           workload=wl.name, seed=args.seed)
    else:
        values, info = bench.end_to_end()
        info["peak_rss_mb"] = rss_mb
        units = END_TO_END_UNITS
    failed = len(bench.failures)
    cpu_delta = [b - a for a, b in zip(cpu_before, cpu_times())]
    import pyspark

    record = {
        "workload": wl.name, "seed": args.seed, "sf": wl.sf,
        "seconds": args.seconds, "trace": args.trace, "wall_s": wall_s,
        "queries": list(wl.queries), "nproc": nproc(),
        "load_before": list(load_before), "load_after": list(os.getloadavg()),
        # share of host CPU time stolen by other guests during the run
        "cpu_steal": cpu_delta[7] / max(sum(cpu_delta[:8]), 1),
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        **source_stamp(), **info,
        "attempted": bench.attempted, "failed": failed,
        "error_rate": failed / bench.attempted, "failures": bench.failures,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for k, u in units.items():
        print(f"{wl.name} {k} = {values[k]:.6g} {u}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": bench.attempted,
        "failed": failed, "metrics": record["metrics"],
    }), flush=True)
    return 0 if failed == 0 else 1


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    # a terminated run still unwinds, so its processes are waited for
    signal.signal(signal.SIGTERM, _terminate)
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        sys.exit(3)
    finally:
        procs.wait_all(grace_s=30.0)
