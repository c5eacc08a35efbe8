"""Self-checks of the benchmark: the tail-percentile rule, self-time
arithmetic, seeded inputs, the layer split, and that every workload
query and every metric the runner prints is the one BENCHMARK.json
names.

    python3 -m pytest perfbench/tests -q
"""

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import data, metrics, oracle, run
from perfbench.trace import Job, Span, Stage, self_times, union_length
from perfbench.workloads import WORKLOADS

BENCHMARK_JSON = os.path.join(run.ROOT, "BENCHMARK.json")


# -- tail percentile ------------------------------------------------------

@pytest.mark.parametrize("n", [11, 12, 20, 37, 100])
def test_tail_leaves_exactly_ten_samples_above(n):
    values = [float(v) for v in np.random.default_rng(n).permutation(n)]
    pct, value = metrics.tail(values)
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_of_twenty_is_the_median_rank():
    pct, value = metrics.tail(range(1, 21))
    assert (pct, value) == (50.0, 10)


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_needs_more_than_ten_samples(n):
    with pytest.raises(ValueError):
        metrics.tail(range(n))


# -- intervals and self time ----------------------------------------------

def test_union_length_merges_overlaps_and_clips():
    iv = [(1, 3), (2, 5), (8, 12), (20, 21)]
    assert union_length(iv) == 4 + 4 + 1
    assert union_length(iv, 0, 10) == 4 + 2
    assert union_length([]) == 0.0
    assert union_length([(5, 6)], 0, 4) == 0.0


def test_self_time_subtracts_covered_part_of_children():
    spans = [
        Span(0, "query", "query", 0.0, 10.0),
        Span(1, "build", "phase", 1.0, 3.0, parent=0),
        Span(2, "job", "job", 2.0, 5.0, parent=0),
        Span(3, "late job", "job", 8.0, 12.0, parent=0),
        Span(4, "stage", "stage", 2.5, 4.0, parent=2),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[4] == pytest.approx(1.5)
    assert all(v >= 0 for v in st.values())


# -- layer split ----------------------------------------------------------

def _layers():
    run_a = metrics.QueryRun(
        "label_propagation", "p0:label_propagation", (0.0, 4.0), (5.0, 9.0),
        plan=(4.0, 5.0), catalyst_ms={"analysis": 3.0, "optimization": 7.0,
                                      "planning": 2.0})
    jobs = [
        Job(0, "p0:label_propagation:build", 1.0, 2.0, [0], ["parquet at x"]),
        Job(1, "p0:label_propagation:build", 1.5, 3.0, [1], ["count at y"]),
        Job(2, "p0:label_propagation:action", 6.0, 7.0, [2], ["save at z"]),
        Job(3, None, 8.0, 8.5, [3], ["stream batch"]),
    ]
    stages = [
        Stage(2, 0, "save at z", "p0:label_propagation:action", 6.0, 7.0, 4,
              {"internal.metrics.executorRunTime": 2000.0,
               "internal.metrics.jvmGCTime": 500.0}),
    ]
    return metrics.pass_layers([run_a], jobs, stages,
                               WORKLOADS["operators_mix"].groups)


def test_pass_layers_split_each_phase_into_jobs_and_the_rest():
    out = _layers()
    assert out["relational.build_s"] == 4.0
    assert out["relational.build_jobs"] == 2
    assert out["relational.build_python_s"] == pytest.approx(4.0 - 2.0)
    assert out["operators.loop_build_jobs"] == 2
    assert out["parse_io.schema_jobs"] == 1
    assert out["parse_io.schema_s"] == pytest.approx(1.0)
    # action window 5..9 holds the action job (1 s) and a foreign one (0.5 s)
    assert out["driver.idle_s"] == pytest.approx(4.0 - 1.5)
    assert out["relational.exec_jobs"] == 1
    assert out["spark.tasks"] == 4
    assert out["spark.task_run_s"] == pytest.approx(2.0)
    assert out["spark.gc_s"] == pytest.approx(0.5)
    assert out["catalyst.optimization_ms"] == 7.0


def test_pass_layers_report_every_layer_metric_the_runner_prints():
    expected = set(run.PER_LAYER_UNITS) - {
        "session.jvm_peak_rss_mb", "session.get_spark_s",
        "session.ship_package_s", "session.worker_warm_s",
        "relational.synthetic_melt_s", "core.convert_s", "trace.overhead_pct",
    } - {k for k in run.PER_LAYER_UNITS if k.startswith("models.kernel.")}
    assert set(_layers()) == expected


# -- output check ---------------------------------------------------------

def test_mismatch_ignores_row_and_column_order_only():
    import pandas as pd

    a = pd.DataFrame({"k": [2, 1], "v": [0.5, float("nan")]})
    b = pd.DataFrame({"v": [float("nan"), 0.5], "k": [1, 2]})
    assert oracle.mismatch(a, b) is None
    assert "mismatches" in oracle.mismatch(a, b.assign(v=[float("nan"), 0.25]))
    assert "row count" in oracle.mismatch(a, b.iloc[:1])
    assert "dtype kind" in oracle.mismatch(a, b.assign(k=[1.0, 2.0]))


# -- seeded inputs --------------------------------------------------------

@pytest.mark.parametrize("n", [1, 5, 1000])
def test_seed_zero_is_the_identity(n):
    assert np.array_equal(data.permutation(n, 0, "lineitem"), np.arange(n))


@pytest.mark.parametrize("seed", [1, 2, 97])
def test_other_seeds_are_bijections(seed):
    n = 1000
    perm = data.permutation(n, seed, "orders")
    assert np.array_equal(np.sort(perm), np.arange(n))
    assert not np.array_equal(perm, np.arange(n))
    assert np.array_equal(perm, data.permutation(n, seed, "orders"))


def test_prepare_seed_zero_is_the_committed_tables(tmp_path):
    assert data.prepare(0, "0.01", str(tmp_path)) == data.source_dir("0.01")
    assert not any(tmp_path.iterdir())


def test_prepare_writes_the_same_rows_in_permuted_order(tmp_path):
    out = data.prepare(7, "0.01", str(tmp_path))
    assert data.prepare(7, "0.01", str(tmp_path)) == out
    for table in data.TABLES:
        src = pq.read_table(os.path.join(data.source_dir("0.01"),
                                         f"{table}.parquet"))
        got = pq.read_table(os.path.join(out, f"{table}.parquet"))
        assert got.schema == src.schema
        assert pq.ParquetFile(
            os.path.join(out, f"{table}.parquet")).metadata.num_row_groups == 1
        perm = data.permutation(src.num_rows, 7, table)
        assert got.equals(src.take(perm))


# -- workloads against the registry and BENCHMARK.json ----------------------

def test_every_workload_query_resolves_and_has_an_oracle(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", data.source_dir("0.01"))
    from magmapandas_spark.relational import suite

    queries, oracles = suite.queries(), suite.oracle_sql()
    for wl in WORKLOADS.values():
        for name in wl.queries:
            assert name in queries, (wl.name, name)
            assert name in oracles, (wl.name, name)
        for group, names in wl.groups.items():
            assert set(names) <= set(wl.queries), (wl.name, group)


@pytest.mark.parametrize("seconds", [1, 20, 60])
def test_pass_count_is_fixed_by_seconds_alone(seconds):
    for wl in WORKLOADS.values():
        n = wl.passes(seconds, 11, traced=False)
        assert n * len(wl.queries) >= 11
        assert n >= round(seconds / wl.nominal_pass_s)
        traced = wl.passes(seconds, 11, traced=True)
        assert traced >= 4 and traced % 4 == 0 and traced >= n


def test_benchmark_json_names_what_the_runner_prints():
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == (
        run.END_TO_END_UNITS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == (
        run.PER_LAYER_UNITS)


# -- process clean-up -----------------------------------------------------

def _run_reaper(body: str) -> dict:
    """Run ``body`` in a fresh interpreter that is a subreaper, then
    ``procs.wait_all``; return what the script reports."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent("""
        import json, os, subprocess, time
        from perfbench import procs
        procs.become_subreaper()
        t0 = time.monotonic()
    """) + textwrap.dedent(body) + textwrap.dedent("""
        signalled = procs.wait_all(grace_s=GRACE, kill_after_s=1.0)
        print(json.dumps({"waited_s": time.monotonic() - t0,
                          "signalled": len(signalled),
                          "left": procs.descendants(os.getpid())}))
    """)
    out = subprocess.run([sys.executable, "-c", script], cwd=run.ROOT,
                         capture_output=True, text=True, timeout=60, check=True)
    return json.loads(out.stdout.splitlines()[-1])


def test_wait_all_waits_for_orphaned_grandchildren():
    got = _run_reaper("""
        GRACE = 30.0
        subprocess.run(["sh", "-c", "sleep 1 & exit 0"], check=True)
    """)
    assert got["left"] == [] and got["signalled"] == 0
    assert got["waited_s"] >= 0.9


def test_wait_all_signals_what_outlives_the_grace():
    got = _run_reaper("""
        GRACE = 0.3
        subprocess.Popen(["sh", "-c", "sleep 30 & exec sleep 30"])
    """)
    assert got["left"] == [] and got["signalled"] >= 1
    assert got["waited_s"] < 10
