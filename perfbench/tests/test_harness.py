"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q

The unit tests need no JVM.  The smoke tests run each workload end to
end at scale factor 0.001 with a one-second window (about a minute
each), and check the benchmark refuses to run without the engine.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import harness  # noqa: E402
import workloads  # noqa: E402

# -- percentiles and sample counts -------------------------------------------


def test_percentile_interpolates_between_ranks():
    xs = [5, 1, 4, 2, 3]
    assert harness.percentile(xs, 50) == 3
    assert harness.percentile(xs, 0) == 1
    assert harness.percentile(xs, 100) == 5
    assert harness.percentile(xs, 90) == pytest.approx(4.6)
    assert harness.percentile(list(range(1, 101)), 90) == pytest.approx(90.1)


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        harness.percentile([], 50)


def test_summarize_counts_samples_beyond_p90():
    s = harness.summarize(range(100))
    assert s["n"] == 100
    assert s["p50"] == pytest.approx(49.5)
    assert s["beyond_p90"] == 10
    assert harness.summarize([])["n"] == 0


# -- failure counting --------------------------------------------------------


def test_outcomes_count_errors_and_mismatches():
    o = harness.Outcomes()
    o.ok()
    o.ok()
    o.fail("boom")
    assert (o.attempted, o.failed) == (3, 1)
    o.mismatch("wrong rows")  # an attempted statement found wrong later
    assert (o.attempted, o.failed) == (3, 2)
    assert o.failed_ratio == pytest.approx(2 / 3)
    assert o.reasons == ["boom", "wrong rows"]
    assert harness.Outcomes().failed_ratio == 1.0  # nothing attempted is no success


def test_end_to_end_counts_only_verified_statements_as_throughput():
    samples = [workloads.Sample("q", None, 0.1 * i, [], []) for i in range(1, 11)]
    samples[0].ok = False
    w = workloads.Window(samples, 2.0, 3.0, 0.0, {}, harness.Tracer(False))
    m = workloads.end_to_end(1.5, w)
    assert set(m) == set(workloads.END_TO_END)
    assert m["queries_per_s"] == pytest.approx(9 / 2.0)
    assert m["latency_p50_ms"] == pytest.approx(550.0)
    assert m["cpu_ms_per_query"] == pytest.approx(300.0)


def test_a_window_runs_enough_whole_rounds_to_fill_its_seconds():
    assert workloads.Run(1, 12, False, "", None).rounds(8.0) == 2
    assert workloads.Run(1, 12, False, "", None).rounds(20.0) == 1
    assert workloads.Run(1, 0.5, False, "", None).rounds(8.0) == 1  # at least one
    dealer = workloads._Dealer(iter([["x", "y"], ["z"]]))
    assert [dealer.next() for _ in range(4)] == ["x", "y", "z", None]


def test_layer_figures_leave_out_layers_never_entered():
    tr = harness.Tracer(True)
    root = tr.add("statement", 0.0, 1.0, 1)
    tr.add("engine.sql", 0.0, 0.25, 1, root)
    samples = [workloads.Sample("q", None, 1.0, [], []), workloads.Sample("q", None, 3.0, [], [])]
    w = workloads.Window(samples, 4.0, 1.0, 0.0, {}, tr,
                         {"engine.sql_ms": [10.0, 30.0], "exec.stages": [1, 2],
                          "exec.run_ms": [100.0, 300.0], "exec.cpu_ms": [50.0, 150.0]})
    f = workloads.layer_figures({"session.start_ms": 1.0, "engine.for_dir_ms": 2.0}, 3.0, w, 4.0,
                                [5.0, -1.0, 2.0])
    assert f["engine.sql_ms"] == 20.0 and f["engine.sql_p90_ms"] == pytest.approx(28.0)
    assert f["exec.stages"] == 1.5  # a counter is a mean per statement
    assert f["exec.cpu_ratio"] == 0.5
    assert f["self.engine_ms"] == pytest.approx(125.0)  # 0.25 s over two statements
    assert f["trace.latency_p50_ms"] == pytest.approx(2000.0)
    assert f["trace.overhead_ms"] == 2.0
    assert not any(k.startswith(("server.", "hive.", "udf.", "metadata.")) for k in f)


def test_sandwich_sets_a_traced_run_against_the_untraced_runs_around_it():
    # warming up by 20 ms a run hides nothing: the traced run costs 5 ms
    assert workloads.sandwich(0.100, 0.085, 0.060) == pytest.approx(5.0)


# -- Spark stage records -----------------------------------------------------


def _stage(status, tasks, run_ms, cpu_ns, sw=0, sr=0, inp=0, out=0, t=(1000, 2000)):
    return {"status": status, "numTasks": tasks, "executorRunTime": run_ms,
            "executorCpuTime": cpu_ns, "shuffleWriteBytes": sw, "shuffleReadBytes": sr,
            "inputBytes": inp, "outputBytes": out, "submitted_ms": t[0], "completed_ms": t[1]}


def test_aggregate_stages_counts_complete_stages_only():
    ex = harness.aggregate_stages([
        _stage("COMPLETE", 4, 400, 200_000_000, sw=10, inp=100),
        _stage("SKIPPED", 4, 0, 0),  # reused shuffle: reports tasks it never ran
        _stage("COMPLETE", 2, 100, 50_000_000, sr=10, out=7, t=(2500, 2600)),
    ])
    assert ex["stages"] == 2
    assert ex["tasks"] == 6
    assert ex["run_ms"] == 500.0
    assert ex["cpu_ms"] == pytest.approx(250.0)  # nanoseconds in, ms out
    assert (ex["shuffle_write_bytes"], ex["shuffle_read_bytes"]) == (10, 10)
    assert (ex["input_bytes"], ex["output_bytes"]) == (100, 7)
    assert ex["intervals"] == [(1000, 2000), (2500, 2600)]


def test_aggregate_of_no_stages_is_zero():
    ex = harness.aggregate_stages([])
    assert ex["stages"] == ex["tasks"] == 0 and ex["run_ms"] == 0.0


# -- spans -------------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    t = harness.Tracer(True)
    root = t.add("statement", 0.0, 10.0, 1)
    t.add("engine.sql", 1.0, 4.0, 1, root)
    t.add("result.collect", 3.0, 6.0, 1, root)  # overlaps its sibling
    t.add("exec", 8.0, 12.0, 1, root)  # runs past its parent's end
    selfs = t.self_times()
    assert selfs["statement"] == [pytest.approx(10 - 5 - 2)]
    assert selfs["engine.sql"] == [pytest.approx(3.0)]


def test_untraced_tracer_records_nothing():
    t = harness.Tracer(False)
    assert t.add("statement", 0, 1, 1) is None
    assert t.spans == []


def test_exec_spans_go_under_the_innermost_containing_span():
    import engine_io

    t = harness.Tracer(True)
    root = t.add("statement", 0.0, 10.0, 7)
    sql = t.add("engine.sql", 0.0, 2.0, 7, root)
    collect = t.add("result.collect", 3.0, 10.0, 7, root)
    engine_io.add_exec_spans(t, 7, root, [(0.5, 1.5), (4.0, 5.0), (4.5, 6.0)])
    ex = [s for s in t.spans if s.name == "exec"]
    assert [(s.start, s.end, s.parent) for s in ex] == [(0.5, 1.5, sql), (4.0, 6.0, collect)]


# -- result checks -----------------------------------------------------------


def test_digest_ignores_row_and_column_order():
    a = checks.digest(["x", "y"], [(1, "a"), (2, "b")])
    b = checks.digest(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b
    assert a != checks.digest(["x", "y"], [(1, "a"), (2, "c")])
    assert a != checks.digest(["x", "y"], [(1, "a")])
    assert checks.digest(["f"], [(0.1 + 0.2,)]) != checks.digest(["f"], [(0.3,)])


def test_python_references():
    assert checks.normal_cdf(0.0, 1.0, 0.0) == 0.5
    # I_x(2, 5) against a midpoint-rule integral of the beta density
    n = 200_000
    dens = sum(30 * ((i + 0.5) / n * 0.3) * (1 - (i + 0.5) / n * 0.3) ** 4 for i in range(n)) * 0.3 / n
    assert checks.beta_cdf_int(2, 5, 0.3) == pytest.approx(dens, rel=1e-9)
    assert checks.url_encode("a b&c*") == "a+b%26c*"
    assert checks.hmac_sha256_hex("msg", "key") == (
        "2D93CBC1BE167BCB1637A4A23CBFF01A7878F0C50EE833954EA5221BB1B8C628")
    assert checks.row_json(1, "x") == '[1,"x"]'
    assert checks.close(1.0, 1.0 + 1e-12) and not checks.close(1.0, 1.001)
    assert math.isclose(checks.normal_cdf(0.0, 1.0, 1.96), 0.9750021048517795)


# -- smoke runs --------------------------------------------------------------


def _run(cwd, *args, timeout=300):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", ["tpch_sql", "interactive_http"])
def test_smoke_traced_run(workload):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", "1", "--scale", "0.001")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    context = json.loads(p.stdout.strip().splitlines()[-2])["context"]
    assert result["correct"], context["failures"]
    assert result["failed"] == 0 and result["attempted"] > 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    # every per-layer metric is a layer this workload enters
    assert all(v["value"] > 0 for v in result["metrics"].values()), result["metrics"]
    layers = context["layers"]
    assert "trace.overhead_ms" in layers
    if workload == "interactive_http":
        assert layers["udf.worker_cpu_ms"] > 0
        assert layers["hive.files_written"] > 0
        assert layers["server.pages"] > 1
    # nothing is left behind in the benchmark's run directory
    assert not os.listdir(os.path.join(BENCH, ".runs"))


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".runs", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "--workload", "tpch_sql", "--seed", "1", "--seconds", "1",
             "--trace", "0", timeout=170)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
