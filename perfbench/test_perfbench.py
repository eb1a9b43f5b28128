"""Self-test of the benchmark harness at tiny scale.

    python3 -m pytest perfbench -q -p no:cacheprovider

Checks the output contract against BENCHMARK.json (every metric printed
with its unit, in both modes, on every workload), the span self-time
arithmetic, the process-tree CPU clock, job-group attribution under a
thread pool, and the compare verdicts.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
import time
import types
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench import compare, gen, layers, run, workloads
from perfbench.spans import Span, Tracer, self_times, union_length

SPEC = json.loads((run.ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@pytest.fixture(scope="module")
def spark():
    session = run.start_session(2)
    yield session
    run.stop_session(session)
    shutil.rmtree(run.WORK, ignore_errors=True)


# -- BENCHMARK.json ----------------------------------------------------------


def test_benchmark_json_matches_the_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == {
        n: layers.unit_of(n) for n in layers.metric_names() + ["trace.overhead_s"]}


# -- spans ------------------------------------------------------------------


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10)


def test_self_time_is_duration_minus_union_of_children():
    spans = [
        Span(1, "runner.run_process", None, 0.0, 10.0),
        # two overlapping children from pool threads: union [1, 6]
        Span(2, "runner.extract_table", 1, 1.0, 4.0),
        Span(3, "runner.transform_table", 1, 3.0, 6.0),
        # a grandchild counts against its parent only
        Span(4, "stage.merge", 3, 3.5, 5.5),
        # a child running past its parent is clipped to the parent
        Span(5, "deltalog.commit", 4, 5.0, 7.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.5)
    assert st[5] == pytest.approx(2.0)


def test_tree_cpu_counts_live_and_reaped_children():
    """A busy child counts while it runs and after it is reaped; time
    spent sleeping does not count."""
    burn = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.3: pass\n"
            "print(flush=True)\ntime.sleep(0.3)")
    before = workloads.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn], stdout=subprocess.PIPE)
    child.stdout.readline()
    live = workloads.tree_cpu_s() - before
    child.wait()
    child.stdout.close()
    done = workloads.tree_cpu_s() - before
    assert 0.3 <= live <= done < 0.8


def test_jobs_land_in_their_callers_job_group(spark):
    """Calls on a thread pool each get exactly their own job; a job
    launched after a nested call returns goes to the outer span."""
    toy = types.SimpleNamespace(
        one_job=lambda n: spark.range(n).collect(),
        outer=lambda n: (toy.one_job(n), spark.range(n + 1).collect()),
    )
    tracer = Tracer(spark)
    tracer.wrap(toy, "one_job", "runner.one_job")
    tracer.wrap(toy, "outer", "stage.outer")
    try:
        with ThreadPoolExecutor(4) as pool:
            list(pool.map(toy.one_job, range(1, 9)))
        toy.outer(3)
    finally:
        tracer.uninstall()
    counters = tracer.job_counters()
    assert len(tracer.spans) == 10
    assert all(counters[s.id]["jobs"] == 1 for s in tracer.spans)
    outer = next(s for s in tracer.spans if s.name == "stage.outer")
    inner = [s for s in tracer.spans if s.parent == outer.id]
    assert len(inner) == 1 and inner[0].name == "runner.one_job"
    m = layers.layer_metrics(tracer.spans, counters, ["runner", "stage"])
    assert m["runner.jobs"] == 9 and m["stage.jobs"] == 1
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


# -- the harness end to end, tiny --------------------------------------------


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "INGEST_TABLES", [
        gen.TableSpec("i_tiny", 17, 300, partition="processperiod", incremental=True),
        gen.TableSpec("f_tiny", 5, 200, filtered=True),
    ])
    monkeypatch.setattr(workloads, "INGEST_DAYS", 1)
    monkeypatch.setattr(workloads, "CORPUS_DOCS", 200)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_every_metric_is_printed_with_its_unit(spark, tiny, workload, trace):
    work = run.WORK / f"selftest-{workload}-{trace}"
    settings, result = run.measure(spark, 2, workload, 7, 0, trace, 1.0, work)
    shutil.rmtree(work, ignore_errors=True)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert settings["workload"] == workload and settings["passes"] >= 1
    json.dumps(result)


# -- compare ----------------------------------------------------------------


def test_compare_verdicts():
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    faster = [v * 0.8 for v in parent]
    assert compare.verdict(parent, faster, "lower", 0.1)[0] == "gain"
    assert compare.verdict(parent, faster, "higher", 0.1)[0] == "regression"
    assert compare.verdict(parent, list(reversed(parent)), "lower", 0.1)[0] == "same"
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert compare.verdict(noisy, list(reversed(noisy)), "lower", 0.1)[0] == "unresolved"
    assert compare.verdict(parent, faster, "lower", 0.1)[1:] == (10, 10)
