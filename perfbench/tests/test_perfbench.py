"""Tests of the benchmark itself: BENCHMARK.json shape, tracer arithmetic, seeded
inputs, a tiny-size traced run of each workload, and the crawl checks
catching a tampered ``scheduled_N`` table.

Run from the repository root::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

from perfbench import checks, inputs
from perfbench.run import END_TO_END, PER_LAYER
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(
        m["bound"] for m in spec["end_to_end"])
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25


def test_tracer_self_time_discounts_concurrent_children():
    tr = Tracer("t")
    with tr.span("root") as _:
        pass
    root = tr.spans[0]
    root.start, root.end = 0.0, 10.0
    from perfbench.trace import Span

    tr.spans += [Span(2, "sources.a", 1.0, 4.0, root.id, "t"),
                 Span(3, "sources.b", 3.0, 6.0, root.id, "t"),
                 Span(4, "x", 8.0, 9.0, root.id, "t"),
                 Span(5, "sources.c", 8.5, 9.5, 4, "t")]
    # [1, 6] from the overlapping children, [8.5, 9.5] from a grandchild
    assert tr.covered(root, "sources.") == pytest.approx(6.0)
    # every descendant: [1, 6] + [8, 9.5]
    assert tr.self_time(root) == pytest.approx(10.0 - 6.5)


def test_sampler_cpu_is_left_out_of_the_meter():
    from perfbench import trace

    with trace.Sampler(interval=0.01) as smp, trace.Meter() as m:
        end = time.perf_counter() + 0.3
        while time.perf_counter() < end:
            pass
    assert smp.peak_mb > 0 and smp.own_cpu_s > 0
    assert smp in trace._samplers
    assert trace.work_cpu_s() <= trace.tree_cpu_s()
    assert m.wall_s >= 0.3
    assert len(smp.units) >= 5 and m.speed > 0
    assert m.ref_cpu_s == pytest.approx(m.cpu_s * m.speed)


def test_host_speed_is_the_reference_over_the_window_mean():
    from perfbench import trace

    smp = trace.Sampler()
    smp.units = [(1.0, 0.002), (2.0, 0.004), (9.0, 1.0)]
    trace._samplers.append(smp)
    try:
        assert trace.host_speed(0.0, 5.0) == pytest.approx(
            trace.REF_UNIT_S / 0.003)
        assert trace.host_speed(20.0, 30.0) == 1.0
    finally:
        trace._samplers.remove(smp)


def test_digest_key_changes_with_the_code(tmp_path, monkeypatch):
    from perfbench import run

    pkg = tmp_path / "url_pattern_algorithm_spark"
    pkg.mkdir()
    (pkg / "a.py").write_text("x = 1\n")
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    monkeypatch.setattr(run, "OUT", str(tmp_path / "out"))
    os.makedirs(run.OUT)
    v1 = run._code_version()
    assert run._same_digest(f"{v1} k", "d1") == []
    assert run._same_digest(f"{v1} k", "d2") != []
    (pkg / "a.py").write_text("x = 2\n")
    v2 = run._code_version()
    assert v2 != v1
    assert run._same_digest(f"{v2} k", "d2") == []


def test_inputs_are_a_function_of_the_seed():
    assert inputs.seed_urls(8, 1) == inputs.seed_urls(8, 1)
    assert inputs.seed_urls(8, 1) != inputs.seed_urls(8, 2)
    assert inputs.doc_offset(1) != inputs.doc_offset(2)
    rows = [(f"u{i}", i * 7919 - 5000) for i in range(100)]
    a = inputs.churn_sets(rows, 10, 5, 1)
    assert a == inputs.churn_sets(list(reversed(rows)), 10, 5, 1)
    assert a != inputs.churn_sets(rows, 10, 6, 1)
    takedowns, recrawls = a
    assert len(takedowns) == len(recrawls) == 10
    assert set(recrawls[:5]) <= set(takedowns)


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("workload", ["crawl", "learn_patterns"])
def test_tiny_traced_run_emits_every_metric(workload):
    proc = _run(workload, 1)
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == PER_LAYER
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    # the end-to-end metrics are printed by name with their unit too
    for name, unit in END_TO_END.items():
        pat = rf"^# e2e {re.escape(name)} = \S+ {re.escape(unit)}$"
        assert any(re.match(pat, ln) for ln in lines), name


def test_bare_directory_exits_nonzero_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_tampered_scheduled_table_fails_the_checks(spark, tmp_path):
    from pyspark.sql import functions as F

    from url_pattern_algorithm_spark.plans.crawl import run_crawl
    from url_pattern_algorithm_spark.sources.catalog import Catalog
    from url_pattern_algorithm_spark.sources.synthetic import robots_rules

    n_hosts, n_docs, seed = 8, 400, 4
    ckpt = str(tmp_path / "ckpt")
    docs = inputs.docs_indexed(spark, n_docs, n_hosts, seed)
    seeds_local = inputs.seed_urls(n_hosts, seed)
    robots_local = robots_rules(n_hosts)
    run_crawl(spark, docs,
              spark.createDataFrame(seeds_local, "url string, priority double"),
              inputs.robots_frame(spark, n_hosts), ckpt, n_docs, iterations=2,
              prefilter_kind="cuckoo")
    cat = Catalog(spark, ckpt)

    def verify():
        sched = {i: checks.scheduled_rows(cat, i) for i in (1, 2)}
        return (checks.check_oracle(sched[1], seeds_local, robots_local,
                                    n_docs, n_hosts, inputs.doc_offset(seed))
                + checks.check_crawl_state(cat, 2, sched, robots_local,
                                           set(), 0, 0))

    assert verify() == []
    # tamper: iteration 2 re-schedules a URL from iteration 1, on a
    # disallowed path, beyond its host's budget
    s1 = cat.read("scheduled_1")
    row = s1.orderBy("url_hash").limit(1)
    bad = row.withColumn("url", F.concat(F.lit("http://"), F.col("host"),
                                         F.lit("/private/x")))
    s2 = cat.read("scheduled_2")
    tampered = s2.unionByName(bad)
    for _ in range(4):  # five rows of one host: over any budget (cap 4)
        tampered = tampered.unionByName(row)
    tampered = tampered.persist()
    tampered.count()
    tampered.write.mode("overwrite").parquet(str(tmp_path / "t"))
    shutil.rmtree(cat.path("scheduled_2"))
    shutil.copytree(str(tmp_path / "t"), cat.path("scheduled_2"))
    tampered.unpersist()
    failures = verify()
    text = "\n".join(failures)
    assert "scheduled twice" in text
    assert "disallow" in text
    assert "budget" in text
