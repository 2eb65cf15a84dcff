"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

Tiny-size runs of both workloads through the command's own entry
point, the output-check gate, the /proc CPU sampler, metric names
against BENCHMARK.json, and the refusal to run outside a checkout.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [REPO, HERE]

import procstat  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

with open(os.path.join(REPO, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _tiny_run(workload: str, trace: int) -> tuple:
    """Run the command's ``main`` at one replica in a fresh process."""
    code = ("import sys; sys.path.insert(0, %r); import run, workloads; "
            "workloads.REPLICAS = dict.fromkeys(workloads.REPLICAS, 1); "
            "sys.exit(run.main(sys.argv[1:]))" % HERE)
    proc = subprocess.run(
        [sys.executable, "-c", code, "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None), \
        proc.stderr


@pytest.fixture(scope="module")
def tiny_runs():
    return {("extract_mega_mix", 0): _tiny_run("extract_mega_mix", 0),
            ("extract_small_resume", 1): _tiny_run("extract_small_resume",
                                                   1)}


def test_tiny_runs_are_correct(tiny_runs):
    for (workload, trace), (rc, out, err) in tiny_runs.items():
        assert rc == 0, (workload, err[-2000:])
        assert out["correct"] is True and out["failed"] == 0
        assert out["attempted"] >= 1
        assert set(out) == {"correct", "attempted", "failed", "metrics"}


def test_metric_names(tiny_runs):
    want = {0: [m["name"] for m in SPEC["end_to_end"]],
            1: [m["name"] for m in SPEC["per_layer"]]}
    units = {m["name"]: m["unit"]
             for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    for (workload, trace), (_, out, _) in tiny_runs.items():
        assert sorted(out["metrics"]) == sorted(want[trace]), workload
        for name, m in out["metrics"].items():
            assert NAME.match(name), name
            assert m["unit"] == units[name], name
            assert isinstance(m["value"], (int, float)), name
    for name in [w["name"] for w in SPEC["workloads"]] + list(units):
        assert NAME.match(name), name
    assert sorted(w["name"] for w in SPEC["workloads"]) == \
        sorted(workloads.WORKLOADS)


def test_end_to_end_metrics_are_positive(tiny_runs):
    _, out, _ = tiny_runs[("extract_mega_mix", 0)]
    for name, m in out["metrics"].items():
        assert m["value"] > 0, name


@pytest.fixture(scope="module")
def spark():
    from pdf_parser_spark.session import get_spark

    session = get_spark(app="perfbench-test", cores=2, shuffle_partitions=2,
                        extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield session
    session.stop()


def test_cpu_sampler_sees_spark_work(spark):
    from pdf_parser_spark.pipeline import parse_pages

    bases = workloads.render_bases("extract_small_resume")
    inputs = workloads.generate("extract_small_resume", 5, 2, bases)
    pages = workloads.pages_frame(spark, inputs.rows)
    before = procstat.cpu_seconds()
    assert parse_pages(pages).count() > 0
    assert procstat.cpu_seconds() - before > 0
    assert procstat.worker_peak_rss_mb() > 0


def test_gate_fails_on_a_corrupted_expectation(spark, tmp_path):
    from pdf_parser_spark.io_tables import TableIO
    from pdf_parser_spark.pipeline import run_extraction_job

    bases = workloads.render_bases("extract_small_resume")
    inputs = workloads.generate("extract_small_resume", 5, 1, bases)
    golden = workloads.load_golden(REPO)
    expects, bad = workloads.expectations(bases, golden)
    assert bad == []
    out = str(tmp_path / "table")
    run_extraction_job(spark, workloads.pages_frame(spark,
                                                    inputs.precommitted),
                       out)
    res = run_extraction_job(spark, workloads.pages_frame(spark,
                                                          inputs.rows), out)
    io = TableIO(out)
    assert workloads.check_job(spark, io, inputs, expects, golden,
                               res["docs"]) == []
    b = next(i for i, e in enumerate(expects) if e.tx_count)
    corrupt = list(expects)
    corrupt[b] = workloads.Expect(expects[b].bank, expects[b].text_sha256,
                                  expects[b].tx_count + 1,
                                  expects[b].error_class)
    errors = workloads.check_job(spark, io, inputs, corrupt, golden,
                                 res["docs"])
    # the doc row and its transaction count disagree, per replica
    assert len(errors) == 2
    assert workloads.check_job(spark, io, inputs, expects, golden,
                               res["docs"] + 1) != []


def test_gate_rejects_a_golden_mismatch():
    golden = workloads.load_golden(REPO)
    bases = workloads.render_bases("extract_small_resume")
    url = next(b.url for b in bases if workloads.golden_for(golden, b.url)
               and workloads.golden_for(golden, b.url)["txs"])
    golden[url] = json.loads(json.dumps(workloads.golden_for(golden, url)))
    golden.pop(url + "#detected", None)
    golden[url]["txs"][0]["amount"] += 0.01
    _, bad = workloads.expectations(bases, golden)
    assert len(bad) == 2  # its pdf and its html rendering


def test_refuses_to_run_without_the_repository(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        SPEC["command"] + ["--workload", "extract_mega_mix", "--seed", "1",
                           "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
