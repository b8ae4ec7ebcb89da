"""Tests of the benchmark itself; they are not part of the engine's
``tests/`` suite and take a few minutes (each starts Spark):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import bootstrap, inputs  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

RUN = [sys.executable, os.path.join(ROOT, "perfbench", "run.py")]
SMALL = inputs.Sizes(documents=300, part=40, lineitem=800)


@pytest.fixture
def work_dir(request):
    path = os.path.join(bootstrap.WORK, "test", request.node.name)
    shutil.rmtree(path, ignore_errors=True)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _bench(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(RUN + list(args), cwd=ROOT, capture_output=True,
                          text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_seed_fixes_inputs(work_dir):
    def prints(seed, n_files):
        info = inputs.generate(os.path.join(work_dir, f"{seed}-{n_files}"),
                               seed, SMALL, n_files)
        assert all(i.rows > 0 and i.bytes > 0 for i in info.values())
        return {t: i.fingerprint for t, i in info.items()}

    same = prints(5, 4)
    assert prints(5, 7) == same  # the file layout does not change rows
    other = prints(6, 4)
    assert all(other[t] != same[t] for t in same)


def test_documents_have_the_fixture_shape():
    docs = inputs.documents(9, 4000).to_pylist()
    texts = [d["text"] for d in docs]
    marked = [t for t in texts if t.endswith(" dup")]
    assert len(marked) == 200  # 5% of the rows
    bare = set(texts)
    assert sum(t[:-4] in bare for t in marked) >= 190  # copies of a row
    lengths = [len(t.split()) for t in texts if "dup" not in t.split()]
    assert (min(lengths), max(lengths)) == inputs.DOC_WORDS
    assert all(d["n_chars"] == len(d["text"]) and
               d["source"] == f"src{d['doc_id'] % 20}" for d in docs)


def test_benchmark_json_lists_what_the_runner_reports():
    from perfbench.run import END_TO_END, PER_LAYER

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def test_prints_every_end_to_end_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    proc = _bench("--workload", "corpus_scan", "--seed", "3",
                  "--seconds", "1", "--trace", "0")
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = _result(proc)
    assert res["correct"] and res["failed"] == 0
    assert res["attempted"] >= 2 * len(WORKLOADS["corpus_scan"].queries)
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    lines = set(proc.stdout.splitlines())
    printed = [*want.items(), ("failed_frac", "fraction"),
               ("peak_rss_mb", "MB"), ("cpu_s", "s")]
    for name, unit in printed:
        assert any(ln.startswith(f"metric {name} ") and ln.endswith(unit)
                   for ln in lines), name


def test_injected_failures_are_counted(work_dir):
    from perfbench.run import Runner, stop_session

    bootstrap.prepare_env()
    wl = WORKLOADS["corpus_scan"]
    info = inputs.generate(work_dir, 1, inputs.Sizes(documents=200), 2)
    spark, specs = bootstrap.open_session(2)
    try:
        runner = Runner(spark, specs, wl, work_dir)

        def raises(spark, sf_dir):
            raise RuntimeError("injected")

        def wrong_rows(spark, sf_dir):
            df = specs["wordcount_canonical"].fn(spark, sf_dir)
            return df.withColumn("cnt", df.cnt + 1)

        runner.fns["wordcount_rdd"] = raises
        runner.fns["source_text_dir_wordcount"] = wrong_rows
        runner.check_pass(list(info))
        runner.timed_pass(0)
    finally:
        stop_session(spark)
    failed = sorted(name for name, _ in runner.failures)
    # the raising query fails in both passes; the wrong rows fail the
    # check; every other query still ran
    assert failed == ["source_text_dir_wordcount", "wordcount_rdd",
                      "wordcount_rdd"]
    assert runner.attempted == 2 * len(wl.queries)


def test_job_and_stage_counts_repeat():
    def counts():
        proc = _bench("--workload", "neardup_join", "--seed", "2",
                      "--seconds", "0", "--trace", "1")
        assert proc.returncode == 0, proc.stderr[-2000:]
        path = os.path.join(bootstrap.WORK, "traces", "neardup_join-s2.json")
        with open(path) as f:
            trace = json.load(f)
        keys = ("exec.jobs", "exec.stages", "operators.build_jobs",
                "operators.build_stages")
        return {q["query"]: tuple(q[k] for k in keys)
                for q in trace["per_query"]}

    first = counts()
    assert first["basket_pair_affinity"][2] > 0  # its eager checkpoints
    assert counts() == first


def test_refuses_to_run_without_the_engine(work_dir):
    os.makedirs(work_dir)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), work_dir)
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    os.path.join(work_dir, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_scan",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=work_dir, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
