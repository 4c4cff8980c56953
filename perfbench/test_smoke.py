"""Tests for the benchmark harness.

    python3 -m pytest perfbench/test_smoke.py -q

The ``tiny`` cases run every workload end to end on a tiny corpus
(a few minutes in all) and check that each metric named in
BENCHMARK.json is printed with its unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from graph_rag_agent_spark.oracle.pipeline_oracle import oracle_build
from perfbench import checks, gen
from perfbench.trace import fold, union_within

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, os.path.join("perfbench", "run.py")]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_generator_is_a_function_of_the_seed():
    spec = gen.CorpusSpec(n_convs=40, dup_share=0.2)
    a, b, c = gen.generate(spec, 7), gen.generate(spec, 7), gen.generate(spec, 8)
    assert a == b
    assert a != c


def test_corpus_knobs_show_in_the_rows():
    spec = gen.CorpusSpec(n_convs=60, mega_share=0.1, dup_share=0.3, delta_fraction=0.05)
    cols = gen.generate(spec, 3)
    convs = cols["conv_id"]
    assert convs.count("conv-000000") >= 0.09 * len(convs)
    texts: dict[str, list] = {}
    for conv, text in zip(convs, cols["text"]):
        texts.setdefault(conv, []).append(text)
    assert len({tuple(t) for t in texts.values()}) < len(texts)  # duplicates exist
    changed = gen.delta_convs(spec, 3, cols)
    assert len(changed) == 3
    b = gen.drop_last_turns(cols, changed)
    assert len(b["conv_id"]) == len(convs) - 3
    # the delta changes mentions but not the entity catalog
    res_a, res_b = (oracle_build(gen.rows(c)) for c in (cols, b))
    assert res_a.entities == res_b.entities
    assert sorted(r["entity_id"] for r in res_a.entities_raw) != sorted(
        r["entity_id"] for r in res_b.entities_raw
    )


class _Frame:
    """Stands in for a DataFrame in ``checks.oracle_check``."""

    def __init__(self, rows):
        self.rows = rows

    def select(self, *cols):
        return _Frame([tuple(r[c] for c in cols) for r in self.rows])

    def collect(self):
        return self.rows


def test_oracle_check_names_each_differing_table():
    spec = gen.CorpusSpec(n_convs=12)
    answer = checks.oracle_answer(gen.rows(gen.generate(spec, 5)))
    tables = {
        name: _Frame([dict(zip(cols, t)) for t in answer["tables"][name]])
        for name, cols in checks.ORACLE_COLUMNS.items()
    }
    assert checks.oracle_check(answer, tables) == ([1.0, 1.0], [])
    tables["membership"] = _Frame(tables["membership"].rows[1:])
    tables["triples"] = _Frame(tables["triples"].rows[1:])
    pr, differ = checks.oracle_check(answer, tables)
    assert differ == ["triples", "membership"]
    assert pr[0] == 1.0 and pr[1] < 1.0


def test_idle_time_is_span_minus_task_union():
    assert union_within([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_within([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 6500,
         "Stage IDs": [1], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 3000},
         "Task Metrics": {"Executor Run Time": 2000,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1048576}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 6500, "Finish Time": 7000},
         "Task Metrics": {"Executor Run Time": 500}},
    ]
    out = fold(events, [("a", 0.0, 4.0), ("b", 6.0, 8.0)])
    assert out["a"]["jobs"] == 1 and out["a"]["task_s"] == 2.0
    assert out["a"]["shuffle_mb"] == 1.0 and out["a"]["idle_s"] == 2.0
    # no job group: attributed to the span open at submission
    assert out["b"]["jobs"] == 1 and out["b"]["idle_s"] == 1.5


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = subprocess.run(
        RUN + ["--workload", "full_build", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_emits_every_metric(workload, trace):
    p = subprocess.run(
        RUN + ["--workload", workload, "--seed", "1", "--seconds", "1",
               "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0


def test_overhead_report():
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "overhead.py"), "--workload", "full_build",
         "--seed", "1", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    report = json.loads(p.stdout.strip().splitlines()[-1])["tracing_overhead_s"]
    for name in ("setup_s", "op_s"):
        q = report[name]
        assert q["overhead"] == pytest.approx(q["traced"] - q["untraced"])
