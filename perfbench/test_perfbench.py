"""Unit tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen, run  # noqa: E402
from perfbench.common import MIN_BEYOND, percentile, self_times  # noqa: E402
from perfbench.tracer import Span, TraceSummary  # noqa: E402
from perfbench.wl_interactive import BLOCK, statements  # noqa: E402


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- seeded inputs -------------------------------------------------------------

def test_same_seed_same_inputs():
    a, b = datagen.tpch(7, scale=0.001), datagen.tpch(7, scale=0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert datagen.documents(7, 200).equals(datagen.documents(7, 200))
    assert datagen.embeddings(7, 50).equals(datagen.embeddings(7, 50))


def test_other_seed_other_inputs():
    a, b = datagen.tpch(7, scale=0.001), datagen.tpch(8, scale=0.001)
    assert not a["lineitem"].equals(b["lineitem"])
    assert not datagen.documents(7, 200).equals(datagen.documents(8, 200))
    assert not datagen.embeddings(7, 50).equals(datagen.embeddings(8, 50))


def test_statement_sequence_is_seeded():
    assert statements(3, 4) == statements(3, 4)
    assert statements(3, 4) != statements(4, 4)
    # a shorter run is a prefix of a longer one
    assert statements(3, 6)[: 2 * len(BLOCK)] == statements(3, 2)


def test_every_block_has_the_same_mix():
    seq = statements(5, 3)
    for i in range(3):
        block = seq[i * len(BLOCK):(i + 1) * len(BLOCK)]
        kinds = sorted(st["kind"] for st in block)
        assert kinds == sorted(k for k, _ in BLOCK)
    assert any(st["repeat"] for st in seq)


# -- statistics ----------------------------------------------------------------

def test_percentile_needs_ten_samples_beyond():
    assert MIN_BEYOND == 10
    assert percentile(list(range(100)), 90) == 89  # rank 90, ten beyond
    with pytest.raises(ValueError):
        percentile(list(range(99)), 90)  # rank 90, nine beyond
    assert percentile(list(range(20)), 50) == 9
    with pytest.raises(ValueError):
        percentile(list(range(19)), 50)


def test_self_time_subtracts_children():
    spans = [
        (0.0, 10.0, None),  # root
        (1.0, 3.0, 0),      # child
        (2.0, 4.0, 0),      # overlaps the first child: covered 1..4
        (6.0, 7.0, 0),
        (1.5, 2.5, 1),      # grandchild: counts against its parent only
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 3 - 1)
    assert st[1] == pytest.approx(2 - 1)
    assert st[2] == pytest.approx(2)
    assert st[4] == pytest.approx(1)


def test_child_outside_parent_is_clipped():
    assert self_times([(0.0, 2.0, None), (1.0, 5.0, 0)])[0] == pytest.approx(1.0)


# -- printed metric names ------------------------------------------------------

def test_end_to_end_names_match_benchmark_json():
    bench = _benchmark()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END


class _FakeWorkload:
    def figures(self, records):
        return {"stmt_p50_ms": 1.0}


def test_per_layer_names_match_benchmark_json():
    spans = [Span("op", 0.0, None, {}), Span("phase.build", 0.1, 0, {}),
             Span("action.collect", 0.5, 0, {"plan_s": 0.1, "plan_lines": 12})]
    for sp, end in zip(spans, (1.0, 0.4, 0.9)):
        sp.end = end
    stages = {0: {"stageId": 0, "attemptId": 0, "executorRunTime": 300, "numCompleteTasks": 4}}
    summary = TraceSummary(spans, {2: [{"jobId": 0, "stageIds": [0]}]}, stages, cores=4)
    setup = {"get_spark_s": 0.5, "warmup_s": 1.0}
    records = [{"label": "x", "latency_s": 1.0, "rows": 1, "error": None}]
    m = run.layer_metrics(summary, _FakeWorkload(), records, 1, setup, 0.05, 0, 2**30)
    assert set(m) == {x["name"] for x in _benchmark()["per_layer"]}
    assert m["spark.exec_s"] == pytest.approx(0.3)
    assert m["spark.plan_s"] == pytest.approx(0.1)
    assert m["spark.build_s"] == pytest.approx(0.6)
    assert m["spark.slot_busy_frac"] == pytest.approx(0.3 / (0.3 * 4))
    assert m["ops_failed_ratio"] == 1.0  # a failed output check counts


def test_benchmark_json_shape():
    bench = _benchmark()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == ["interactive", "curation"]
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("records", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "interactive", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout == ""
