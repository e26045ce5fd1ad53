"""Metric declarations and emission: valid names, BENCHMARK.json in step
with the code, and every workload emitting every metric it declares."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from kgbench.metrics import (
    ANALYTICS,
    END_TO_END,
    NAME_RE,
    PER_LAYER,
    UNIT_RE,
    highest_supported_percentile,
    op_layer_metrics,
)
from kgbench.spans import COUNT_KEYS, Span

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "kgbench", "run.py")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_are_valid():
    for name, (unit, better) in {**END_TO_END, **PER_LAYER}.items():
        assert NAME_RE.match(name), name
        assert UNIT_RE.match(unit), (name, unit)
        assert better in ("lower", "higher")
    assert not set(END_TO_END) & set(PER_LAYER)


def test_benchmark_json_matches_the_code():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    e2e = {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]}
    assert e2e == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == PER_LAYER
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    from kgbench.run import WORKLOAD_NAMES
    from kgbench.workloads import WORKLOADS

    assert set(WORKLOAD_NAMES) == set(WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and w["name"] in WORKLOADS
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    assert b["command"] == ["python3", "kgbench/run.py"] and b["paths"] == ["kgbench"]


def test_highest_supported_percentile():
    assert highest_supported_percentile(5) is None
    assert highest_supported_percentile(20) == 50
    assert highest_supported_percentile(100) == 90
    assert highest_supported_percentile(1000) == 99


def _s(sid, name, parent, start, end, **counts):
    s = Span(sid, name, parent, "op1", start, 0)
    s.end = end
    s.counts.update(counts)
    return s


def _kg_spans():
    return [
        _s(1, "op", None, 0, 10),
        _s(2, "pipeline.run_pipeline", 1, 0.1, 9.9),
        _s(3, "pipeline.setup", 2, 0.1, 1.0),
        _s(4, "linking.make_linker", 2, 0.5, 0.6),
        _s(5, "pipeline.group", 2, 1.0, 6.0),
        _s(6, "catalog.write_extracted", 5, 1.0, 2.0, jobs=1, output_records=100,
           executor_run_ms=1500, input_bytes=1 << 20, output_bytes=1 << 19),
        _s(7, "extract.triples_link", 5, 2.0, 4.0, jobs=2),
        _s(8, "catalog.write_triples", 5, 4.0, 6.0, jobs=2, output_records=500,
           shuffle_write_bytes=1 << 20),
        _s(9, "catalog.commit", 8, 5.9, 6.0),
        _s(10, "pipeline.finalize", 2, 6.0, 9.9),
        _s(11, "catalog.write_quarantine", 10, 6.1, 7.0, output_records=2),
        _s(12, "catalog.write_lineage", 10, 6.2, 7.5, output_records=4),
        _s(13, "catalog.write_canonical", 10, 8.0, 8.5, output_records=300),
        _s(14, "catalog.write_edges", 10, 8.5, 9.0, output_records=300),
        _s(15, "catalog.write_adjacency", 10, 9.0, 9.5, output_records=30),
    ]


def test_op_layer_metrics_emit_every_declared_metric_for_each_workload():
    totals = dict.fromkeys(COUNT_KEYS, 1)
    kg = op_layer_metrics(_kg_spans(), totals, {}, 10.0, 4,
                          {"pages_offered": 100, "input_bytes": 1000,
                           "files_written": 7, "bytes_written": 500})
    assert set(kg) == set(PER_LAYER)
    assert kg["pipeline.group_max_s"] == 5.0
    assert kg["extract.triples_link.jobs"] == 2
    assert kg["pipeline.pages_extracted_per_offered"] == 1.0
    assert kg["pipeline.finalize_rows_rewritten_per_new_triple"] == 636 / 500
    # finalize [6, 9.9] minus union([6.1, 7.5], [8, 9.5]) = 3.9 - 2.9
    assert abs(kg["pipeline.finalize_self_s"] - 1.0) < 1e-9
    assert kg["catalog.bytes_written_per_input_byte"] == 0.5
    # op [0, 10] less the named spans' union [0.1, 9.9]
    assert abs(kg["trace.unattributed_s"] - 0.2) < 1e-9

    spans = [_s(1, "op", None, 0, 4)]
    for i, (prefix, _) in enumerate(ANALYTICS):
        spans.append(_s(10 + i, prefix, 1, i, i + 1, jobs=3))
    ga = op_layer_metrics(spans, totals, {"session.fresh_checkpoint": 2}, 4.0, 4,
                          {"cached_rdds": 1, "cached_bytes": 1 << 20})
    assert set(ga) == set(PER_LAYER)
    assert all(ga[f"{p}.jobs"] == 3 for p, _ in ANALYTICS)
    assert ga["session.cached_mb_after"] == 1.0
    assert ga["session.fresh_checkpoints"] == 2


def test_run_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "kgbench"), tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", "kg_build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.slow
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["kg_build", "kg_delta", "graph_analytics"])
def test_workload_emits_every_declared_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = PER_LAYER if trace else END_TO_END
    assert set(res["metrics"]) == set(declared)
    for name, m in res["metrics"].items():
        assert m["unit"] == declared[name][0]
        assert isinstance(m["value"], (int, float))
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())
