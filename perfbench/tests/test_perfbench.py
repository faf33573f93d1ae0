"""Tests of the benchmark's own code: input generation, span arithmetic
and the result line.  Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH]

import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, attribute, covered, self_times  # noqa: E402


def _digest(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


SMALL = gen.Sizes(lineitem=3000, events=500, documents=300, embeddings=120)


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.write_tables(7, SMALL, a)
    gen.write_tables(7, SMALL, b)
    gen.write_tables(8, SMALL, c)
    assert sorted(os.listdir(a)) == sorted(f"{t}.parquet" for t in gen.TABLES)
    assert _digest(a) == _digest(b)
    differ = {k for k, v in _digest(a).items() if _digest(c)[k] != v}
    # region and nation are fixed dimension tables; everything else is seeded
    assert differ == {f"{t}.parquet" for t in gen.TABLES} - {"region.parquet", "nation.parquet"}
    assert gen.etl_keywords(7, 30) == gen.etl_keywords(7, 30) != gen.etl_keywords(8, 30)
    assert len(set(gen.etl_keywords(7, 30))) == 30


def test_generator_plants_duplicates(tmp_path):
    import pyarrow.parquet as pq

    gen.write_tables(3, gen.Sizes(documents=2000, embeddings=50), str(tmp_path))
    docs = pq.read_table(str(tmp_path / "documents.parquet")).to_pandas()
    exact = len(docs) - docs.text.nunique()
    assert 50 < exact < 200  # ~5% exact copies
    assert (docs.n_chars == docs.text.str.len()).all()


def _span(i, parent, start, end, kind="run"):
    return Span(i, parent, f"s{i}", kind, start, end)


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        _span(0, None, 0.0, 10.0, "group"),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1: [1, 6] covered once
        _span(3, 0, 8.0, 12.0),  # runs past its parent: only [8, 10] counts
        _span(4, 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)
    assert covered(spans[1:], 0.0, 10.0) == pytest.approx(5.0 + 2.0)


class _FakeStore:
    """Status-store lists shaped like Spark's v1 API JSON."""

    def jobs(self):
        return [
            {"jobId": 0, "jobGroup": "span-1", "stageIds": [0, 1]},
            {"jobId": 1, "jobGroup": "span-2", "stageIds": [1, 2]},  # stage 1 skipped here
            {"jobId": 2, "jobGroup": None, "stageIds": [3]},  # outside every span
        ]

    def stages(self):
        def stage(i, run_ms, status="COMPLETE"):
            return {
                "stageId": i, "status": status, "numTasks": 4, "numFailedTasks": 0,
                "executorRunTime": run_ms, "executorCpuTime": run_ms * 10**6, "jvmGcTime": 0,
                "shuffleWriteBytes": 100, "diskBytesSpilled": 0,
            }

        return [stage(0, 1000), stage(1, 2000), stage(2, 500), stage(3, 9000), stage(4, 1, "SKIPPED")]

    def python_bytes_by_job(self):
        return {1: 2.0**20}


def test_attribution_counts_each_stage_once_under_the_innermost_span():
    spans = [
        _span(0, None, 0.0, 4.0, "group"),
        _span(1, 0, 0.0, 2.0, "build"),
        _span(2, 0, 2.0, 4.0),
    ]
    out = attribute(spans, _FakeStore(), slots=2)
    own, sub = out["own"], out["subtree"]
    assert (own[1]["jobs"], own[1]["tasks"], own[1]["run_s"]) == (1, 8, 3.0)
    assert (own[2]["jobs"], own[2]["tasks"], own[2]["run_s"]) == (1, 4, 0.5)
    assert own[2]["python_bytes"] == 2.0**20
    assert own[0]["jobs"] == 0 and sub[0]["jobs"] == 2
    assert sub[0]["run_s"] == pytest.approx(3.5)
    assert sub[0]["idle_slot_s"] == pytest.approx(4.0 * 2 - 3.5)


def test_tail_has_ten_samples_beyond_it():
    lat = [float(i) for i in range(30)]
    assert run.tail(lat) == 19.0
    assert sum(x > run.tail(lat) for x in lat) == 10
    assert run.tail([1.0, 3.0, 2.0]) == 3.0


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} == {"etl_ingest", "sql_analytics", "llm_curation"}


def test_result_line_names_every_end_to_end_metric():
    metrics = run.end_to_end([3.0, 1.0, 2.0], 4.0, 8.0, 400, [0.5, 0.7, 0.6])
    assert metrics == {
        "setup_s": 6.0, "wall_s": 8.0, "rows_per_s": 50.0, "batch_p50_s": 0.6, "batch_tail_s": 0.7,
    }
    line = json.loads(json.dumps(run.result_line(metrics, run.END_TO_END_UNITS, 3, 0, False)))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True
    assert {k: v["unit"] for k, v in line["metrics"].items()} == run.END_TO_END_UNITS
    assert run.result_line(metrics, run.END_TO_END_UNITS, 3, 1, False)["correct"] is False
    assert run.result_line(metrics, run.END_TO_END_UNITS, 3, 0, True)["correct"] is False


def test_main_refuses_to_run_without_the_program(monkeypatch, capsys, tmp_path):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "etl_ingest", "--seed", "1", "--seconds", "1"]) != 0
    assert capsys.readouterr().out == ""
