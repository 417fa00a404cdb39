"""The benchmark's own tests: metric grammar, generator determinism and
a seconds-long smoke run of each workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import run  # noqa: E402
from gen import RecordStream, catalog_tables  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_metric_names_and_units_follow_the_grammar():
    for table in (run.END_TO_END, run.REPORTED, run.PER_LAYER):
        for name, unit in table.items():
            assert NAME.match(name), name
            assert UNIT.match(unit), (name, unit)
    assert not set(run.END_TO_END) & set(run.PER_LAYER)
    assert not set(run.END_TO_END) & set(run.REPORTED)


def test_benchmark_json_matches_the_emitted_metrics():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in b["workloads"]} <= set(run.WORKLOADS)
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_record_stream_is_deterministic_per_seed():
    a, b, c = RecordStream(7), RecordStream(7), RecordStream(8)
    first = a.batch(500) + a.batch(300)
    assert first == b.batch(500) + b.batch(300)
    assert first != c.batch(500) + c.batch(300)
    share_fail = sum(v.startswith("fail:") for _, v in first) / len(first)
    assert share_fail < 0.05
    head = sum(k == "tenant-000" for k, _ in first) / len(first)
    assert head > 0.15  # Zipf head


def test_catalog_tables_are_deterministic_per_seed():
    a, b, c = catalog_tables(3, 0.001), catalog_tables(3, 0.001), catalog_tables(4, 0.001)
    for name, cols in a.items():
        for col, vals in cols.items():
            assert np.array_equal(np.asarray(vals), np.asarray(b[name][col])), (name, col)
    assert not np.array_equal(a["lineitem"]["l_extendedprice"], c["lineitem"]["l_extendedprice"])


def _smoke(capsys, workload: str, trace: int, **kw) -> dict:
    assert run.main(["--workload", workload, "--seed", "5", "--seconds", "3",
                     "--trace", str(trace)], **kw) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    units = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == units
    report = json.loads(lines[-2])["report"]
    assert report["units"] == {k: u for k, u in (run.END_TO_END | run.REPORTED).items() if k in report}
    return {**out, "report": report}


@pytest.fixture
def small_stream():
    from streaming import StreamShape

    return StreamShape(backlog_appends=4, backlog_rows_per_append=100,
                       appends_per_s=4.0, rows_per_append=50, hold_s=0.2, warm_s=0.5)


def test_live_ingest_smoke(capsys, small_stream):
    out = _smoke(capsys, "live_ingest", 1, stream_shape=small_stream)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert out["metrics"]["sink.writes"]["value"] > 0
    assert out["report"]["drain_rps"] > 0 and out["report"]["latency_p50_s"] > 0
    assert {"latency_p50_s", "latency_p95_s", "drain_rps"} <= set(out["report"]["units"])


def test_sideline_cycle_smoke(capsys, small_stream):
    out = _smoke(capsys, "sideline_cycle", 0, stream_shape=small_stream)
    assert out["correct"] and out["attempted"] >= 1
    assert out["report"]["replay_drain_s"] > 0 and out["report"]["command_p50_s"] > 0
    assert {"latency_p50_s", "latency_p95_s", "command_p50_s", "replay_drain_s"} <= set(out["report"]["units"])


def test_catalog_batch_smoke(capsys):
    out = _smoke(capsys, "catalog_batch", 0, catalog_sf=0.001)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] == 20
    assert out["report"]["relational_s"] > 0 and out["report"]["iterative_s"] > 0
    assert {"latency_p50_s", "latency_p95_s", "relational_s", "iterative_s"} <= set(out["report"]["units"])
