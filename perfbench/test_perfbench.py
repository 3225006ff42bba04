"""Self-tests of the benchmark's own code.

    python3 -m pytest perfbench/test_perfbench.py -q

The catalogue tests need nothing but this directory; the run tests start
the engine at scale factor 0.001 (about a minute each).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import Tracer  # noqa: E402
from workloads import (  # noqa: E402
    END_TO_END,
    MIN_WARM_SAMPLES,
    PER_LAYER,
    TWIN_SQL,
    WORKLOADS,
)

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
# A query span may exceed its two children by this much: the harness's own
# bookkeeping between them.
SPAN_TOLERANCE_S = 0.005


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_names_units_and_counts_are_within_limits():
    spec = _spec()
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    assert all(UNIT.fullmatch(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    assert 1 <= len(spec["end_to_end"]) <= 16
    assert 1 <= len(spec["per_layer"]) <= 128
    assert 2 <= len(spec["workloads"]) <= 8
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert 1 <= spec["run_seconds"] <= 60


def test_catalogue_matches_the_code():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [(w["name"], w["why"]) for w in spec["workloads"]] == [
        (w.name, w.why) for w in WORKLOADS.values()
    ]
    assert all("\n" not in w.why and len(w.why) <= 200 for w in WORKLOADS.values())


def test_workload_keys_are_registered_and_checkable():
    sys.path.insert(0, ROOT)
    import bench
    from bigdatawork_spark.registry import ORACLES, QUERIES

    assert WORKLOADS["sql_cached_sf0.1"].keys == tuple(bench.HEADLINE)
    for w in WORKLOADS.values():
        assert w.keys and len(set(w.keys)) == len(w.keys)
        for k in w.keys:
            assert k in QUERIES, k
            twin = TWIN_SQL.get(k)
            assert k in ORACLES or (twin and (twin in ORACLES or " " in twin)), k


def test_query_tail_averages_at_least_ten_samples():
    from run import query_latency

    for w in WORKLOADS.values():
        per_key = -(-MIN_WARM_SAMPLES // len(w.keys))
        # keys up to ten times apart, each with its own spread of samples
        by_key = {
            k: [(1 + i) * (1.0 + 0.01 * j * (1 + i)) for j in range(per_key)]
            for i, k in enumerate(w.keys)
        }
        p50, tail = query_latency(by_key)
        assert len(tail) >= 10
        assert min(tail) >= 1.0
        medians = [statistics.median(v) for v in by_key.values()]
        assert p50 == pytest.approx(statistics.geometric_mean(medians))


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("query", query_id="q") as q:
        with tr.span("operators.build") as b:
            pass
    b["start"], b["end"] = 1.0, 3.0
    q["start"], q["end"] = 0.0, 5.0
    assert tr.self_time(q) == pytest.approx(3.0)
    assert b["query_id"] == "q" and b["parent"] == q["id"]


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_untraced_run_prints_end_to_end_metrics():
    proc = _run("sql_cached_sf0.1", 0)
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    out = _last_json(proc.stdout)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_spans_are_consistent():
    proc = _run("pipeline_sf0.01", 1)
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    out = _last_json(proc.stdout)
    assert {k: v["unit"] for k, v in out["metrics"].items()} == PER_LAYER
    span_file = next(
        line.split(": ", 1)[1] for line in proc.stdout.splitlines()
        if line.startswith("spans: ")
    )
    with open(os.path.join(ROOT, span_file)) as fh:
        spans = json.load(fh)
    queries = [s for s in spans if s["name"] == "query"]
    assert queries
    for q in queries:
        kids = [s for s in spans if s["parent"] == q["id"]]
        assert [k["name"] for k in kids] == ["operators.build", "exec.materialize"]
        assert all(k["query_id"] == q["query_id"] for k in kids)
        dur = q["end"] - q["start"]
        inner = sum(k["end"] - k["start"] for k in kids)
        assert 0 <= dur - inner <= SPAN_TOLERANCE_S, (q["key"], dur, inner)
        mat = next(k for k in kids if k["name"] == "exec.materialize")
        assert sum(q["phases_ms"].values()) / 1e3 <= mat["end"] - mat["start"]
        assert q["jobs"] >= 1 and q["tasks"] >= 1
    setup = next(s for s in spans if s["name"] == "setup")
    assert {s["name"] for s in spans if s["parent"] == setup["id"]} == {
        "registry.import", "registry.queries", "session.start",
    }


def test_exits_nonzero_without_the_engine():
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run("sql_cached_sf0.1", 0, cwd=bare)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
