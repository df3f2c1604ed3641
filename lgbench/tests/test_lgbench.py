"""Tests of the benchmark itself: generator determinism, event-log parsing,
span self time, and the names in BENCHMARK.json.

    python -m pytest lgbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")

SMALL = {
    "repo_ingest": dict(n_repos=300, mean_files=3.0, mean_deps=2.0, zipf=1.1,
                        filler_blocks=(1, 3), parquet_files=2),
    "hub_converge": dict(n=400, mean_out=3.0, zipf=1.1, hub_share=0.2,
                         small_frac=0.05, isolated_frac=0.01, parquet_files=2),
}


def _tree_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_generator_is_a_function_of_the_seed(tmp_path, monkeypatch, workload):
    monkeypatch.setitem(gen.SIZES, workload, SMALL[workload])
    a, _ = gen.inputs(workload, 7, str(tmp_path / "a"))
    b, _ = gen.inputs(workload, 7, str(tmp_path / "b"))
    c, _ = gen.inputs(workload, 8, str(tmp_path / "c"))
    ta, tb, tc = _tree_bytes(a), _tree_bytes(b), _tree_bytes(c)
    assert ta == tb  # byte-identical, expected outputs included
    assert ta.keys() == tc.keys()
    table = [k for k in ta if k.startswith("table")]
    assert table and any(ta[k] != tc[k] for k in table)


def test_generator_cache_is_reused(tmp_path, monkeypatch):
    monkeypatch.setitem(gen.SIZES, "hub_converge", SMALL["hub_converge"])
    d, _ = gen.inputs("hub_converge", 3, str(tmp_path))
    stamp = os.stat(os.path.join(d, "manifest.json")).st_mtime_ns
    d2, _ = gen.inputs("hub_converge", 3, str(tmp_path))
    assert d2 == d and os.stat(os.path.join(d, "manifest.json")).st_mtime_ns == stamp


def test_planted_plan_maps_to_dense_sorted_ids():
    # repo 1 -> 2, self import and unknown repo dropped, duplicate kept once
    plan = [[], [2, 1, 2, 99], [0]]
    e = gen.planted_edges(plan)
    # sorted names: org0/repo0, org0/repo1, org0/repo2 -> ids 0, 1, 2
    assert e.tolist() == [[1, 2], [2, 0]]
    names = [gen.repo_name(i) for i in (0, 10, 2)]
    assert sorted(names) == ["org0/repo0", "org0/repo2", "org1/repo10"]


def test_zipf_graph_is_simple_with_a_hub():
    rng = np.random.default_rng(1)
    e = gen.zipf_graph(rng, **SMALL["hub_converge"])
    assert (e[:, 0] != e[:, 1]).all()
    assert len(np.unique(e, axis=0)) == len(e)
    indeg = np.bincount(e[:, 1], minlength=400)
    assert indeg.max() >= 0.2 * 400 * 0.9


def test_event_log_parser_counts_recorded_log():
    with open(HERE / "data" / "small_eventlog.jsonl") as f:
        groups = tracing.parse_event_log(f)
    a, b = groups["lgbench-0-a"], groups["lgbench-1-b"]
    assert (a.jobs, a.stages, a.tasks) == (3, 3, 9)
    assert (b.jobs, b.stages, b.tasks) == (2, 2, 5)
    assert a.shuffle_write > 0 and b.shuffle_write >= 0
    assert groups[None].jobs == 4  # session warm-up and the ungrouped count
    assert sum(g.jobs for g in groups.values()) == 9


def test_event_log_parser_stage_fallback_and_skew():
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.jobGroup.id": "g"}},
    ]
    for sid, run_ms in [(0, 10), (0, 10), (0, 50), (1, 5)]:
        ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                   "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1,
                                    "Disk Bytes Spilled": 2048,
                                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}})
    g = tracing.parse_event_log(json.dumps(e) for e in ev)["g"]
    assert (g.jobs, g.stages, g.tasks) == (1, 2, 4)
    assert g.run_ms == 75 and g.gc_ms == 4 and g.spill_disk == 8192
    assert g.shuffle_write == 400
    assert g.skew() == pytest.approx(5.0)  # stage 0: max 50 / median 10


def test_self_time_subtracts_children():
    tr = tracing.Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    outer, i1, i2 = tr.spans
    st = tracing.self_times(tr.spans)
    assert i1.parent == outer.sid and i2.parent == outer.sid
    assert st[outer.sid] == pytest.approx(outer.wall - i1.wall - i2.wall)
    assert tr.total("inner") == pytest.approx(i1.wall + i2.wall)


def test_span_marks_failure_and_reraises():
    tr = tracing.Tracer()
    with pytest.raises(RuntimeError):
        with tr.span("boom"):
            raise RuntimeError("x")
    assert tr.spans[0].failed and tr.spans[0].end >= tr.spans[0].start


def test_rss_sampler_sees_this_process():
    with tracing.RssSampler(period=0.01) as rss:
        time.sleep(0.05)
    assert rss.peak > 0 and os.getpid() in tracing.tree_pids(os.getpid())


def test_benchmark_json_matches_run_py():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME_RE.match(n) and len(n) <= 64 for n in names), names
    assert len(names) == len(set(names))
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert set(workloads.RUN) == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert max(m["bound"] for m in spec["end_to_end"]) == e2e["setup_s"]["bound"] <= 0.25
