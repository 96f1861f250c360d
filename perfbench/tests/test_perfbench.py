"""Tests of the benchmark's own code: input generation, span arithmetic,
metric names, and a tiny end-to-end run of each workload."""

from __future__ import annotations

import json
import re
import subprocess
import sys
import time
from pathlib import Path

import pytest

from perfbench import corpus, procs
from perfbench.hostspeed import HostSpeed
from perfbench.tracer import Tracer, parse_metric, self_times, union_length

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_generator_is_byte_identical_per_seed(tmp_path):
    for seed, sub in ((7, "a"), (7, "b"), (8, "c")):
        rows, evals, _ = corpus.make_docs(seed, 300)
        corpus.write_docs(rows, tmp_path / sub / "docs")
        corpus.write_docs(evals, tmp_path / sub / "eval", 1, corpus.EVAL_SCHEMA)
        corpus.write_contract_tables(tmp_path / sub / "tables", seed)
    for kind in ("docs", "eval", "tables"):
        a, b, c = (_files(tmp_path / s / kind) for s in "abc")
        assert a == b
        assert a.keys() == c.keys() and all(a[k] != c[k] for k in a)


def test_generator_plants_fixed_counts():
    for seed in (3, 4):
        rows, evals, contam = corpus.make_docs(seed, 1000)
        assert sorted(r["doc_id"] for r in rows) == list(range(1000))
        flood = [r for r in rows if r["text"].startswith(corpus._FLOOD)]
        assert len(flood) == 15
        assert len({r["text"] for r in rows}) == len(rows)
        assert all(r["n_chars"] == len(r["text"]) for r in rows)
        langs = [r["lang"] for r in rows]
        assert langs.count("zh") == round(0.06 * 885)
        # each contaminated doc shares a 12-word span with one eval item
        assert len(contam) == 20 and len(evals) == 40
        by_id = {r["doc_id"]: r["text"].split() for r in rows}
        for d in contam:
            words = by_id[d]
            spans = {" ".join(words[i:i + 12]) for i in range(len(words) - 11)}
            assert sum(any(s in e["text"] for s in spans) for e in evals) >= 1


def test_union_and_self_time():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},   # overlaps 1
        {"id": 3, "parent": 2, "start": 4.0, "end": 5.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # past the parent
    ]
    assert self_times(spans) == {0: 4.0, 1: 3.0, 2: 2.0, 3: 1.0, 4: 3.0}


def test_tracer_wraps_and_restores():
    class Box:
        def add(self, a, b=0):
            return a + b

    tr = Tracer()
    tr.wrap(Box, "add", "box.add",
            before=lambda a, k: k.setdefault("b", 10),
            after=lambda sp, a, k, r: tr.count("calls", 1))
    assert Box().add(1) == 11
    with tr.span("outer"):
        assert Box().add(1, b=2) == 3
    tr.restore()
    assert Box().add(1) == 1
    names = [(s["name"], s["parent"]) for s in tr.spans]
    assert names == [("box.add", None), ("outer", None), ("box.add", 1)]
    assert tr.counters == {"calls": 2}


def test_deferred_probes_run_outside_the_operation():
    tr = Tracer()
    with tr.span("op.x"):
        tr.pending.append(lambda: tr.count("n", 3))
    assert tr.counters == {}
    tr.flush()
    tr.flush()  # nothing pending: no second span
    assert tr.counters == {"n": 3} and not tr.pending
    assert [(s["name"], s["parent"]) for s in tr.spans] == [
        ("op.x", None), ("trace.probe", None)]


def test_host_speed_sampler_reports_and_is_left_out_of_the_tree():
    host = HostSpeed(nominal_ms=10.0).start()
    procs.IGNORED.add(host.pid)
    try:
        assert host.pid not in procs.descendants()
        time.sleep(1.2)
    finally:
        host.stop()
        procs.IGNORED.discard(host.pid)
    assert len(host.samples) >= 2 and all(v > 0 for v in host.samples)
    assert host.factor == pytest.approx(host.median_ms / 10.0)
    assert host.pid not in procs.descendants()  # exited and was reaped


def test_parse_metric_renderings():
    assert parse_metric("2.2 s") == pytest.approx(2.2)
    assert parse_metric("833 ms") == pytest.approx(0.833)
    assert parse_metric("166.9 KiB") == pytest.approx(166.9 * 1024)
    assert parse_metric("1,234") == 1234
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "1.5 m (1 ms, 2 ms, 3 ms (stage 1.0: task 3))") == 90


def test_metric_names_are_well_formed():
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in BENCH[k]]
    names += [w["name"] for w in BENCH["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
