"""Unit tests for the benchmark's own arithmetic and bookkeeping. No Spark.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import threading
from pathlib import Path
from types import SimpleNamespace

import pytest

import gen
import run
from spans import Recorder
from stats import (Tally, build_layer_metrics, latency_summary, nearest_rank,
                   self_times, stage_markers, tail_line,
                   tail_percentile)


# -- percentile rule --------------------------------------------------------

@pytest.mark.parametrize("n,want", [
    (200, 95),    # 200 - ceil(190) = 10 beyond p95
    (199, 94),    # p95 leaves 9 beyond; p94 leaves 11
    (100, 90),
    (40, 75),
    (21, 52),
    (20, None),   # only the median itself has 10 beyond it
    (0, None),
])
def test_tail_percentile_keeps_ten_beyond(n, want):
    assert tail_percentile(n) == want
    if want is not None:
        assert n - nearest_rank(range(n), want) - 1 >= 10


def test_nearest_rank_and_summary():
    vals = list(range(1, 101))          # 1..100
    assert nearest_rank(vals, 50) == 50
    assert nearest_rank(vals, 90) == 90
    assert nearest_rank([7.0], 95) == 7.0
    s = latency_summary(vals)
    assert s == {"n": 100, "p50": 50.5, "tail_pct": 90, "tail": 90.0}
    few = latency_summary([1.0, 2.0, 3.0])
    assert few["tail_pct"] is None and few["tail"] is None
    assert "n=3" in tail_line(few)
    assert tail_line(s).startswith("query_p90_ms=90.00 ms (n=100")


# -- self time --------------------------------------------------------------

def _span(i, parent, start, end):
    return SimpleNamespace(span_id=i, parent=parent, start=start, end=end)


def test_self_time_subtracts_union_of_direct_children():
    spans = [_span(1, None, 0, 10),
             _span(2, 1, 1, 3), _span(3, 1, 2, 5),    # overlap: covers 1..5
             _span(4, 1, 8, 12),                      # sticks out: 8..10
             _span(5, 2, 1.5, 2.5)]                   # grandchild of 1
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 4 - 2)
    assert st[2] == pytest.approx(2 - 1)
    assert st[3] == pytest.approx(3)
    assert st[5] == pytest.approx(1)


def test_self_time_of_leaf_is_its_duration():
    assert self_times([_span(1, None, 2.0, 2.5)]) == {1: 0.5}


# -- failure accounting -----------------------------------------------------

def test_tally_counts_every_failure_with_its_reason():
    t = Tally()
    t.ok()
    assert t.check(True, "never shown")
    assert not t.check(False, "reply differs")
    t.fail("status 500")
    assert (t.attempted, t.failed) == (4, 2)
    assert t.reasons == ["reply differs", "status 500"]
    assert t.error_rate == 0.5
    assert Tally().error_rate == 0.0


# -- stage markers ----------------------------------------------------------

def _marker(root: Path, stage: str, payload: dict, data: bytes = b"x" * 10):
    (root / stage / "data").mkdir(parents=True)
    (root / stage / "data" / "part-0.parquet").write_bytes(data)
    (root / stage / "_COMMITTED.json").write_text(json.dumps(payload))


def test_stage_markers_and_build_metrics(tmp_path):
    _marker(tmp_path, "docs", {"stage": "docs", "wall_ms": 1200})
    _marker(tmp_path, "merged", {"stage": "merged", "wall_ms": 300})
    (tmp_path / "stats").mkdir()          # stage without a commit marker
    m = stage_markers(tmp_path)
    assert set(m) == {"docs", "merged"}
    assert m["docs"]["bytes"] == 10 + len(json.dumps(
        {"stage": "docs", "wall_ms": 1200}))
    out = build_layer_metrics(m, run_ms=2000.0)
    assert out["build.docs_ms"] == 1200.0
    assert out["build.merged_ms"] == 300.0
    assert out["build.stats_ms"] == 0.0
    assert out["build.overhead_ms"] == 500.0


def test_malformed_marker_raises(tmp_path):
    _marker(tmp_path, "docs", {"stage": "docs", "wall_ms": "fast"})
    with pytest.raises(ValueError, match="wall_ms"):
        stage_markers(tmp_path)


# -- span recorder ----------------------------------------------------------

class _Lib:
    @staticmethod
    def eager(x):
        return x + 1

    @staticmethod
    def lazy(x):
        return x * 2


def test_recorder_wraps_records_and_restores():
    rec = Recorder()
    orig = _Lib.eager
    rec.wrap(_Lib, "eager", "lib.eager")
    rec.wrap(_Lib, "lazy", "lib.lazy", lazy=True)
    assert _Lib.eager(1) == 2 and not rec.spans     # outside a request
    with rec.request("r1", "root") as root:
        with rec.span("outer") as outer:
            assert _Lib.eager(1) == 2
            assert _Lib.lazy(2) == 4
    names = {s.name: s for s in rec.spans}
    assert set(names) == {"root", "outer", "lib.eager", "lib.lazy"}
    assert names["outer"].parent == root.span_id
    assert names["lib.eager"].parent == outer.span_id
    # a lazy kernel's plan runs when its caller collects: its span ends
    # with the enclosing span
    assert names["lib.lazy"].end == outer.end
    assert {s.request_id for s in rec.spans} == {"r1"}
    rec.restore()
    assert _Lib.eager is orig


def test_request_continues_on_another_thread():
    rec = Recorder()

    def server():
        with rec.request("r7", "server"):
            pass

    with rec.request("r7", "client") as client:
        t = threading.Thread(target=server)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    server = next(s for s in rec.spans if s.name == "server")
    assert server.parent == client.span_id and server.request_id == "r7"


# -- inputs -----------------------------------------------------------------

def test_serve_stream_is_seeded_and_keeps_the_mix():
    texts = gen.transcripts(50, seed=3)["text"].tolist()
    a = gen.serve_stream(texts, n_rounds=3, seed=9)
    assert a == gen.serve_stream(texts, n_rounds=3, seed=9)
    assert a != gen.serve_stream(texts, n_rounds=3, seed=10)
    for r in range(3):
        rnd = a[r * 20:(r + 1) * 20]
        assert {c: sum(q.cls == c for q in rnd) for c, _ in gen.SERVE_ROUND} \
            == dict(gen.SERVE_ROUND)
    assert all(q.k == 500 for q in a if q.cls == "wide")
    assert all(len(q.q.split()) >= 4 for q in a if q.cls == "wide")
    assert "rid=r3" in a[0].url("r3")


def test_repeat_term_share():
    assert gen.repeat_term_share(["a b", "b", "a c", "c a"]) == 0.5
    assert gen.repeat_term_share([]) == 0.0


def test_micro_batches_keep_conversation_order():
    pdf = gen.transcripts(12, seed=1)
    parts = gen.split_batches(pdf, 3)
    assert sum(len(p) for p in parts) == len(pdf)
    assert all(a["conv_id"].max() < b["conv_id"].min()
               for a, b in zip(parts, parts[1:]))


# -- output contract --------------------------------------------------------

def test_metrics_json_rejects_missing_end_to_end_and_fills_layers():
    e2e = {name: 1.5 for name in run.END_TO_END}
    out = run.metrics_json(e2e, run.END_TO_END, fill_missing=False)
    assert list(out) == list(run.END_TO_END)
    del e2e["setup_s"]
    with pytest.raises(ValueError, match="setup_s"):
        run.metrics_json(e2e, run.END_TO_END, fill_missing=False)
    layers = run.metrics_json({}, run.PER_LAYER, fill_missing=True)
    assert all(m["value"] == 0.0 for m in layers.values())


def test_benchmark_json_matches_the_metric_catalogue():
    spec = json.loads((Path(__file__).resolve().parent.parent
                       / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} \
        == run.PER_LAYER
