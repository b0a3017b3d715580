"""Tests of the benchmark's own code: seeded inputs, the capture
generator's predictions against the engine, span self time and the
steal adjustment.

    python3 -m pytest steadybench/test_steadybench.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import inputs  # noqa: E402
import workloads  # noqa: E402
from spans import Recorder, Span, self_time  # noqa: E402


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(Path(p).name.encode())
        h.update(Path(p).read_bytes())
    return h.hexdigest()


def _inputs(d: Path, seed: int) -> str:
    d.mkdir()
    inputs.write_capture(str(d / "c.pcap"), 400, seed)
    inputs.write_corpus(str(d), 60, 40, seed)
    return _digest(d.iterdir())


def test_same_seed_gives_identical_files_and_another_seed_differs(tmp_path):
    a = _inputs(tmp_path / "a", 7)
    b = _inputs(tmp_path / "b", 7)
    c = _inputs(tmp_path / "c", 8)
    assert a == b
    assert a != c
    for name in ["c.pcap", "documents.parquet", "embeddings.parquet"]:
        assert (tmp_path / "a" / name).read_bytes() != (tmp_path / "c" / name).read_bytes()


def test_predictions_match_the_engine_in_process_parser(tmp_path):
    from bytesprocessor_spark.sources.pcap import parse_pcap_bytes

    cap = inputs.write_capture(str(tmp_path / "c.pcap"), 3000, 3)
    rows = list(parse_pcap_bytes(Path(cap.path).read_bytes()))
    assert len(rows) == cap.whole.rows
    assert cap.whole.rows < cap.n_packets  # some frames must be dropped
    assert set(cap.whole.labels) == {"benign", *inputs.ATTACK_LABELS}
    lo_hi = cap.ranges
    in_win = [r for r in rows if any(lo <= r["timestamp"] <= hi for lo, hi in lo_hi)]
    assert len(in_win) == cap.window.rows
    assert 0.05 < cap.window.rows / cap.whole.rows < 0.15


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    from bytesprocessor_spark.session import get_spark

    session = get_spark("steadybench-test")
    yield session
    session.stop()


def test_generator_predictions_match_the_pipeline_output(spark, tmp_path):
    # Small chunks, so the split reader cuts the 1,500 and 2,500-packet
    # captures into two and three chunks, as it cuts the benchmark's
    # multi-chunk capture.
    w = workloads.PcapEtl()
    w.WHOLE, w.WINDOW, w.SPLIT_PACKETS = (1500,), (1500, 2500), 1000
    w.generate(str(tmp_path), str(tmp_path), 5)
    from bytesprocessor_spark.sources.pcap import index_capture_chunks

    assert len(list(index_capture_chunks(w.caps[2500].path, 1000))) == 3
    ops = w.one_pass()
    assert [op.name for op in ops] == ["whole_1500", "window_1500", "window_2500"]
    for op in ops:
        out = op.run(spark, None)
        assert op.check(out) is None, op.name


def test_pipeline_check_catches_a_wrong_prediction(spark, tmp_path):
    w = workloads.PcapEtl()
    w.WHOLE, w.WINDOW = (500,), ()
    w.generate(str(tmp_path), str(tmp_path), 6)
    whole = w.cold_ops()[0]
    out = whole.run(spark, None)
    w.caps[500].whole.labels["benign"] += 1
    assert "labels" in whole.check(out)
    w.caps[500].whole.labels["benign"] -= 1
    w.caps[500].whole.digest = "0" * 64
    assert "feature" in whole.check(out)


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, "op")


def test_self_time_subtracts_children_once():
    parent = _span("p", 0.0, 10.0)
    assert self_time(parent, []) == 10.0
    # disjoint children
    assert self_time(parent, [_span("a", 1, 3), _span("b", 5, 6)]) == pytest.approx(7.0)
    # overlapping children are merged
    assert self_time(parent, [_span("a", 1, 4), _span("b", 3, 6)]) == pytest.approx(5.0)
    # a child sticking out of the parent is clipped to it
    assert self_time(parent, [_span("a", -2, 2), _span("b", 9, 12)]) == pytest.approx(7.0)
    # nested grandchildren do not count twice: only direct children are passed
    assert self_time(parent, [_span("a", 0, 10)]) == 0.0


def test_recorder_nests_spans_and_inherits_op_id():
    rec = Recorder()
    with rec.span("op", op="timed:0:x"):
        with rec.span("construct"):
            with rec.span("inner"):
                pass
        with rec.span("execute"):
            pass
    names = [s.name for s in rec.spans]
    assert names == ["op", "construct", "inner", "execute"]
    assert [s.parent for s in rec.spans] == [None, 0, 1, 0]
    assert {s.op for s in rec.spans} == {"timed:0:x"}
    op_span = rec.spans[0]
    kids = rec.children(0)
    expected = (op_span.end - op_span.start) - sum(k.end - k.start for k in kids)
    assert rec.self_time(0) == pytest.approx(expected)
    assert rec.self_time(1) <= rec.spans[1].end - rec.spans[1].start


def test_oracle_comparison_is_order_insensitive_and_type_strict():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    b = pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]})
    c = pd.DataFrame({"k": [1.0, 2.0], "v": [0.5, 1.5]})
    assert workloads.canon_frame(a) == workloads.canon_frame(b)
    assert workloads.canon_frame(a) != workloads.canon_frame(c)


def test_steal_adjustment_scales_by_parallelism():
    from run import steal_adjusted

    # No steal: the wall time as measured.
    assert steal_adjusted(10.0, 30.0, 0.0) == 10.0
    # One busy vCPU for 10 s that lost 1 s to steal: 11 s of wall, 1 s off.
    assert steal_adjusted(11.0, 10.0, 1.0) == pytest.approx(10.0)
    # Four busy vCPUs for 10 s, each losing 1 s: 4 s of steal summed
    # over vCPUs, but the op was delayed by 1 s, not 4 s.
    assert steal_adjusted(11.0, 40.0, 4.0) == pytest.approx(10.0)
    # Two busy vCPUs, 3 s stolen in all: 1.5 s of delay.
    assert steal_adjusted(21.5, 40.0, 3.0) == pytest.approx(20.0)
    # A mostly idle interval is never credited more than its steal.
    assert steal_adjusted(10.0, 1.0, 0.5) == pytest.approx(9.5)
