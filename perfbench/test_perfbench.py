"""Self-tests of the benchmark's own arithmetic and oracle.

    python3 -m pytest perfbench/test_perfbench.py -q

No Spark session is started: every input is built by hand.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import metrics  # noqa: E402
from inputs import ExpectedState, _changes, content_sha  # noqa: E402
from tracer import Tracer  # noqa: E402


def test_percentile_matches_statistics_inclusive():
    xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.6]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert metrics.percentile(xs, 25) == pytest.approx(q1)
    assert metrics.median(xs) == pytest.approx(q2)
    assert metrics.percentile(xs, 75) == pytest.approx(q3)


@pytest.mark.parametrize(
    "n, expected",
    [
        (1, None),
        (39, None),  # p75 needs 40 samples for 10 beyond it
        (40, (75, 30.25)),
        (99, (75, 74.5)),  # p90 needs 100
        (100, (90, 90.1)),
        (999, (90, 899.2)),  # p99 needs 1000
        (1000, (99, 990.01)),
    ],
)
def test_high_percentile_needs_ten_samples_beyond(n, expected):
    got = metrics.high_percentile([float(i) for i in range(1, n + 1)])
    if expected is None:
        assert got is None
    else:
        assert got[0] == expected[0]
        assert got[1] == pytest.approx(expected[1])


def test_high_percentile_counts_samples_strictly_beyond():
    # 40 equal samples: nothing lies beyond p75, so no tail is reported
    assert metrics.high_percentile([2.0] * 40) is None


def test_summary_reports_quartiles_and_supported_tail():
    sm = metrics.summary([float(i) for i in range(1, 41)])
    assert sm["n"] == 40 and sm["p50"] == pytest.approx(20.5)
    assert sm["high"][0] == 75
    assert metrics.summary([1.0, 2.0])["high"] is None


def test_relative_iqr_uses_exclusive_quartiles():
    assert metrics.relative_iqr([9.0, 10.0, 10.0, 11.0, 10.0]) == pytest.approx(0.1)
    assert metrics.relative_iqr([8.0, 9.0, 10.0, 11.0, 12.0]) == pytest.approx(0.3)
    assert metrics.relative_iqr([0.0, 0.0, 0.0]) == 0.0


def test_self_time_subtracts_union_of_children():
    parent = {"start": 0.0, "end": 10.0}
    children = [
        {"start": 1.0, "end": 3.0},
        {"start": 2.0, "end": 5.0},  # overlaps the first: [1, 5] counts once
        {"start": 8.0, "end": 12.0},  # clipped to the parent's end
        {"start": 11.0, "end": 13.0},  # wholly outside
    ]
    assert metrics.self_time(parent, children) == pytest.approx(4.0)
    assert metrics.self_time(parent, []) == pytest.approx(10.0)


def test_tracer_nests_spans_and_carries_trace_id():
    tr = Tracer()
    with tr.span("workload", trace_id="run"):
        with tr.span("epoch", trace_id="epoch-3") as attrs:
            attrs["keys_changed"] = 7
            with tr.span("streaming.apply.apply_batch"):
                pass
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["epoch"]["parent"] == by_name["workload"]["id"]
    assert by_name["streaming.apply.apply_batch"]["trace"] == "epoch-3"
    assert by_name["epoch"]["attrs"] == {"keys_changed": 7}
    child = by_name["streaming.apply.apply_batch"]
    epoch = by_name["epoch"]
    assert metrics.self_time(epoch, [child]) == pytest.approx(
        (epoch["end"] - epoch["start"]) - (child["end"] - child["start"])
    )


def _manifest(buckets: dict, bucket_bytes: dict | None = None) -> dict:
    return {"buckets": buckets, "bucket_bytes": bucket_bytes or {}}


def test_bytes_written_counts_each_new_file_once():
    sizes = {"a": 10, "b": 20, "c": 30, "d": 40, "e": 50}
    runs = [
        _manifest({"0": ["a"], "1": ["b"]}),  # before the measured interval
        _manifest({"0": ["c"], "1": ["b"]}),  # bucket 0 rewritten
        _manifest({"0": ["c", "d"], "1": ["e"]}),  # a delta layer, a rewrite
        _manifest({"0": ["c", "d"], "1": ["e"]}),  # no data change
    ]
    assert metrics.bytes_written(runs, sizes.__getitem__) == (3, 120)
    assert metrics.bytes_written([None, runs[0]], sizes.__getitem__) == (2, 30)


def test_write_and_space_amp_on_hand_built_manifest(tmp_path):
    from kp_data_replication_spark.sources.table_store import TableStore

    root = tmp_path / "t"
    (root / "manifests").mkdir(parents=True)
    m = _manifest({"0": ["data/v1/f0"], "1": ["data/v1/f1"]}, {"0": 300, "1": 500})
    m.update(version=1, epoch=0, n_buckets=2)
    (root / "manifests" / "v1.json").write_text(json.dumps(m))
    (root / "_current").write_text(json.dumps({"version": 1}))
    store = TableStore(str(root))
    assert store.live_bytes() == 800
    assert metrics.space_amp(store.live_bytes(), 1000) == pytest.approx(0.8)
    assert metrics.write_amp(2400, 800) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        metrics.write_amp(10, 0)
    with pytest.raises(ValueError):
        metrics.space_amp(10, 0)


def _event(partition, lsn, op, path, content=None, topic="repos"):
    img = None
    if content is not None:
        img = {"repo": "r", "path": path, "commit": "c", "lang": "py", "content": content}
    key = {"repo": "r", "path": path, "commit": "c", "lang": "py", "content": "old"}
    return {
        "partition": partition, "lsn": lsn, "op": op,
        "before": key if op != "c" else None, "after": img, "source_topic": topic,
    }


def test_oracle_replay_drops_redeliveries_and_applies_deletes():
    watermark = {}
    first = pa.Table.from_pylist([
        _event(0, 1, "c", "a", "a1"),
        _event(0, 2, "c", "b", "b1"),
        _event(1, 1, "c", "x", "x1", topic="mm2-configs.source.internal"),
    ])
    changed, _ = _changes(first, watermark)
    assert set(changed) == {("r", "a"), ("r", "b")}
    state = ExpectedState()
    state.apply(changed)
    second = pa.Table.from_pylist([
        _event(0, 4, "u", "a", "a3"),
        _event(0, 2, "c", "b", "b1"),  # re-delivered: at or below the watermark
        _event(0, 3, "u", "a", "a2"),  # out of file order, still by lsn
        _event(0, 5, "d", "b"),
    ])
    changed, nbytes = _changes(second, watermark)
    assert watermark == {0: 5}
    assert changed[("r", "b")] is None
    state.apply(changed)
    assert set(state.rows) == {("r", "a")}
    assert state.lookup([("r", "a"), ("r", "b")]) == {
        ("r", "a", content_sha("a3"))
    }
    assert state.aggregate() == (1, 2)
    # changed images: a's full image plus b's key bytes
    assert nbytes == len("r" + "a" + "c" + "py" + "a3") + len("r" + "b")


def test_benchmark_json_declares_what_the_runs_report():
    from workloads import END_TO_END_UNITS, PER_LAYER_UNITS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER_UNITS
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
