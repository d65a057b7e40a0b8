"""Checks of the benchmark's own logic that need no Spark session.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402

import run  # noqa: E402
import tables  # noqa: E402
import taxi  # noqa: E402


def test_taxi_day_is_seeded(tmp_path):
    a = taxi.generate_day(str(tmp_path / "a"), 7, first_hour=6, hours=3)
    b = taxi.generate_day(str(tmp_path / "b"), 7, first_hour=6, hours=3)
    c = taxi.generate_day(str(tmp_path / "c"), 8, first_hour=6, hours=3)
    assert a["counts"] == b["counts"] and a["alerts"] == b["alerts"]
    assert a["counts"] != c["counts"]
    for f in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()


def test_taxi_files_are_one_minute_each_in_mtime_order(tmp_path):
    truth = taxi.generate_day(str(tmp_path), 3, first_hour=6, hours=2)
    names = sorted(os.listdir(tmp_path))
    assert len(names) == 120 and names[0] == "part-2015-12-01-0600.csv"
    mtimes = [os.path.getmtime(tmp_path / n) for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    lines = sum(len((tmp_path / n).read_text().splitlines()) for n in names)
    assert lines == truth["rows"] == sum(truth["rows_per_batch"])


def test_taxi_rows_are_ragged_and_some_malformed(tmp_path):
    taxi.generate_day(str(tmp_path), 5, first_hour=8, hours=1)
    widths = set()
    for n in os.listdir(tmp_path):
        for line in (tmp_path / n).read_text().splitlines():
            widths.add((line.split(",")[0], len(line.split(","))))
    assert {("yellow", 20), ("green", 22), ("yellow", 3)} <= widths


def test_every_replayed_hour_has_an_alert(tmp_path):
    truth = taxi.generate_day(str(tmp_path), 11, first_hour=6, hours=12)
    assert {a[1] // 3600 for a in truth["alerts"]} == set(range(6, 18))


def test_expected_alerts_follow_the_same_batch_rule():
    counts = {
        (3600 + 0, "goldman"): 4,
        (3600 + 600, "goldman"): 12,  # alert: >= 10 and doubled
        (3600 + 1200, "goldman"): 20,  # grew by 8 < 12: no alert
        (3600 + 2400, "goldman"): 50,  # previous window absent: no alert
        (7200, "citigroup"): 5,
        (7200 - 600, "citigroup"): 1,  # previous window in another hour
        (3600 + 600, "none"): 9,
        (3600 + 1200, "none"): 30,  # alert on the "none" key too
    }
    assert taxi.expected_alerts(counts) == {
        ("goldman", 4200, 12, 4),
        ("none", 4800, 30, 9),
    }


def test_classify_matches_reference_precedence():
    lon = np.array([-74.01405, -74.01100, -73.98, np.nan])
    lat = np.array([40.71470, 40.72090, 40.75, 40.72])
    assert list(taxi.classify(lon, lat)) == ["goldman", "citigroup", "none", "none"]


def test_tables_are_seeded_and_shaped():
    a = tables.build_tables(0.001, 1)
    b = tables.build_tables(0.001, 1)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    for name in a:
        assert a[name].equals(b[name]), name
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 500
    emb = np.stack(a["embeddings"].column("embedding").to_numpy(zero_copy_only=False))
    assert emb.shape == (500, tables.EMBED_DIM)
    assert np.allclose(np.linalg.norm(emb, axis=1), 1.0, atol=1e-5)


def test_self_times_subtract_covered_child_time():
    t = run.Tracer(True, "t")
    root = t.add("pass", 0.0, 10.0, None)
    t.add("query", 1.0, 4.0, root["id"])
    t.add("query", 3.0, 6.0, root["id"])  # overlaps the first
    t.add("query", 9.0, 12.0, root["id"])  # runs past the parent's end
    selfs = t.self_times()
    assert selfs["pass"] == 10.0 - (5.0 + 1.0)
    assert selfs["query"] == 9.0


def test_attribution_by_tag_then_by_submission_time():
    items = [
        {"name": "a", "tag": "perfbench-q0", "start": 0.0, "end": 10.0},
        {"name": "b", "tag": "perfbench-q1", "start": 10.0, "end": 20.0},
    ]
    jobs = [
        {"id": 1, "tags": ["s", "s-thread-x-perfbench-q0"], "submitted": 1.0, "stages": [1]},
        {"id": 2, "tags": ["s"], "submitted": 12.0, "stages": [2, 1]},  # stream thread
        {"id": 3, "tags": ["s-thread-y-perfbench-q1"], "submitted": 25.0, "stages": [3]},
    ]
    stage = {"tasks": 2, "task_s": 1.5, "shuffle_read": 10, "shuffle_write": 10, "spill": 0}
    stages = {
        (1, 0): {"stage": 1, "python": False, **stage},
        (2, 0): {"stage": 2, "python": True, **stage},
        (3, 0): {"stage": 3, "python": False, **stage},
        (4, 0): {"stage": 4, "python": False, **stage},  # no job lists it
    }
    per, total = run.attribute(jobs, stages, items)
    assert per["a"]["jobs"] == 1 and per["a"]["stages"] == 1
    assert per["b"]["jobs"] == 2 and per["b"]["stages"] == 2
    assert per["b"]["python_tasks"] == 2 and per["a"]["python_tasks"] == 0
    assert total["stages"] == 4 and total["task_s"] == 6.0
    assert sum(p["task_s"] for p in per.values()) == 4.5


def test_streaming_layers_read_progress_records():
    progress = [
        {"runId": "r", "batchId": 0, "numInputRows": 10,
         "durationMs": {"triggerExecution": 900, "addBatch": 500, "getBatch": 40},
         "stateOperators": [{"numRowsTotal": 5, "memoryUsedBytes": 2048, "commitTimeMs": 7}]},
        {"runId": "r", "batchId": 1, "numInputRows": 10,
         "durationMs": {"triggerExecution": 300, "addBatch": 200, "getBatch": 20},
         "stateOperators": [{"numRowsTotal": 8, "memoryUsedBytes": 4096, "commitTimeMs": 3}]},
        {"runId": "r", "batchId": 2, "numInputRows": 0, "durationMs": {"triggerExecution": 5}},
    ]
    m = run.streaming_layers(progress)
    assert m["streaming.batches"] == 2.0
    assert m["streaming.first_batch_ms"] == 900.0
    assert m["streaming.addBatch_ms"] == 350.0
    assert m["state.rows"] == 8 and m["state.commit_ms"] == 5.0


def test_replay_failures_count_a_raised_or_stalled_stream():
    assert run.replay_failures(11, 11, None, True) == 0
    # the stream raised after its last batch, or raised and lost batches
    assert run.replay_failures(11, 11, RuntimeError("boom"), True) == 1
    assert run.replay_failures(11, 8, RuntimeError("boom"), False) == 3
    # stalled: the stall guard ended the wait before the batches were done
    assert run.replay_failures(11, 11, None, False) == 1
    assert run.replay_failures(11, 9, None, False) == 2


def test_replayed_hours_are_equal_in_size(tmp_path):
    truth = taxi.generate_day(str(tmp_path), 4, first_hour=6, hours=run.TAXI_HOURS)
    rows = truth["rows_per_batch"]
    assert len(rows) == run.TAXI_HOURS
    assert max(rows) < 1.05 * min(rows)


def test_timed_figures_use_the_batches_after_the_warm_up():
    done = {0: 10.0, 1: 14.0, 2: 16.0, 3: 17.0, 4: 19.0, 5: 20.0}
    rows = [100, 100, 100, 100, 200, 100]
    trig = {0: 9000, 1: 3000, 2: 1500, 3: 900, 4: 1900, 5: 1000}
    f = run.timed_figures(done, rows, trig, 3)
    # gaps of batches 3, 4, 5: 1, 2, 1 s
    assert f == {"pass_s": 1.0, "rows_per_s": 100.0, "batch_ms": 1000}
    assert run.timed_figures({b: t for b, t in done.items() if b != 4}, rows, trig, 3) is None
