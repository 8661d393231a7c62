"""Tests of the benchmark's metric rules (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def _write_log(path: str, entries: list[dict]) -> None:
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def _entry(name: str, batch: int) -> dict:
    return {"path": f"file:///in/{name}", "timestamp": 0, "batchId": batch, "action": "add"}


@pytest.fixture
def checkpoint(tmp_path):
    """Twelve batches, file fK read by batch K; batches 0-9 compacted into
    ``9.compact`` (batch 3's own log file already deleted, as Spark does),
    batches 10 and 11 in plain files; batch K committed at 100 + K s."""
    src = tmp_path / "sources" / "0"
    com = tmp_path / "commits"
    src.mkdir(parents=True)
    com.mkdir()
    for b in range(12):
        if b in (0, 1, 2, 9, 10, 11):
            _write_log(str(src / str(b)), [_entry(f"f{b}", b)])
        c = com / str(b)
        c.write_text('v1\n{"nextBatchWatermarkMs":0}\n')
        os.utime(c, (100.0 + b, 100.0 + b))
    _write_log(str(src / "9.compact"), [_entry(f"f{b}", b) for b in range(10)])
    (src / ".9.compact.crc").write_text("ignored")
    return str(tmp_path)


def test_file_batches_reads_compact_and_plain_logs(checkpoint):
    assert metrics.file_batches(checkpoint) == {f"f{b}": b for b in range(12)}


def test_latency_runs_from_due_time_to_commit(checkpoint):
    ledger = [{"file": f"f{b}", "due": 99.5 + b} for b in range(12)]
    lat, missing = metrics.file_latencies(
        ledger, metrics.file_batches(checkpoint), metrics.commit_times(checkpoint), 0.0
    )
    assert missing == []
    assert lat == pytest.approx([500.0] * 12)


def test_warmup_files_are_excluded_but_still_checked(checkpoint):
    ledger = [{"file": f"f{b}", "due": 99.0 + b} for b in range(12)]
    ledger.append({"file": "never_read", "due": 50.0})
    lat, missing = metrics.file_latencies(
        ledger, metrics.file_batches(checkpoint), metrics.commit_times(checkpoint), 104.0
    )
    # files due at 104..110 are measured; the early unread file still fails
    assert len(lat) == 7
    assert missing == ["never_read"]


def test_file_read_by_an_uncommitted_batch_is_missing(checkpoint):
    os.remove(os.path.join(checkpoint, "commits", "11"))
    ledger = [{"file": f"f{b}", "due": 99.0 + b} for b in range(12)]
    _, missing = metrics.file_latencies(
        ledger, metrics.file_batches(checkpoint), metrics.commit_times(checkpoint), 0.0
    )
    assert missing == ["f11"]


def test_purged_commit_files_still_count_as_committed(checkpoint):
    for b in (0, 1, 2):  # Spark keeps only the last 100 commit files
        os.remove(os.path.join(checkpoint, "commits", str(b)))
    ledger = [{"file": f"f{b}", "due": 99.0 + b} for b in range(12)]
    batches, commits = metrics.file_batches(checkpoint), metrics.commit_times(checkpoint)
    lat, missing = metrics.file_latencies(ledger, batches, commits, 103.0)
    assert missing == [] and len(lat) == 8
    with pytest.raises(ValueError):  # a measured file needs its commit time
        metrics.file_latencies(ledger, batches, commits, 100.0)


def test_percentile_needs_ten_samples_beyond_it():
    with pytest.raises(ValueError):
        metrics.percentile(list(range(99)), 0.9)
    assert metrics.percentile(list(range(1, 101)), 0.9) == 90
    assert metrics.percentile(list(range(1, 21)), 0.5) == 10
    with pytest.raises(ValueError):
        metrics.percentile(list(range(19)), 0.5)
    with pytest.raises(ValueError):
        metrics.percentile([], 0.5)


def test_percentile_is_nearest_rank_on_unsorted_input():
    vals = [float(v) for v in range(200, 0, -1)]
    assert metrics.percentile(vals, 0.5) == 100.0
    assert metrics.percentile(vals, 0.9) == 180.0


def test_geomean():
    assert metrics.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert metrics.geomean([0.5, 0.5, 0.5]) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        metrics.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        metrics.geomean([])


def test_error_rate_counts_failed_over_attempted():
    assert metrics.error_rate(40, 0) == 0.0
    assert metrics.error_rate(40, 2) == 0.05
    with pytest.raises(ValueError):
        metrics.error_rate(0, 0)
    with pytest.raises(ValueError):
        metrics.error_rate(3, 4)


def test_window_mismatches_catch_missing_duplicate_and_wrong_sums():
    expected = {0: 10, 10: 20, 20: 30}
    assert metrics.window_mismatches(expected, [(0, 10), (10, 20), (20, 30)]) == set()
    assert metrics.window_mismatches(expected, [(0, 10), (20, 30)]) == {10}
    assert metrics.window_mismatches(expected, [(0, 10), (10, 20), (10, 20), (20, 30)]) == {10}
    assert metrics.window_mismatches(expected, [(0, 11), (10, 20), (20, 30)]) == {0}
    assert metrics.window_mismatches(expected, [(0, 10), (10, 20), (20, 30), (30, 1)]) == {30}


def test_generator_lateness_reports_the_worst_file():
    ledger = [
        {"due": 10.0, "written": 10.004},
        {"due": 10.125, "written": 10.375},
        {"due": 10.25, "written": 10.26},
    ]
    assert metrics.generator_lateness_ms(ledger) == pytest.approx(250.0)
    assert metrics.generator_lateness_ms([{"due": 1.0, "written": 1.0}]) == 0.0


def test_dropped_by_watermark_uses_earlier_batches_only():
    s = 1_000_000
    batches = {
        0: [20 * s, 30 * s],  # first batch: no watermark yet
        1: [18 * s, 40 * s],  # watermark 30-11 = 19 s: 18 s is late
        2: [29 * s, 29 * s + 1],  # watermark 40-11 = 29 s: exactly 29 s is late
    }
    assert metrics.dropped_by_watermark(batches, 11 * s) == 2
    assert metrics.dropped_by_watermark({0: [5 * s], 1: [5 * s]}, 11 * s) == 0


def test_self_times_subtract_covered_child_time():
    spans = [
        {"id": 1, "parent": None, "name": "run", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "a", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "name": "b", "start": 3.0, "end": 6.0},  # overlaps a
        {"id": 4, "parent": 2, "name": "c", "start": 2.0, "end": 3.0},
    ]
    st = metrics.self_times(spans)
    assert st == pytest.approx({"run": 5.0, "a": 2.0, "b": 3.0, "c": 1.0})
    assert sum(st.values()) == pytest.approx(11.0)  # overlap counted once per span
