"""Pure functions that turn raw measurements into the benchmark's metrics.

Nothing here talks to Spark; the tests in ``perfbench/tests`` pin each rule.
"""

from __future__ import annotations

import json
import math
import os

# a percentile is reported only when at least this many samples lie beyond it
MIN_TAIL = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-quantile (0 < q < 1). Refuses a percentile the
    sample cannot support: it needs ``MIN_TAIL`` samples beyond it, so
    p90 needs at least 100 samples and p50 at least 20."""
    n = len(values)
    rank = math.ceil(q * n)
    if n == 0 or n - rank < MIN_TAIL:
        raise ValueError(f"p{q * 100:g} needs {MIN_TAIL} samples beyond it; got {n} samples")
    return sorted(values)[rank - 1]


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def error_rate(attempted: int, failed: int) -> float:
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts: attempted={attempted} failed={failed}")
    return failed / attempted


# ------------------------------------------------------------ checkpoint ----
def _log_entries(log_dir: str) -> list[dict]:
    """Entries of a metadata log directory (``N`` and ``N.compact`` files,
    each a version line followed by one JSON object per line). A
    compact file repeats every earlier entry, so entries are deduplicated
    by path, keeping the first batch that saw the file."""
    seen: dict[str, dict] = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()[1:]
        for line in lines:
            if line.strip():
                e = json.loads(line)
                if e["path"] not in seen or e["batchId"] < seen[e["path"]]["batchId"]:
                    seen[e["path"]] = e
    return list(seen.values())


def file_batches(checkpoint: str) -> dict[str, int]:
    """Input file name -> id of the micro-batch that read it, from the file
    source's log (``sources/0``), including compacted ``N.compact`` files."""
    return {
        os.path.basename(e["path"]): int(e["batchId"])
        for e in _log_entries(os.path.join(checkpoint, "sources", "0"))
    }


def commit_times(checkpoint: str) -> dict[int, float]:
    """Micro-batch id -> wall time its commit file was written."""
    d = os.path.join(checkpoint, "commits")
    return {
        int(n): os.stat(os.path.join(d, n)).st_mtime
        for n in os.listdir(d)
        if n.isdigit()
    }


def file_latencies(
    ledger: list[dict], batches: dict[str, int], commits: dict[int, float], warmup_until: float
) -> tuple[list[float], list[str]]:
    """Latency in ms of each generated file due at or after ``warmup_until``:
    from when the file was due to the commit of the micro-batch that read
    it. Returns the latencies and the names of files never committed
    (every file, warm-up included, is checked for the commit).

    Batches commit in order, and Spark purges commit files older than its
    last ``minBatchesToRetain`` (100) batches, so a batch counts as
    committed when it is at or below the last committed id. A measured
    file whose commit time was purged raises: the run is too long to
    measure."""
    last = max(commits, default=-1)
    lat, missing = [], []
    for e in ledger:
        b = batches.get(e["file"])
        if b is None or b > last:
            missing.append(e["file"])
        elif e["due"] >= warmup_until:
            if b not in commits:
                raise ValueError(f"commit time of batch {b} was purged from the checkpoint")
            lat.append((commits[b] - e["due"]) * 1000.0)
    return lat, missing


def generator_lateness_ms(ledger: list[dict]) -> float:
    """How far behind its schedule the open-loop generator ran: the largest
    gap, in ms, between a file's due time and the end of its rename.
    Never negative (a file is not written before it is due)."""
    return max(0.0, *((e["written"] - e["due"]) * 1000.0 for e in ledger))


# ----------------------------------------------------------- live ledger ----
def dropped_by_watermark(batch_rows: dict[int, list[int]], delay_us: int) -> int:
    """Rows a watermarked aggregation drops, computed from the input alone.
    ``batch_rows`` maps batch id -> event times (µs) read in that batch.
    The watermark used in a batch is the largest event time of all
    earlier batches minus ``delay_us``; a row at or below it is late."""
    wm, dropped, seen_max = None, 0, None
    for b in sorted(batch_rows):
        ts = batch_rows[b]
        if wm is not None:
            dropped += sum(1 for t in ts if t <= wm)
        if ts:
            seen_max = max(ts) if seen_max is None else max(seen_max, max(ts))
            wm = seen_max - delay_us if wm is None else max(wm, seen_max - delay_us)
    return dropped


def window_mismatches(expected: dict[int, int], got: list[tuple[int, int]]) -> set[int]:
    """Window starts whose emitted sums disagree with the ledger: missing,
    emitted more than once, unexpected, or with a different sum."""
    counts: dict[int, list[int]] = {}
    for start, s in got:
        counts.setdefault(start, []).append(s)
    bad = {w for w, s in counts.items() if len(s) != 1 or expected.get(w) != s[0]}
    return bad | (set(expected) - set(counts))


# ----------------------------------------------------------------- spans ----
def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of each span name not covered by its child spans, summed
    over all spans of that name. A span is a dict with ``id``, ``parent``,
    ``name``, ``start`` and ``end``; children may overlap each other."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out
