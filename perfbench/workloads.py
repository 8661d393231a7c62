"""The benchmark's workloads. Each takes a ``run.Run`` and returns its
end-to-end metrics (``latency_ms``, ``latency_hi_ms``); ``setup_s`` is
taken by ``Run.setup_done``."""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys
import tempfile
import time
from datetime import datetime

import gen
import metrics
from tests._harness import compare, duckdb_con

REPORT_UNITS = {
    "error_rate": "ratio",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "latency_samples": "count",
    "session_events_per_s": "1/s",
    "stateful_events_per_s": "1/s",
    "geomean_query_s": "s",
    "pass_s": "s",
    "passes": "count",
    "host_cpu_steal_share": "ratio",
}

# --------------------------------------------------------------- batch ----
BATCH_RELATIONAL = (
    "q_scan_parquet q_filter q_agg_multi q_agg_rollup q_join_broadcast q_join_smj "
    "q_join_star q_pipeline_topk_revenue q_pipeline_filtered_agg q_win_rank "
    "q_topk_per_group q_session_window q_sql_session_window q_tumbling_window q_join_asof"
).split()


def _add_exec(run, job_ids: set[int], wall_s: float) -> None:
    """Add the stage totals of ``job_ids``, which ran in ``wall_s``."""
    for k, v in run.counters.totals(job_ids).items():
        run.layer[k] += v
    run.layer["exec.action_s"] += wall_s


def batch_relational(run) -> dict[str, float]:
    """Closed loop, one client: the relational catalog queries at sf0.1,
    each built with ``QUERIES[q]`` and run to a noop sink. The first of
    two warm-up passes collects every result; the timed passes follow, in
    a seed-permuted order each; then the collected results are checked
    against each query's oracle."""
    from flink_samples_spark.plans import ORACLES, QUERIES

    spark = run.start_session()
    t_warm = time.perf_counter()
    with run.tracer.span("gen.tables"):
        sf = gen.write_relational(run.dir("sf0.1"), seed=42, sf=0.1)
    got = {}
    for q in BATCH_RELATIONAL:
        with run.tracer.span("warmup.query", trace=f"warmup:{q}"):
            got[q] = _collect(run, q, lambda: QUERIES[q](spark, sf))
    # the JIT is still warming up after one pass: run a second, unchecked one
    for q in BATCH_RELATIONAL:
        with run.tracer.span("warmup.query", trace=f"warmup2:{q}"):
            _collect(run, q, lambda: QUERIES[q](spark, sf), noop=True)

    run.setup_done(t_warm)
    rng = random.Random(run.seed)
    times: dict[str, list[float]] = {q: [] for q in BATCH_RELATIONAL}
    passes: list[float] = []
    t_end = time.perf_counter() + run.seconds
    while not passes or time.perf_counter() < t_end:
        order = rng.sample(BATCH_RELATIONAL, len(BATCH_RELATIONAL))
        p0 = time.perf_counter()
        with run.tracer.span("pass", trace=f"pass{len(passes)}"):
            for q in order:
                ok = _timed_query(run, spark, QUERIES[q], q, sf, times[q], len(passes))
                run.op(ok)
        passes.append(time.perf_counter() - p0)
    run.measured()

    with run.tracer.span("check.oracles", trace="check"):
        con = _oracle_connection(sf)
        for q in BATCH_RELATIONAL:
            run.op(got[q] is not None and _matches(q, got[q], con.execute(ORACLES[q]).df()))
        con.close()
    run.samples.update({f"{q}_s": t for q, t in times.items()}, pass_s=passes)
    medians = [statistics.median(t) for t in times.values() if t]
    run.report.update(
        geomean_query_s=metrics.geomean(medians),
        pass_s=statistics.median(passes),
        passes=len(passes),
    )
    return {"latency_ms": run.report["geomean_query_s"] * 1000.0,
            "latency_hi_ms": run.report["pass_s"] * 1000.0}


def _collect(run, name: str, build, noop: bool = False):
    """The result of one catalog query as a pandas frame (or, with
    ``noop``, written to a noop sink), or None if it raised (the check
    then counts it as a failed operation)."""
    try:
        with run.tracer.span("plans.construct"):
            df = build()
        with run.tracer.span("exec.action"):
            if noop:
                return df.write.format("noop").mode("overwrite").save()
            return df.toPandas()
    except Exception as ex:
        print(f"{name}: {type(ex).__name__}: {str(ex)[:300]}", file=sys.stderr)
        return None


def _oracle_connection(data_dir: str):
    """DuckDB over the parquet tables of ``data_dir``, as the repo's
    differential harness sets it up, spilling (if ever) inside the run's
    work directory."""
    con = duckdb_con(data_dir)
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    return con


def _matches(name: str, got, want) -> bool:
    """The harness's Spark-vs-DuckDB comparison: same rows as a multiset."""
    try:
        compare(got, want, name)
    except AssertionError as ex:
        print(f"{name}: {ex}", file=sys.stderr)
        return False
    return True


def _timed_query(run, spark, build, name, sf, out: list[float], pass_no: int) -> bool:
    """One timed query run to a noop sink; appends construction + action
    seconds to ``out``. In the traced run, the counters are read outside
    the timed window, in ``trace.counters`` spans."""
    traced = run.counters is not None
    with run.tracer.span("query", trace=f"{name}#{pass_no}"):
        if traced:
            with run.tracer.span("trace.counters"):
                before, py0 = run.counters.jobs(), run.python_cpu_s()
        try:
            t0 = time.perf_counter()
            with run.tracer.span("plans.construct"):
                df = build(spark, sf)
            t1 = time.perf_counter()
            if traced:
                with run.tracer.span("trace.counters"):
                    eager = run.counters.jobs() - before
            t1b = time.perf_counter()
            with run.tracer.span("exec.action"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as ex:  # a failing query is a failed operation
            print(f"{name}: {type(ex).__name__}: {str(ex)[:300]}", file=sys.stderr)
            return False
        out.append(t2 - t1b + t1 - t0)
        run.layer["plans.construct_s"] += t1 - t0
        if traced:
            with run.tracer.span("trace.counters"):
                run.layer["plans.eager_jobs"] += len(eager)
                run.layer["exec.python_worker_cpu_ms"] += (run.python_cpu_s() - py0) * 1000.0
                _add_exec(run, run.counters.jobs() - before - eager, t2 - t1b)
    return True


# -------------------------------------------------------------- replay ----
REPLAY_EVENTS = 3_000
REPLAY_PIPELINES = ("q_stream_session", "q_stream_ewma")
# With one warm-up replay of each, the first timed replays were still up
# to a third slower than the later ones.
WARMUP_ORDER = ("q_stream_session", "q_stream_ewma", "q_stream_session")
# Timed replays at the least: session, EWMA, session, session (see the
# loop in stream_replay), so the session median has three samples. With
# --seconds 0 (the local[1] baseline) each pipeline runs once.
MIN_REPLAYS = 4


def stream_replay(run) -> dict[str, float]:
    """Closed loop, one client: a seeded ``events`` table replayed through
    the catalog's flagship session-window stream (built-in state) and its
    EWMA stream (``applyInPandasWithState``, state in Python workers),
    each bounded by ``availableNow`` and read back. The replays of
    ``WARMUP_ORDER`` warm up; then timed replays run until ``--seconds``
    have passed and at least ``MIN_REPLAYS`` ran. Every result, warm-up
    included, is then checked against the shared oracle."""
    from flink_samples_spark.plans import ORACLES, QUERIES

    profile = gen.replay_profile(run.seed)
    spark = run.start_session()
    t_warm = time.perf_counter()
    with run.tracer.span("gen.events"):
        data = gen.write_events(run.dir("events"), run.seed, REPLAY_EVENTS, **profile)
    run.layer["gen.events"] = REPLAY_EVENTS
    probe = _StreamProbe(run) if run.traced else None
    results: list[tuple[str, object]] = []  # (pipeline, result)
    warm_spans, replays = [], []
    with _patched_streaming(run, probe):
        for i, q in enumerate(WARMUP_ORDER):
            with run.tracer.span("warmup.replay", trace=f"warmup{i}:{q}"):
                results.append((q, _replay(run, spark, QUERIES[q], q, data, warm_spans)))
        run.setup_done(t_warm)
        if probe:  # per-layer numbers cover the measured replays only
            probe.sink_ms.clear()
            probe.run_ids.clear()
            run.layer["source.prep_s"] = run.layer["sink.readback_s"] = 0.0
        times: dict[str, list[float]] = {q: [] for q in REPLAY_PIPELINES}
        spent = dict.fromkeys(REPLAY_PIPELINES, 0.0)  # failed replays too
        t_end = time.perf_counter() + run.seconds
        i, least = 0, MIN_REPLAYS if run.seconds > 0 else len(REPLAY_PIPELINES)
        while i < least or time.perf_counter() < t_end:
            # each pipeline once, then the one with the least time so far:
            # the short session replay gets more samples
            q = REPLAY_PIPELINES[i] if i < len(REPLAY_PIPELINES) else min(spent, key=spent.get)
            i += 1
            py0, t0 = run.python_cpu_s(), time.perf_counter()
            with run.tracer.span("replay", trace=f"{q}#{i}"):
                results.append((q, _replay(run, spark, QUERIES[q], q, data, replays, times[q])))
            spent[q] += time.perf_counter() - t0
            if probe:
                run.layer["exec.python_worker_cpu_ms"] += (run.python_cpu_s() - py0) * 1000.0
    run.measured()
    if probe:
        probe.finish(warm_spans + replays, replays)
        jobs = set().union(*(run.counters.jobs(r) for r in probe.run_ids))
        _add_exec(run, jobs, sum(s["end"] - s["start"] for s in replays))

    with run.tracer.span("check.oracles", trace="check"):
        con = _oracle_connection(data)
        oracle = {q: con.execute(ORACLES[q]).df() for q in REPLAY_PIPELINES}
        con.close()
        for q, got in results:
            run.op(got is not None and _matches(q, got, oracle[q]))
    run.samples.update({f"{q}_s": t for q, t in times.items()})
    session_s, ewma_s = (statistics.median(times[q]) for q in REPLAY_PIPELINES)
    run.report.update(
        session_events_per_s=REPLAY_EVENTS / session_s,
        stateful_events_per_s=REPLAY_EVENTS / ewma_s,
    )
    return {"latency_ms": session_s * 1000.0, "latency_hi_ms": ewma_s * 1000.0}


def _replay(run, spark, build, name, data, spans: list, out: list | None = None):
    """One bounded replay: the catalog call runs the whole stream and
    returns a frame over its sink, which is then collected. Appends the
    call's span to ``spans`` and, given ``out``, its seconds to ``out``.
    Returns the collected result, or None if the replay raised."""
    try:
        t0 = time.perf_counter()
        with run.tracer.span("catalog.query") as sp:
            df = build(spark, data)
        if out is not None:
            out.append(time.perf_counter() - t0)
        if sp is not None:
            spans.append(sp)
        with run.tracer.span("exec.action"):
            return df.toPandas()
    except Exception as ex:
        print(f"{name}: {type(ex).__name__}: {str(ex)[:300]}", file=sys.stderr)
        return None


def local1_baseline(run) -> dict[str, float]:
    """The same stream_replay run at local[1] in a child process: the
    single-threaded baseline, recorded but not gated."""
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
           "--workload", "stream_replay", "--seed", str(run.seed), "--seconds", "0",
           "--trace", "0", "--cores", "1"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=150)
    if p.returncode != 0:
        raise RuntimeError(f"local[1] baseline failed: {p.stderr[-2000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    run.attempted += res["attempted"]
    run.failed += res["failed"]
    return {k: res["metrics"][k]["value"] for k in ("latency_ms", "latency_hi_ms")}


class _StreamProbe:
    """Traced-run collector for the catalog's streaming queries: progress
    events from a ``StreamingQueryListener`` and sink write durations."""

    def __init__(self, run):
        from pyspark.sql.streaming import StreamingQueryListener

        self.run, self.progress, self.sink_ms, self.run_ids, self.loops = run, [], [], [], []
        probe = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                probe.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                probe.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        run.spark.streams.addListener(self.listener)

    def finish(self, parents: list[dict], measured: list[dict]) -> None:
        with self.run.tracer.span("trace.listener_drain"):
            time.sleep(1.0)  # listener events arrive asynchronously
        self.run.spark.streams.removeListener(self.listener)
        # a micro-batch goes under the query loop it ran in, if any
        progress_layers(self.run, self.progress, self.loops + parents, measured)
        if self.sink_ms:
            self.run.layer["sink.write_ms_p50"] = statistics.median(self.sink_ms)


class _patched_streaming:
    """In the traced run, time the calls a catalog stream makes into
    ``streaming.sources``, ``streaming.jobs``, ``streaming.stateful`` and
    ``streaming.sinks``, and into PySpark's query start and wait, by
    wrapping those names where the catalog looks them up."""

    # ("module[:class]", attribute, span name, layer metric that adds the seconds)
    TIMED = (
        ("flink_samples_spark.plans.catalog_streaming", "write_replay_files",
         "sources.write_replay_files", "source.prep_s"),
        ("flink_samples_spark.plans.catalog_streaming", "load_table", "sources.load_table",
         None),
        ("flink_samples_spark.plans.catalog_streaming", "file_replay_stream",
         "sources.file_replay_stream", None),
        ("flink_samples_spark.plans.catalog_streaming", "read_sink", "sinks.read_sink",
         "sink.readback_s"),
        ("flink_samples_spark.plans.catalog_streaming", "sink_to_batch", "sinks.sink_to_batch",
         "sink.readback_s"),
        ("flink_samples_spark.streaming.jobs", "session_count_stream",
         "jobs.session_count_stream", None),
        ("flink_samples_spark.streaming.stateful", "ewma_with_state",
         "stateful.ewma_with_state", None),
        ("pyspark.sql.streaming.readwriter:DataStreamWriter", "start", "jobs.query_start", None),
        ("pyspark.sql.streaming.query:StreamingQuery", "awaitTermination", "jobs.query_loop",
         None),
        # the catalog's own collects (e.g. of its end-of-stream sentinel row)
        ("pyspark.sql.classic.dataframe:DataFrame", "toPandas", "exec.collect", None),
    )

    def __init__(self, run, probe):
        self.run, self.probe, self.saved = run, probe, []

    def __enter__(self):
        if not self.probe:
            return self
        run, probe = self.run, self.probe

        def timed(fn, label, metric):
            def wrapper(*a, **kw):
                t0 = time.perf_counter()
                with run.tracer.span(label) as sp:
                    out = fn(*a, **kw)
                if metric:
                    run.layer[metric] += time.perf_counter() - t0
                if label == "jobs.query_loop":
                    probe.loops.append(sp)
                return out
            return wrapper

        def sink_factory(fn):
            def factory(*a, **kw):
                write = fn(*a, **kw)

                def timed_write(df, batch_id):
                    t0 = time.perf_counter()
                    write(df, batch_id)
                    probe.sink_ms.append((time.perf_counter() - t0) * 1000.0)
                return timed_write
            return factory

        cs = "flink_samples_spark.plans.catalog_streaming"
        for path, attr, label, metric in self.TIMED:
            self._wrap(path, attr, lambda fn: timed(fn, label, metric))
        self._wrap(cs, "idempotent_parquet_sink", sink_factory)
        return self

    def _wrap(self, path: str, attr: str, wrap) -> None:
        import importlib

        mod, _, cls = path.partition(":")
        owner = importlib.import_module(mod)
        if cls:
            owner = getattr(owner, cls)
        fn = owner.__dict__[attr]
        self.saved.append((owner, attr, fn))
        setattr(owner, attr, wrap(fn))

    def __exit__(self, *exc):
        for owner, attr, fn in reversed(self.saved):
            setattr(owner, attr, fn)
        return False


PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def progress_layers(run, progress: list[dict], parents: list[dict], measured: list[dict]) -> None:
    """One span per micro-batch from ``StreamingQueryProgress`` records,
    with its phases laid end to end, under whichever of ``parents`` it ran
    in; and the micro-batch, source and state metrics of the batches that
    ran in one of ``measured``."""
    to_perf = time.time() - time.perf_counter()
    placed = []
    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() - to_perf
        parent = next((s for s in parents if s["start"] <= start <= s["end"]), None)
        if parent is not None:
            placed.append((p, start, parent))
    for p, start, parent in placed:
        d = p["durationMs"]
        end = start + d.get("triggerExecution", 0) / 1000.0
        run.tracer.add("microbatch", start, end, parent, batch=p["batchId"])
        mb = run.tracer.spans[-1]
        t = start
        for ph in PHASES:
            dt = d.get(ph, 0) / 1000.0
            if dt:
                run.tracer.add(f"microbatch.{ph}", t, min(t + dt, end), mb)
                t += dt
    progress = [p for p, start, _ in placed
                if any(m["start"] <= start <= m["end"] for m in measured)]
    if not progress:
        return
    L = run.layer

    def med(key):
        return statistics.median([p["durationMs"].get(key, 0) for p in progress])

    L["batch.count"] = len(progress)
    L["batch.input_rows"] = sum(p["numInputRows"] for p in progress)
    L["batch.trigger_ms_p50"] = med("triggerExecution")
    L["batch.add_batch_ms_p50"] = med("addBatch")
    L["batch.query_planning_ms_p50"] = med("queryPlanning")
    L["batch.wal_commit_ms_p50"] = med("walCommit")
    L["batch.commit_offsets_ms_p50"] = med("commitOffsets")
    L["source.latest_offset_ms"] = med("latestOffset")
    L["source.get_batch_ms"] = med("getBatch")
    ops = [p.get("stateOperators", []) for p in progress]
    if any(ops):
        L["state.rows_total"] = max(o["numRowsTotal"] for b in ops for o in b)
        L["state.memory_bytes"] = max(o["memoryUsedBytes"] for b in ops for o in b)
        L["state.commit_ms"] = statistics.median(
            [sum(o.get("commitTimeMs", 0) for o in b) for b in ops]
        )
        L["state.rows_dropped_by_watermark"] = sum(
            o.get("numRowsDroppedByWatermark", 0) for b in ops for o in b
        )


# ---------------------------------------------------------------- live ----
LIVE_RATE = 2_000  # events per second
LIVE_FILES_PER_S = 16
LIVE_WARMUP_S = 10.0
LIVE_SCHEMA = "id long, ts timestamp"


def stream_live(run) -> dict[str, float]:
    """Open loop: a separate generator process writes a parquet file every
    1/16 s (2,000 events/s, every 10th event 1-10 s late) whatever the
    engine does. The reference's windowed-sum job reads them through
    ``file_replay_stream`` (every available file per trigger) →
    ``windowed_sum_stream`` (11 s watermark, 10 s tumbling sum) →
    ``idempotent_sink``. Latency per file runs from when it was due to
    the commit of the micro-batch that read it, taken from the checkpoint
    after the run; files due in the first 10 s are warm-up."""
    from flink_samples_spark.streaming.jobs import windowed_sum_stream
    from flink_samples_spark.streaming.sinks import idempotent_sink, read_sink, sink_to_batch
    from flink_samples_spark.streaming.sources import file_replay_stream

    interval = 1.0 / LIVE_FILES_PER_S
    per_file = LIVE_RATE // LIVE_FILES_PER_S
    n_files = int((LIVE_WARMUP_S + run.seconds) * LIVE_FILES_PER_S)
    in_dir, cp, sink = run.dir("in"), run.dir("cp"), run.dir("sink")
    ledger_path = os.path.join(run.work, "ledger.json")

    spark = run.start_session()
    t_warm = time.perf_counter()
    t0 = time.time() + 2.0
    gen_proc = subprocess.Popen(
        [sys.executable, gen.__file__, in_dir, ledger_path, str(run.seed), repr(t0),
         repr(interval), str(per_file), str(n_files)]
    )
    sink_ms: list[float] = []
    write = idempotent_sink(sink)

    def timed_write(df, batch_id):
        s = time.perf_counter()
        write(df, batch_id)
        sink_ms.append((time.perf_counter() - s) * 1000.0)

    progress: dict[int, dict] = {}
    try:
        with run.tracer.span("sources.file_replay_stream"):
            stream = file_replay_stream(spark, in_dir, LIVE_SCHEMA, files_per_trigger=1_000_000)
        with run.tracer.span("jobs.windowed_sum_stream"):
            out = windowed_sum_stream(stream)
        query = (
            out.writeStream.outputMode("append")
            .foreachBatch(timed_write if run.traced else write)
            .option("checkpointLocation", cp)
            .start()
        )
        try:
            with run.tracer.span("stream.warmup") as warmup:
                _poll(query, progress, until=t0 + LIVE_WARMUP_S)
            run.setup_done(t_warm)
            group = str(query.runId)
            before = run.counters.jobs(group) if run.traced else None
            with run.tracer.span("stream.measure") as measure:
                _poll(query, progress, until=t0 + (n_files + 1) * interval)
            run.measured()
            if run.traced:
                _add_exec(run, run.counters.jobs(group) - before,
                          measure["end"] - measure["start"])
            with run.tracer.span("stream.drain") as drain:
                rc = gen_proc.wait(timeout=30)
                if rc != 0:
                    raise RuntimeError(f"live generator exited with {rc}")
                with open(ledger_path) as f:
                    ledger = json.load(f)
                # the sentinel's batch moves the watermark; the batch after
                # it emits every remaining real window
                sentinel = ledger[-1]["file"]
                deadline = time.time() + 60
                while True:
                    _poll(query, progress, until=time.time() + 0.5)
                    b = metrics.file_batches(cp).get(sentinel)
                    if b is not None and max(metrics.commit_times(cp)) > b:
                        break
                    if time.time() > deadline:
                        raise RuntimeError("stream did not drain within 60 s of the last file")
        finally:
            query.stop()
        with run.tracer.span("sinks.read_sink"):
            t = time.perf_counter()
            rows = sink_to_batch(read_sink(spark, sink), out.schema).collect()
            run.layer["sink.readback_s"] = time.perf_counter() - t
    finally:
        if gen_proc.poll() is None:
            gen_proc.kill()
        gen_proc.wait()

    real = ledger[:-1]
    batches, commits = metrics.file_batches(cp), metrics.commit_times(cp)
    lat, missing = metrics.file_latencies(real, batches, commits, t0 + LIVE_WARMUP_S)
    p50, p90 = metrics.percentile(lat, 0.5), metrics.percentile(lat, 0.9)

    # exactly-once check against the generator's ledger
    batch_ts: dict[int, list[int]] = {}
    for e in real:
        if e["file"] in batches:
            batch_ts.setdefault(batches[e["file"]], []).extend(e["ts_us"])
    dropped = metrics.dropped_by_watermark(batch_ts, 11_000_000)
    spark_dropped = sum(
        o.get("numRowsDroppedByWatermark", 0)
        for p in progress.values() for o in p.get("stateOperators", [])
    )
    expected: dict[int, int] = {}
    for e in real:
        for w, s in e["windows"].items():
            expected[int(w)] = expected.get(int(w), 0) + s
    got = [(int(r["window_start"].timestamp()), int(r["sum_id"])) for r in rows]
    # the profile's lateness (at most 10 s) stays inside the 11 s watermark
    # delay, so the ledger expects every event in its window; a drop would
    # show both here and in the drop-count check below
    bad = metrics.window_mismatches(expected, got)
    for e in real:
        run.op(e["file"] not in missing and not bad.intersection(int(w) for w in e["windows"]))
    run.op(dropped == spark_dropped)
    if missing or bad or dropped != spark_dropped:
        print(f"stream_live check: uncommitted files {missing[:5]} ({len(missing)}), "
              f"bad windows {sorted(bad)[:5]} ({len(bad)}), watermark drops "
              f"{spark_dropped} reported vs {dropped} expected", file=sys.stderr)

    run.report.update(latency_p50_ms=p50, latency_p90_ms=p90, latency_samples=len(lat))
    run.samples["file_latency_ms"] = lat
    L = run.layer
    L["gen.events"] = sum(e["rows"] for e in real)
    L["gen.late_ms_max"] = metrics.generator_lateness_ms(ledger)
    measured = {batches[e["file"]] for e in real
                if e["due"] >= t0 + LIVE_WARMUP_S and e["file"] in batches}
    counts: dict[int, int] = {}
    for b in batches.values():
        if b in measured:
            counts[b] = counts.get(b, 0) + 1
    L["source.backlog_files_max"] = max(counts.values())
    if run.traced:
        progress_layers(run, [progress[b] for b in sorted(progress)], [warmup, measure, drain],
                        [measure])
        L["sink.write_ms_p50"] = statistics.median(sink_ms)
    L["state.rows_dropped_by_watermark"] = spark_dropped
    return {"latency_ms": p50, "latency_hi_ms": p90}


def _poll(query, progress: dict[int, dict], until: float) -> None:
    """Wait until ``until`` (wall clock), keeping every progress record the
    query reports (its recent-progress buffer holds only the last 100)."""
    while True:
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        for p in query.recentProgress:
            progress[p.batchId] = json.loads(p.json)
        left = until - time.time()
        if left <= 0:
            return
        time.sleep(min(left, 2.0))


WORKLOADS = {
    "stream_live": stream_live,
    "stream_replay": stream_replay,
    "batch_relational": batch_relational,
}
