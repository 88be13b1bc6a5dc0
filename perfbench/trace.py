"""The traced run: spans around each layer's entry points, recorded from
the benchmark's own code, and Spark counters attributed to them.

``Tracer.install`` replaces module attributes of the package (the layer
entry points the engine, scheduler and streaming code call) with
wrappers, and ``uninstall`` puts the originals back; no package file is
edited. Each wrapper records a span (name, start, end, parent, run id)
and sets a Spark job group in its own thread, so every job is
attributed to the innermost span of the thread that submitted it. The
program's thread pools do not carry Spark local properties across
threads, so the tracer also wraps ``ThreadPoolExecutor.submit`` to hand
the submitting thread's span stack to the pool thread.

Counters come from the Spark status REST API (UI on) after the window;
streaming progress from a ``StreamingQueryListener`` the benchmark
registers. Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import datetime as dt
import functools
import itertools
import json
import os
import statistics
import threading
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from .stats import percentile, self_time, union_length


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run: int
    group: str
    info: dict


#: (module path, attribute path, span name) of every wrapped entry point
ENTRY_POINTS = (
    ("openaq_lcs_fetch_spark.scheduler", "run_tick", "scheduler.run_tick"),
    ("openaq_lcs_fetch_spark.engine", "Engine.run_source", "engine.run_source"),
    ("openaq_lcs_fetch_spark.engine", "processor", "providers.processor"),
    ("openaq_lcs_fetch_spark.engine", "write_measures_csv", "sinks.measures.write"),
    ("openaq_lcs_fetch_spark.engine", "write_measures_json", "sinks.measures.write"),
    ("openaq_lcs_fetch_spark.engine", "diff_upsert", "sinks.stations.diff_upsert"),
    ("openaq_lcs_fetch_spark.engine", "summarize", "sinks.log.summarize"),
    ("openaq_lcs_fetch_spark.engine", "advance", "sources.checkpoint.advance"),
    ("openaq_lcs_fetch_spark.engine", "publish", "sinks.log.publish"),
    ("openaq_lcs_fetch_spark.sources.checkpoint", "CheckpointStore.load", "sources.checkpoint.load"),
    ("openaq_lcs_fetch_spark.streaming.provider_stream", "keyed_map_stream", "streaming.keyed_map_stream"),
    ("openaq_lcs_fetch_spark.streaming.provider_stream", "start_to_parquet", "streaming.start_to_parquet"),
    ("openaq_lcs_fetch_spark.streaming.pipeline", "read_events_stream", "streaming.read_events_stream"),
    ("openaq_lcs_fetch_spark.streaming.pipeline", "dedup_then_hourly_counts", "streaming.dedup_then_hourly_counts"),
    ("openaq_lcs_fetch_spark.streaming.pipeline", "stream_state_partitions", "streaming.stream_state_partitions"),
    ("openaq_lcs_fetch_spark.streaming.pipeline", "run_available_now", "streaming.run_available_now"),
    # the registry's streaming queries bind these names at import
    ("openaq_lcs_fetch_spark.plans.streaming_q", "stream_state_partitions", "streaming.stream_state_partitions"),
    ("openaq_lcs_fetch_spark.plans.streaming_q", "run_available_now", "streaming.run_available_now"),
)



def _resolve(module: str, attr: str):
    import importlib

    owner = importlib.import_module(module)
    *path, leaf = attr.split(".")
    for p in path:
        owner = getattr(owner, p)
    return owner, leaf


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.run = -1
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []
        self.progress: list[tuple[int, dict]] = []
        self._listener = None

    # -- span recording ---------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **info):
        """Record a span around the block and route the Spark jobs the
        block submits from this thread to its job group."""
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else None
        group = f"perfbench-{sid}"
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(group, name)
        stack.append(sid)
        rec = Span(sid, name, time.time(), 0.0, parent, self.run, group, info)
        try:
            yield rec
        finally:
            rec.end = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                before = _sink_listing(name, args)
                out = fn(*args, **kwargs)
            _record_result(rec, name, args, out, before)
            return out

        return wrapper

    def _wrap_submit(self, submit):
        tracer = self

        @functools.wraps(submit)
        def wrapper(pool, fn, /, *args, **kwargs):
            stack = list(tracer._stack())

            def carried(*a, **kw):
                tracer._local.stack = list(stack)
                try:
                    return fn(*a, **kw)
                finally:
                    tracer._local.stack = []

            return submit(pool, carried, *args, **kwargs)

        return wrapper

    def install(self) -> None:
        for module, attr, name in ENTRY_POINTS:
            owner, leaf = _resolve(module, attr)
            orig = owner.__dict__[leaf] if isinstance(owner, type) else getattr(owner, leaf)
            self._saved.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrap(orig, name))
        self._saved.append((ThreadPoolExecutor, "submit", ThreadPoolExecutor.submit))
        ThreadPoolExecutor.submit = self._wrap_submit(ThreadPoolExecutor.submit)
        self._listen()

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._saved):
            setattr(owner, leaf, orig)
        self._saved.clear()

    def _listen(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    tracer.progress.append((_epoch_iso(p.timestamp), {
                        "durationMs": dict(p.durationMs),
                        "numInputRows": p.numInputRows,
                        "stateRows": sum(s.numRowsTotal for s in p.stateOperators),
                    }))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        if self._listener is None:
            self._listener = Progress()
            self.spark.streams.addListener(self._listener)

    # -- counters ---------------------------------------------------------

    def _rest(self, path: str):
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    def _drain(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # a private Spark API; fall back to a pause
            time.sleep(2.0)

    def jobs(self, since: float) -> list[dict]:
        """Jobs submitted since ``since`` (epoch s), each with its stage
        metrics summed in."""
        self._drain()
        stages = {}
        for s in self._rest("/stages?status=complete") + self._rest("/stages?status=failed"):
            stages.setdefault(s["stageId"], []).append(s)
        out = []
        for j in self._rest("/jobs"):
            sub = _epoch(j.get("submissionTime"))
            if sub is None or sub < since:
                continue
            agg = {k: 0 for k in _STAGE_KEYS}
            agg["stages"] = 0
            for sid in j.get("stageIds", []):
                for s in stages.get(sid, []):
                    agg["stages"] += 1
                    for k in _STAGE_KEYS:
                        agg[k] += s.get(k, 0) or 0
            agg.update(
                group=j.get("jobGroup"), start=sub,
                end=_epoch(j.get("completionTime")) or sub,
                tasks=j.get("numTasks", 0), failed=j.get("numFailedTasks", 0),
            )
            out.append(agg)
        return out

    # -- metrics ----------------------------------------------------------

    def metrics(self, wl, ops, base_ops, setup_parts, since: float) -> dict[str, tuple[float, str]]:
        """Every per-layer metric, name -> (value, unit)."""
        jobs = self.jobs(since)
        time.sleep(0.5)  # let the last streaming progress events arrive
        isolated = provider_isolated(self, wl)
        m = layer_metrics(self.spans, jobs, self.progress, ops, base_ops, setup_parts, isolated)
        self.write_spans(wl)
        return m

    def write_spans(self, wl) -> None:
        root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_work", "spans")
        os.makedirs(root, exist_ok=True)
        with open(os.path.join(root, f"{wl.name}-{wl.seed}.json"), "w") as f:
            json.dump([asdict(s) for s in self.spans], f, default=str)


_STAGE_KEYS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes", "inputRecords",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return dt.datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def _epoch_iso(ts: str) -> float:
    """Epoch seconds of a streaming progress timestamp (ISO-8601, Z)."""
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _sink_listing(name: str, args) -> set[str] | None:
    if name != "sinks.measures.write":
        return None
    from .checks import sink_files

    return sink_files(args[1], args[2])


def _record_result(rec: Span, name: str, args, out, before) -> None:
    """Counts a span reports from its call's own result."""
    if name == "sinks.measures.write":
        from .checks import sink_files

        added = sink_files(args[1], args[2]) - before
        rec.info["files"] = len(added)
        rec.info["bytes"] = sum(os.path.getsize(p) for p in added)
    elif name == "sinks.stations.diff_upsert" and isinstance(out, dict):
        rec.info["written"] = out.get("written", 0)
        rec.info["skipped"] = out.get("skipped_unchanged", 0)
    elif name == "engine.run_source" and isinstance(out, dict):
        rec.info["n_measures"] = out.get("n_measures", 0) or 0


def provider_isolated(tracer: Tracer, wl) -> dict:
    """Provider plan → Spark's ``noop`` sink, once per config the
    workload ingests, so provider execution is timed apart from the
    sinks (a sink span includes the upstream provider work)."""
    configs = wl.provider_configs()
    if not configs:
        return {}
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from openaq_lcs_fetch_spark.config import resolve_paths
    from openaq_lcs_fetch_spark.providers import processor

    since = time.time()
    out = {"plan_s": 0.0, "exec_s": 0.0, "rows": 0}
    for cfg in configs:
        with tracer.span("providers.isolated"):
            t0 = time.perf_counter()
            measures, _stations = processor(tracer.spark, resolve_paths(cfg, wl.data_root))
            t1 = time.perf_counter()
            obs = Observation()
            measures.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                "overwrite"
            ).save()
            t2 = time.perf_counter()
        out["plan_s"] += t1 - t0
        out["exec_s"] += t2 - t1
        out["rows"] += obs.get["n"]
    jobs = tracer.jobs(since)
    out["cpu_s"] = sum(j["executorCpuTime"] for j in jobs) / 1e9
    return out


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(spans, jobs, progress, ops, base_ops, setup_parts, isolated):
    """Every per-layer metric, name -> (value, unit), from the spans,
    the jobs of the traced window, the streaming progress events, the
    traced and untraced operations, the set-up parts and the isolated
    provider runs. A layer that did not run reads 0."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    jobs_by_group: dict[str, list[dict]] = {}
    for j in jobs:
        jobs_by_group.setdefault(j["group"], []).append(j)

    def subtree(s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids.get(x.id, ()))
        return out

    def sub_jobs(s: Span) -> list[dict]:
        return [j for x in subtree(s) for j in jobs_by_group.get(x.group, ())]

    def named(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    def dur(s: Span) -> float:
        return s.end - s.start

    def own_self(s: Span) -> float:
        return self_time(s.start, s.end, [(c.start, c.end) for c in kids.get(s.id, ())])

    m: dict[str, tuple[float, str]] = {}
    get_spark, first_read = setup_parts
    m["session.get_spark_s"] = (_med(get_spark), "s")
    m["session.first_read_s"] = (_med(first_read), "s")

    ticks = named("scheduler.run_tick")
    m["scheduler.run_tick_s"] = (_med(dur(t) for t in ticks), "s")
    waits = [c.start - t.start for t in ticks for c in kids.get(t.id, ()) if c.name == "engine.run_source"]
    m["scheduler.queue_wait_s_p50"] = (_med(waits), "s")
    m["scheduler.overlap"] = (
        _med(sum(dur(c) for c in kids.get(t.id, ())) / dur(t) for t in ticks if dur(t) > 0), "ratio"
    )
    m["scheduler.run_tick.self_share"] = (
        _med(own_self(t) / dur(t) for t in ticks if dur(t) > 0), "ratio"
    )

    runs = named("engine.run_source")
    m["engine.run_source_s_p50"] = (_med(dur(s) for s in runs), "s")
    m["engine.run_source.self_s"] = (_med(own_self(s) for s in runs), "s")
    m["engine.run_source.self_share"] = (
        _med(own_self(s) / dur(s) for s in runs if dur(s) > 0), "ratio"
    )
    m["engine.run_source.jobs"] = (_med(len(sub_jobs(s)) for s in runs), "count")
    m["engine.run_source.tasks"] = (_med(sum(j["tasks"] for j in sub_jobs(s)) for s in runs), "count")

    m["providers.plan_s"] = (_med(dur(s) for s in named("providers.processor")), "s")
    m["providers.exec_s"] = (isolated.get("exec_s", 0.0), "s")
    m["providers.rows_out"] = (isolated.get("rows", 0), "count")
    m["providers.executor_cpu_s"] = (isolated.get("cpu_s", 0.0), "s")

    rec_in = [sum(j["inputRecords"] for j in sub_jobs(s)) for s in runs]
    m["sources.input_records"] = (_med(rec_in), "count")
    m["sources.input_bytes"] = (_med(sum(j["inputBytes"] for j in sub_jobs(s)) for s in runs), "B")
    landed = sum(s.info.get("n_measures", 0) for s in runs)
    m["sources.read_amplification"] = (sum(rec_in) / landed if landed else 0.0, "ratio")
    m["sources.checkpoint.load_s"] = (_med(dur(s) for s in named("sources.checkpoint.load")), "s")
    m["sources.checkpoint.advance_s"] = (_med(dur(s) for s in named("sources.checkpoint.advance")), "s")

    writes = named("sinks.measures.write")
    m["sinks.measures.write_s"] = (_med(dur(s) for s in writes), "s")
    m["sinks.measures.files"] = (_med(s.info.get("files", 0) for s in writes), "count")
    m["sinks.measures.bytes"] = (_med(s.info.get("bytes", 0) for s in writes), "B")

    ups = named("sinks.stations.diff_upsert")
    m["sinks.stations.diff_upsert_s"] = (_med(dur(s) for s in ups), "s")
    m["sinks.stations.jobs"] = (_med(len(sub_jobs(s)) for s in ups), "count")
    incoming = sum(s.info.get("written", 0) + s.info.get("skipped", 0) for s in ups)
    skipped = sum(s.info.get("skipped", 0) for s in ups)
    m["sinks.stations.elided_ratio"] = (skipped / incoming if incoming else 0.0, "ratio")

    pubs = [dur(s) for s in named("sinks.log.publish")]
    m["sinks.log.publish_s_p50"] = (_med(pubs), "s")
    m["sinks.log.publish_s_p95"] = (percentile(pubs, 95) if pubs else 0.0, "s")
    m["sinks.log.summarize_s"] = (_med(dur(s) for s in named("sinks.log.summarize")), "s")

    from .workloads import MIX, REPLAY_SPANS

    traced_runs = sorted({o.index for o in ops})
    stream_spans = [s for s in spans if s.name in REPLAY_SPANS]
    # a progress event belongs to the op whose replay span covers its
    # trigger time (events arrive asynchronously, after the fact)
    prog = []
    for ts, p in progress:
        for s in stream_spans:
            if s.start - 0.5 <= ts <= s.end:
                prog.append((s.run, p))
                break

    def per_op(value) -> float:
        """Median over traced operations of ``value(run)``; 0 when the
        workload ran no replay."""
        return _med(value(r) for r in traced_runs) if stream_spans else 0.0

    m["streaming.replay_s"] = (per_op(lambda r: sum(dur(s) for s in stream_spans if s.run == r)), "s")
    m["streaming.batches"] = (per_op(lambda r: sum(1 for run, _p in prog if run == r)), "count")
    for key in ("addBatch", "queryPlanning", "walCommit"):
        m[f"streaming.{key}_ms"] = (
            per_op(lambda r: sum(p["durationMs"].get(key, 0) for run, p in prog if run == r)), "ms"
        )
    m["streaming.state_rows"] = (
        per_op(lambda r: sum(p["stateRows"] for run, p in prog if run == r)), "count"
    )

    gaps = []
    for q in MIX:
        qs = named(f"plans.{q}")
        m[f"plans.{q}_s"] = (_med(dur(s) for s in qs), "s")
    for r in traced_runs:
        gap = 0.0
        for s in spans:
            # batch queries only: a streaming query's micro-batch jobs are
            # submitted from the stream's own thread, outside the span's group
            if s.run == r and s.name.startswith("plans.") and s.name not in REPLAY_SPANS:
                js = sub_jobs(s)
                gap += dur(s) - union_length((max(j["start"], s.start), min(j["end"], s.end)) for j in js)
        gaps.append(gap)
    m["plans.driver_gap_s"] = (_med(gaps) if any(s.name.startswith("plans.") for s in spans) else 0.0, "s")

    # every job the traced window submitted, per traced operation
    n_ops = max(1, len(ops))
    window_jobs = jobs
    m["spark.jobs"] = (len(window_jobs) / n_ops, "count")
    m["spark.stages"] = (sum(j["stages"] for j in window_jobs) / n_ops, "count")
    m["spark.tasks"] = (sum(j["tasks"] for j in window_jobs) / n_ops, "count")
    m["spark.executor_run_s"] = (sum(j["executorRunTime"] for j in window_jobs) / 1e3 / n_ops, "s")
    m["spark.executor_cpu_s"] = (sum(j["executorCpuTime"] for j in window_jobs) / 1e9 / n_ops, "s")
    m["spark.gc_s"] = (sum(j["jvmGcTime"] for j in window_jobs) / 1e3 / n_ops, "s")
    m["spark.shuffle_read_bytes"] = (sum(j["shuffleReadBytes"] for j in window_jobs) / n_ops, "B")
    m["spark.shuffle_write_bytes"] = (sum(j["shuffleWriteBytes"] for j in window_jobs) / n_ops, "B")
    m["spark.spill_bytes"] = (
        sum(j["memoryBytesSpilled"] + j["diskBytesSpilled"] for j in window_jobs) / n_ops, "B"
    )
    m["spark.failed_tasks"] = (sum(j["failed"] for j in window_jobs) / n_ops, "count")

    traced = _med(o.wall for o in ops)
    untraced = _med(o.wall for o in base_ops)
    m["trace.op_s_p50"] = (traced, "s")
    m["trace.untraced_op_s_p50"] = (untraced, "s")
    m["trace.overhead_s"] = (traced - untraced, "s")
    return m
