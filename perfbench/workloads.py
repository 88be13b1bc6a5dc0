"""The four workloads. Each one generates its inputs from the seed
(untimed), runs one operation at a time through the package's public
entry points (closed loop, one client), and checks every output after
the timed window.

An operation is the workload's unit of user-visible work:

* ``backfill_bulk`` — one ``Engine.run_source`` into a fresh out-root;
* ``tick_fanout`` — one ``scheduler.run_tick`` over every bundled config;
* ``analytics_mix`` — one fixed-order pass over eight registry queries,
  the last a bounded streaming replay;
* ``stream_replay`` — one bounded provider-stream replay plus one
  bounded events replay.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from . import checks, feeds

#: the analytics mix, in this order: eight registry queries, one or two
#: per family (relational, window/ETL, text, similarity, temporal,
#: sessions, streaming). README.md says which of the first-proposed 13
#: were left out to fit the run-time budget and why.
MIX = (
    "pricing_summary",
    "latest_3_per_user",
    "hourly_rollup",
    "dedup_exact",
    "cosine_topk",
    "asof_calibration",
    "user_sessions",
    # bounded availableNow replay: events stream → dedup → hourly counts,
    # through streaming.run_available_now and stream_state_partitions
    "streaming_dedup_hourly",
)
#: the mix queries whose result no longer names its input files (the
#: streaming bridge returns checkpointed batches), with the tables they read
MIX_INPUTS = {"streaming_dedup_hourly": ("events",)}

#: input sizes (see README.md for how they were chosen)
BACKFILL_STATIONS, BACKFILL_HOURS = 100, 120
MIX_SF = 0.01
STREAM_SF = 0.01
STREAM_FILES, STREAM_DEVICES, STREAM_SETS = 8, 50, 6


@dataclass
class Op:
    """One timed operation: wall seconds, rows it processed, and
    per-item latencies (per query, per source landing, per replay)."""

    wall: float
    rows: int
    items: list[float] = field(default_factory=list)
    out_bytes: int = 0
    measures: int = 0
    rss: float = 0.0
    index: int = 0
    #: CPU seconds of the process tree during the operation
    cpu: float = 0.0


class Workload:
    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.data_root = os.path.join(work, "data")
        self.sf_dir = os.path.join(work, "tables")
        self.attempted = 0
        self.failures: list[str] = []
        #: set for the traced half of a traced run
        self.tracer = None

    def generate(self) -> None:
        """Write the seeded inputs (untimed). The base inputs are only
        the small tables whose events footer set-up reads."""
        feeds.write_tables(self.seed, self.sf_dir, 0.001)

    def start(self, spark) -> None:
        """Bind to the session (untimed)."""

    def op(self, index: int) -> Op:
        raise NotImplementedError

    def provider_configs(self) -> list[dict]:
        """Configs whose provider plans the traced run also executes in
        isolation (provider → noop sink)."""
        return []

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def check(self) -> None:
        """Compare every output with its expectation; failures land in
        ``self.failures`` (one entry per failed operation)."""

    def fail(self, what: str) -> None:
        self.failures.append(what)


# ---------------------------------------------------------------------------


class BackfillBulk(Workload):
    name = "backfill_bulk"

    def generate(self) -> None:
        super().generate()
        _wide_rows, self.exp_rows, self.exp_sum = feeds.write_backfill(
            self.seed, self.data_root, BACKFILL_STATIONS, BACKFILL_HOURS
        )
        self.cfg = feeds.backfill_config()
        self.outs: list[tuple[str, dict]] = []

    def start(self, spark) -> None:
        from openaq_lcs_fetch_spark.engine import Engine

        self.engine = Engine(spark)

    def op(self, index: int) -> Op:
        out_root = os.path.join(self.work, "backfill", str(index))
        t0 = time.perf_counter()
        log = self.engine.run_source(self.cfg, out_root, data_root=self.data_root)
        wall = time.perf_counter() - t0
        self.outs.append((out_root, log))
        nbytes = checks.tree_bytes(out_root)
        return Op(wall, self.exp_rows, [wall], nbytes, self.exp_rows)

    def provider_configs(self) -> list[dict]:
        return [self.cfg]

    def check(self) -> None:
        for out_root, log in self.outs:
            self.attempted += 1
            got = checks.landed(checks.sink_files(out_root, "cmu"))
            if log.get("status") != "fetcher/success" or got != (self.exp_rows, self.exp_sum):
                self.fail(f"backfill {out_root}: status {log.get('status')} landed {got} "
                          f"expected {(self.exp_rows, self.exp_sum)}")
            shutil.rmtree(out_root, ignore_errors=True)


# ---------------------------------------------------------------------------


class TickFanout(Workload):
    name = "tick_fanout"
    #: ticks land at minutes 1, 2, ... of the day, where the scheduler
    #: runs the minute group (README.md says why not the hour tick)
    frequencies: tuple[str, ...] = ("minute",)

    def minute_of_day(self, k: int) -> int:
        return k + 1

    def generate(self) -> None:
        super().generate()
        self.feeds = feeds.TickFeeds(self.seed, self.data_root, frequencies=self.frequencies)
        self.configs = self.feeds.run_configs()
        self.out_root = os.path.join(self.work, "tick_out")
        # per tick: start (epoch s), results, expectations, files landed
        self.ticks: list[dict] = []

    def start(self, spark) -> None:
        from openaq_lcs_fetch_spark import scheduler
        from openaq_lcs_fetch_spark.engine import Engine

        self.engine = Engine(spark)
        self.groups = scheduler.by_frequency(self.configs)
        self.scheduler = scheduler

    def op(self, index: int) -> Op:
        k = self.feeds.write_tick()
        expected = self.feeds.expected_tick()
        before = {s: checks.sink_files(self.out_root, s) for s in expected}
        bytes_before = checks.tree_bytes(self.out_root) if os.path.isdir(self.out_root) else 0
        start_epoch = time.time()
        t0 = time.perf_counter()
        # attribute looked up per call so a traced run sees its wrapper
        results = self.scheduler.run_tick(
            self.engine, self.groups, self.minute_of_day(k), self.out_root,
            data_root=self.data_root,
        )
        wall = time.perf_counter() - t0
        new_files = {
            s: checks.sink_files(self.out_root, s) - before[s] for s in expected
        }
        self.ticks.append({
            "k": k, "index": index, "start": start_epoch, "wall": wall, "results": results,
            "expected": expected, "files": new_files,
        })
        rows = sum(n for n, _s in expected.values())
        nbytes = checks.tree_bytes(self.out_root) - bytes_before
        return Op(wall, rows, [], nbytes, rows)

    def provider_configs(self) -> list[dict]:
        return [c for c in self.configs if c["meta"].get("source_name") != feeds.MISSING_FEED]

    def land_latencies(self, indices) -> list[float]:
        """Seconds from the start of each tick in ``indices`` to each
        source's successful return, read from the run log's publish
        timestamps (so pool queue wait is included)."""
        log = checks.run_log(self.out_root)
        out = []
        for t in self.ticks:
            if t["index"] not in indices:
                continue
            lo = t["start"]
            hi = lo + t["wall"] + 1.0
            for row in log:
                ts = row["run_ts"].replace(tzinfo=dt.timezone.utc).timestamp()
                if lo <= ts <= hi and row["status"] == "fetcher/success":
                    out.append(ts - lo)
        return out

    def check(self) -> None:
        log = checks.run_log(self.out_root)
        census: dict[tuple[str, str], int] = {}
        for row in log:
            census[(row["source"], row["status"])] = census.get((row["source"], row["status"]), 0) + 1
        n_ticks = len(self.ticks)
        for t in self.ticks:
            by_source = {r["source"]: r for r in t["results"]}
            for source, exp in t["expected"].items():
                self.attempted += 1
                res = by_source.get(source, {})
                want = "fetcher/error" if source == feeds.MISSING_FEED else "fetcher/success"
                if res.get("status") != want:
                    self.fail(f"tick {t['k']} {source}: status {res.get('status')} "
                              f"({res.get('message', '')[:120]})")
                    continue
                got = checks.landed(t["files"][source])
                if got != exp:
                    self.fail(f"tick {t['k']} {source}: landed {got} expected {exp}")
        for source in self.ticks[0]["expected"] if self.ticks else ():
            want = "fetcher/error" if source == feeds.MISSING_FEED else "fetcher/success"
            if census.get((source, want), 0) != n_ticks:
                self.fail(f"run log: {source} has {census.get((source, want), 0)} "
                          f"{want} rows for {n_ticks} ticks")
        others = {k: v for k, v in census.items() if k[1] == "fetcher/error" and k[0] != feeds.MISSING_FEED}
        if others:
            self.fail(f"run log: unexpected errors {others}")


# ---------------------------------------------------------------------------


class AnalyticsMix(Workload):
    name = "analytics_mix"

    def generate(self) -> None:
        self.counts = feeds.write_tables(self.seed, self.sf_dir, MIX_SF)
        self.results: list[dict] = []

    def start(self, spark) -> None:
        from openaq_lcs_fetch_spark.plans import QUERIES

        self.spark = spark
        self.queries = QUERIES
        self.query_rows: dict[str, int] = {}

    def op(self, index: int) -> Op:
        per_query, out = [], {}
        t0 = time.perf_counter()
        for q in MIX:
            t = time.perf_counter()
            with self.span(f"plans.{q}"):
                df = self.queries[q].fn(self.spark, self.sf_dir)
                out[q] = df.toPandas()
            per_query.append(time.perf_counter() - t)
            if q not in self.query_rows:
                # rows the query reads: row counts of its input tables
                # (taken once, in the warm-up pass)
                names = set(MIX_INPUTS.get(q, ())) | {
                    os.path.basename(f).split(".")[0] for f in df.inputFiles()
                }
                self.query_rows[q] = sum(self.counts.get(n, 0) for n in names)
        wall = time.perf_counter() - t0
        self.results.append(out)
        return Op(wall, sum(self.query_rows.values()), per_query)

    def check(self) -> None:
        from openaq_lcs_fetch_spark.tables import TABLE_NAMES
        from tests.test_oracle_parity import _canon

        con = checks.oracle_connection(self.sf_dir, TABLE_NAMES)
        oracle = {q: con.sql(self.queries[q].oracle).df() for q in MIX}
        oracle_rows = {q: _canon(oracle[q]) for q in MIX}
        for i, out in enumerate(self.results):
            for q in MIX:
                self.attempted += 1
                why = checks.compare_frames(out[q], oracle[q], _canon, oracle_rows[q])
                if why:
                    self.fail(f"pass {i} {q}: {why}")
        self.results.clear()


# ---------------------------------------------------------------------------


#: the benchmark's own span around each bounded replay (start → done):
#: the two of ``stream_replay`` and the streaming query of the mix
REPLAY_SPANS = (
    "streaming.replay.provider_stream", "streaming.replay.events", "plans.streaming_dedup_hourly",
)


class StreamReplay(Workload):
    name = "stream_replay"

    def generate(self) -> None:
        self.counts = feeds.write_tables(self.seed, self.sf_dir, STREAM_SF)
        self.lines, self.exp_rows, self.exp_sum = feeds.write_stream_feed(
            self.seed, self.data_root, STREAM_FILES, STREAM_DEVICES, STREAM_SETS
        )
        self.outs: list[str] = []
        self.hourly: list[list] = []

    def start(self, spark) -> None:
        from openaq_lcs_fetch_spark.config import resolve_paths

        self.spark = spark
        self.cfg = resolve_paths(feeds.stream_config(), self.data_root)

    def op(self, index: int) -> Op:
        from openaq_lcs_fetch_spark.streaming import pipeline, provider_stream

        out = os.path.join(self.work, "stream_out", str(index))
        ckpt = os.path.join(self.work, "stream_ckpt", str(index))
        t0 = time.perf_counter()
        with self.span(REPLAY_SPANS[0]):
            measures = provider_stream.keyed_map_stream(self.spark, self.cfg)
            q = provider_stream.start_to_parquet(measures, out, ckpt, available_now=True)
            q.awaitTermination()
        t1 = time.perf_counter()
        with self.span(REPLAY_SPANS[1]):
            res = pipeline.run_available_now(
                pipeline.dedup_then_hourly_counts(pipeline.read_events_stream(self.spark, self.sf_dir)),
                state_partitions=pipeline.stream_state_partitions(self.spark, self.sf_dir),
            )
            rows = res.collect()
        t2 = time.perf_counter()
        self.outs.append(out)
        self.hourly.append(rows)
        return Op(t2 - t0, self.lines + self.counts["events"], [t1 - t0, t2 - t1],
                  checks.tree_bytes(out), self.exp_rows)

    def check(self) -> None:
        for out in self.outs:
            self.attempted += 1
            got = checks.parquet_measures(out)
            if got != (self.exp_rows, self.exp_sum):
                self.fail(f"provider stream {out}: {got} expected {(self.exp_rows, self.exp_sum)}")
        want = checks.events_hourly_expected(self.sf_dir)
        for i, rows in enumerate(self.hourly):
            self.attempted += 1
            got = checks.events_hourly_actual(rows)
            if got != want:
                self.fail(f"events replay {i}: {len(got)} windows vs {len(want)} expected, "
                          f"{len(got ^ want)} differ")
        shutil.rmtree(os.path.join(self.work, "stream_out"), ignore_errors=True)
        shutil.rmtree(os.path.join(self.work, "stream_ckpt"), ignore_errors=True)


WORKLOADS = {w.name: w for w in (BackfillBulk, TickFanout, AnalyticsMix, StreamReplay)}
