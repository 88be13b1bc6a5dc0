"""Layered product benchmark for openaq_lcs_fetch_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload tick_fanout --seed 1 --seconds 15 --trace 0

One process, one closed-loop client, ``local[N]`` with N = min(4, nproc).
The run generates its inputs from ``--seed`` (untimed), sets the session
up five times (timed; the last session is kept), runs two untimed
warm-up operations, then runs operations until ``--seconds`` have
passed,
checks every output, and prints:

* a noise record (nproc, N, loadavg at start and end, CPU steal, and
  each timed operation's wall and CPU seconds);
* every metric the workload defines, by name with its unit;
* as the last line, one JSON object ``{correct, attempted, failed,
  metrics}``. With ``--trace 0`` the metrics are the end-to-end ones in
  BENCHMARK.json; with ``--trace 1`` they are the per-layer ones, taken
  from spans recorded around each layer's entry points.

Everything it writes stays under ``.perfbench_work/`` in the checkout,
which is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5
#: untimed operations before the window (indices -WARMUPS .. -1): an
#: operation's CPU seconds still fall by 10-15 % from a JVM's first timed
#: operation to its second (C1 compiles, codegen and plan caches, G1
#: cycles), so one warm-up is not enough
WARMUPS = 2
#: the end-to-end metrics BENCHMARK.json bounds (the JSON line of --trace 0)
BOUNDED = ("setup_s", "op_cpu_s_p50", "rows_per_cpu_s")


def _loadavg() -> str:
    try:
        with open("/proc/loadavg") as f:
            return " ".join(f.read().split()[:3])
    except OSError:
        return "n/a"


def _cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies); [] elsewhere."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def _steal_share(before: list[int], after: list[int]) -> str:
    """Share of CPU time the hypervisor stole between two samples: the
    co-tenant load that loadavg does not show."""
    if len(before) < 8 or len(after) < 8:
        return "n/a"
    delta = [b - a for a, b in zip(before, after)]
    return f"{delta[7] / max(1, sum(delta[:8])):.3f}"


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root`` (this
    one by default) and every descendant: the driver JVM and the Python
    workers it forks. Children that already exited count through their
    parent's cumulative fields. Time the hypervisor stole is not in it."""
    root = os.getpid() if root is None else root
    parent, used = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # exited while we looked
        pid = int(entry)
        parent[pid] = int(fields[1])
        used[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total = 0
    for pid, ticks in used.items():
        p = pid
        while p in parent and p != root:
            p = parent[p]
        if p == root:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _isolate(work: str) -> None:
    """Keep every temp file of the run (Python's, Spark's, the JVM's)
    under the work directory, and pin the process clock to UTC."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()


def _session(cpus: int, trace: bool):
    from openaq_lcs_fetch_spark import session as session_mod

    os.environ["SPARK_GRAFT_UI"] = "true" if trace else "false"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    return session_mod.get_spark("perfbench", cpus=cpus)


def _jvm_args(work: str) -> None:
    """JVM launch options: temp, warehouse and Derby paths inside the
    work dir, no perf-data file (HotSpot keeps it in /tmp whatever
    java.io.tmpdir says), the C1 JIT only, a smaller heap than the
    package default, no console progress bar, and an ephemeral UI port
    when the UI is on.

    C1 only: a run lives about a minute, and with C2 on, its background
    compiles add 6-10 CPU seconds, unevenly, to the first timed
    operations (measured on ``tick_fanout``); with C1 alone a run comes
    close to its steady state within the warm-up operations."""
    tmp = os.environ["TMPDIR"]
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options",
        shlex.quote(f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.ui.port=0",
        "pyspark-shell",
    ])


def setup(workload, cpus: int, trace: bool):
    """Session build + package ship + first footer read, ``SETUPS``
    times (the first one also launches the JVM). Returns the kept
    session, the set-up walls and CPU seconds, and the (build, first
    read) walls."""
    times, cpus_used, builds, reads = [], [], [], []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        spark = _session(cpus, trace)
        t1 = time.perf_counter()
        spark.read.parquet(os.path.join(workload.sf_dir, "events.parquet")).schema
        t2 = time.perf_counter()
        cpus_used.append(tree_cpu_s() - c0)
        times.append(t2 - t0)
        builds.append(t1 - t0)
        reads.append(t2 - t1)
        if i == 0:
            spark.sparkContext.setLogLevel("ERROR")
    return spark, times, cpus_used, (builds, reads)


T0 = time.perf_counter()


def phase(label: str) -> None:
    """Progress on stderr: elapsed seconds since the process started."""
    print(f"perfbench: {time.perf_counter() - T0:7.2f}s {label}", file=sys.stderr, flush=True)


def main(argv: list[str] | None = None) -> int:
    # a TERM (e.g. a harness timeout) unwinds through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "openaq_lcs_fetch_spark")):
        print(f"perfbench: package openaq_lcs_fetch_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import trace as trace_mod
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    nproc = os.cpu_count() or 1
    cpus = min(4, nproc)
    load_start = _loadavg()
    cpu_start = _cpu_times()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    _jvm_args(work)
    spark = None
    try:
        wl = WORKLOADS[args.workload](args.seed, work)
        phase("start")
        wl.generate()
        phase("inputs generated")
        spark, setup_times, setup_cpu, setup_parts = setup(wl, cpus, bool(args.trace))
        phase("set up")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        wl.start(spark)
        phase("bound")
        tracer = trace_mod.Tracer(spark) if args.trace else None

        def sample_rss() -> float:
            return _rss_mb(jvm_pid) + _rss_mb(os.getpid())

        for k in range(WARMUPS, 0, -1):  # warm-up: JIT, codegen, Python workers
            warm = wl.op(-k)
            phase(f"warm-up op {-k} ({warm.wall:.2f}s; items {[round(x, 2) for x in warm.items]})")
        peak = sample_rss()
        if tracer is not None:
            # untraced half first (same session), then the traced half
            base_ops = run_window(wl, args.seconds / 2, sample_rss, 0, None)
            traced_since = time.time()
            tracer.install()
            wl.tracer = tracer
            try:
                ops = run_window(wl, args.seconds / 2, sample_rss, len(base_ops), tracer)
            finally:
                wl.tracer = None
                tracer.uninstall()
        else:
            ops = run_window(wl, args.seconds, sample_rss, 0, None)
            base_ops = []
        peak = max([peak] + [o.rss for o in ops + base_ops])
        phase(f"window done (items {[round(x, 2) for o in ops for x in o.items]})")
        wl.check()
        phase("checked")
        load_end = _loadavg()
        steal = _steal_share(cpu_start, _cpu_times())

        report = end_to_end(wl, ops, setup_times, setup_cpu, peak)
        print(f"noise: nproc={nproc} N={cpus} loadavg_start={load_start} loadavg_end={load_end} "
              f"cpu_steal={steal} "
              f"ops={len(ops)} op_spread={_spread([o.wall for o in ops])} "
              f"op_walls={[round(o.wall, 3) for o in ops]} "
              f"op_cpu_s={[round(o.cpu, 2) for o in ops]} "
              f"setup_walls={[round(x, 3) for x in setup_times]} "
              f"setup_cpu_s={[round(x, 2) for x in setup_cpu]}")
        for name, (value, unit) in report.items():
            print(f"metric {args.workload} {name} = {value} {unit}")
        for f in wl.failures:
            print(f"FAILED: {f}")
        if tracer is not None:
            chosen = tracer.metrics(wl, ops, base_ops, setup_parts, traced_since)
            for name, (value, unit) in chosen.items():
                print(f"layer {args.workload} {name} = {value} {unit}")
        else:
            chosen = {k: report[k] for k in BOUNDED}
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}
        attempted = max(1, wl.attempted)
        print(json.dumps({
            "correct": not wl.failures,
            "attempted": attempted,
            "failed": len(wl.failures),
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def run_window(wl, seconds: float, sample_rss, start_index: int, tracer) -> list:
    """Closed loop: one operation at a time. A new operation starts only
    while the window still has room for one more at the median pace so
    far, so a run measures about ``seconds`` (and at least one op)."""
    ops = []
    t0 = time.perf_counter()
    i = start_index
    while not ops or (
        time.perf_counter() - t0 + statistics.median(o.wall for o in ops) <= seconds
    ):
        if tracer is not None:
            tracer.run = i
        c0 = tree_cpu_s()
        op = wl.op(i)
        op.cpu = tree_cpu_s() - c0
        op.rss = sample_rss()
        op.index = i
        ops.append(op)
        i += 1
    return ops


def _spread(vals: list[float]) -> str:
    from perfbench.stats import quartile_spread

    if len(vals) < 2:
        return "n/a"
    return f"{quartile_spread(vals):.4f}"


def end_to_end(wl, ops, setup_times, setup_cpu, peak_mb) -> dict[str, tuple[float, str]]:
    """Every end-to-end metric for the run, name -> (value, unit)."""
    from perfbench.stats import tail_percentile

    walls = [o.wall for o in ops]
    rates = [o.rows / o.wall for o in ops]
    out = {
        "setup_s": (statistics.median(setup_cpu), "s"),
        "setup_wall_s": (statistics.median(setup_times), "s"),
        "setup_cold_s": (setup_times[0], "s"),
        "op_cpu_s_p50": (statistics.median(o.cpu for o in ops), "s"),
        "rows_per_cpu_s": (statistics.median(o.rows / o.cpu for o in ops), "rows/cpu-s"),
        "op_s_p50": (statistics.median(walls), "s"),
        "rows_per_s": (statistics.median(rates), "rows/s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "ops_failed_ratio": (len(wl.failures) / max(1, wl.attempted), "ratio"),
        "op_count": (len(ops), "count"),
    }
    landed = sum(o.measures for o in ops)
    if landed and any(o.out_bytes for o in ops):
        out["sink_bytes_per_row"] = (sum(o.out_bytes for o in ops) / landed, "B/row")

    def timing(prefix: str, vals: list[float]) -> None:
        if not vals:
            return
        out[f"{prefix}_p50"] = (statistics.median(vals), "s")
        tail = tail_percentile(vals)
        if tail is not None:
            out[f"{prefix}_p{tail[0]:g}"] = (tail[1], "s")
        out[f"{prefix}_n"] = (len(vals), "count")

    if wl.name == "backfill_bulk":
        out["backfill_rows_per_s"] = out["rows_per_s"]
        timing("run_source_s", walls)
    elif wl.name == "tick_fanout":
        timing("tick_s", walls)
        timing("land_latency_s", wl.land_latencies({o.index for o in ops}))
    elif wl.name == "analytics_mix":
        timing("mix_pass_s", walls)
        timing("query_s", [x for o in ops for x in o.items])
    elif wl.name == "stream_replay":
        timing("replay_s", walls)
        out["stream_rows_per_s"] = out["rows_per_s"]
    return out


if __name__ == "__main__":
    sys.exit(main())
