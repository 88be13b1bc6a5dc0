"""Tests for the benchmark's own code.

Run from the repository root:

    python -m pytest perfbench/tests -q

The last test starts Spark and runs two hour ticks over every bundled
source config (about a minute); the others need no Spark.
"""

from __future__ import annotations

import csv
import gzip
import hashlib
import os
import subprocess
import sys
import time

import pytest

from perfbench import checks, feeds, stats
from perfbench.workloads import BackfillBulk, TickFanout


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_all(seed: int, root: str) -> list:
    tick = feeds.TickFeeds(seed, os.path.join(root, "data"))
    expected = []
    for _ in range(3):
        tick.write_tick()
        expected.append(tick.expected_tick())
    expected.append(feeds.write_backfill(seed, os.path.join(root, "data"), 7, 5))
    expected.append(feeds.write_stream_feed(seed, os.path.join(root, "data"), 2, 3, 2))
    expected.append(feeds.write_tables(seed, os.path.join(root, "tables"), 0.001))
    return expected


def test_same_seed_gives_byte_identical_feeds(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    exp_a, exp_b = _write_all(5, a), _write_all(5, b)
    _write_all(6, c)
    assert _tree_digest(a) == _tree_digest(b)
    assert exp_a == exp_b
    assert _tree_digest(a) != _tree_digest(c)
    # every bundled layout is there, including iqair's daily partitions
    names = set(_tree_digest(a))
    for must in ("data/iqair/day=", "data/clarity_datasources/", "data/purpleair/data.json",
                 "data/cmu/feed.csv", "data/airgradient/slice_0000.csv", "data/aernode/slice_0002.jsonl",
                 "tables/lineitem.parquet", "tables/embeddings.parquet"):
        assert any(n.startswith(must) for n in names), must


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(list(range(10))) is None
    # 20 samples: p75 has 5 beyond, p50 would have 10 but is no tail
    # candidate, so nothing qualifies
    assert stats.tail_percentile(list(range(20))) is None
    assert stats.tail_percentile(list(range(40)))[0] == 75.0
    assert stats.tail_percentile(list(range(100)))[0] == 90.0
    assert stats.tail_percentile(list(range(199)))[0] == 90.0
    assert stats.tail_percentile(list(range(200)))[0] == 95.0
    assert stats.tail_percentile(list(range(1000)))[0] == 99.0
    assert stats.tail_percentile(list(range(10000)))[0] == 99.9
    p, v = stats.tail_percentile([float(x) for x in range(101)])
    assert (p, v) == (90.0, 90.0)


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 10.2]
    q1, _m, q3 = __import__("statistics").quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / 10.2)


def test_self_time_with_overlapping_children():
    # children overlap each other and one runs past the parent's end:
    # covered = [1, 6) + [8, 10) = 7 of the parent's 10 seconds
    assert stats.self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0), (8.0, 12.0)]) == pytest.approx(3.0)
    assert stats.self_time(0.0, 10.0, []) == pytest.approx(10.0)
    assert stats.self_time(0.0, 10.0, [(2.0, 3.0), (2.0, 3.0)]) == pytest.approx(9.0)
    assert stats.union_length([(0, 1), (0.5, 2), (5, 6)]) == pytest.approx(3.0)


def test_tree_cpu_counts_live_and_exited_descendants():
    from perfbench.run import tree_cpu_s

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.4: pass\n"
    before = tree_cpu_s()
    # a child that runs a grandchild to completion, then burns itself:
    # measured while the child is still alive
    child = subprocess.Popen([
        sys.executable, "-c",
        f"import subprocess, sys; subprocess.run([sys.executable, '-c', {burn!r}]); "
        f"exec({burn!r}); sys.stdin.read()",
    ], stdin=subprocess.PIPE)
    try:
        deadline = time.monotonic() + 20
        while tree_cpu_s() - before < 0.7 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert tree_cpu_s() - before >= 0.7
    finally:
        child.communicate(b"")
    assert tree_cpu_s() - before >= 0.7  # now through our cumulative fields


def _fake_sink(wl: BackfillBulk, out_root: str) -> str:
    """What a correct CSV sink run writes for the backfill feed."""
    scales = feeds.dim_rows(wl.cfg)
    rows = []
    with open(os.path.join(wl.data_root, "cmu", "feed.csv"), newline="") as f:
        for rec in csv.DictReader(f):
            for key, scale in scales.items():
                if rec[key] != feeds.SENTINEL:
                    rows.append((f"cmu-{rec['Anon_Name']}-{key}", float(rec[key]) * scale))
    path = os.path.join(out_root, "measures", "cmu", "part-00000.csv.gz")
    os.makedirs(os.path.dirname(path))
    with gzip.open(path, "wt", newline="") as f:
        w = csv.writer(f)
        w.writerow(["sensor_id", "measure", "timestamp"])
        for sid, m in rows:
            w.writerow([sid, repr(m), "2024-06-01T00:00:00Z"])
    return path


def test_output_check_passes_on_correct_sink(tmp_path):
    wl = BackfillBulk(3, str(tmp_path))
    wl.generate()
    out = str(tmp_path / "out")
    _fake_sink(wl, out)
    wl.outs.append((out, {"status": "fetcher/success"}))
    wl.check()
    assert wl.attempted == 1 and wl.failures == []


def test_corrupted_sink_file_fails_the_output_check(tmp_path):
    wl = BackfillBulk(3, str(tmp_path))
    wl.generate()
    out = str(tmp_path / "out")
    path = _fake_sink(wl, out)
    with gzip.open(path, "rt") as f:
        lines = f.read().splitlines()
    sid, measure, ts = lines[1].split(",")
    lines[1] = ",".join([sid, repr(float(measure) + 0.5), ts])  # one value off
    with gzip.open(path, "wt") as f:
        f.write("\n".join(lines) + "\n")
    wl.outs.append((out, {"status": "fetcher/success"}))
    wl.check()
    assert wl.attempted == 1 and len(wl.failures) == 1
    assert "landed" in wl.failures[0]


def test_corrupted_json_envelope_is_rejected(tmp_path):
    p = tmp_path / "part-0.json.gz"
    with gzip.open(p, "wt") as f:
        f.write('{"meta": {"schema": "v0"}, "measures": []}\n')
    with pytest.raises(ValueError):
        checks.json_measures([str(p)])


class _HourTick(TickFanout):
    """Every bundled config is due: the scheduler's top-of-hour tick."""

    frequencies = ("minute", "hour", "day")

    def minute_of_day(self, k: int) -> int:
        return 0


@pytest.mark.skipif(os.environ.get("PERFBENCH_SPARK_TESTS") != "1",
                    reason="starts Spark; set PERFBENCH_SPARK_TESTS=1")
def test_generator_model_matches_every_provider(tmp_path):
    """Two hour ticks over all bundled configs land exactly what the
    generator's model expects, with the missing feed as the only error."""
    from openaq_lcs_fetch_spark.session import get_spark

    wl = _HourTick(9, str(tmp_path))
    wl.generate()
    spark = get_spark("perfbench-tests", cpus=min(4, os.cpu_count() or 1))
    wl.start(spark)
    wl.op(0)
    wl.op(1)
    wl.check()
    assert wl.failures == []
    assert wl.attempted == 2 * len(wl.feeds.models)
    landed = {s for t in wl.ticks for s, (n, _sum) in t["expected"].items() if n}
    assert {"aernode", "airgradient", "clarity", "cpcb", "iqair", "lovemyair", "miri"} <= landed
