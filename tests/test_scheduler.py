"""Scheduler fan-out + engine error path + approx-sketch bounds."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from openaq_lcs_fetch_spark.engine import Engine
from openaq_lcs_fetch_spark.scheduler import (
    by_frequency,
    due_sources,
    load_source_configs,
    run_tick,
)


def test_load_and_group_configs():
    configs = load_source_configs()
    assert len(configs) == 16
    groups = by_frequency(configs)
    # inactive sources (cmu, purpleair) excluded from their groups
    names = {c["meta"]["source_name"] for g in groups.values() for c in g}
    assert "cmu" not in names and "purpleair" not in names
    assert len(groups["minute"]) >= 2 and len(groups["hour"]) >= 8


def test_due_sources_cadence():
    groups = {
        "minute": [{"p": "m"}],
        "hour": [{"p": "h"}],
        "day": [{"p": "d"}],
    }
    assert len(due_sources(groups, 37)) == 1      # minute only
    assert len(due_sources(groups, 120)) == 2     # minute + hour
    assert len(due_sources(groups, 0)) == 3       # all three


def test_run_tick_isolates_failures(spark, tmp_path):
    feed = tmp_path / "ok.jsonl"
    feed.write_text(json.dumps({
        "device_id": "d1", "ts": "2024-06-01T00:00:00", "lat": 1.0, "lon": 2.0,
        "readings": {"pm25": "15.0"}}))
    good = {"schema": "v1", "provider": "keyed_map", "frequency": "minute",
            "active": True, "meta": {"path": str(feed)}}
    bad = {"schema": "v1", "provider": "keyed_map", "frequency": "minute",
           "active": True, "meta": {"path": str(tmp_path / "missing.jsonl")}}
    engine = Engine(spark)
    logs = run_tick(engine, by_frequency([bad, good]), 5, str(tmp_path / "out"))
    statuses = sorted(log["status"] for log in logs)
    assert statuses == ["fetcher/error", "fetcher/success"]
    # the failure was logged to the runlog table too (K5 error path)
    runlog = spark.read.parquet(str(tmp_path / "out" / "runlog"))
    assert {r.status for r in runlog.collect()} == {"fetcher/error", "fetcher/success"}


def test_approx_count_distinct_bounds(spark, sf_dir):
    """A4 scale variant: HLL estimate within 5% of exact."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    row = e.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    ).first()
    assert row["approx"] == pytest.approx(row["exact"], rel=0.05)


def test_incremental_run_emits_nothing_twice(spark, tmp_path):
    """T2 end-to-end: second run over the same feed is bounded by the
    stored high-water mark and emits zero measures."""
    feed = tmp_path / "feed.jsonl"
    feed.write_text(json.dumps({
        "device_id": "d1", "ts": "2024-06-01T00:00:00", "lat": 1.0, "lon": 2.0,
        "readings": {"pm25": "15.0"}}))
    cfg = {"schema": "v1", "provider": "keyed_map", "frequency": "hour",
           "active": True, "meta": {"path": str(feed), "incremental": "true"}}
    engine = Engine(spark)
    out = str(tmp_path / "out")
    r1 = engine.run_source(cfg, out)
    assert r1["n_measures"] == 1
    r2 = engine.run_source(cfg, out)
    assert r2["n_measures"] == 0  # everything before the watermark
    assert r2["checkpoint"]["high_water_mark"] == r1["checkpoint"]["high_water_mark"]
    # new data past the watermark flows through a third run
    feed.write_text(json.dumps({
        "device_id": "d1", "ts": "2024-06-01T02:00:00", "lat": 1.0, "lon": 2.0,
        "readings": {"pm25": "16.0"}}))
    r3 = engine.run_source(cfg, out)
    assert r3["n_measures"] == 1
    assert r3["checkpoint"]["high_water_mark"].startswith("2024-06-01T02")


@pytest.mark.parametrize("sink", ["csv", "json"])
def test_empty_incremental_rerun_takes_the_mark_from_the_write(spark, tmp_path, monkeypatch, sink):
    """An empty incremental re-run advances the checkpoint from the
    mark observed on its sink write (None: keep the stored one); it
    never runs a separate high-water-mark job over the provider plan."""
    from openaq_lcs_fetch_spark.sources import checkpoint

    feed = tmp_path / "feed.jsonl"
    feed.write_text(json.dumps({
        "device_id": "d1", "ts": "2024-06-01T00:00:00", "lat": 1.0, "lon": 2.0,
        "readings": {"pm25": "15.0"}}))
    cfg = {"schema": "v1", "provider": "keyed_map", "frequency": "hour", "active": True,
           "meta": {"path": str(feed), "incremental": "true", "sink": sink}}
    engine = Engine(spark)
    out = str(tmp_path / "out")
    r1 = engine.run_source(cfg, out)

    def no_mark_job(*args, **kwargs):
        raise AssertionError("high_water_mark re-evaluated the provider plan")

    monkeypatch.setattr(checkpoint, "high_water_mark", no_mark_job)
    r2 = engine.run_source(cfg, out)
    assert r2["n_measures"] == 0
    assert r2["checkpoint"]["high_water_mark"] == r1["checkpoint"]["high_water_mark"]


def _two_device_feed(tmp_path):
    """d1 at 00:00 (pm25 15.0, and no2 'inv', which normalizes to a null
    measure) and d2 at 01:30 (temperature 22.5): 3 measures, 2 stations."""
    lines = [
        {"device_id": "d1", "ts": "2024-06-01T00:00:00", "lat": 1.0, "lon": 2.0,
         "readings": {"pm25": "15.0", "no2": "inv"}},
        {"device_id": "d2", "ts": "2024-06-01T01:30:00", "lat": 3.0, "lon": 4.0,
         "readings": {"temp": "22.5"}},
    ]
    feed = tmp_path / "feed.jsonl"
    feed.write_text("\n".join(json.dumps(x) for x in lines))
    return str(feed)


@pytest.mark.parametrize("dry_run", [False, True])
@pytest.mark.parametrize("sink", ["csv", "json"])
def test_run_source_counts_and_outputs_by_sink(spark, tmp_path, sink, dry_run):
    """Every sink, dry or real, reports the same hand-computed counters
    (the null measure counts: they are taken before the sinks' null
    filter). A dry run leaves nothing on disk; a real run lands the two
    non-null measures and advances the checkpoint to the batch maximum."""
    import datetime as dt
    import os

    cfg = {"schema": "v1", "provider": "keyed_map", "frequency": "hour", "active": True,
           "meta": {"path": _two_device_feed(tmp_path), "incremental": "true", "sink": sink}}
    out = tmp_path / "out"
    log = Engine(spark).run_source(cfg, str(out), dry_run=dry_run)

    utc = dt.timezone.utc
    assert log["n_measures"] == 3 and log["n_stations"] == 2
    # collected timestamps are host-local naive datetimes
    assert log["from_ts"].astimezone(utc) == dt.datetime(2024, 6, 1, 0, 0, tzinfo=utc)
    assert log["to_ts"].astimezone(utc) == dt.datetime(2024, 6, 1, 1, 30, tzinfo=utc)
    if dry_run:
        assert log["status"] == "dry-run"
        assert not any((out / d).exists() for d in ("measures", "stations", "runlog"))
        assert not (out / "meta" / "keyed_map.json").exists()
        return
    assert log["status"] == "fetcher/success"
    assert log["checkpoint"]["high_water_mark"] == "2024-06-01T01:30:00.000000"
    assert os.path.exists(out / "meta" / "keyed_map.json")
    path = str(out / "measures" / "keyed_map")
    if sink == "json":
        landed = spark.read.json(path).select(F.explode("measures").alias("m")).select("m.sensor_id")
    else:
        landed = spark.read.option("header", "true").csv(path).select("sensor_id")
    assert sorted(r.sensor_id for r in landed.collect()) == [
        "keyed_map-d1-pm25", "keyed_map-d2-temperature"]


def test_run_source_error_order_measures_then_stations(spark, tmp_path, monkeypatch):
    """When both sink steps fail, the measures error surfaces (even when
    the station step fails first), the run log holds exactly one
    fetcher/error row with its message, and the checkpoint stays put."""
    import os
    import time

    from openaq_lcs_fetch_spark import engine as engine_mod

    def measures_fail(*args, **kwargs):
        time.sleep(0.2)  # the station step's error comes first in time
        raise RuntimeError("measures sink down")

    def stations_fail(*args, **kwargs):
        raise RuntimeError("stations sink down")

    monkeypatch.setattr(engine_mod, "write_measures_csv", measures_fail)
    monkeypatch.setattr(engine_mod, "diff_upsert", stations_fail)
    cfg = {"schema": "v1", "provider": "keyed_map", "frequency": "hour", "active": True,
           "meta": {"path": _two_device_feed(tmp_path), "incremental": "true"}}
    out = tmp_path / "out"
    with pytest.raises(RuntimeError, match="measures sink down"):
        Engine(spark).run_source(cfg, str(out))
    rows = spark.read.parquet(str(out / "runlog")).collect()
    assert [(r.status, r.message) for r in rows] == [("fetcher/error", "measures sink down")]
    assert not os.path.exists(out / "meta" / "keyed_map.json")
