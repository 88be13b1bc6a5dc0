"""Provider pipelines end-to-end on fixture files (FIXTURES.md §B)."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from openaq_lcs_fetch_spark.config import ConfigError, validate_source_config
from openaq_lcs_fetch_spark.providers import REGISTRY, processor


def _cfg(provider, path, **meta):
    return {
        "schema": "v1",
        "provider": provider,
        "frequency": "hour",
        "active": True,
        "meta": {"path": path, **meta},
    }


# --- config validation (mirror of reference test/source.test.js) ----------


def test_config_valid():
    validate_source_config(_cfg("wide_csv", "/x"))


@pytest.mark.parametrize(
    "patch,err",
    [
        ({"frequency": "weekly"}, "frequency"),
        ({"active": None}, "active"),
        ({"bogus": 1}, "unknown field"),
    ],
)
def test_config_invalid(patch, err):
    cfg = _cfg("wide_csv", "/x")
    cfg.update(patch)
    if patch.get("active", "x") is None:
        del cfg["active"]
    with pytest.raises(ConfigError, match=err):
        validate_source_config(cfg)


def test_unknown_provider(spark):
    with pytest.raises(KeyError, match="no provider registered"):
        processor(spark, _cfg("nope", "/x"))


# --- wide_csv (CMU shape: melt + sentinels + tz parse) ---------------------


def test_wide_csv_provider(spark, tmp_path):
    csv = tmp_path / "wide.csv"
    csv.write_text(
        "Anon_Name,Site_Name,Timestamp,Lat,Lon,CO,NO2,O3,PM025,SO2,T,RH,P\n"
        "stA,Site A,2024-06-01 10_00,40.44,-79.94,250,NaN,30,12.5,n/a,21.5,55,101325\n"
        "stB,Site B,2024-06-01 10_00,40.45,-79.95,inv,5,,\"1,013.2\",4,20,50,100000\n"
    )
    measures, stations = processor(spark, _cfg("wide_csv", str(csv)))
    rows = {(r.sensor_id): r for r in measures.collect()}

    # ppb scale: CO 250 ppb → 0.25 ppm
    assert rows["wide_csv-stA-co"].measure == pytest.approx(0.25)
    # sentinel 'NaN' → null measure + flag row kept
    assert rows["wide_csv-stA-no2"].measure is None
    assert rows["wide_csv-stA-no2"].flags["qc/sentinel"] == "NaN"
    # comma-grouped number coerced: '1,013.2' µg/m³ pm25
    assert rows["wide_csv-stB-pm25"].measure == pytest.approx(1013.2)
    # pa → hPa /100
    assert rows["wide_csv-stB-pressure"].measure == pytest.approx(1000.0)
    # C6: 2024-06-01 10_00 America/New_York (EDT, UTC-4) − 15 min = 13:45 UTC
    ts = rows["wide_csv-stA-co"].timestamp
    assert (ts.hour, ts.minute) == (13, 45)
    # empty CSV cell → NULL at the scan boundary → dropped at melt (F6,
    # matching iqair.js:188's ''-filter)
    assert "wide_csv-stB-ozone" not in rows

    st = {r.sensor_node_id: r for r in stations.collect()}
    assert st["stA"].sensor_node_geometry == [-79.94, 40.44]


# --- zip_arrays (purpleair shape: R4 zip-decode + unix ts) -----------------


def test_zip_arrays_provider(spark, tmp_path):
    doc = {
        "fields": ["sensor_index", "last_seen", "latitude", "longitude", "pm2.5_atm", "temperature"],
        "data": [
            ["101", "1700000000", "40.0", "-80.0", "12.5", "70"],
            ["102", "1700000060", "41.0", "-81.0", None, "68"],
        ],
    }
    p = tmp_path / "zip.json"
    p.write_text(json.dumps(doc))
    measures, stations = processor(spark, _cfg("zip_arrays", str(p)))
    rows = {r.sensor_id: r for r in measures.collect()}
    assert rows["zip_arrays-101-pm25"].measure == pytest.approx(12.5)
    assert rows["zip_arrays-101-pm25"].timestamp.isoformat() == "2023-11-14T22:13:20"
    assert rows["zip_arrays-101-pm25"].latitude == pytest.approx(40.0)
    # null pm2.5 for 102 melted away (F6 null-skip)
    assert "zip_arrays-102-pm25" not in rows
    assert stations.count() == 2


def test_zip_arrays_source_id_filter(spark, tmp_path):
    doc = {
        "fields": ["sensor_index", "last_seen", "latitude", "longitude", "pm2.5_atm"],
        "data": [["101", "1700000000", "40.0", "-80.0", "12.5"],
                 ["102", "1700000060", "41.0", "-81.0", "9.0"]],
    }
    p = tmp_path / "zip2.json"
    p.write_text(json.dumps(doc))
    measures, _ = processor(spark, _cfg("zip_arrays", str(p), source_id="102"))
    assert [r.sensor_id for r in measures.collect()] == ["zip_arrays-102-pm25"]


# --- keyed_map (smartsense shape: R2 map melt + 'inv' recode) ---------------


def test_keyed_map_provider(spark, tmp_path):
    lines = [
        {"device_id": "d1", "ts": "2024-06-01T00:00:00", "lat": 1.0, "lon": 2.0,
         "readings": {"pm25": "15.0", "no2": "inv", "unsupported_param": "99"}},
        {"device_id": "d2", "ts": "2024-06-01T01:00:00", "lat": 3.0, "lon": 4.0,
         "readings": {"pm25": "n/a", "temp": "22.5"}},
    ]
    p = tmp_path / "keyed.jsonl"
    p.write_text("\n".join(json.dumps(x) for x in lines))
    measures, stations = processor(spark, _cfg("keyed_map", str(p)))
    rows = {r.sensor_id: r for r in measures.collect()}
    assert rows["keyed_map-d1-pm25"].measure == pytest.approx(15.0)
    # 'inv' → NULL + flag (never -999: SURVEY.md §2.11)
    assert rows["keyed_map-d1-no2"].measure is None
    assert rows["keyed_map-d1-no2"].flags["qc/sentinel"] == "inv"
    # whitelist drop (F7): unsupported_param melted then inner-join dropped
    assert not any("unsupported" in k for k in rows)
    assert rows["keyed_map-d2-temperature"].measure == pytest.approx(22.5)
    assert stations.count() == 2


# --- mobile (habitatmap shape: paginated source + overlap dedup + coords) ---


def test_mobile_provider(spark):
    measures, stations = processor(spark, {
        "schema": "v1", "provider": "mobile", "frequency": "minute", "active": True,
        "meta": {"pages": "3", "page_size": "8"},
    })
    rows = measures.collect()
    # MobileMeasure shape: per-reading coordinates present
    assert all(r.longitude is not None and r.latitude is not None for r in rows)
    # T4: the 2-row page overlaps are deduped on (sensor_id, timestamp)
    keys = [(r.sensor_id, r.timestamp) for r in rows]
    assert len(keys) == len(set(keys))
    assert measures.count() == 24  # 3 pages × 8 unique rows
    st = {r.sensor_node_id for r in stations.collect()}
    assert st == {"sess-0", "sess-1", "sess-2"}
    assert all(r.sensor_node_ismobile for r in stations.collect())


def test_mobile_provider_no_future(spark):
    # drop_future_after: rows beyond 'now' are dropped (utils.js:183-193)
    measures, _ = processor(spark, {
        "schema": "v1", "provider": "mobile", "frequency": "minute", "active": True,
        "meta": {"pages": "3", "page_size": "8", "now": "2023-11-14T22:18:00"},
    })
    assert measures.count() < 24
    assert measures.agg(F.max("timestamp")).first()[0].isoformat() <= "2023-11-14T22:18:00"


# --- the 16 reference sources, mapped onto our pipeline shapes --------------


def test_all_source_configs_validate():
    """Every reference source has a config mapped onto a registered
    pipeline shape (the 'a user of the reference could switch' check)."""
    import glob
    import os

    cfg_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "openaq_lcs_fetch_spark", "source_configs",
    )
    files = sorted(glob.glob(f"{cfg_dir}/*.json"))
    assert len(files) == 16
    for f in files:
        with open(f) as fh:
            cfg = validate_source_config(json.load(fh))
        assert cfg["provider"] in REGISTRY, f
        assert cfg["frequency"] in ("minute", "hour", "day")


# --- enriched (clarity shape: J2 enrich + miss report + QC flags) -----------


def test_enriched_provider(spark, tmp_path):
    rows = [
        {"measurement_id": "m1", "datasource_id": "ds1", "ts": "2024-06-01T00:00:00",
         "lat": 1.0, "lon": 2.0, "characteristic": "pm2_5ConcMass", "value": 12.5, "qc": ""},
        {"measurement_id": "m2", "datasource_id": "ds1", "ts": "2024-06-01T01:00:00",
         "lat": 1.0, "lon": 2.0, "characteristic": "no2Conc", "value": 30.0, "qc": "suspect"},
        {"measurement_id": "m3", "datasource_id": "ds-unknown", "ts": "2024-06-01T02:00:00",
         "lat": 9.0, "lon": 9.0, "characteristic": "pm2_5ConcMass", "value": 1.0, "qc": ""},
    ]
    dsrows = [{"datasource_id": "ds1", "datasource_name": "acme"}]
    feed, ds = tmp_path / "feed.jsonl", tmp_path / "ds.jsonl"
    feed.write_text("\n".join(json.dumps(r) for r in rows))
    ds.write_text("\n".join(json.dumps(r) for r in dsrows))

    from openaq_lcs_fetch_spark.providers.enriched import EnrichedProvider

    cfg = {"schema": "v1", "provider": "enriched", "frequency": "hour", "active": True,
           "meta": {"path": str(feed), "datasources_path": str(ds)}}
    measures, stations, misses = EnrichedProvider().process_with_misses(spark, cfg)
    got = {r.sensor_id: r for r in measures.collect()}
    assert got["acme-ds1-pm25"].measure == pytest.approx(12.5)
    assert got["acme-ds1-pm25"].flags is None  # empty qc → no flag
    # QC code preserved as a flag, value intact (never dropped/mangled)
    assert got["acme-ds1-no2"].flags == {"enriched/qc": "suspect"}
    assert got["acme-ds1-no2"].measure == pytest.approx(0.03)  # ppb → ppm
    # J2 miss side-output: the unknown datasource surfaces exactly once
    assert [r.datasource_id for r in misses.collect()] == ["ds-unknown"]
    assert stations.count() == 1


@pytest.mark.parametrize("dry_run", [False, True])
def test_mobile_fetches_each_page_once_per_run(spark, tmp_path, monkeypatch, dry_run):
    """Measures and stations derive from one fetch: every page is
    requested exactly once per run_source, real run or dry run (they
    used to be fetched once per sink, and a live API could serve the
    two sinks different pages)."""
    import functools

    from openaq_lcs_fetch_spark.engine import Engine
    from openaq_lcs_fetch_spark.providers import mobile
    from openaq_lcs_fetch_spark.sources import http

    counter_dir = tmp_path / "calls"
    counter_dir.mkdir()
    # the counting fetcher's directory rides in as a DataSource option
    monkeypatch.setattr(
        mobile,
        "read_paginated",
        functools.partial(http.read_paginated, counter_dir=str(counter_dir)),
    )
    cfg = {
        "schema": "v1", "provider": "mobile", "frequency": "minute", "active": True,
        "meta": {
            "pages": "3", "page_size": "8", "source_name": "counted",
            "fetcher": "openaq_lcs_fetch_spark.sources.fetchers:counted_sessions",
            "lookup": [["pm25", "pm25", "µg/m³"], ["rh", "relativehumidity", "%"]],
            "incremental": True,
        },
    }
    log = Engine(spark).run_source(cfg, str(tmp_path / "out"), dry_run=dry_run)
    assert log["n_measures"] == 24 and log["n_stations"] == 3
    calls = {p.name: p.read_text().count("\n") for p in counter_dir.iterdir()}
    assert calls == {"page_0": 1, "page_1": 1, "page_2": 1}
