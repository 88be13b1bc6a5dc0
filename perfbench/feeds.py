"""Seeded inputs for the benchmark, plus the outputs they must produce.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. Nothing in this module imports the package under
test; the expected outputs are computed from the generated records with
an independent model of each provider's documented semantics, so the
output checks do not grade the program with its own code.

Inputs made here:

* ingest feeds laid out the way each bundled ``source_configs/*.json``
  expects under ``{data_root}`` (wide CSV, keyed-map JSONL, enriched
  measurements plus datasources, zip-arrays, iqair's daily partitions);
* a cmu-shaped wide-CSV backfill feed;
* the star-schema tables (``region`` .. ``embeddings``) the analytics
  registry and the events stream read.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from dataclasses import dataclass, field
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONFIG_DIR = os.path.join(REPO, "openaq_lcs_fetch_spark", "source_configs")

#: sentinel token the feeds use for a missing reading (one of the
#: engine's documented sentinel tokens)
SENTINEL = "NaN"
SENTINEL_RATE = 0.02

#: unit conversions and the supported-parameter whitelist, restated from
#: the reference's measurand.js so the model does not import the engine
UNIT_SCALE = {"ppb": 0.001, "ng/m³": 0.001, "pp100ml": 0.01, "pa": 0.01}
SUPPORTED = frozenset(
    "pm10 pm25 o3 co no2 so2 bc co2 pm1 wind_direction nox no rh ch4 pn ufp "
    "wind_speed pm ambient_temp pressure pm25-old relativehumidity "
    "temperature um003 um010 um050 um025 pm100 um005 humidity um100 voc "
    "ozone pm4 so4 ec oc cl no3".split()
)

#: devices per source per tick slice
DEVICES_PER_SLICE = 40
#: one tick = one simulated hour; each device reports at these minutes
SET_MINUTES = (0, 20, 40)
MISSING_FEED = "missing_feed"


def micro(x: float) -> int:
    """A measure in integer micro-units (exact to compare and to sum)."""
    return int(round(x * 1_000_000))


def rng_for(seed: int, *labels: object) -> np.random.Generator:
    """Independent stream per (seed, label...) — stable across runs and
    independent of the order in which callers ask for streams."""
    key = [seed % 2**63] + [int.from_bytes(str(x).encode(), "little") % (2**63) for x in labels]
    return np.random.default_rng(np.random.SeedSequence(key))


def load_configs() -> dict[str, dict]:
    out = {}
    for fn in sorted(os.listdir(CONFIG_DIR)):
        if fn.endswith(".json"):
            with open(os.path.join(CONFIG_DIR, fn)) as f:
                cfg = json.load(f)
            out[cfg["meta"].get("source_name") or cfg["provider"]] = cfg
    return out


def dim_rows(cfg: dict) -> dict[str, float]:
    """input_param -> scale for the lookup rows that survive the
    supported-parameter whitelist and the unit allowlist."""
    meta = cfg.get("meta", {})
    allowed = set(meta["unit_filter"]) if meta.get("unit_filter") else None
    out = {}
    for key, param, unit in meta.get("lookup", []):
        if param not in SUPPORTED or (allowed is not None and unit not in allowed):
            continue
        out[key] = UNIT_SCALE.get(unit.lower(), 1.0)
    return out


def _value(r: np.random.Generator) -> str:
    if r.random() < SENTINEL_RATE:
        return SENTINEL
    return f"{r.integers(0, 100000) / 100:.2f}"


def _write_atomic(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w", newline="") as f:
        f.write(text)
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# the model: one record per (device, input_param, reading time)
# ---------------------------------------------------------------------------


@dataclass
class Reading:
    device: str
    key: str  # the raw input_param
    ts_raw: str  # the feed's own timestamp text (window order key)
    ts_utc: dt.datetime  # what the provider derives, naive UTC
    raw: str  # the raw value text


@dataclass
class SourceModel:
    """Replays one source's documented batch semantics over the whole
    feed and tracks the incremental high-water mark the way the
    checkpoint does (strictly-greater filter; never moves backwards)."""

    name: str
    cfg: dict
    readings: list[Reading] = field(default_factory=list)
    hwm: dt.datetime | None = None

    def _windowed(self) -> list[Reading]:
        meta = self.cfg.get("meta", {})
        rows = self.readings
        last_sets = int(meta.get("last_sets", 0))
        drop_latest = bool(meta.get("drop_latest_reading", False))
        if last_sets or drop_latest:
            by_dev: dict[str, list[str]] = {}
            for r in rows:
                by_dev.setdefault(r.device, []).append(r.ts_raw)
            rank = {
                d: {t: i + 1 for i, t in enumerate(sorted(set(ts), reverse=True))}
                for d, ts in by_dev.items()
            }
            keep = []
            for r in rows:
                k = rank[r.device][r.ts_raw]
                if last_sets and k > last_sets:
                    continue
                if drop_latest and k == 1:
                    continue
                keep.append(r)
            rows = keep
        last_k = int(meta.get("last_k_per_param", 0))
        if last_k:
            groups: dict[tuple[str, str], list[Reading]] = {}
            for r in rows:
                groups.setdefault((r.device, r.key), []).append(r)
            rows = []
            for g in groups.values():
                g.sort(key=lambda r: (r.ts_raw, _neg(r.raw)), reverse=True)
                rows.extend(g[:last_k])
        return rows

    def land(self) -> tuple[int, int]:
        """Rows and micro-unit sum one incremental run lands; advances
        the model's high-water mark like the engine's checkpoint."""
        scales = dim_rows(self.cfg)
        frame = [
            r
            for r in self._windowed()
            if r.key in scales and (self.hwm is None or r.ts_utc > self.hwm)
        ]
        # the frame the mark is taken over keeps sentinel-flagged rows
        kept = [r for r in frame if r.raw == SENTINEL or _is_num(r.raw)]
        if kept:
            top = max(r.ts_utc for r in kept)
            if self.hwm is None or top > self.hwm:
                self.hwm = top
        landed = [r for r in kept if r.raw != SENTINEL]
        return len(landed), sum(micro(float(r.raw) * scales[r.key]) for r in landed)


def _is_num(s: str) -> bool:
    try:
        float(s)
    except ValueError:
        return False
    return s not in ("nan", "NaN", "inf", "-inf")


def _neg(raw: str) -> tuple:
    # window tiebreak is raw_value ASC inside a ts DESC sort; the model
    # never produces same-ts readings for one (device, key), so this
    # only needs to be a stable total order
    return tuple(-ord(c) for c in raw)


# ---------------------------------------------------------------------------
# tick feeds: one slice per source per tick, appended under data_root
# ---------------------------------------------------------------------------


class TickFeeds:
    """Seeded per-tick slices for every bundled config, plus the
    expected landed rows / micro-unit sums for each (source, tick)."""

    def __init__(self, seed: int, data_root: str, frequencies=("minute", "hour", "day")):
        self.seed = seed
        self.data_root = data_root
        # only sources of these frequencies get slices and expectations
        self.configs = {
            n: c for n, c in load_configs().items()
            if c["frequency"] in frequencies
        }
        # a day in June (no DST transition in any feed tz); every tick
        # of a run stays inside it, which iqair's daily layout needs
        self.day = dt.datetime(2024, 6, 1) + dt.timedelta(days=seed % 20)
        self.models = {
            n: SourceModel(n, c) for n, c in self.configs.items() if c.get("active")
        }
        self.models[MISSING_FEED] = SourceModel(MISSING_FEED, self.missing_config())
        self.ticks_written = 0
        self._iqair_rows: dict[str, list[str]] = {}

    # -- configs the scheduler runs ---------------------------------------

    def missing_config(self) -> dict:
        return {
            "active": True,
            "frequency": "minute",
            "provider": "keyed_map",
            "schema": "v1",
            "meta": {
                "path": "{data_root}/" + MISSING_FEED,
                "source_name": MISSING_FEED,
                "lookup": [["pm25", "pm25", "ug/m3"]],
            },
        }

    def run_configs(self) -> list[dict]:
        """The bundled configs as the tick workload runs them: every
        source incremental, clarity on the v0.1 JSON sink, the wall-clock
        ``as_of`` pinned to the simulated day, plus one config whose
        feed never exists."""
        out = []
        for name, cfg in self.configs.items():
            if not cfg.get("active"):
                continue
            cfg = json.loads(json.dumps(cfg))
            meta = cfg["meta"]
            meta["incremental"] = True
            if name == "clarity":
                meta["sink"] = "json"
            if name == "iqair":
                meta["as_of"] = (self.day + dt.timedelta(hours=23)).strftime("%Y-%m-%dT%H:%M:%S")
            if name == "airgradient":
                meta["as_of"] = (self.day + dt.timedelta(days=1)).strftime("%Y-%m-%dT%H:%M:%S")
            out.append(cfg)
        out.append(self.missing_config())
        return out

    # -- slice writers ----------------------------------------------------

    def write_static(self) -> None:
        """Layouts that do not grow per tick: clarity's datasources,
        purpleair's zip-arrays file, iqair's previous-day partition."""
        r = rng_for(self.seed, "clarity_ds")
        lines = [
            json.dumps({"datasource_id": f"DS{i:03d}", "datasource_name": f"clarity-site-{i}"})
            for i in range(DEVICES_PER_SLICE - 4)  # the last four ids stay unmatched
        ]
        r.shuffle(lines)
        _write_atomic(f"{self.data_root}/clarity_datasources/ds.jsonl", "\n".join(lines) + "\n")

        cfg = load_configs()["purpleair"]
        fields = ["sensor_index", "last_seen", "latitude", "longitude"] + [
            k for k, _p, _u in cfg["meta"]["lookup"]
        ]
        r = rng_for(self.seed, "purpleair")
        data = []
        for i in range(DEVICES_PER_SLICE):
            row = [str(1000 + i), str(int(self.day.timestamp()) + 60 * i),
                   f"{r.uniform(-60, 60):.4f}", f"{r.uniform(-170, 170):.4f}"]
            row += [_value(r) for _ in fields[4:]]
            data.append(row)
        _write_atomic(f"{self.data_root}/purpleair/data.json", json.dumps({"fields": fields, "data": data}) + "\n")

        # iqair re-reads yesterday's partition every run: seed it with a
        # backlog the first tick lands
        if "iqair" in self.configs:
            self._iqair_slice(self.day - dt.timedelta(hours=3), "prev")

    def write_tick(self) -> int:
        """Append slice ``k`` to every feed; returns ``k``."""
        k = self.ticks_written
        if k >= 23 and "iqair" in self.configs:
            # iqair's as_of is pinned to the simulated day
            raise ValueError("iqair's feed stays inside one simulated day (23 ticks)")
        if k == 0:
            self.write_static()
        base = self.day + dt.timedelta(hours=k)
        for name, cfg in self.configs.items():
            if not cfg.get("active"):
                continue
            kind = cfg["provider"]
            if name == "iqair":
                self._iqair_slice(base, "day")
            elif kind == "keyed_map":
                self._keyed_map_slice(name, cfg, base, k)
            elif kind == "wide_csv":
                self._wide_csv_slice(name, cfg, base, k)
            elif kind == "enriched":
                self._enriched_slice(name, cfg, base, k)
            # mobile (habitatmap) reads the engine's bundled offline
            # fetcher; it has no data_root layout
        self.ticks_written = k + 1
        return k

    def expected_tick(self) -> dict[str, tuple[int, int]]:
        """(rows, micro-sum) each source lands on the tick just written."""
        out = {}
        for name, m in self.models.items():
            if name == "habitatmap":
                out[name] = (0, 0)  # its lookup key never matches the fetcher's params
            elif name == MISSING_FEED:
                out[name] = (0, 0)
            else:
                out[name] = m.land()
        return out

    def _keyed_map_slice(self, name: str, cfg: dict, base: dt.datetime, k: int) -> None:
        r = rng_for(self.seed, name, k)
        keys = [row[0] for row in cfg["meta"].get("lookup", [])]
        shift = dt.timedelta(minutes=int(cfg["meta"].get("hour_ending_minutes", 0)))
        lines = []
        for d in range(DEVICES_PER_SLICE):
            dev = f"{name}-{d:03d}"
            lat, lon = _device_pos(self.seed, name, d)
            for m in SET_MINUTES:
                t = base + dt.timedelta(minutes=m, seconds=int(r.integers(0, 59)))
                ts_raw = t.strftime("%Y-%m-%dT%H:%M:%S")
                readings = {}
                for key in keys:
                    v = _value(r)
                    readings[key] = v
                    self.models[name].readings.append(Reading(dev, key, ts_raw, t + shift, v))
                lines.append(json.dumps(
                    {"device_id": dev, "ts": ts_raw, "lat": lat, "lon": lon, "readings": readings}
                ))
        _write_atomic(f"{self.data_root}/{name}/slice_{k:04d}.jsonl", "\n".join(lines) + "\n")

    def _wide_header(self, cfg: dict) -> list[str]:
        meta = cfg["meta"]
        return ["Anon_Name", "Site_Name", "Timestamp", "Lat", "Lon"] + meta["params"].split(",")

    def _wide_rows(self, name: str, cfg: dict, base: dt.datetime, r, minutes) -> list[str]:
        meta = cfg["meta"]
        params = meta["params"].split(",")
        tz = ZoneInfo(meta.get("tz", "America/New_York"))
        fmt = _java_to_strftime(meta.get("ts_format", "yyyy-MM-dd HH_mm"))
        shift = dt.timedelta(
            minutes=int(meta.get("shift_minutes", "-15")) + int(meta.get("hour_ending_minutes", 0))
        )
        out = []
        for d in range(DEVICES_PER_SLICE):
            dev = f"{name}-{d:03d}"
            lat, lon = _device_pos(self.seed, name, d)
            for m in minutes:
                local = base + dt.timedelta(minutes=m)
                ts_raw = local.strftime(fmt)
                utc = local.replace(tzinfo=tz).astimezone(dt.timezone.utc).replace(tzinfo=None)
                vals = [_value(r) for _ in params]
                for key, v in zip(params, vals):
                    self.models[name].readings.append(Reading(dev, key, ts_raw, utc + shift, v))
                out.append(",".join([dev, f"site {d}", ts_raw, f"{lat}", f"{lon}"] + vals))
        return out

    def _wide_csv_slice(self, name: str, cfg: dict, base: dt.datetime, k: int) -> None:
        r = rng_for(self.seed, name, k)
        rows = self._wide_rows(name, cfg, base, r, SET_MINUTES)
        text = ",".join(self._wide_header(cfg)) + "\n" + "\n".join(rows) + "\n"
        _write_atomic(f"{self.data_root}/{name}/slice_{k:04d}.csv", text)

    def _iqair_slice(self, base: dt.datetime, which: str) -> None:
        """iqair's layout is ``day={date}/data.csv``: one file per day,
        rewritten as the day grows."""
        cfg = load_configs()["iqair"]
        r = rng_for(self.seed, "iqair", which, base.isoformat())
        day = base.strftime("%Y-%m-%d")
        rows = self._iqair_rows.setdefault(day, [])
        rows.extend(self._wide_rows("iqair", cfg, base, r, SET_MINUTES))
        text = ",".join(self._wide_header(cfg)) + "\n" + "\n".join(rows) + "\n"
        _write_atomic(f"{self.data_root}/iqair/day={day}/data.csv", text)

    def _enriched_slice(self, name: str, cfg: dict, base: dt.datetime, k: int) -> None:
        r = rng_for(self.seed, name, k)
        key = cfg["meta"]["lookup"][0][0]
        lines = []
        for d in range(DEVICES_PER_SLICE):
            ds = f"DS{d:03d}"
            matched = d < DEVICES_PER_SLICE - 4
            lat, lon = _device_pos(self.seed, name, d)
            for i, m in enumerate(SET_MINUTES):
                t = base + dt.timedelta(minutes=m, seconds=int(r.integers(0, 59)))
                ts_raw = t.strftime("%Y-%m-%dT%H:%M:%S")
                for ch in (key, "temperatureInternal"):  # the second is not in the lookup
                    v = round(float(r.integers(0, 100000)) / 100, 2)
                    if matched:
                        self.models[name].readings.append(Reading(ds, ch, ts_raw, t, repr(v)))
                    lines.append(json.dumps({
                        "measurement_id": f"{ds}-{k}-{i}-{ch}", "datasource_id": ds,
                        "ts": ts_raw, "lat": lat, "lon": lon, "characteristic": ch,
                        "value": v, "qc": "" if r.random() < 0.9 else "flagged",
                    }))
        _write_atomic(f"{self.data_root}/{name}/slice_{k:04d}.jsonl", "\n".join(lines) + "\n")


def _device_pos(seed: int, name: str, d: int) -> tuple[float, float]:
    r = rng_for(seed, "pos", name, d)
    return round(float(r.uniform(-60, 60)), 4), round(float(r.uniform(-170, 170)), 4)


def _java_to_strftime(fmt: str) -> str:
    return (
        fmt.replace("yyyy", "%Y").replace("MM", "%m").replace("dd", "%d")
        .replace("HH", "%H").replace("mm", "%M").replace("ss", "%S")
    )


# ---------------------------------------------------------------------------
# backfill: one cmu-shaped wide-CSV feed
# ---------------------------------------------------------------------------


def backfill_config() -> dict:
    cfg = load_configs()["cmu"]
    cfg = json.loads(json.dumps(cfg))
    cfg["active"] = True
    return cfg


def write_backfill(seed: int, data_root: str, stations: int, hours: int) -> tuple[int, int, int]:
    """Write ``stations × hours`` wide rows; returns (wide rows, expected
    landed measures, expected micro-unit sum)."""
    cfg = backfill_config()
    meta = cfg["meta"]
    params = meta["params"].split(",")
    scales = dim_rows(cfg)
    fmt = _java_to_strftime(meta["ts_format"])
    day = dt.datetime(2024, 6, 1) + dt.timedelta(days=seed % 20)
    r = rng_for(seed, "backfill")
    # values as one vectorized draw; sentinels where the mask hits
    vals = r.integers(0, 100000, size=(stations * hours, len(params))) / 100
    mask = r.random(size=vals.shape) < SENTINEL_RATE
    lat = np.round(r.uniform(-60, 60, size=stations), 4)
    lon = np.round(r.uniform(-170, 170, size=stations), 4)
    lines = [",".join(["Anon_Name", "Site_Name", "Timestamp", "Lat", "Lon"] + params)]
    n = s = 0
    i = 0
    col_scale = [scales.get(p) for p in params]
    stamps = [(day + dt.timedelta(hours=h)).strftime(fmt) for h in range(hours)]
    for st in range(stations):
        head = f"cmu-{st:04d},site {st},"
        tail_pos = f",{lat[st]},{lon[st]},"
        for h in range(hours):
            row = vals[i]
            cells = []
            for j, v in enumerate(row):
                if mask[i, j]:
                    cells.append(SENTINEL)
                    continue
                txt = f"{v:.2f}"
                cells.append(txt)
                if col_scale[j] is not None:
                    n += 1
                    s += micro(float(txt) * col_scale[j])
            lines.append(head + stamps[h] + tail_pos + ",".join(cells))
            i += 1
    _write_atomic(f"{data_root}/cmu/feed.csv", "\n".join(lines) + "\n")
    return stations * hours, n, s


# ---------------------------------------------------------------------------
# star schema (region .. embeddings) for the analytics mix and the events
# stream
# ---------------------------------------------------------------------------

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_LANGS = ["de", "en", "es", "fr", "zh"]


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _day_us(start: str, days: np.ndarray) -> np.ndarray:
    base = int(dt.datetime.fromisoformat(start).replace(tzinfo=dt.timezone.utc).timestamp())
    return (base + days.astype("int64") * 86400) * 1_000_000


def write_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write the star-schema tables at scale ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng_for(seed, "tables")
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), max(100, int(20_000 * sf))
    n_users = max(10, int(15_000 * sf))
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    odays = r.integers(0, 2400, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(_day_us("1995-01-01", odays)),
        "o_orderpriority": [_PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
    })
    lok = r.integers(0, n_ord, n_line)
    qty = r.integers(1, 51, n_line).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2000, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100,
        "l_tax": r.integers(0, 9, n_line) / 100,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_line)],
        "l_shipdate": _ts(_day_us("1995-01-01", np.minimum(odays[lok] + r.integers(1, 122, n_line), 2498))),
    })
    span_us = 30 * 86400 * 1_000_000
    ev_ts = np.sort(r.integers(0, span_us, n_ev)) + _day_us("2024-01-01", np.zeros(1))[0]
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": r.integers(0, n_users, n_ev),
        "event_type": [_EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": np.round(r.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        roll = r.random()
        if texts and roll < 0.002:
            texts.append(texts[int(r.integers(0, len(texts)))])  # exact duplicate
        elif texts and roll < 0.08:
            src = texts[int(r.integers(0, len(texts)))].split()
            for _ in range(max(1, len(src) // 20)):  # near duplicate: a few edits
                src[int(r.integers(0, len(src)))] = WORDS[int(r.integers(0, len(WORDS)))]
            texts.append(" ".join(src))
        else:
            n_w = int(r.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in r.integers(0, len(WORDS), n_w)))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": [_LANGS[i] for i in r.choice(5, n_doc, p=[0.14, 0.44, 0.14, 0.14, 0.14])],
        "source": [f"src{i}" for i in r.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    centers = r.normal(size=(10, 64))
    labels = r.integers(0, 10, n_emb)
    emb = centers[labels] * 0.3 + r.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True) * 0.99).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# stream replay: a keyed-map JSONL backlog
# ---------------------------------------------------------------------------


def stream_config() -> dict:
    cfg = json.loads(json.dumps(load_configs()["smartsense"]))
    cfg["meta"]["path"] = "{data_root}/stream_feed"
    return cfg


def write_stream_feed(seed: int, data_root: str, files: int, devices: int, sets: int) -> tuple[int, int, int]:
    """A directory of keyed-map JSONL files for the provider stream.
    Returns (input lines, expected output rows, expected micro-sum of
    the non-null measures). The stream dedups on (sensor_id, timestamp)
    and keeps sentinel-flagged rows with a null measure."""
    cfg = stream_config()
    scales = dim_rows(cfg)
    keys = [row[0] for row in cfg["meta"]["lookup"]]
    r = rng_for(seed, "stream_feed")
    base = dt.datetime(2024, 6, 1) + dt.timedelta(days=seed % 20)
    n_lines = n_rows = total = 0
    root = f"{data_root}/stream_feed"
    if os.path.isdir(root):
        shutil.rmtree(root)
    for f in range(files):
        lines = []
        for d in range(devices):
            for s in range(sets):
                t = base + dt.timedelta(minutes=(f * sets + s) * 10, seconds=d % 60)
                readings = {key: _value(r) for key in keys}
                lines.append(json.dumps({
                    "device_id": f"stream-{d:04d}", "ts": t.strftime("%Y-%m-%dT%H:%M:%S"),
                    "lat": 1.0, "lon": 2.0, "readings": readings,
                }))
                n_lines += 1
                for key, v in readings.items():
                    if key in scales:
                        n_rows += 1
                        if v != SENTINEL:
                            total += micro(float(v) * scales[key])
        _write_atomic(f"{root}/part_{f:04d}.jsonl", "\n".join(lines) + "\n")
    return n_lines, n_rows, total
