"""Output checks, run outside the timed region.

Each check reads what the program wrote (or returned) and compares it to
an expectation computed without the program: the feed generator's model
for ingest, DuckDB for the analytics queries and the event stream.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import gzip
import json
import os

import duckdb
import pyarrow.parquet as pq

from .feeds import micro


def csv_measures(paths: list[str]) -> tuple[int, int]:
    """(rows, micro-unit sum) over gzipped measures CSV part files."""
    n = s = 0
    for p in paths:
        with gzip.open(p, "rt", newline="") as f:
            for row in csv.DictReader(f):
                n += 1
                s += micro(float(row["measure"]))
    return n, s


def json_measures(paths: list[str]) -> tuple[int, int]:
    """(rows, micro-unit sum) over gzipped v0.1 JSON envelopes."""
    n = s = 0
    for p in paths:
        with gzip.open(p, "rt") as f:
            for line in f:
                if not line.strip():
                    continue
                env = json.loads(line)
                if env.get("meta", {}).get("schema") != "v0.1":
                    raise ValueError(f"{p}: envelope without v0.1 meta")
                for m in env.get("measures", []):
                    n += 1
                    s += micro(float(m["measure"]))
    return n, s


def sink_files(out_root: str, source: str) -> set[str]:
    base = os.path.join(out_root, "measures", source)
    return set(
        glob.glob(os.path.join(base, "*.csv.gz"))
        + glob.glob(os.path.join(base, "day=*", "*.json.gz"))
    )


def landed(paths: set[str]) -> tuple[int, int]:
    csvs = sorted(p for p in paths if p.endswith(".csv.gz"))
    jsons = sorted(p for p in paths if p.endswith(".json.gz"))
    a, b = csv_measures(csvs), json_measures(jsons)
    return a[0] + b[0], a[1] + b[1]


def tree_bytes(root: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def run_log(out_root: str) -> list[dict]:
    """Rows of the run-log parquet table, oldest first."""
    path = os.path.join(out_root, "runlog")
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    rows = []
    for f in files:
        rows.extend(pq.read_table(f).to_pylist())
    rows.sort(key=lambda r: r["run_ts"])
    return rows


def parquet_measures(path: str) -> tuple[int, int]:
    """(rows, micro-unit sum of non-null measures) of a parquet dir."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    n = s = 0
    for f in files:
        t = pq.read_table(f, columns=["measure"])
        n += t.num_rows
        s += sum(micro(v) for v in t.column("measure").to_pylist() if v is not None)
    return n, s


# ---------------------------------------------------------------------------
# analytics: DuckDB oracle under the parity suite's canonical comparison
# ---------------------------------------------------------------------------


def oracle_connection(sf_dir: str, table_names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in table_names:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare_frames(spark_pdf, oracle_pdf, canon, oracle_rows=None) -> str | None:
    """None when equal; otherwise a one-line reason. ``oracle_rows`` is
    ``canon(oracle_pdf)`` when the caller already has it."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    a = canon(spark_pdf)
    b = oracle_rows if oracle_rows is not None else canon(oracle_pdf)
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"row {i}: {x} != {y}"
    return None


#: dedup → hourly counts, emitted in append mode: a window is final once
#: the watermark (max event time − delay) has passed its end
EVENTS_HOURLY_SQL = """
WITH d AS (SELECT DISTINCT event_id, ts, event_type FROM '{path}'),
     w AS (SELECT max(ts) - INTERVAL '{delay}' AS wm FROM d)
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
FROM d GROUP BY 1, 2
HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT wm FROM w)
"""


def events_hourly_expected(sf_dir: str, delay: str = "3 hours") -> set[tuple]:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    rows = con.sql(
        EVENTS_HOURLY_SQL.format(path=os.path.join(sf_dir, "events.parquet"), delay=delay)
    ).fetchall()
    return {(_naive(h), t, int(n)) for h, t, n in rows}


def _naive(ts) -> dt.datetime:
    if isinstance(ts, dt.datetime) and ts.tzinfo is not None:
        return ts.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return ts


def events_hourly_actual(rows) -> set[tuple]:
    """The replay's collected rows (w, event_type, n) in the same shape."""
    return {(_naive(r["w"]["start"]), r["event_type"], int(r["n"])) for r in rows}
