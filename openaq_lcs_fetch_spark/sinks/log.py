"""Run-log side output (SURVEY.md K5).

The reference publishes a per-run summary to SNS (providers.js:59-71,
called from fetcher/index.js:29-34 with 'fetcher/success' or
'fetcher/error'). Here: one row per run in a parquet status table.

``publish`` writes that row on the driver with pyarrow, one file per
call (a hidden temp file, then ``os.replace`` to ``part-<uuid>.parquet``,
as ``CheckpointStore.save`` does): no Spark job, and no ``_temporary``
staging dir shared between the scheduler's concurrent publishes, so no
lock. Timestamps are ``timestamp[us, tz=UTC]``, which Spark reads as
``TimestampType`` alongside older Spark-written files of the table.
"""

from __future__ import annotations

import datetime as _dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

_UTC = _dt.timezone.utc
_TS = pa.timestamp("us", tz="UTC")
LOG_SCHEMA = pa.schema([
    ("run_ts", _TS), ("source", pa.string()), ("status", pa.string()),
    ("n_measures", pa.int64()), ("from_ts", _TS), ("to_ts", _TS), ("message", pa.string()),
])


def publish(
    spark: SparkSession,
    log_path: str,
    source: str,
    status: str,
    n_measures: int = 0,
    from_ts=None,
    to_ts=None,
    message: str = "",
) -> None:
    """Append one run row (``spark`` is unused; it keeps the sink
    signature). A naive ``from_ts`` / ``to_ts`` is host-local time, as a
    Spark collect returns it."""
    ts = [None if t is None else t.astimezone(_UTC) for t in (from_ts, to_ts)]
    row = dict(zip(LOG_SCHEMA.names, (
        _dt.datetime.now(_UTC), source, status, n_measures, *ts, message)))
    os.makedirs(log_path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(log_path, f".{name}.tmp")  # dot: hidden from readers
    pq.write_table(pa.Table.from_pylist([row], schema=LOG_SCHEMA), tmp)
    os.replace(tmp, os.path.join(log_path, name))


def summarize(measures: DataFrame, source: str) -> dict:
    """A3: the reference's summary() counters (clarity.js:192-208).

    The ``_hwm`` key is the checkpoint-format high-water mark computed
    in the SAME single-pass aggregate (engine-side ``date_format``
    under the pinned UTC session tz — the exact formatting
    ``sources.checkpoint.high_water_mark`` performs, for the exact
    reason documented there): ``Engine.run_source`` hands it to
    ``advance`` so the checkpoint does not re-evaluate the whole
    provider plan a second time just to recompute max(timestamp)."""
    from pyspark.sql import functions as F

    row = measures.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("timestamp").alias("from_ts"),
        F.max("timestamp").alias("to_ts"),
        F.date_format(
            F.max("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
        ).alias("hwm"),
    ).collect()[0]
    return {
        "source": source,
        "n_measures": row["n"],
        "from_ts": row["from_ts"],
        "to_ts": row["to_ts"],
        "_hwm": row["hwm"],
    }
