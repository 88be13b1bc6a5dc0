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
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources.checkpoint import hwm_expr

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


def summarize(measures: DataFrame) -> tuple[DataFrame, Observation]:
    """A3: the reference's summary() counters (clarity.js:192-208),
    attached to ``measures`` as an ``Observation`` (``n``, ``from_ts``,
    ``to_ts``, and ``hwm``, the checkpoint mark of ``advance``). Starts
    no Spark job: the counters arrive with the first action on the
    returned frame, the sink write, so the provider plan runs once."""
    obs = Observation()
    observed = measures.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.min("timestamp").alias("from_ts"),
        F.max("timestamp").alias("to_ts"),
        hwm_expr("timestamp").alias("hwm"),
    )
    return observed, obs
