"""Mobile-measures provider (the habitatmap shape,
reference providers/habitatmap.js).

MobileMeasure rows carry per-reading coordinates (measure.js:63-79);
the source is paginated sessions (habitatmap.js:166-207) re-read on a
2-minute sliding window every minute (:128-136) → duplicates are
expected and deduped downstream (T4); a time-range predicate with
no-future guard applies (F1, utils.js:180-209).

Config meta: pages, page_size (paginated-http fetcher options),
fetcher (defaults to the synthetic offline fetcher), start/end ISO
bounds.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ids import sensor_id
from ..functions.timestamps import from_unix_seconds
from ..measurands import join_and_normalize, measurand_dim
from ..operators.dedup import dedup_events
from ..operators.filters import time_range
from ..sources.http import read_paginated
from ..config import config_lookup, source_label
from .base import Provider, register

_DDL = (
    "session_id string, unix_ts long, lat double, lon double, "
    "param string, value double"
)


def mobile_sessions(options: dict, page: int) -> list[tuple]:
    """Offline paginated fetcher: deterministic mobile session stream
    with coordinate drift and overlapping re-reads (last 2 rows of the
    previous page repeat — the sliding-window duplicate pattern)."""
    size = int(options.get("page_size", 8))
    rows = []
    start = max(0, page * size - 2)  # 2-row overlap with previous page
    for seq in range(start, page * size + size):
        rows.append(
            (
                f"sess-{seq % 3}",
                1_700_000_000 + 30 * seq,
                40.0 + (seq % 50) / 100.0,
                -80.0 - (seq % 50) / 100.0,
                "pm25" if seq % 2 == 0 else "rh",
                round(8.0 + (seq * 13 % 40) / 4.0, 2),
            )
        )
    return rows


@register
class MobileProvider(Provider):
    name = "mobile"

    def process(
        self, spark: SparkSession, config: dict[str, Any]
    ) -> tuple[DataFrame, DataFrame]:
        meta = config.get("meta", {})
        raw = read_paginated(
            spark,
            fetcher=meta.get(
                "fetcher", "openaq_lcs_fetch_spark.providers.mobile:mobile_sessions"
            ),
            pages=int(meta.get("pages", "3")),
            schema_ddl=_DDL,
            page_size=meta.get("page_size", "8"),
        )
        if meta.get("lookup"):
            # habitatmap.js:9-12: stream names are device-qualified
            # ('AirBeam2-PM2.5' → pm25); the shared broadcast-lookup +
            # normalization (J1/C1) remaps and drops unlisted streams,
            # like getSupportedMeasurands filtering
            dim = measurand_dim(spark, config_lookup(config, ()))
            raw = (
                join_and_normalize(
                    raw.withColumnRenamed("param", "input_param"), dim
                )
                .withColumn("param", F.col("parameter"))
                .select(*raw.columns)
            )
        ts = from_unix_seconds(F.col("unix_ts"))
        # one fetch per run: measures and stations both read the
        # checkpointed pages, so each page is requested once (a live
        # API cannot serve the two sinks different pages) and the
        # Python DataSource runs one read, not one per sink
        bounded = raw.withColumn("timestamp", ts).filter(
            time_range(
                F.col("timestamp"),
                start=meta.get("start"),
                end=meta.get("end"),
                drop_future_after=meta.get("now"),
            )
        ).localCheckpoint()
        measures = bounded.select(
            sensor_id(F.lit(source_label(config)), F.col("session_id"), F.col("param")).alias(
                "sensor_id"
            ),
            F.col("value").alias("measure"),
            "timestamp",
            F.col("lon").alias("longitude"),
            F.col("lat").alias("latitude"),
            F.lit(None).cast("map<string,string>").alias("flags"),
        )
        # T4: overlapping page re-reads → dedup on (sensor, ts)
        measures = dedup_events(
            measures, ["sensor_id", "timestamp"], "measure"
        )
        stations = (
            bounded.select(F.col("session_id").alias("sensor_node_id"))
            .distinct()
            .withColumn("sensor_node_source_name", F.lit(source_label(config)))
            .withColumn("sensor_node_ismobile", F.lit(True))
        )
        return measures, stations
