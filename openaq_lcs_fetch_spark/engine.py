"""Engine facade — the user-facing API tying the layers together.

``run_source`` is the full per-source lifecycle of the reference's
fetcher (SURVEY.md §3.1: dispatch → provider dataflow → station upsert
→ measures sink → checkpoint → run log), as one batch job. The
streaming flavor of the same pipelines lives in streaming/.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from datetime import datetime as _dt, timezone as _timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import tables
from .providers import processor
from .session import get_spark, tune
from .sinks.log import publish, summarize
from .sinks.measures import assemble_v01, write_measures_csv, write_measures_json
from .sinks.stations import diff_upsert
from .sources.checkpoint import CheckpointStore, advance, incremental_predicate


class Engine:
    def __init__(self, spark: SparkSession | None = None):
        self.spark = tune(spark) if spark is not None else get_spark()

    # -- analytics surface --------------------------------------------------

    def table(self, sf_dir: str, name: str) -> DataFrame:
        return tables.load(self.spark, sf_dir, name)

    def sql(self, query: str, sf_dir: str | None = None) -> DataFrame:
        """spark.sql over the registered testdata views (registered on
        first use per sf_dir)."""
        if sf_dir is not None:
            tables.register_views(self.spark, sf_dir)
        return self.spark.sql(query)

    # -- ingestion surface --------------------------------------------------

    def run_source(
        self,
        config: dict[str, Any],
        out_root: str,
        dry_run: bool = False,
        data_root: str | None = None,
    ) -> dict[str, Any]:
        """One bounded ingestion run for one source (the reference's
        Lambda invocation, fetcher/index.js:12-35). Returns the run log.

        dry_run swaps the sinks for Spark's noop sink and a station count
        (reference DRYRUN, providers.js:151-155) and reports would-be
        outputs. Sink paths key on the source name (meta.source_name)
        like the reference's {STACK}/measures/{provider}/ layout.
        """
        from .config import resolve_paths, source_label
        from .sources.secrets import merge_secret

        config = merge_secret(resolve_paths(config, data_root))
        provider = source_label(config)
        meta = config.get("meta", {})
        try:
            measures, stations = processor(self.spark, config)

            # T2 incremental restart: bound this run to rows past the
            # stored high-water mark (MetaDetails, meta.js:22-41; CMU's
            # `since` default, cmu.js:56-61). A plain ts comparison →
            # pushdown-eligible; re-runs over the same feed emit nothing.
            # Applies in dry-run too, so previewed counts match a real run.
            if meta.get("incremental") in (True, "true", "1"):
                ck = CheckpointStore(out_root).load(provider)
                measures = measures.filter(
                    incremental_predicate(
                        F.col("timestamp"), ck, meta.get("since", "1970-01-01")
                    )
                )

            # the run counters and the checkpoint mark ride the measures
            # write as observed metrics, taken BEFORE the sinks' null
            # filter; a dry run writes the same plan to Spark's noop sink
            measures, obs = summarize(measures)
            if dry_run:
                write_m = (measures.write.format("noop").mode("overwrite").save,)
                write_s = (stations.count,)
            else:
                landed = measures.filter("measure IS NOT NULL")
                if meta.get("sink", "csv") == "json":
                    write_m = (_write_json, landed, stations, out_root, provider)
                else:
                    write_m = (write_measures_csv, landed, out_root, provider)
                write_s = (
                    diff_upsert, self.spark, stations,
                    f"{out_root}/stations/{provider}", "sensor_node_id",
                )

            # the two writes touch disjoint per-provider paths, so they
            # overlap (guide §2.6). Reading the measures result first
            # keeps the error order "measures, then stations", and the
            # pool's exit waits for both before anything below runs: a
            # failed run never advances the checkpoint.
            with ThreadPoolExecutor(max_workers=2) as pool:
                f_m, f_s = pool.submit(*write_m), pool.submit(*write_s)
                measures_path = f_m.result()
                stations_out = f_s.result()
            row = obs.get
            log = {
                "source": provider,
                "n_measures": row["n"],
                "from_ts": row["from_ts"],
                "to_ts": row["to_ts"],
            }
            if dry_run:
                log.update(n_stations=stations_out, status="dry-run")
                return log
            log.update(
                # every incoming station is either written or skipped
                n_stations=stations_out["written"] + stations_out["skipped_unchanged"],
                measures_path=measures_path,
                stations=stations_out,
                checkpoint=advance(CheckpointStore(out_root), provider, row["hwm"]),
                status="fetcher/success",
            )
            publish(
                self.spark,
                f"{out_root}/runlog",
                provider,
                log["status"],
                n_measures=log["n_measures"],
                from_ts=log["from_ts"],
                to_ts=log["to_ts"],
            )
            return log
        except Exception as e:
            # reference: any throw → SNS 'fetcher/error' (index.js:31-34)
            try:
                publish(
                    self.spark, f"{out_root}/runlog", provider, "fetcher/error",
                    message=str(e)[:500],
                )
            except Exception:
                pass
            raise


def _write_json(landed: DataFrame, stations: DataFrame, out_root: str, provider: str) -> str:
    """K2: the v0.1 envelopes of one batch, written by day.

    The observed rows are materialized first, in one provider pass:
    ``assemble_v01`` reads them from two join branches, and on an empty
    batch adaptive execution prunes both branches, so the run summary's
    observation would never be reported."""
    landed = landed.localCheckpoint()
    cols = stations.columns
    locations = stations.selectExpr(
        "sensor_node_id AS location",
        "coalesce(sensor_node_site_name, sensor_node_id) AS label"
        if "sensor_node_site_name" in cols
        else "sensor_node_id AS label",
        "sensor_node_ismobile AS ismobile",
        "sensor_node_geometry[0] AS lon"
        if "sensor_node_geometry" in cols
        else "CAST(NULL AS DOUBLE) AS lon",
        "sensor_node_geometry[1] AS lat"
        if "sensor_node_geometry" in cols
        else "CAST(NULL AS DOUBLE) AS lat",
    )
    payload = assemble_v01(
        landed,
        locations,
        provider,
        # the run date anchors the envelope when a batch has zero
        # measures (one envelope per batch)
        default_day=_dt.now(_timezone.utc).strftime("%Y-%m-%d"),
    )
    return write_measures_json(payload, out_root, provider)
