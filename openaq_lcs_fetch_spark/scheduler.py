"""Per-frequency scheduling (SURVEY.md §3.1 / T1).

The reference fans out via EventBridge rate rules (minute/hour/day,
cdk/stack.ts:109-141) → SQS → one Lambda per source (batchSize 1,
stack.ts:71-75; scheduler/index.js:5-25). Locally that's: group active
source configs by frequency, and for each tick run every source in the
due group — each source isolated (X3), failures contained per source.

On a cluster the same plan runs as one Spark job per source (scheduler
= Airflow/cron submitting ``python -m openaq_lcs_fetch_spark --source
<name>``) or as the Structured Streaming flavor with
``TRIGGER_BY_FREQUENCY`` (streaming/pipeline.py).
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Iterable
from typing import Any

from .config import validate_source_config
from .schemas import VALID_FREQUENCIES


def load_source_configs(config_dir: str | None = None) -> list[dict[str, Any]]:
    """Load + validate every source config (≙ fetcher/sources/index.js)."""
    d = config_dir or os.path.join(os.path.dirname(__file__), "source_configs")
    out = []
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(path) as f:
            out.append(validate_source_config(json.load(f)))
    return out


def by_frequency(configs: Iterable[dict[str, Any]]) -> dict[str, list[dict[str, Any]]]:
    """Active sources grouped per rate rule (inactive skipped, like the
    synth-time filter in cdk/stack.ts:125-131)."""
    groups: dict[str, list[dict[str, Any]]] = {f: [] for f in VALID_FREQUENCIES}
    for cfg in configs:
        if cfg.get("active", False):
            groups[cfg["frequency"]].append(cfg)
    return groups


def due_sources(groups: dict[str, list], minute_of_day: int) -> list[dict[str, Any]]:
    """Sources due at a tick: minute sources every tick, hour sources on
    the hour, day sources at minute 0 of the day."""
    due = list(groups.get("minute", ()))
    if minute_of_day % 60 == 0:
        due += groups.get("hour", ())
    if minute_of_day == 0:
        due += groups.get("day", ())
    return due


#: sources in flight per tick. Guide §2.6: 2-3 concurrent jobs are
#: enough to back-fill the stragglers of each other's many small
#: per-source jobs without fighting for executors; the reference runs
#: one Lambda PER source fully concurrently, so overlapping here is
#: the same X3 isolation, just time-shared on one cluster.
_TICK_WORKERS = 3


def run_tick(
    engine,
    groups,
    minute_of_day: int,
    out_root: str,
    dry_run: bool = False,
    data_root: str | None = None,
):
    """One scheduler tick: run every due source in isolation; a failing
    source logs fetcher/error and does not block the others (the
    reference's per-Lambda isolation).

    Due sources within one tick are independent by construction (each
    owns its measures/stations/checkpoint paths; the one shared sink,
    the run log, takes one new file per publish, so appends need no
    lock — sinks/log.py), so
    they overlap on a small thread pool: Spark happily runs several
    jobs at once, and the next source's tasks back-fill the cores the
    current source's tail leaves idle (guide §2.6). Ticks themselves
    stay sequential — tick N+1's incremental bounds read tick N's
    checkpoints."""
    from concurrent.futures import ThreadPoolExecutor

    from .config import source_label

    def _one(cfg):
        try:
            return engine.run_source(
                cfg, out_root, dry_run=dry_run, data_root=data_root
            )
        except Exception as e:  # isolated per source
            return {
                "source": source_label(cfg),
                "status": "fetcher/error",
                "message": str(e)[:300],
            }

    due = due_sources(groups, minute_of_day)
    if len(due) <= 1:
        return [_one(cfg) for cfg in due]
    with ThreadPoolExecutor(max_workers=min(_TICK_WORKERS, len(due))) as pool:
        return list(pool.map(_one, due))  # map preserves the due order
