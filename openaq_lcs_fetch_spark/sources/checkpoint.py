"""Per-source high-water-mark checkpoint (SURVEY.md K4/T2).

Re-expresses ``MetaDetails`` (reference fetcher/lib/meta.js:11-43):
a tiny JSON document per source recording incremental progress, loaded
before a run to bound the scan and saved after with the new maximum.
CMU restarts from ``since`` (default 2019-03-01) and saves
``greatestTimestamp`` (cmu.js:56-61, :109-114).

For Structured Streaming pipelines the Spark checkpoint dir replaces
this; the batch path uses this store + an incremental filter that
Catalyst pushes into the scan.
"""

from __future__ import annotations

import datetime
import json
import os
import tempfile
import warnings
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class CheckpointStore:
    """Filesystem-backed store: ``{base}/meta/{source}.json``.

    Writes are atomic (tmp file + rename) — the reference gets the
    equivalent from S3 PUT atomicity.
    """

    def __init__(self, base: str):
        self.base = base
        os.makedirs(os.path.join(base, "meta"), exist_ok=True)

    def _path(self, source: str) -> str:
        return os.path.join(self.base, "meta", f"{source}.json")

    def load(self, source: str) -> dict[str, Any] | None:
        try:
            with open(self._path(source)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def save(self, source: str, payload: dict[str, Any]) -> None:
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self._path(source)))
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f, sort_keys=True)
        os.replace(tmp, self._path(source))


def incremental_predicate(ts: Column, checkpoint: dict | None, default_since: str) -> Column:
    """Scan-bounding predicate: ``ts > high_water_mark`` (or the
    configured restart default). A plain comparison → parquet/JDBC
    pushdown applies."""
    since = (checkpoint or {}).get("high_water_mark", default_since)
    return ts > F.lit(since)


def hwm_expr(ts_col: str) -> Column:
    """A2: the checkpoint-format max timestamp (greatestTimestamp) as an
    aggregate expression, so a caller can compute it inside a pass it
    already makes (``sinks.log.summarize`` observes it on the sink write).

    Formatted ENGINE-side under the session timezone (UTC, pinned in
    session.RUNTIME_CONF): collecting the raw timestamp would hand back
    a host-LOCAL naive datetime (non-Arrow collect goes through
    ``datetime.fromtimestamp``), and re-parsing its isoformat under the
    UTC session tz in :func:`incremental_predicate` would shift the
    incremental boundary by the host's UTC offset — the same bug class
    the vacuum's footer-span reads fixed. Always emits microseconds so
    marks of the same format compare lexicographically in :func:`advance`.
    """
    return F.date_format(F.max(ts_col), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")


def high_water_mark(df: DataFrame, ts_col: str) -> str | None:
    """The :func:`hwm_expr` of a whole frame, in its own aggregate job
    (``None`` for an empty frame)."""
    return df.agg(hwm_expr(ts_col).alias("hwm")).collect()[0]["hwm"]


#: how far AHEAD of the current batch a stored mark may sit before
#: :func:`advance` warns. Partial re-reads legitimately leave the mark
#: a little ahead; a multi-hour lead matches the pre-TZ-fix
#: future-shift signature (host UTC offsets are ≤ 14 h) or a clock bug.
SUSPECT_MARK_GAP = datetime.timedelta(hours=2)


def _naive_utc(dt: datetime.datetime) -> datetime.datetime:
    """Normalize to naive UTC so the gap subtraction never raises.

    Engine-written marks are naive (UTC by the pinned session tz), but a
    pre-fix or foreign writer may have stored ``...+00:00``/``Z``;
    subtracting aware from naive raises TypeError — on exactly the
    legacy stores the warning exists to detect."""
    if dt.tzinfo is not None:
        return dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return dt


def advance(store: CheckpointStore, source: str, hwm: str | None) -> dict[str, Any]:
    """Save the new high-water mark ``hwm`` (a :func:`hwm_expr`-format
    string, or ``None`` for an empty batch, which keeps the stored mark)
    after a successful run; never moves backwards (late re-reads must
    not regress the checkpoint). A caller holding only a frame passes
    ``high_water_mark(df, ts_col)``.

    Migration note: a store written by the PRE-TZ-fix
    ``high_water_mark`` on a host east of UTC holds a future-shifted
    mark that the never-regress rule will preserve (the corrected mark
    compares smaller), silently skipping data until wall-clock catches
    up. There is no safe automatic clamp — a mark legitimately ahead of
    the current batch is NORMAL under partial re-reads — so such stores
    must be rebuilt once (delete ``{base}/meta/{source}.json``; the
    checkpoint is derived state, the next run re-bounds from
    ``default_since``). :data:`SUSPECT_MARK_GAP` makes the hazard
    detectable at runtime: a stored mark more than that far AHEAD of
    the batch high-water mark warns (a mark slightly ahead is normal
    under partial re-reads; hours ahead is the documented TZ-shift
    signature or a clock problem — either way worth a look)."""
    prev = store.load(source) or {}
    stored = prev.get("high_water_mark", "")
    if hwm is not None and stored:
        try:
            gap = _naive_utc(datetime.datetime.fromisoformat(stored)) - _naive_utc(
                datetime.datetime.fromisoformat(hwm)
            )
        except ValueError:
            gap = None  # foreign-format mark: never-regress still applies
        if gap is not None and gap > SUSPECT_MARK_GAP:
            warnings.warn(
                f"checkpoint for {source!r} is {gap} ahead of the batch "
                f"high-water mark ({stored!r} > {hwm!r}); if this store "
                "predates the TZ-format fix it is future-shifted and is "
                "silently skipping data — rebuild it (delete "
                f"{store._path(source)}; see advance() docstring)",
                stacklevel=2,
            )
    if hwm is not None and hwm > stored:
        prev["high_water_mark"] = hwm
    store.save(source, prev)
    return prev
