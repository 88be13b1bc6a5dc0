"""Fetcher implementations for the paginated HTTP source.

``synthetic_readings`` is the deterministic offline fetcher used by
tests (and by provider fixtures); ``http_json`` is the real-network
generic JSON fetcher (stdlib-only, never exercised in tests).
"""

from __future__ import annotations

import json
import urllib.request


def synthetic_readings(options: dict, page: int) -> list[tuple]:
    """Deterministic fake provider API: ``page_size`` readings per page,
    wide shape (station, unix_ts, pm25, temperature)."""
    size = int(options.get("page_size", 10))
    base_ts = int(options.get("base_ts", 1_700_000_000))
    rows = []
    for i in range(size):
        seq = page * size + i
        rows.append(
            (
                f"st-{seq % 7}",
                base_ts + 60 * seq,
                round(5.0 + (seq * 37 % 100) / 10.0, 1),
                round(15.0 + (seq * 17 % 200) / 10.0, 1),
            )
        )
    return rows


def empty_after(options: dict, page: int) -> list[tuple]:
    """Fetcher that goes dry after ``n_pages`` — exercises the
    early-exit sequential path."""
    if page >= int(options.get("n_pages", 3)):
        return []
    return synthetic_readings(options, page)


def daily_file_listing(
    options: dict, token: str | None
) -> tuple[list[str], str | None]:
    """Deterministic token-paginated listing for the two-phase backfill
    (cmu.js:246-274 shape): ``n_files`` names, DESCENDING, ``page_size``
    per token round-trip. Names are date-stamped like the reference's
    'PurpleAir Network YYYY-MM-DD HH_mm.csv' (cmu.js:179,302-311)."""
    size = int(options.get("page_size", 4))
    n = int(options.get("n_files", 10))
    start = 0 if token is None else int(token)
    names = [
        f"readings-2024-06-{n - i:02d}" for i in range(start, min(start + size, n))
    ]
    nxt = start + size
    return names, (str(nxt) if nxt < n else None)


def daily_file_rows(options: dict, file_id: str) -> list[tuple]:
    """Deterministic per-file fetch: ``rows_per_file`` hourly readings
    parsed out of the named daily file (the processFile twin,
    cmu.js:126-186)."""
    day = file_id.rsplit("-", 3)[-3:]
    rows = []
    for h in range(int(options.get("rows_per_file", 2))):
        rows.append(
            (
                "st-1",
                f"{'-'.join(day)}T{h:02d}:00:00",
                round(10.0 + h + int(day[-1]), 1),
            )
        )
    return rows


def http_json(options: dict, page: int) -> list[tuple]:  # pragma: no cover
    """Generic offset-paginated JSON GET (S1/S2). ``url`` may contain
    ``{page}``/``{offset}``; ``fields`` names the record keys to project
    (P1 source-side projection)."""
    size = int(options.get("page_size", 100))
    url = options["url"].format(page=page, offset=page * size)
    req = urllib.request.Request(url, headers={"Accept": "application/json"})
    with urllib.request.urlopen(req, timeout=float(options.get("timeout", 30))) as r:
        body = json.loads(r.read().decode("utf-8"))
    records = body[options["data_key"]] if options.get("data_key") else body
    fields = options["fields"].split(",")
    return [tuple(rec.get(f) for f in fields) for rec in records]


def recording_readings(options: dict, page: int) -> list[tuple]:
    """synthetic_readings + an audit trail: writes the ``pushed_filters``
    option this call received (or ``NONE``) to ``{audit_dir}/page_{n}``,
    so the driver can verify F2's source-side pushdown actually REACHED
    the fetcher — the Spark twin of purpleair translating predicates
    into URL query params (purpleair.js:120-125). Returns the FULL
    unfiltered page on purpose: the reader re-applies pushed predicates
    (http.py PaginatedReader.read), so a fetcher that ignores them
    stays correct — this fixture proves both halves at once."""
    import os

    with open(os.path.join(options["audit_dir"], f"page_{page}"), "w") as fh:
        fh.write(options.get("pushed_filters", "NONE"))
    return synthetic_readings(options, page)


def paced_readings(options: dict, page: int) -> list[tuple]:
    """synthetic_readings + a call-time trail: records ``time.monotonic()``
    per call under ``trace_dir`` so the driver can verify X2's request
    rate floor (``min_call_interval_ms`` — the reference throttles API
    calls, pLimit(10) cmu.js:74, batch airgradient.js:101-110) actually
    paced consecutive calls within a task."""
    import os
    import time

    with open(os.path.join(options["trace_dir"], f"page_{page}"), "w") as fh:
        fh.write(repr(time.monotonic()))
    return synthetic_readings(options, page)


def flaky_readings(options: dict, page: int) -> list[tuple]:
    """synthetic_readings behind a deterministic transient fault: the
    first ``fail_times`` calls for each page raise ConnectionError,
    tracked in a file under ``counter_dir`` so the count survives the
    executor-worker process boundary. Exercises the with_retries path
    end-to-end through the DataSource."""
    import os

    counter = os.path.join(options["counter_dir"], f"page_{page}")
    try:
        n = int(open(counter).read())
    except OSError:
        n = 0
    if n < int(options.get("fail_times", 2)):
        with open(counter, "w") as fh:
            fh.write(str(n + 1))
        raise ConnectionError(f"synthetic transient failure #{n + 1} page {page}")
    return synthetic_readings(options, page)


def counted_sessions(options: dict, page: int) -> list[tuple]:
    """providers.mobile.mobile_sessions plus a call trail: appends one
    line per call to ``counter_dir/page_<n>`` (the file outlives the
    executor worker), so the driver can count how often each page was
    fetched."""
    import os

    from ..providers.mobile import mobile_sessions

    with open(os.path.join(options["counter_dir"], f"page_{page}"), "a") as fh:
        fh.write("1\n")
    return mobile_sessions(options, page)
