"""Seeded inputs for the benchmark, written with pyarrow (never Spark).

Value distributions are the ones ``tools/gen_testdata.py`` uses for its
events table: uniform users and event types, ``value`` ~ Exp(mean 50)
rounded to 2 dp, ``props`` = ``{"k": 0..99}``.  Two things differ on
purpose: event counts are fixed per day (so every seed does the same
amount of work) and ~0.3 % of ``user_id`` are null (so the daily
pipeline's hygiene step has rows to quarantine).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tools.gen_testdata import EVENT_TYPES

FIRST_DAY = np.datetime64("2024-01-01", "D")
DAY_US = 24 * 3600 * 1_000_000
NULL_USER_RATE = 0.003


def _str(a) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def _events(rng, n: int, start_us: int, span_us: int, n_users: int, first_id: int) -> dict:
    ts = np.sort(rng.integers(0, span_us, n)) + start_us
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": (np.datetime64("1970-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "k": rng.integers(0, 100, n),
    }


def write_days(out_dir: str, seed: int, n_days: int, events_per_day: int, n_users: int) -> list[str]:
    """Write ``out_dir/events.parquet`` (the events schema of
    ``tools/gen_testdata.py``) holding ``n_days`` consecutive UTC days
    of exactly ``events_per_day`` events each; returns the day strings."""
    rng = np.random.default_rng(seed)
    first_us = int(FIRST_DAY.astype("datetime64[us]").astype(np.int64))
    cols = [
        _events(rng, events_per_day, first_us + d * DAY_US, DAY_US, n_users, d * events_per_day)
        for d in range(n_days)
    ]
    ev = {k: np.concatenate([c[k] for c in cols]) for k in cols[0]}
    null_user = rng.random(len(ev["event_id"])) < NULL_USER_RATE
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "event_id": pa.array(ev["event_id"], pa.int64()),
            "ts": pa.array(ev["ts"].astype("datetime64[us]")),
            "user_id": pa.array(ev["user_id"], pa.int64(), mask=null_user),
            "event_type": ev["event_type"],
            "value": ev["value"],
            "props": pc.binary_join_element_wise('{"k": ', _str(ev["k"]), "}", ""),
        }),
        os.path.join(out_dir, "events.parquet"),
    )
    return [str(FIRST_DAY + d) for d in range(n_days)]


def _json_values(ev: dict) -> pa.Array:
    """JSON message values in the wire format of
    ``sources.replay.as_kafka_messages``: microsecond ``ts`` with a UTC
    offset, ``props`` as an embedded JSON string."""
    ts = pc.replace_substring(
        pc.cast(pa.array(ev["ts"].astype("datetime64[us]")), pa.string()), " ", "T", max_replacements=1
    )
    return pc.binary_join_element_wise(
        '{"event_id":', _str(ev["event_id"]),
        ',"ts":"', ts, 'Z","user_id":', _str(ev["user_id"]),
        ',"event_type":"', _str(ev["event_type"]),
        '","value":', _str(ev["value"]),
        ',"props":"{\\"k\\": ', _str(ev["k"]), '}"}',
        "",
    )


def write_messages(
    out_dir: str, seed: int, files: range, per_file: int, n_users: int, events_per_day: int
) -> dict:
    """Write message files ``files`` (parquet, ``(key, value)`` rows
    shaped like Kafka records) into ``out_dir``.  File ``i`` holds
    events ``i*per_file ..`` in event-time order at ``events_per_day``,
    drawn from its own ``(seed, i)`` stream, so any file reads the same
    whichever batch writes it.  Returns what ingesting the files adds
    to the lake: ``rows``, ``sum_event_id`` and ``per_date`` counts."""
    os.makedirs(out_dir, exist_ok=True)
    first_us = int(FIRST_DAY.astype("datetime64[us]").astype(np.int64))
    file_span = DAY_US * per_file // events_per_day
    added = {"rows": 0, "sum_event_id": 0, "per_date": {}}
    for i in files:
        rng = np.random.default_rng([seed, i])
        ev = _events(rng, per_file, first_us + i * file_span, file_span, n_users, i * per_file)
        days, counts = np.unique(ev["ts"].astype("datetime64[D]"), return_counts=True)
        added["rows"] += per_file
        added["sum_event_id"] += int(ev["event_id"].sum())
        for d, c in zip(days, counts):
            added["per_date"][str(d)] = added["per_date"].get(str(d), 0) + int(c)
        pq.write_table(
            pa.table({
                "key": pc.cast(_str(ev["user_id"]), pa.binary()),
                "value": pc.cast(_json_values(ev), pa.binary()),
            }),
            os.path.join(out_dir, f"messages-{i:05d}.parquet"),
        )
    return added
