"""Seeded generator for the RCO benchmark's input events.

Writes `events.parquet` with the schema of the repo's test-data `events`
table (event_id int64, ts timestamp[us], user_id int64, event_type string,
value double, props string). `user_id` becomes the pipeline's LINE.

Shape: `lines` lines over `days` days with `events_per_line_day` events per
line per day on average. Event types are uniform over the five test-data
types, `value` (downtime minutes) is exponential with mean 50, `props` is
`{"k": 0..99}`, and timestamps are uniform over the span. Generated
single-threaded from one numpy Generator, so the same seed always gives
the same bytes.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["error", "view", "signup", "purchase", "click"]
START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000
VALUE_MEAN_MIN = 50.0


def events_table(seed, lines, days, events_per_line_day):
    rng = np.random.default_rng(seed)
    n = int(round(lines * days * events_per_line_day))
    ts = np.sort(rng.integers(START_US, START_US + days * DAY_US, size=n))
    user_id = rng.integers(0, lines, size=n)
    etype = rng.integers(0, len(EVENT_TYPES), size=n)
    value = np.round(rng.exponential(VALUE_MEAN_MIN, size=n), 2)
    k = rng.integers(0, 100, size=n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(user_id.astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[etype],
                               pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {x}}}' for x in k.tolist()], pa.string()),
    })


def digest(path):
    """SHA-256 of a written input file: what the pipeline is handed."""
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def write(table, directory):
    os.makedirs(directory, exist_ok=True)
    pq.write_table(table, os.path.join(directory, "events.parquet"))
