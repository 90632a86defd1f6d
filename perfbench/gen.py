"""Seeded generator of the table the query mix reads.

`events` has the layout `graft.sources.Tables.events` loads, at the 0.1
scale factor of the repository's test data: 100k rows over the 30 days of
January 2024, 1,500 users, five event types and exponential values. The
same seed always gives a byte-identical parquet file.

    python3 perfbench/gen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = 100000


def events(seed):
    rng = np.random.default_rng(seed)
    secs = np.sort(rng.uniform(0, 30 * 86400, ROWS))
    ts = np.datetime64("2024-01-01", "us") + (secs * 1e6).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(ROWS, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, ROWS),
        "event_type": rng.choice(["signup", "click", "error", "view",
                                  "purchase"], ROWS),
        "value": np.round(rng.exponential(50.0, ROWS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ROWS)]})


def generate(out_dir, seed):
    """Writes the tables once per (dir, seed); returns the directory."""
    path = os.path.join(out_dir, "events.parquet")
    if not os.path.exists(path):
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(events(seed), path + ".tmp")
        os.replace(path + ".tmp", path)
    return out_dir


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
