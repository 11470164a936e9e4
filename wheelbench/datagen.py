"""Inputs of the benchmark.

`base`: the `events` table, 100,000 rows over the 30 days of January 2024
(1 to 30), 5 event types, 1,500 users, `value` exponential with mean 50 in
cents, sorted by `ts` (TIMESTAMP without zone, microseconds). It is generated
from the fixed seed 42, so every run reads the same table and the index has
the same size.

`batches`: the files `index_upkeep` lands, one per cycle, from the run's
seed. Batch i is a seeded half-sample of one seeded day of the base, shifted
to the day after the previous batch (day 31 + i), with fresh event ids. A
compaction replaces the table's part files with one file of the same rows,
also written here so that the run only swaps files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_SEED = 42
ROWS = 100_000
DAYS = 30
DAY_US = 86_400 * 1_000_000
START_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def base(path, rows=ROWS, seed=BASE_SEED):
    """Writes the base table to `path` unless it is already there."""
    if os.path.exists(path):
        return path
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, DAYS * DAY_US, rows)) + START_US
    t = pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, rows).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, rows)]),
        "value": pa.array(np.round(rng.exponential(50.0, rows), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, rows)]),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(t, tmp, compression="snappy")
    os.replace(tmp, path)
    return path


def batches(out_dir, base_path, seed, n, compact_every):
    """Writes n batch files and `manifest.tsv` (file name, rows) to out_dir,
    and after every `compact_every`-th batch i the compacted table
    `compact-<i>.parquet` (base plus batches 0..i in one file); returns the
    batch paths in landing order."""
    os.makedirs(out_dir, exist_ok=True)
    t = pq.read_table(base_path)
    ts_us = pc.cast(t["ts"], pa.int64()).to_numpy()
    day = (ts_us - START_US) // DAY_US
    paths, manifest = [], []
    for i in range(n):
        rng = np.random.default_rng([seed, i])
        d = int(rng.integers(0, DAYS))
        idx = np.nonzero(day == d)[0]
        idx = idx[rng.random(len(idx)) < 0.5]
        b = t.take(pa.array(idx))
        shift = (DAYS + i - d) * DAY_US
        b = b.set_column(b.schema.get_field_index("ts"), "ts",
                         pa.array((ts_us[idx] + shift).astype("datetime64[us]"),
                                  pa.timestamp("us")))
        b = b.set_column(b.schema.get_field_index("event_id"), "event_id",
                         pa.array(np.arange(len(idx), dtype=np.int64)
                                  + 1_000_000 * (i + 1)))
        name = f"batch-{i:03d}.parquet"
        pq.write_table(b, os.path.join(out_dir, name), compression="snappy")
        paths.append(os.path.join(out_dir, name))
        manifest.append(f"{name}\t{len(idx)}\n")
        if (i + 1) % compact_every == 0:
            whole = pa.concat_tables([t] + [pq.read_table(p) for p in paths])
            pq.write_table(whole, os.path.join(out_dir, f"compact-{i:03d}.parquet"),
                           compression="snappy")
    with open(os.path.join(out_dir, "manifest.tsv"), "w") as f:
        f.writelines(manifest)
    return paths
