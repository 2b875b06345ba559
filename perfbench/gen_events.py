"""Seeded load-like events with the schema of the test data `events` table.

Each series is one `event_type`; readings arrive at irregular times
(Poisson counts per hour, uniform microsecond offsets), follow a daily
and weekly load shape with noise, and carry the defects the chain has to
repair:

- empty hours (about 2 %), which the hourly grid leaves as gaps;
- one or two empty days per series, which the week-walk fill repairs;
- for every fifth series one hour of the week never observed, so fill
  finds nothing and the day windows holding it are dropped;
- about 1 % duplicate timestamps (a second reading at the same instant).

The same (seed, size) always gives byte-identical rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # sf0.1 shape: 5 series x 30 days, ~100k events, 3.6k grid cells
    "small": 5,
    # ten times the series: ~1M events
    "wide": 50,
}
DAYS = 30
RATE = 28.0  # mean readings per series-hour -> ~100k events for 5 series
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00


def generate(seed: int, n_series: int):
    rng = np.random.default_rng(seed)
    hours = DAYS * 24
    ts_parts, type_parts, val_parts = [], [], []
    names = [f"load_{i:02d}" for i in range(n_series)]
    for s in range(n_series):
        base = rng.uniform(20.0, 80.0)
        amp = rng.uniform(0.2, 0.5)
        peak = rng.uniform(14.0, 20.0)
        counts = rng.poisson(RATE, hours)
        counts[rng.random(hours) < 0.02] = 0
        for d in rng.choice(DAYS, size=rng.integers(1, 3), replace=False):
            counts[d * 24:(d + 1) * 24] = 0
        if s % 5 == 0:
            phase = int(rng.integers(0, 168))
            counts[np.arange(phase, hours, 168)] = 0
        hour = np.repeat(np.arange(hours), counts)
        n = hour.size
        offs = rng.integers(0, 3600 * 1_000_000, n)
        hod = hour % 24
        dow = (hour // 24) % 7
        load = base * (1.0 + amp * np.cos(2 * np.pi * (hod - peak) / 24.0))
        load *= np.where(dow >= 5, 0.8, 1.0)
        vals = np.maximum(load * rng.lognormal(0.0, 0.25, n), 0.0)
        ts = T0_US + hour.astype(np.int64) * 3600 * 1_000_000 + offs
        dup = rng.random(n) < 0.01
        ts = np.concatenate([ts, ts[dup]])
        vals = np.concatenate([vals, vals[dup] * rng.uniform(0.9, 1.1, int(dup.sum()))])
        ts_parts.append(ts)
        val_parts.append(np.round(vals, 2))
        type_parts.append(np.full(ts.size, s, dtype=np.int32))
    ts = np.concatenate(ts_parts)
    vals = np.concatenate(val_parts)
    types = np.concatenate(type_parts)
    order = np.lexsort((types, ts))
    ts, vals, types = ts[order], vals[order], types[order]
    n = ts.size
    users = rng.integers(0, 1500, n)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(np.array(names, dtype=object)[types], type=pa.string()),
        "value": pa.array(vals, type=pa.float64()),
        "props": pa.array(props, type=pa.string()),
    })


def ensure(root: str, size: str, seed: int) -> dict:
    """Write `<root>/<size>-s<seed>/events.parquet` once; return its dir and counts."""
    d = os.path.join(root, f"{size}-s{seed}")
    path = os.path.join(d, "events.parquet")
    if not os.path.exists(path):
        os.makedirs(d, exist_ok=True)
        tmp = path + f".tmp{os.getpid()}"
        pq.write_table(generate(seed, SIZES[size]), tmp)
        os.replace(tmp, path)
    meta = pq.ParquetFile(path).metadata
    return {"dir": d, "rows": meta.num_rows, "series": SIZES[size]}
