"""Seeded input generators. The same seed gives byte-identical files.

- ``subsample``: the replay_small tables, a seeded row subsample of the
  sf0.01 snapshot in ``data/``: a row is kept when a hash of (seed,
  primary key) falls below the keep share.
- ``ticks``: a generated ``events`` table with the sf tables' schema, Zipf key
  skew and same-instant bursts, written as several files so the scan lands
  in at least as many partitions as there are cores.

The live leg's send schedule is a function of the events table and the
fixed offered rate: events in (ts, event_id) order, whole instants sent
together, event i due at i / rate seconds after the open-loop start.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "sf0.01")
PRIMARY_KEYS = {"events": "event_id", "documents": "doc_id", "embeddings": "vec_id"}
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
DAY_US = 24 * 3600 * 1_000_000
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, the sf tables' origin

M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def splitmix64(x):
    """Vectorised splitmix64 finaliser over uint64 arrays (wrapping)."""
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & M64
        x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & M64
        x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & M64
        return x ^ (x >> np.uint64(31))


def keep_mask(keys, seed, keep):
    """Rows whose hash of (seed, key) falls below ``keep`` of the range."""
    h = splitmix64(keys.astype(np.uint64) ^ splitmix64(np.full(1, seed, np.uint64)))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53) < keep


def subsample(out_dir, seed, keep=0.9):
    """Write the replay_small tables (single files, as the sf tables come)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, pk in PRIMARY_KEYS.items():
        t = pq.read_table(os.path.join(BASE, f"{name}.parquet"))
        mask = keep_mask(t.column(pk).to_numpy(), seed, keep)
        pq.write_table(t.filter(pa.array(mask)), os.path.join(out_dir, f"{name}.parquet"))


def ticks(out_dir, seed, n_events, n_keys, zipf_s, burst_share, files, days=30):
    """Write a skewed, bursty ``events`` table of about ``n_events`` rows.

    Keys follow a Zipf(``zipf_s``) law over ``n_keys`` user ids (shuffled,
    so the hot keys are not the small ids). ``burst_share`` of the instants
    are bursts of 2-8 events of one key at one timestamp; the rest are
    single events. Timestamps are distinct per instant, at microsecond
    resolution.
    """
    rng = np.random.default_rng(seed)
    sizes = np.where(rng.random(n_events) < burst_share,
                     rng.integers(2, 9, n_events), 1)
    sizes = sizes[: int(np.searchsorted(np.cumsum(sizes), n_events)) + 1]
    n_inst = len(sizes)
    p = 1.0 / np.arange(1, n_keys + 1) ** zipf_s
    ids = rng.permutation(n_keys).astype(np.int64)
    inst_key = ids[rng.choice(n_keys, size=n_inst, p=p / p.sum())]
    inst_ts = START_US + np.sort(rng.choice(days * DAY_US, size=n_inst, replace=False))
    user_id = np.repeat(inst_key, sizes)
    ts = np.repeat(inst_ts, sizes)
    n = len(ts)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(user_id),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.random(n) * 560.0, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    d = os.path.join(out_dir, "events.parquet")
    os.makedirs(d, exist_ok=True)
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(d, f"part-{i:05d}.parquet"))
    return n


def digest(root):
    """sha256 over every file under ``root`` (relative path and bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for f in sorted(filenames):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
