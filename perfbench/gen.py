"""Seeded input generators for the benchmark.

A port of `bench.py:synth_pages` to numpy, with the workload seed mixed
into every hash (splitmix64 over (seed, row id, salt)). Same seed and
size give byte-identical parquet; the program under test only ever sees
the written parquet. Outputs are cached by (kind, seed, size) under the
work directory, so generation never sits inside a timed region.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# hot-cell centers as in bench.py: 0 and 1 sit inside the pipeline's
# polygons (plans.queries.ORACLE_RECTS) so the PIP refine gets real load
HOT = np.array([(0.5, -40.5), (45.5, -100.5), (40.71, -74.0), (51.5, -0.12), (-33.87, 151.2)])
LANGS = np.array(["en", "es", "de", "fr", "zh"])
N_FILES = 16  # input splits: >= 4 per core at local[4]

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_G = np.uint64(0x9E3779B97F4A7C15)


def mix(seed: int, ids: np.ndarray, *salt: int) -> np.ndarray:
    """splitmix64 finalizer over (seed, ids, salt...): uint64 per id."""
    with np.errstate(over="ignore"):
        z = ids.astype(np.uint64) * _G + np.uint64(seed & 0xFFFFFFFF) * _M1
        for s in salt:
            z = (z ^ (z >> np.uint64(31))) * _M2 + np.uint64(s) * _G
        z = (z ^ (z >> np.uint64(30))) * _M1
        z = (z ^ (z >> np.uint64(27))) * _M2
        return z ^ (z >> np.uint64(31))


def pages_table(n_rows: int, seed: int) -> pa.Table:
    """Skewed synthetic pages (url, warc_ts, lang, lat0, lon0, text): ~50% of rows in
    5 hot cells jittered by +-0.01 degrees, the rest uniform; ~3% dirty
    rows (out-of-range or null-island coordinates) for QC to reject.
    The pipeline reads coordinates from `text`; kNN reads lat0/lon0, as
    in bench.py."""
    eid = np.arange(n_rows, dtype=np.int64)

    def h(salt: int, mod: int) -> np.ndarray:
        return (mix(seed, eid, salt) % np.uint64(mod)).astype(np.int64)

    uid = h(1, 100000)
    lat = h(2, 1700000) / 10000.0 - 85.0
    lon = h(3, 3600000) / 10000.0 - 180.0
    hot = h(4, 10) < 5
    center = HOT[h(5, 5)]
    lat = np.where(hot, center[:, 0] + h(6, 20000) / 1e6 - 0.01, lat)
    lon = np.where(hot, center[:, 1] + h(7, 20000) / 1e6 - 0.01, lon)
    island = h(8, 89) == 0
    lat = np.where(island, h(9, 17) / 100000.0, lat)
    lon = np.where(island, -h(10, 19) / 100000.0, lon)
    lat = np.where(h(11, 97) == 0, 91.0 + h(12, 13), lat)
    lon = np.where(h(13, 101) == 0, 181.0 + h(14, 23), lon)
    urls = [f"https://src{u % 500}/page/{i}" for u, i in zip(uid.tolist(), eid.tolist())]
    text = [f"url={u} lat={a:.6f} lon={b:.6f}" for u, a, b in zip(urls, lat.tolist(), lon.tolist())]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (h(15, 30 * 86400) * 1_000_000).astype(
        "timedelta64[us]"
    )
    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts),
            "lang": pa.array(LANGS[h(16, 5)], pa.string()),
            "lat0": pa.array(lat, pa.float64()),
            "lon0": pa.array(lon, pa.float64()),
            "text": pa.array(text, pa.string()),
        }
    )


def write_cached(table_fn, kind: str, n: int, seed: int, cache_dir: str) -> str:
    """Materialize table_fn(n, seed) as N_FILES parquet files once per
    (kind, seed, n); later calls return the cached directory."""
    out = os.path.join(cache_dir, f"{kind}_n{n}_s{seed}")
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t = table_fn(n, seed)
    step = -(-t.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(t.slice(i * step, step), os.path.join(tmp, f"part-{i:05d}.parquet"))
    os.replace(tmp, out)
    return out


def dir_bytes(path: str) -> int:
    """Bytes of the data files under a parquet output directory."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f)) for f in files if not f.startswith(("_", "."))
        )
    return total


def dir_files(path: str) -> int:
    return sum(
        1 for _r, _d, files in os.walk(path) for f in files if not f.startswith(("_", "."))
    )
