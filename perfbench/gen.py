"""Seeded input generators.  The same seed gives byte-identical inputs.

Generated inputs are cached on disk by (kind, seed, size), so a cold or
warm cache changes no measured number: generation is never timed.
"""

from __future__ import annotations

import datetime as dt
import os
import pickle
from decimal import Decimal

import numpy as np
import pandas as pd

from augdiff_pipeline_spark import fixtures
from augdiff_pipeline_spark.functions.packing import partition_number_py
from augdiff_pipeline_spark.operators import images as imgcodec

# schemas.OSM_SCHEMA column positions
ID, TYPE, TAGS, LAT, LON, NDS, VERSION, VISIBLE = 1, 2, 3, 4, 5, 6, 12, 13
GRID_ID_BASE = 10_000_000  # fixtures.dense_grid_state_rows' default
NUDGE_DEG = 0.00005


def cached(cache_dir: str, key: str, make):
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    value = make()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as fh:
        pickle.dump(value, fh, protocol=pickle.HIGHEST_PROTOCOL)
    os.replace(tmp, path)
    return value


# ------------------------------------------------------------- minutely
def _osm_row(eid, etype, version, ts, *, tags=None, lon=None, lat=None,
             nds=(), visible=True):
    # a tombstone (visible=False) has no changeset, uid or user, as in
    # fixtures._tombstone
    return (
        partition_number_py(eid, etype), eid, etype, tags or {},
        Decimal(f"{lat:.7f}") if lat is not None else None,
        Decimal(f"{lon:.7f}") if lon is not None else None,
        [(int(r),) for r in nds], [],
        100 if visible else None, ts, 7 if visible else None,
        "perfbench" if visible else None, version, visible,
    )


def minutely_feed(seed: int, grid_n: int, n_batches: int) -> tuple[list, dict]:
    """(base_rows, {seq: change_rows}): the fixture world plus an
    ``grid_n`` x ``grid_n`` building grid, then a seeded churn.

    Every batch has the same shape, so batch latencies are comparable:
    one POI move, one way-corner move (a grid building or a fixture
    road, never a relation member), one way tag bump, one ephemeral node
    created, and (from the second batch on) the previous batch's
    ephemeral node tombstoned.  These are the change kinds of
    ``fixtures.soak_batch_rows``, which the test oracle replays.
    """
    rng = np.random.default_rng(seed)
    base = fixtures.base_state_rows() + fixtures.dense_grid_state_rows(grid_n, GRID_ID_BASE)
    ver = {(r[ID], r[TYPE]): r[VERSION] for r in base}
    coords = {r[ID]: (float(r[LON]), float(r[LAT])) for r in base if r[TYPE] == "node"}
    ways = {r[ID]: r for r in base if r[TYPE] == "way"}
    grid_ways = sorted(w for w in ways if w >= GRID_ID_BASE)
    pois = list(fixtures.FILLER)
    # corners of ways that belong to no relation: moving one dirties
    # only its ways
    corners = sorted(
        {ref for w in grid_ways for (ref,) in ways[w][NDS]}
        | set(fixtures.SQ2) | set(fixtures.RD)
    )

    def bump(eid, etype):
        ver[(eid, etype)] = ver.get((eid, etype), 0) + 1
        return ver[(eid, etype)]

    def moved(nid):
        lon, lat = coords[nid]
        dx, dy = rng.choice([-NUDGE_DEG, NUDGE_DEG], 2)
        coords[nid] = (round(lon + dx, 7), round(lat + dy, 7))
        return coords[nid]

    batches: dict[int, list] = {}
    ephemeral = None
    for seq in range(n_batches):
        t0 = fixtures.T0 + dt.timedelta(hours=seq + 1)
        ts = [t0 + dt.timedelta(minutes=m) for m in range(5)]
        rows = []
        nid = pois[int(rng.integers(len(pois)))]
        lon, lat = moved(nid)
        rows.append(_osm_row(nid, "node", bump(nid, "node"), ts[0], lon=lon, lat=lat,
                             tags={"amenity": "cafe"} if nid in fixtures.FILLER[:3] else None))
        cid = corners[int(rng.integers(len(corners)))]
        lon, lat = moved(cid)
        rows.append(_osm_row(cid, "node", bump(cid, "node"), ts[1], lon=lon, lat=lat))
        wid = grid_ways[int(rng.integers(len(grid_ways)))]
        w = ways[wid]
        tags = dict(w[TAGS], levels=str(int(rng.integers(1, 30))))
        ways[wid] = _osm_row(wid, "way", bump(wid, "way"), ts[2], tags=tags,
                             nds=[r for (r,) in w[NDS]])
        rows.append(ways[wid])
        if ephemeral is not None:
            rows.append(_osm_row(ephemeral, "node", bump(ephemeral, "node"), ts[3],
                                 visible=False))
        ephemeral = 5_000_000 + seq
        lon = round(10.0 + 0.2 * float(rng.random()), 7)
        lat = round(50.0 + 0.2 * float(rng.random()), 7)
        rows.append(_osm_row(ephemeral, "node", bump(ephemeral, "node"), ts[4],
                             lon=lon, lat=lat, tags={"amenity": "bench"}))
        batches[seq] = rows
    return base, batches


# ---------------------------------------------------------------- images
def _clustered_lonlat(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    """85% around 20 Zipf(1.5)-weighted centres inside the world's bbox
    (a few hot cells: skew), 15% uniform over a slightly larger box."""
    centers = np.stack([rng.uniform(10.0, 10.2, 20), rng.uniform(50.0, 50.2, 20)], axis=1)
    w = 1.0 / np.arange(1, 21) ** 1.5
    which = rng.random(n) < 0.85
    c = rng.choice(20, size=n, p=w / w.sum())
    lon = np.where(which, centers[c, 0] + rng.normal(0, 0.002, n), rng.uniform(9.95, 10.25, n))
    lat = np.where(which, centers[c, 1] + rng.normal(0, 0.002, n), rng.uniform(49.95, 50.25, n))
    return np.round(lon, 7), np.round(lat, 7)


def image_points(seed: int, n: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    lon, lat = _clustered_lonlat(rng, n)
    return pd.DataFrame({"image_id": [f"img_{i:08d}" for i in range(n)], "lon": lon, "lat": lat})


def image_blobs(seed: int, n: int) -> pd.DataFrame:
    """Encoded RGB images (16-64 px a side, half lossless, half lossy)."""
    rng = np.random.default_rng(seed + 1)
    lon, lat = _clustered_lonlat(rng, n)
    ws = rng.integers(16, 65, n)
    hs = rng.integers(16, 65, n)
    blobs, fmts = [], []
    for i in range(n):
        arr = rng.integers(0, 256, size=(int(hs[i]), int(ws[i]), 3), dtype=np.uint8)
        fmts.append("png" if i % 2 == 0 else "jpeg")
        blobs.append(imgcodec.encode(arr, fmts[-1]))
    return pd.DataFrame({
        "image_id": [f"blob_{i:06d}" for i in range(n)], "bytes": blobs,
        "w": ws.astype(np.int32), "h": hs.astype(np.int32), "fmt": fmts,
        "lon": lon, "lat": lat,
    })


def docs(seed: int, n: int, words: int = 45) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """Caption-like docs over a 4096-word vocabulary; ~10% are copies of
    an earlier doc with one word changed.  Returns the docs and the
    planted (original, copy) pairs."""
    rng = np.random.default_rng(seed + 2)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(["".join(rng.choice(letters, int(rng.integers(3, 9)))) for _ in range(4096)])
    ids = rng.integers(0, len(vocab), (n, words))
    planted = []
    for i in np.flatnonzero(rng.random(n) < 0.1):
        if i == 0:
            continue
        j = int(rng.integers(0, i))
        ids[i] = ids[j]
        ids[i, int(rng.integers(0, words))] = int(rng.integers(0, len(vocab)))
        planted.append((j, int(i)))
    texts = [" ".join(vocab[row]) for row in ids]
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts}), planted
