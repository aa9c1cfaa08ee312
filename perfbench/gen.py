"""Seeded input generator for the benchmark workloads.

Writes tables in the schemas the engine already reads, so the registry
``q_*`` queries and their DuckDB ``oracle_sql()`` run unchanged:

- ``events.parquet`` (traj_kernels, spatial_joins) in the test-data
  ``events`` schema. The registry maps it to points as traj_id=user_id,
  t=ts, x=value, y=event_id % 100, so ``event_id`` is chosen as
  ``100 * row + y``.
- ``docs.parquet`` (doc_pipeline; a small one for spatial_joins): ``(doc_id, spans
  array<struct<kind, text, media_ref, offset>>)``, text spans carrying
  ``"t_unix;lon;lat"`` payloads like ``ingest.synth_interleaved_docs``.

The properties that drive behaviour are explicit in ``SIZES``:
trajectory count, points per trajectory (the grouped-map group size),
and the share of trajectories confined to a small hot box (the density
that sets pair-join candidate volume). Tables are cached by
(workload, seed, size) so generation never lands in a timing.

Usage: python3 perfbench/gen.py <workload> <seed> [size]
"""

from __future__ import annotations

import json
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache", "data")

# x (value) spans [0, 200], y (event_id % 100) spans [0, 99]: the extent
# the registry's polygons, centroids and CELL_BOUNDS were written for.
X_MAX, Y_MAX = 200.0, 99.0
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

SIZES = {
    "traj_kernels": {
        "full": {"n_traj": 100, "pts_per_traj": 48, "hot_frac": 0.0, "days": 20},
        "tiny": {"n_traj": 24, "pts_per_traj": 30, "hot_frac": 0.0, "days": 6},
    },
    # spatial_joins also carries a small docs table for the doc job's
    # points stage (explode, checkpoint write and resume, span invariant)
    "spatial_joins": {
        "full": {"n_traj": 300, "pts_per_traj": 50, "hot_frac": 0.9, "days": 10,
                 "n_docs": 2000, "spans_min": 4, "spans_max": 16},
        "tiny": {"n_traj": 40, "pts_per_traj": 30, "hot_frac": 0.9, "days": 3,
                 "n_docs": 200, "spans_min": 4, "spans_max": 16},
    },
    "doc_pipeline": {
        "full": {"n_docs": 120_000, "spans_min": 4, "spans_max": 16},
        "tiny": {"n_docs": 400, "spans_min": 4, "spans_max": 16},
    },
}

HOT_BOX = (60.0, 30.0, 90.0, 60.0)  # x0, y0, x1, y1
EVENT_TYPES = np.array(["view", "click", "purchase", "error"], dtype=object)


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), zlib.crc32(workload.encode())])


def _walk(rng, n: int, box, step_lo: float, step_hi: float):
    """Random walk with persistent heading, reflected inside `box`, and
    stop episodes (several hours of sub-unit jitter) that the stop
    detector and the stop-based splitters pick up."""
    x0, y0, x1, y1 = box
    xs = np.empty(n)
    ys = np.empty(n)
    dts = np.empty(n, dtype=np.int64)
    x, y = rng.uniform(x0, x1), rng.uniform(y0, y1)
    heading = rng.uniform(0, 2 * np.pi)
    stop_left = 0
    for i in range(n):
        if stop_left == 0 and rng.random() < 0.03:
            stop_left = int(rng.integers(4, 9))
        if stop_left > 0:
            stop_left -= 1
            x += rng.uniform(-0.5, 0.5)
            y += rng.uniform(-0.5, 0.5)
            dt_s = rng.uniform(1800, 3600)
        else:
            heading += rng.normal(0, 0.6)
            step = rng.uniform(step_lo, step_hi)
            x += step * np.sin(heading)
            y += step * np.cos(heading)
            dt_s = 300 + rng.exponential(2400)
        if x < x0 or x > x1:
            x = min(max(2 * x0 - x if x < x0 else 2 * x1 - x, x0), x1)
            heading = -heading
        if y < y0 or y > y1:
            y = min(max(2 * y0 - y if y < y0 else 2 * y1 - y, y0), y1)
            heading = np.pi - heading
        xs[i], ys[i] = x, y
        dts[i] = int(dt_s * 1e6) + int(rng.integers(0, 1_000_000))
    return xs, ys, dts


def gen_events(workload: str, seed: int, size: str) -> pa.Table:
    p = SIZES[workload][size]
    rng = _rng(workload, seed)
    n_hot = int(round(p["n_traj"] * p["hot_frac"]))
    span_us = int(p["days"] * 86400 * 1e6)
    cols = {"ts": [], "user_id": [], "value": [], "y": []}
    for uid in range(p["n_traj"]):
        n = p["pts_per_traj"]  # fixed, so every seed gives the same row count
        hot = uid < n_hot
        box = HOT_BOX if hot else (0.0, 0.0, X_MAX, Y_MAX)
        xs, ys, dts = _walk(rng, n, box, *((0.3, 2.0) if hot else (8.0, 30.0)))
        # starts spread over the workload's span, so trajectories
        # overlap in time (proximity / convoy candidates)
        ts = T0_US + int(rng.integers(0, span_us)) + np.cumsum(dts)
        cols["ts"].append(ts)
        cols["user_id"].append(np.full(n, uid, dtype=np.int64))
        cols["value"].append(np.round(xs, 2))
        cols["y"].append(np.clip(np.rint(ys), 0, 99).astype(np.int64))
    ts = np.concatenate(cols["ts"])
    order = np.argsort(ts, kind="stable")
    ts = ts[order]
    user = np.concatenate(cols["user_id"])[order]
    value = np.concatenate(cols["value"])[order]
    y = np.concatenate(cols["y"])[order]
    n = len(ts)
    event_id = np.arange(n, dtype=np.int64) * 100 + y
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    props = np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object)
    return pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user, pa.int64()),
            "event_type": pa.array(etype, pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(props, pa.string()),
        }
    )


SPAN_TYPE = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
)


def gen_docs(workload: str, seed: int, size: str) -> pa.Table:
    """Sparse, global doc points: lon uniform on [-180, 180), lat on
    [-85, 85], one timestamp per text span."""
    p = SIZES[workload][size]
    rng = _rng(workload, seed)
    n_docs = p["n_docs"]
    n_spans = rng.integers(p["spans_min"], p["spans_max"] + 1, n_docs)
    total = int(n_spans.sum())
    lon = rng.uniform(-180.0, 180.0, total)
    lat = rng.uniform(-85.0, 85.0, total)
    tsec = 1_500_000_000 + rng.integers(0, 86400 * 365, total)
    offsets = np.concatenate([np.arange(k) for k in n_spans])
    # text on even offsets, media on odd — interleaved like the north-rule docs
    is_text = offsets % 2 == 0
    doc_idx = np.repeat(np.arange(n_docs), n_spans)
    doc_ids = [f"doc{i:09d}" for i in range(n_docs)]
    text = [
        f"{t};{x:.6f};{y:.6f}" if m else None
        for m, t, x, y in zip(is_text.tolist(), tsec.tolist(), lon.tolist(), lat.tolist())
    ]
    media = [
        None if m else f"mem://media/{doc_ids[d]}/{k}.bin"
        for m, d, k in zip(is_text.tolist(), doc_idx.tolist(), offsets.tolist())
    ]
    spans = pa.StructArray.from_arrays(
        [
            pa.array(np.where(is_text, "text", "media"), pa.string()),
            pa.array(text, pa.string()),
            pa.array(media, pa.string()),
            pa.array(offsets.astype(np.int32), pa.int32()),
        ],
        fields=list(SPAN_TYPE),
    )
    list_offsets = pa.array(np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32))
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "spans": pa.ListArray.from_arrays(list_offsets, spans),
        }
    )


TABLES = {
    "traj_kernels": [("events.parquet", gen_events)],
    "spatial_joins": [("events.parquet", gen_events), ("docs.parquet", gen_docs)],
    "doc_pipeline": [("docs.parquet", gen_docs)],
}


def ensure(workload: str, seed: int, size: str = "full", cache: str = CACHE) -> str:
    """Directory holding the generated tables for (workload, seed, size),
    generating it on first use. The size's parameters are part of the
    key, so editing SIZES never reuses a stale table. A `_done.json` marker written last makes
    an interrupted generation regenerate instead of being reused."""
    if workload not in TABLES:
        raise ValueError(f"unknown workload {workload!r}")
    params = json.dumps(SIZES[workload][size], sort_keys=True)
    d = os.path.join(cache, f"{workload}-s{int(seed)}-{size}-{zlib.crc32(params.encode()):08x}")
    marker = os.path.join(d, "_done.json")
    if os.path.exists(marker):
        return d
    os.makedirs(d, exist_ok=True)
    rows = {}
    for name, fn in TABLES[workload]:
        table = fn(workload, seed, size)
        pq.write_table(table, os.path.join(d, name))
        rows[name] = table.num_rows
    with open(marker, "w") as f:
        json.dump({"workload": workload, "seed": int(seed), "size": size,
                   "rows": rows, **SIZES[workload][size]}, f)
    return d


if __name__ == "__main__":
    wl, sd = sys.argv[1], int(sys.argv[2])
    print(ensure(wl, sd, sys.argv[3] if len(sys.argv) > 3 else "full"))
