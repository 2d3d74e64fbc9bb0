"""Seeded input generation for the benchmark workloads.

Every table and every query parameter a workload uses comes from here,
as a pure function of ``(seed, workload, iteration)``.  The engine only
ever sees the files written by :func:`write_tables`; no seed value is
passed to it.  :func:`digest` fingerprints the generated bytes, so a run
can print what it measured and the seed test can pin determinism.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes follow the repository's sf0.1 test data: 15k customers
# (the point cloud) against 25 nations (the box side).
N_POINTS = 15_000
BOX_GRID = 5
N_GEOG_BOXES = 25
N_PAIRS = 5_000
# fresh_ingest batches are sized so one ingest iteration (write, layout,
# read, join, dedup) stays near a few seconds; every batch is new data.
FRESH_POINTS = 10_000
FRESH_BOX_GRID = 4
FRESH_DOCS = 600

_VOCAB = ("batch part spark line column order small sort fast value scan "
          "hash slow group agg filter query big key window row table stream "
          "merge data join index cell grid point box shard page tile block "
          "node edge ring band heap tree leaf root span trace cache pool "
          "memo plan rule cost stat disk file byte word text doc url host "
          "path").split()


def _rng(seed: int, *stream: int | str) -> np.random.Generator:
    # one independent stream per (seed, purpose): adding a stream never
    # shifts the values another stream draws
    key = hashlib.sha256(repr((seed,) + stream).encode()).digest()
    return np.random.default_rng(int.from_bytes(key[:8], "little"))


def points(seed: int, stream: str, n: int) -> pa.Table:
    r = _rng(seed, stream)
    return pa.table({"c_custkey": np.arange(n, dtype=np.int64),
                     "px": r.uniform(0.0, 100.0, n),
                     "py": r.uniform(0.0, 100.0, n)})


def boxes(seed: int, stream: str, grid: int) -> pa.Table:
    """``grid`` x ``grid`` disjoint boxes, one inside each cell of a
    regular grid over [0, 100)^2: a point lies in at most one box, so
    point-in-box joins and KNN distances have no ties."""
    r = _rng(seed, stream)
    n = grid * grid
    cell = 100.0 / grid
    ix = np.arange(n) % grid
    iy = np.arange(n) // grid
    return pa.table({"n_nationkey": np.arange(n, dtype=np.int32),
                     "x0": ix * cell + r.uniform(0.0, cell / 4, n),
                     "y0": iy * cell + r.uniform(0.0, cell / 4, n),
                     "x1": (ix + 1) * cell - r.uniform(0.0, cell / 4, n),
                     "y1": (iy + 1) * cell - r.uniform(0.0, cell / 4, n)})


def geog_points(seed: int, n: int) -> pa.Table:
    # half-degree grid: every point sits >= 0.5 deg from the integer
    # edges of the geography boxes, while a 6-deg great-circle edge
    # bulges < 0.05 deg, so planar box membership is the exact answer
    r = _rng(seed, "geog_points")
    return pa.table({"gid": np.arange(n, dtype=np.int64),
                     "glon": r.integers(-179, 179, n) + 0.5,
                     "glat": r.integers(-69, 69, n) + 0.5})


def geog_boxes(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "geog_boxes")
    return pa.table({"pid": np.arange(n, dtype=np.int32),
                     "lon0": r.integers(-170, 164, n).astype(np.float64),
                     "lat0": r.integers(-65, 62, n).astype(np.float64)})


def rect_pairs(seed: int, n: int) -> pa.Table:
    """Pairs of small random rectangles; a few percent intersect."""
    r = _rng(seed, "rect_pairs")
    cols = {"pair_id": np.arange(n, dtype=np.int64)}
    for side in ("a", "b"):
        x = r.uniform(0.0, 100.0, n)
        y = r.uniform(0.0, 100.0, n)
        cols[f"{side}x0"], cols[f"{side}y0"] = x, y
        cols[f"{side}x1"] = x + r.uniform(0.5, 4.0, n)
        cols[f"{side}y1"] = y + r.uniform(0.5, 4.0, n)
    return pa.table(cols)


def documents(seed: int, stream: str, n: int) -> pa.Table:
    """Word-salad documents; every 10th one repeats an earlier text
    exactly, so LSH dedup has pairs it must find."""
    r = _rng(seed, stream)
    texts: list[str] = []
    for i in range(n):
        if i % 10 == 9:
            texts.append(texts[int(r.integers(0, i))])
            continue
        words = r.choice(len(_VOCAB), size=int(r.integers(30, 80)))
        texts.append(" ".join(_VOCAB[w] for w in words))
    return pa.table({"doc_id": np.arange(n, dtype=np.int64),
                     "text": pa.array(texts, pa.string())})


def spatial_sql_tables(seed: int) -> dict[str, pa.Table]:
    return {"customer": points(seed, "points", N_POINTS),
            "nation": boxes(seed, "boxes", BOX_GRID),
            "geog_points": geog_points(seed, N_POINTS),
            "geog_boxes": geog_boxes(seed, N_GEOG_BOXES),
            "rect_pairs": rect_pairs(seed, N_PAIRS)}


def spatial_sql_params(seed: int) -> dict[str, float | int]:
    """One parameter set per run: the rewrite memo and stats memos see
    the same query texts on every cycle and stay warm."""
    r = _rng(seed, "spatial_sql_params")
    # ranges are narrow enough that every seed asks for about the same
    # work: seeds vary the answers, not the cost
    d = float(np.round(r.uniform(4.5, 5.5), 3))
    return {"pair_ids": int(r.integers(380, 420)),
            "dwithin": d + 4.0,
            "distance": d,
            "knn_queries": int(r.integers(450, 550)),
            "knn_polygon_queries": int(r.integers(800, 1000)),
            "knn_k": int(r.integers(2, 4)),
            "distance_ids": int(r.integers(250, 350)),
            "buffer_r": float(np.round(r.uniform(1.5, 2.5), 3)),
            "buffer_ids": int(r.integers(90, 110)),
            "rect_pairs": int(r.integers(N_PAIRS * 4 // 5, N_PAIRS))}


def mix_order(seed: int, kinds: list[str], cycle: int) -> list[str]:
    r = _rng(seed, "mix", cycle)
    return [kinds[i] for i in r.permutation(len(kinds))]


def fresh_tables(seed: int, iteration: int) -> dict[str, pa.Table]:
    it = f"fresh{iteration}"
    return {"points": points(seed, it + "/points", FRESH_POINTS),
            "boxes": boxes(seed, it + "/boxes", FRESH_BOX_GRID),
            "documents": documents(seed, it + "/docs", FRESH_DOCS)}


def fresh_window(seed: int, iteration: int) -> tuple[float, ...]:
    r = _rng(seed, f"fresh{iteration}/window")
    x0, y0 = r.uniform(0.0, 60.0, 2)
    w, h = r.uniform(20.0, 40.0, 2)
    return (float(x0), float(y0), float(x0 + w), float(y0 + h))


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths


def digest(tables: dict[str, pa.Table], params: object = None) -> str:
    """sha256 over the tables' values (in name order) and the parameter
    repr: independent of parquet encoder versions."""
    h = hashlib.sha256(repr(params).encode())
    for name in sorted(tables):
        h.update(name.encode())
        for col_name, col in zip(tables[name].column_names,
                                 tables[name].columns):
            h.update(col_name.encode())
            vals = col.to_numpy()
            if vals.dtype == object:
                h.update("\x00".join(vals).encode())
            else:
                h.update(vals.tobytes())
    return h.hexdigest()
