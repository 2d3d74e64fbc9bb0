"""The benchmark's workloads: what each timed query builds, runs and is
checked against.

Each workload turns its seed into generated input files (datagen) and a
schedule of :class:`Op` s.  An op is timed from the start of ``build``
(driver-side construction, which may itself run Spark jobs) to the end
of ``act`` (execution with results collected to the driver).  ``check``
runs right after, outside the latency, and returns an error string or
None.

- ``spatial_sql`` (warm): spatial joins through the SQL front door
  (point-in-box, the two-predicate distance lattice, geography) and the
  operator API, KNN joins to point and to polygon objects and scalar ST_
  functions over one generated point cloud.  One parameter set per run,
  so the same query texts repeat and the rewrite memo, stats memos and
  KNN path memo stay warm after warm-up.  Expected answers come from
  DuckDB over the same parquet files, with plain arithmetic in place of
  the spatial calls.
- ``fresh_ingest`` (cold): every cycle generates a new batch, writes it
  as GeoParquet, builds a bucketed layout from it, reads it back through
  a bbox window, joins it and runs MinHash dedup over new documents.  No
  memo or pool can have seen the data before.  Expected answers come
  from numpy over the generated arrays, the written files are read back
  with pyarrow, and LSH pairs are checked by invariants.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyarrow.parquet as pq

import datagen

# public layers the ops call; looked up as module attributes at call
# time so the traced run's wrappers see every call
from sedona_db_spark.operators import dedup as _dedup
from sedona_db_spark.operators import knn_join as _knn
from sedona_db_spark.operators import spatial_join as _sj
from sedona_db_spark.plans import sql_rewrite as _rw
from sedona_db_spark.sources import geoparquet as _gp


@dataclass
class Op:
    kind: str
    cls: str
    build: Callable[[], Any]
    act: Callable[[Any], Any]
    check: Callable[[Any], str | None]


def _collect(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def compare_rows(got: list[tuple], want: list[tuple],
                 rel: float = 1e-9, abs_tol: float = 1e-9) -> str | None:
    """Order-insensitive comparison: integer/NULL columns exactly,
    floating columns within a tolerance (two engines may round a sqrt
    differently in the last bit)."""
    def key(row):
        return tuple((-1 if v is None else v) for v in row)
    g, w = sorted(got, key=key), sorted(want, key=key)
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    for a, b in zip(g, w):
        if len(a) != len(b):
            return f"row {a} has {len(a)} columns, expected {len(b)}"
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(
                        float(x), float(y), rel_tol=rel, abs_tol=abs_tol):
                    return f"row {a} != expected {b}"
            elif x != y:
                return f"row {a} != expected {b}"
    return None


def _int_rows(rows) -> list[tuple]:
    return [tuple(None if v is None else int(v) for v in r) for r in rows]


class SpatialSQL:
    """Warm spatial mix over one generated sf0.1-sized point cloud."""

    name = "spatial_sql"
    # seconds one cycle of the mix takes on two CPUs, warm; sets how many
    # cycles fit a run's --seconds
    cycle_s = 7.5

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.tables = datagen.spatial_sql_tables(seed)
        self.params = datagen.spatial_sql_params(seed)
        self.data_dir = os.path.join(work_dir, "spatial_sql")
        self.paths = datagen.write_tables(self.tables, self.data_dir)
        self._oracle = None
        self._expected: dict[str, list[tuple]] = {}
        self.ops = {op.kind: op for op in self._ops()}
        self.kinds = sorted(self.ops)

    def digest(self) -> str:
        return datagen.digest(self.tables, self.params)

    def prep(self) -> None:
        """Derived views and the point certificate (one verified scan that
        lets the SQL front door use the stored coordinates)."""
        spark = self.spark
        for name in ("geog_points", "geog_boxes", "rect_pairs"):
            spark.read.parquet(self.paths[name]).createOrReplaceTempView(name)
        spark.sql("""
          CREATE OR REPLACE TEMP VIEW cust_pts AS
          SELECT c_custkey, px, py, ST_Point(px, py) AS geom FROM customer""")
        _rw.certify_point_view(spark, "cust_pts", {"geom": ("px", "py")})
        spark.sql("""
          CREATE OR REPLACE TEMP VIEW nation_boxes AS
          SELECT n_nationkey, ST_MakeEnvelope(x0, y0, x1, y1) AS geom
          FROM nation""")
        spark.sql("""
          CREATE OR REPLACE TEMP VIEW knn_centers AS
          SELECT n_nationkey,
                 ST_Point((x0 + x1) / 2.0, (y0 + y1) / 2.0) AS geom
          FROM nation""")
        spark.sql("""
          CREATE OR REPLACE TEMP VIEW rect_geoms AS
          SELECT pair_id, ST_MakeEnvelope(ax0, ay0, ax1, ay1) AS ga,
                 ST_MakeEnvelope(bx0, by0, bx1, by1) AS gb
          FROM rect_pairs""")

    def warmup(self) -> list[Op]:
        """Every query once: fills the rewrite memo and stats memos,
        compiles plans and starts the Python workers."""
        return [self.ops[k] for k in self.kinds]

    def schedule(self, cycle: int) -> list[Op]:
        return [self.ops[k]
                for k in datagen.mix_order(self.seed, self.kinds, cycle)]

    # -- expected answers ------------------------------------------------

    def _duck(self, kind: str, sql: str) -> list[tuple]:
        if kind not in self._expected:
            if self._oracle is None:
                import duckdb
                self._oracle = duckdb.connect()
                for name, path in self.paths.items():
                    self._oracle.execute(
                        f"CREATE VIEW {name} AS "
                        f"SELECT * FROM read_parquet('{path}')")
            self._expected[kind] = self._oracle.execute(sql).fetchall()
        return self._expected[kind]

    def close(self) -> None:
        if self._oracle is not None:
            self._oracle.close()

    def _ops(self) -> list[Op]:
        spark, p = self.spark, self.params
        sql = lambda text: (lambda: spark.sql(text))  # noqa: E731

        def checked(kind, oracle_sql, ints_only=True):
            def check(rows):
                want = self._duck(kind, oracle_sql)
                return compare_rows(_int_rows(rows) if ints_only else rows,
                                    want)
            return check

        pip = """SELECT c.c_custkey, n.n_nationkey
                 FROM customer c JOIN nation n
                 ON c.px > n.x0 AND c.px < n.x1 AND c.py > n.y0
                    AND c.py < n.y1"""

        def cust():
            return spark.table("cust_pts").select("c_custkey", "geom")

        def boxes():
            return spark.table("nation_boxes")

        def api_grid_join():
            out = _sj.spatial_join(cust(), boxes(), predicate="within",
                                   broadcast_threshold=1)
            return out.select("c_custkey", "n_nationkey")

        n2, dw, d = p["pair_ids"], p["dwithin"], p["distance"]
        q, k, qp = p["knn_queries"], p["knn_k"], p["knn_polygon_queries"]
        nd, r, nb = p["distance_ids"], p["buffer_r"], p["buffer_ids"]
        npairs = p["rect_pairs"]
        dist = "sqrt(power(a.px - b.px, 2) + power(a.py - b.py, 2))"
        rect_d = ("sqrt(power(greatest(n.x0 - c.px, c.px - n.x1, 0), 2)"
                  " + power(greatest(n.y0 - c.py, c.py - n.y1, 0), 2))")
        cen_d = ("sqrt(power(c.px - (n.x0 + n.x1) / 2.0, 2)"
                 " + power(c.py - (n.y0 + n.y1) / 2.0, 2))")
        buf_area = 0.5 * 32 * r * r * math.sin(2 * math.pi / 32)

        def knn_oracle(where, dexpr, kk):
            return f"""
              SELECT c_custkey, n_nationkey, d FROM (
                SELECT c.c_custkey, n.n_nationkey, {dexpr} AS d,
                       row_number() OVER (PARTITION BY c.c_custkey
                         ORDER BY {dexpr}, n.n_nationkey) AS rk
                FROM (SELECT * FROM customer {where}) c CROSS JOIN nation n)
              WHERE rk <= {kk}"""

        def knn_points():
            out = _knn.knn_join(cust().filter(f"c_custkey < {q}"),
                                spark.table("knn_centers"), k=k)
            return out.select("c_custkey", "n_nationkey", "knn_distance")

        def knn_polygons():
            # polygon objects: ranked by exact point-to-box distance
            out = _knn.knn_join(cust().filter(f"c_custkey < {qp}"), boxes(),
                                k=2)
            return out.select("c_custkey", "n_nationkey", "knn_distance")

        def buffer_check(rows):
            want = [(i, buf_area) for i in range(nb)]
            return compare_rows([(int(a), b) for a, b in rows], want)

        return [
            Op("sql_contains_join", "sql_join", sql("""
                SELECT c.c_custkey, n.n_nationkey
                FROM cust_pts c JOIN nation_boxes n
                ON ST_Contains(n.geom, c.geom)"""), _collect,
               checked("pip", pip)),
            Op("sql_two_predicates_left", "sql_join", sql(f"""
                SELECT a.c_custkey AS ka, b.c_custkey AS kb
                FROM (SELECT * FROM cust_pts WHERE c_custkey < {n2}) a
                LEFT JOIN (SELECT * FROM cust_pts WHERE c_custkey < {n2}) b
                ON ST_DWithin(a.geom, b.geom, {dw})
                   AND ST_Distance(a.geom, b.geom) < {d}
                   AND a.c_custkey < b.c_custkey"""), _collect,
               checked("two_predicates", f"""
                SELECT a.c_custkey, b.c_custkey
                FROM (SELECT * FROM customer WHERE c_custkey < {n2}) a
                LEFT JOIN (SELECT * FROM customer WHERE c_custkey < {n2}) b
                ON {dist} < {d} AND a.c_custkey < b.c_custkey""")),
            Op("sql_geography_join", "sql_join", sql("""
                SELECT p.gid, q.pid
                FROM (SELECT gid, ST_GeogPoint(glon, glat) AS g
                      FROM geog_points) p
                JOIN (SELECT pid, ST_ToGeography(ST_MakeEnvelope(
                        lon0, lat0, lon0 + 6.0, lat0 + 4.0)) AS g
                      FROM geog_boxes) q
                ON ST_Intersects(p.g, q.g)"""), _collect,
               checked("geography", """
                SELECT p.gid, q.pid FROM geog_points p JOIN geog_boxes q
                ON p.glon > q.lon0 AND p.glon < q.lon0 + 6.0
                   AND p.glat > q.lat0 AND p.glat < q.lat0 + 4.0""")),
            Op("api_grid_join", "api_join", api_grid_join, _collect,
               checked("pip", pip)),
            Op("knn_points", "knn", knn_points, _collect,
               checked("knn_points", knn_oracle(
                   f"WHERE c_custkey < {q}", cen_d, k), ints_only=False)),
            Op("knn_polygons", "knn", knn_polygons, _collect,
               checked("knn_polygons", knn_oracle(
                   f"WHERE c_custkey < {qp}", rect_d, 2),
                       ints_only=False)),
            Op("st_distance_pairs", "scalar", sql(f"""
                SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                       ST_Distance(a.geom, b.geom) AS dist
                FROM cust_pts a JOIN cust_pts b
                ON b.c_custkey = a.c_custkey + 1
                WHERE a.c_custkey < {nd}"""), _collect,
               checked("distance_pairs", f"""
                SELECT a.c_custkey, b.c_custkey, {dist}
                FROM customer a JOIN customer b
                ON b.c_custkey = a.c_custkey + 1
                WHERE a.c_custkey < {nd}""", ints_only=False)),
            Op("st_buffer_area", "scalar", sql(f"""
                SELECT c_custkey, ST_Area(ST_Buffer(geom, {r})) AS area
                FROM cust_pts WHERE c_custkey < {nb}"""), _collect,
               buffer_check),
            Op("st_intersects_pairs", "scalar", sql(f"""
                SELECT count(*) AS n,
                       sum(CAST(ST_Intersects(ga, gb) AS INT)) AS hits
                FROM rect_geoms WHERE pair_id < {npairs}"""), _collect,
               checked("rect_pairs", f"""
                SELECT count(*), sum(CASE WHEN ax0 <= bx1 AND bx0 <= ax1
                                           AND ay0 <= by1 AND by0 <= ay1
                                      THEN 1 ELSE 0 END)
                FROM rect_pairs WHERE pair_id < {npairs}""")),
        ]


class FreshIngest:
    """Cold write-then-read loop: every cycle is a batch nobody has seen."""

    name = "fresh_ingest"
    cycle_s = 11.0
    MINHASH_THRESHOLD = 0.5

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.root = os.path.join(work_dir, "fresh_ingest")
        self._live: list[tuple[str, str]] = []
        # what the run generated, for the input digest
        self._digests: list[str] = []
        # generated bytes handed to write_geoparquet, the base of the
        # traced run's write-amplification ratio
        self.input_bytes_written = 0

    def digest(self) -> str:
        return datagen.digest({}, self._digests)

    def prep(self) -> None:
        """Nothing to derive: every cycle brings its own tables."""

    def warmup(self) -> list[Op]:
        """One throwaway batch (cycle -1) of full size: compiles the
        operators' plans and starts the Python workers, so timed cycles
        measure cold data, not a cold engine."""
        return self.schedule(-1)

    def close(self) -> None:
        self._drop_live()

    def _drop_live(self) -> None:
        while self._live:
            table, d = self._live.pop()
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")
            shutil.rmtree(d, ignore_errors=True)

    def schedule(self, cycle: int) -> list[Op]:
        spark = self.spark
        # the previous batch's files and layout are never read again
        self._drop_live()
        tables = datagen.fresh_tables(self.seed, cycle)
        window = datagen.fresh_window(self.seed, cycle)
        self._digests.append(datagen.digest(tables, window))
        tag = f"m{-cycle}" if cycle < 0 else str(cycle)
        d = os.path.join(self.root, tag)
        paths = datagen.write_tables(tables, os.path.join(d, "raw"))
        gp_path = os.path.join(d, "geoparquet")
        layout = f"fresh_layout_{tag}"
        self._live.append((layout, d))

        pts = tables["points"]
        px, py = pts["px"].to_numpy(), pts["py"].to_numpy()
        ids = pts["c_custkey"].to_numpy()
        bx = {c: tables["boxes"][c].to_numpy()
              for c in ("n_nationkey", "x0", "y0", "x1", "y1")}

        def points_df():
            return spark.read.parquet(paths["points"]).selectExpr(
                "c_custkey", "px", "py", "ST_Point(px, py) AS geom")

        def write():
            _gp.write_geoparquet(points_df(), gp_path, sort_spatially=True,
                                 spatial_partitions=4)
            self.input_bytes_written += tables["points"].nbytes
            return gp_path

        def check_write(_):
            return same_ids(gp_path, ids, "GeoParquet")

        def layout_build():
            _sj.write_bucketed_layout(points_df().select("c_custkey", "geom"),
                                      layout, geom="geom")
            return layout

        def check_layout(_):
            loc = next(r.data_type for r in spark.sql(
                f"DESCRIBE TABLE EXTENDED {layout}").collect()
                if r.col_name == "Location")
            return same_ids(loc.removeprefix("file:"), ids, "layout")

        x0, y0, x1, y1 = window

        def read():
            df, _meta = _gp.read_geoparquet(spark, gp_path, bbox=window)
            return _gp.spatial_filter(df, "geom", x0, y0, x1, y1) \
                .select("c_custkey")

        def check_read(rows):
            inside = (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
            return compare_rows(_int_rows(rows),
                                [(int(i),) for i in ids[inside]])

        def join():
            boxes = spark.read.parquet(paths["boxes"]).selectExpr(
                "n_nationkey", "ST_MakeEnvelope(x0, y0, x1, y1) AS geom")
            return _sj.spatial_join_bucketed(
                spark, layout, boxes, predicate="within") \
                .select("c_custkey", "n_nationkey")

        def check_join(rows):
            want = []
            for key, bx0, by0, bx1, by1 in zip(*(bx[col] for col in (
                    "n_nationkey", "x0", "y0", "x1", "y1"))):
                hit = (px > bx0) & (px < bx1) & (py > by0) & (py < by1)
                want.extend((int(i), int(key)) for i in ids[hit])
            return compare_rows(_int_rows(rows), want)

        texts = tables["documents"]["text"].to_pylist()

        def dedup():
            docs = spark.read.parquet(paths["documents"])
            return _dedup.minhash_candidate_pairs(
                docs, threshold=self.MINHASH_THRESHOLD)

        def check_dedup(rows):
            return check_lsh_pairs(rows, texts, self.MINHASH_THRESHOLD)

        return [Op("write_geoparquet", "write", write, lambda r: r,
                   check_write),
                Op("build_layout", "layout", layout_build, lambda r: r,
                   check_layout),
                Op("read_window", "cold_query", read, _collect, check_read),
                Op("layout_join", "cold_query", join, _collect, check_join),
                Op("minhash_dedup", "cold_query", dedup, _collect,
                   check_dedup)]


def same_ids(path: str, ids, what: str) -> str | None:
    """The parquet files under ``path`` hold each of ``ids`` exactly once
    (read with pyarrow, so the check runs no Spark job)."""
    got = pq.read_table(path, columns=["c_custkey"])["c_custkey"].to_numpy()
    if len(got) != len(ids):
        return f"{what} holds {len(got)} rows, expected {len(ids)}"
    if not np.array_equal(np.sort(got), np.sort(ids)):
        return f"{what} rows are not the generated keys"
    return None


def check_lsh_pairs(rows, texts: list[str], threshold: float) -> str | None:
    """Invariants of MinHash LSH candidate pairs: ordered, unique,
    estimates within [threshold, 1], and every pair of identical texts
    present with estimate 1 (equal shingle sets give equal signatures,
    so every band collides)."""
    seen: dict[tuple[int, int], float] = {}
    for id_a, id_b, est in rows:
        if not id_a < id_b:
            return f"pair ({id_a}, {id_b}) not ordered"
        if (id_a, id_b) in seen:
            return f"pair ({id_a}, {id_b}) repeated"
        seen[(id_a, id_b)] = est
        if not threshold <= est <= 1.0:
            return f"pair ({id_a}, {id_b}) estimate {est} out of range"
    by_text: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(i)
    for group in by_text.values():
        for j, a in enumerate(group):
            for b in group[j + 1:]:
                if seen.get((a, b)) != 1.0:
                    return (f"identical documents {a}, {b} paired with "
                            f"estimate {seen.get((a, b))}")
    return None


WORKLOADS = {SpatialSQL.name: SpatialSQL, FreshIngest.name: FreshIngest}
