"""Two-stage distributed point-in-polygon join (SURVEY.md §2.4 J1+J2).

Stage 1 — candidate pruning: each polygon is polyfilled at an index level,
the (cell → poly_id) map is **compacted** (C3), uncompacted back to the
index level, and **broadcast** (BASELINE.json: "broadcast of compacted
polygon indexes"). Points compute their index cell natively (zero Python)
and equi-join the broadcast map — a broadcast hash join, no shuffle of the
big side.

Stage 2 — exact ray-cast refine, two interchangeable engines:

- ``refine="native"`` (default): each candidate row carries its polygon's
  packed edge arrays. Under ``INLINE_EDGE_BUDGET_BYTES`` the edges are
  inlined into the cell map (one broadcast join on the point stream);
  above it the cell map (cell → poly_id) and the edge table (poly_id →
  packed edge arrays, ONE row per polygon) are two separate broadcasts
  joined on poly_id, so broadcast bytes scale as Σcells + Σedges — never
  Σ(cells × edges) (round-1 verdict #5). The even-odd crossing parity is
  evaluated with Spark higher-order functions (filter over an index
  sequence + element_at) — pure JVM, no Arrow hop, no second Python
  worker. Measured on this box: chaining a second Python stage after the
  geotag UDF oversubscribes cores (2 worker sets + JVM threads) and
  *anti-scales*; the native refine removes that entirely.
- ``refine="arrow"``: the BASELINE-literal reference kernel — NumPy ray
  casting on packed-ring Arrow arrays inside a scalar pandas UDF
  (self-contained closure, no --py-files needed). Kept for parity testing.

Both use the pinned IEEE-exact crossing rule (ult_spark/geom/pip.py), so
results are bit-identical to each other and to the DuckDB oracle.

Index lifetime: every broadcast index (cell map, inlined cell map, edge
table) is built by one builder from an Arrow table, which Spark keeps as a
local relation, and is kept per (SparkSession, layer content digest,
level): the first call in a session pays the polyfill and the build, later
calls — another ``pip_join``, a ``zonal_stats`` over the same layer —
reuse the DataFrame. A new or restarted session builds its own.

At 100 TB: the points side streams through scan→encode→join→refine in one
whole-stage-codegen pipeline; the only shuffle in a PIP-aggregate job is the
final groupBy. The two broadcasts are small by construction (cell map rows
are 16 bytes; the edge table is the layer's raw geometry, once).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ult_spark import functions as UF
from ult_spark.geom.polyio import PackedPolygon
from ult_spark.grid import compact as CZ
from ult_spark.grid.polyfill import polyfill

DEFAULT_INDEX_LEVEL = 6

# polyfill+compact is a pure function of (layer, level): memoized across
# sessions so repeated pipeline runs skip the driver-side geometry work
_INDEX_CACHE: dict[tuple[bytes, int], list[tuple[int, int]]] = {}


def _layer_digest(polys: list[PackedPolygon]) -> bytes:
    """Content digest of everything a layer index depends on — ids, ring
    offsets and vertex coordinates, in layer order. Two layers that differ
    only in how their vertices split into rings (a hole vs one ring) have
    different covers and edges, so they must not share an index."""
    h = hashlib.blake2b(digest_size=16)
    for p in polys:
        for a in (
            np.int64(p.poly_id),
            np.asarray(p.ring_offsets, dtype=np.int64),
            np.asarray(p.xs, dtype=np.float64),
            np.asarray(p.ys, dtype=np.float64),
        ):
            h.update(np.int64(a.size).tobytes())
            h.update(np.ascontiguousarray(a).tobytes())
    return h.digest()


def _index_rows(polys: list[PackedPolygon], index_level: int) -> list[tuple]:
    cache_key = (_layer_digest(polys), index_level)
    if cache_key in _INDEX_CACHE:
        return _INDEX_CACHE[cache_key]
    rows: list[tuple] = []
    for p in polys:
        cov = polyfill(p, index_level)
        packed = CZ.compact(cov)
        expanded = CZ.uncompact(packed, index_level)
        rows.extend((int(c), p.poly_id) for c in expanded.tolist())
    _INDEX_CACHE[cache_key] = rows
    return rows


_EDGE_COLS = ("ex1", "ey1", "ex2", "ey2")
_EDGE_DDL = ", ".join(f"{c} array<double>" for c in _EDGE_COLS)
_INDEX_DDL = {
    "cells": "icell long, poly_id long",
    "inline": f"icell long, poly_id long, {_EDGE_DDL}",
    "edges": f"poly_id long, {_EDGE_DDL}",
}


def _list_column(parts: list[np.ndarray]) -> pa.ListArray:
    offsets = np.zeros(len(parts) + 1, dtype=np.int32)
    np.cumsum([len(a) for a in parts], out=offsets[1:])
    values = np.concatenate(parts) if parts else np.empty(0, dtype=np.float64)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))


def _index_table(
    polys: list[PackedPolygon], index_level: int | None, kind: str
) -> pa.Table:
    """The rows of one index ``kind`` as an Arrow table (see _INDEX_DDL)."""
    if kind == "edges":
        cols = {"poly_id": np.array([p.poly_id for p in polys], dtype=np.int64)}
        edges = [p.edges() for p in polys]
    else:
        rows = _index_rows(polys, index_level)
        cols = {
            "icell": np.array([c for c, _ in rows], dtype=np.int64),
            "poly_id": np.array([pid for _, pid in rows], dtype=np.int64),
        }
        if kind == "inline":
            by_id = {p.poly_id: p.edges() for p in polys}
            edges = [by_id[pid] for _, pid in rows]
    if kind != "cells":
        for k, name in enumerate(_EDGE_COLS):
            cols[name] = _list_column([e[k] for e in edges])
    return pa.table(cols)


def _session_index(
    spark: SparkSession,
    polys: list[PackedPolygon],
    index_level: int | None,
    kind: str,
) -> DataFrame:
    """The layer's index of ``kind``, built once per session from Arrow.

    An Arrow table under ``spark.sql.execution.arrow.localRelationThreshold``
    becomes a local relation the broadcast reads in place, where a list of
    Python rows becomes an RDD the JVM unpickles again in every query. The
    DataFrame is kept on the session object itself, keyed on the layer's
    content digest and level, so later calls in the same session reuse it
    and a new or restarted session (another object) builds its own."""
    store = spark.__dict__.setdefault("_ult_layer_indexes", {})
    key = (_layer_digest(polys), index_level, kind)
    if key not in store:
        table = _index_table(polys, index_level, kind)
        store[key] = spark.createDataFrame(table, _INDEX_DDL[kind])
    return store[key]


def build_cell_index(
    spark: SparkSession,
    polys: list[PackedPolygon],
    index_level: int = DEFAULT_INDEX_LEVEL,
) -> DataFrame:
    """(icell, poly_id) candidate map at ``index_level`` — built once per
    session and layer from Arrow (:func:`_session_index`)."""
    return _session_index(spark, polys, index_level, "cells")


# inline-edges broadcast budget: below this the single-join layout wins
# (one BHJ on the point stream); above it the split layout keeps the
# broadcast at Σcells + Σedges. 64 MB ≈ Spark's own broadcast comfort zone.
INLINE_EDGE_BUDGET_BYTES = 64 * 1024 * 1024


def build_inline_index(
    spark: SparkSession, polys: list[PackedPolygon], index_level: int
) -> DataFrame:
    """(icell, poly_id, edge arrays) — edges inlined per covering cell row;
    only used under INLINE_EDGE_BUDGET_BYTES. Built once per session and
    layer from Arrow (:func:`_session_index`)."""
    return _session_index(spark, polys, index_level, "inline")


def build_edge_index(spark: SparkSession, polys: list[PackedPolygon]) -> DataFrame:
    """(poly_id, ex1, ey1, ex2, ey2) — ONE row per polygon, built once per
    session and layer from Arrow (:func:`_session_index`).

    Round-1 verdict #5: inlining each polygon's full edge arrays into every
    covering-cell row made the broadcast Σ(cells × edges); broadcasting the
    cell map and the edge table separately keeps it Σcells + Σedges."""
    return _session_index(spark, polys, None, "edges")


# ---------------------------------------------------------------------------
# Distributed-layer path (parcel-scale: millions of polygons, where even the
# edge table is too big to broadcast and the polyfill must not run on the
# driver). The layer arrives as the packed-ring DataFrame
# (geom/polyio.to_dataframe schema); the cover is built in the cluster, the
# candidate and edge joins are SHUFFLE joins keyed by cell / poly_id.


def build_cell_index_df(
    layer_df: DataFrame, index_level: int = DEFAULT_INDEX_LEVEL
) -> DataFrame:
    """(poly_id, icell) candidate map computed IN the cluster: mapInPandas
    polyfill+compact per polygon (the package ships via addPyFile), then the
    NATIVE sequence-explode uncompact back to ``index_level``."""
    from ult_spark.deploy import ensure_py_files
    from ult_spark.ops.compact_df import uncompact_cells_native

    ensure_py_files(layer_df.sparkSession)

    def fill(pdf_iter):
        import numpy as _np
        import pandas as _pd

        from ult_spark.geom.polyio import PackedPolygon
        from ult_spark.grid import compact as CZ
        from ult_spark.grid.polyfill import polyfill

        for pdf in pdf_iter:
            ids, cells_out = [], []
            for r in pdf.itertuples(index=False):
                p = PackedPolygon(
                    poly_id=int(r.poly_id),
                    name=str(r.name),
                    level=int(r.level),
                    ring_offsets=_np.asarray(r.ring_offsets, dtype=_np.int32),
                    xs=_np.asarray(r.xs, dtype=_np.float64),
                    ys=_np.asarray(r.ys, dtype=_np.float64),
                )
                packed = CZ.compact(polyfill(p, index_level))
                ids.extend([p.poly_id] * len(packed))
                cells_out.extend(packed.tolist())
            yield _pd.DataFrame({"poly_id": ids, "cell": cells_out})

    compacted = layer_df.mapInPandas(fill, "poly_id long, cell long")
    return uncompact_cells_native(compacted, index_level).withColumnRenamed(
        "cell", "icell"
    )


def build_edge_index_df(layer_df: DataFrame) -> DataFrame:
    """(poly_id, ex1, ey1, ex2, ey2) — one row per polygon, computed in the
    cluster from the packed rings (ring-closing edges included)."""
    from ult_spark.deploy import ensure_py_files

    ensure_py_files(layer_df.sparkSession)

    def edges(pdf_iter):
        import numpy as _np
        import pandas as _pd

        from ult_spark.geom.polyio import PackedPolygon

        for pdf in pdf_iter:
            rows = []
            for r in pdf.itertuples(index=False):
                p = PackedPolygon(
                    poly_id=int(r.poly_id),
                    name=str(r.name),
                    level=int(r.level),
                    ring_offsets=_np.asarray(r.ring_offsets, dtype=_np.int32),
                    xs=_np.asarray(r.xs, dtype=_np.float64),
                    ys=_np.asarray(r.ys, dtype=_np.float64),
                )
                x1, y1, x2, y2 = (a.tolist() for a in p.edges())
                rows.append((p.poly_id, x1, y1, x2, y2))
            yield _pd.DataFrame(
                rows, columns=["poly_id", "ex1", "ey1", "ex2", "ey2"]
            )

    return layer_df.mapInPandas(
        edges,
        "poly_id long, ex1 array<double>, ey1 array<double>, "
        "ex2 array<double>, ey2 array<double>",
    )


def pip_join_df(
    points: DataFrame,
    layer_df: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    index_level: int = DEFAULT_INDEX_LEVEL,
) -> DataFrame:
    """points ⋈ polygons with the layer as a DATAFRAME — the huge-layer
    twin of :func:`pip_join` (inner semantics; result-identical, asserted in
    tests). Candidate join shuffles on the cell id, the refine join on
    poly_id; nothing is broadcast, so layer size is bounded by the cluster,
    not by driver/executor memory."""
    index_df = build_cell_index_df(layer_df, index_level)
    edges_df = build_edge_index_df(layer_df)
    cand = points.withColumn("_icell", UF.latlon_to_cell(lat, lon, index_level))
    return (
        cand.join(index_df, cand["_icell"] == index_df["icell"], "inner")
        .join(edges_df, "poly_id")
        .where(_native_inside(F.col(lat), F.col(lon)))
        .drop("_icell", "icell", "ex1", "ey1", "ex2", "ey2")
    )


def _native_inside(lat, lon) -> F.Column:
    """Even-odd crossing parity over the row's packed edge arrays — native
    higher-order functions, same pinned IEEE rule as geom/pip.py."""
    n = F.size("ex1")
    idx = F.sequence(F.lit(0), n - F.lit(1))

    def crossing(i):
        x1 = F.element_at("ex1", i + 1)
        y1 = F.element_at("ey1", i + 1)
        x2 = F.element_at("ex2", i + 1)
        y2 = F.element_at("ey2", i + 1)
        straddle = (y1 > lat) != (y2 > lat)
        xint = (x2 - x1) * (lat - y1) / (y2 - y1) + x1
        return straddle & (lon < xint)

    return F.size(F.filter(idx, crossing)) % 2 == 1


def min_edge_distance(lat, lon) -> F.Column:
    """Min point-to-segment distance (double, degrees) over the row's
    packed edge arrays — the ST_Distance kernel (r4). Standard
    clamped-projection point-segment distance per edge, native array_min
    over the transform; sqrt and min are IEEE-exact, so the DuckDB mirror
    (same expression text) agrees bit-for-bit. Degenerate zero-length
    edges fall back to the distance to their start vertex (t = 0) in both
    engines."""
    idx = F.sequence(F.lit(0), F.size("ex1") - 1)

    def d(i):
        x1 = F.element_at("ex1", i + 1)
        y1 = F.element_at("ey1", i + 1)
        x2 = F.element_at("ex2", i + 1)
        y2 = F.element_at("ey2", i + 1)
        vx = x2 - x1
        vy = y2 - y1
        denom = vx * vx + vy * vy
        traw = F.try_divide((lon - x1) * vx + (lat - y1) * vy, denom)
        t = F.when(denom == F.lit(0.0), F.lit(0.0)).otherwise(
            F.least(F.greatest(traw, F.lit(0.0)), F.lit(1.0))
        )
        ddx = lon - (x1 + t * vx)
        ddy = lat - (y1 + t * vy)
        return F.sqrt(ddx * ddx + ddy * ddy)

    return F.array_min(F.transform(idx, d))


def boundary_depth_e6(lat, lon) -> F.Column:
    """floor(1e6 × :func:`min_edge_distance`) — the depth column for
    points known to be inside."""
    return F.floor(min_edge_distance(lat, lon) * F.lit(1_000_000)).cast("long")


def pip_depth_join(
    points: DataFrame,
    polys: list[PackedPolygon],
    lat: str = "lat",
    lon: str = "lon",
    index_level: int = DEFAULT_INDEX_LEVEL,
) -> DataFrame:
    """Inner PIP join + ``depth_e6``: the distance from each matched point
    to its polygon's BOUNDARY (how deep inside it sits) — useful for
    border-proximity analytics. Same split two-broadcast layout as
    pip_join's large path, one extra row-local HOF column; inherits the
    scan-local one-shuffle-free plan."""
    spark = points.sparkSession
    index_df = build_cell_index(spark, polys, index_level)
    edges_df = build_edge_index(spark, polys)
    cand = points.withColumn("_icell", UF.latlon_to_cell(lat, lon, index_level))
    return (
        cand.join(F.broadcast(index_df), cand["_icell"] == index_df["icell"], "inner")
        .join(F.broadcast(edges_df), "poly_id")
        .where(_native_inside(F.col(lat), F.col(lon)))
        .withColumn("depth_e6", boundary_depth_e6(F.col(lat), F.col(lon)))
        .drop("_icell", "icell", "ex1", "ey1", "ex2", "ey2")
    )


def poly_distance_join(
    points: DataFrame,
    polys: list[PackedPolygon],
    radius: float,
    lat: str = "lat",
    lon: str = "lon",
    index_level: int = DEFAULT_INDEX_LEVEL,
) -> DataFrame:
    """All (point, polygon) pairs with ST_Distance(point, polygon) ≤
    ``radius`` degrees — distance 0 for points inside, else the min
    point-segment distance to the boundary (r4).

    Scale shape: candidates are a HASH equi-join of the point's cell
    against the polygon cover DILATED by ``k = ceil(radius/cell_h) + 1``
    cells (ops/buffer.buffer_cells — a conservative superset: any point
    within ``radius`` of a polygon sits within k cells of its cover; the
    exact refine then drops the slack, so the result is exact for ANY
    valid k). No nested loop, no cross join; the same plan a road-buffer
    or coastline-proximity query needs at parcel scale."""
    import math

    from ult_spark.ops.buffer import buffer_cells

    spark = points.sparkSession
    cell_h = 180.0 / (1 << index_level)
    k = int(math.ceil(radius / cell_h)) + 1
    cover = buffer_cells(spark, polys, level=index_level, k=k).select(
        F.col("cell").alias("_icell"), "poly_id"
    )
    edges_df = build_edge_index(spark, polys)
    cand = points.withColumn("_icell", UF.latlon_to_cell(lat, lon, index_level))
    dist = F.when(
        _native_inside(F.col(lat), F.col(lon)), F.lit(0.0)
    ).otherwise(min_edge_distance(F.col(lat), F.col(lon)))
    return (
        cand.join(F.broadcast(cover), "_icell", "inner")
        .join(F.broadcast(edges_df), "poly_id")
        .withColumn("dist_e6", F.floor(dist * F.lit(1_000_000)).cast("long"))
        .where(F.col("dist_e6") <= int(radius * 1_000_000))
        .drop("_icell", "ex1", "ey1", "ex2", "ey2")
    )


def pip_depth_join_df(
    points: DataFrame,
    layer_df: DataFrame,
    lat: str = "lat",
    lon: str = "lon",
    index_level: int = DEFAULT_INDEX_LEVEL,
) -> DataFrame:
    """Distributed-layer twin of :func:`pip_depth_join`: cover and edge
    arrays built cluster-side, shuffle joins only — bit-identical depth
    (the kernel is shared)."""
    index_df = build_cell_index_df(layer_df, index_level)
    edges_df = build_edge_index_df(layer_df)
    cand = points.withColumn("_icell", UF.latlon_to_cell(lat, lon, index_level))
    return (
        cand.join(index_df, cand["_icell"] == index_df["icell"], "inner")
        .join(edges_df, "poly_id")
        .where(_native_inside(F.col(lat), F.col(lon)))
        .withColumn("depth_e6", boundary_depth_e6(F.col(lat), F.col(lon)))
        .drop("_icell", "icell", "ex1", "ey1", "ex2", "ey2")
    )


def poly_distance_join_df(
    points: DataFrame,
    layer_df: DataFrame,
    radius: float,
    lat: str = "lat",
    lon: str = "lon",
    index_level: int = DEFAULT_INDEX_LEVEL,
) -> DataFrame:
    """Distributed-layer twin of :func:`poly_distance_join`: the
    radius-dilated cover comes from cluster-side polyfill
    (build_cell_index_df) run through the SAME ops/buffer.dilate_cells
    stage, edges from build_edge_index_df, every join a shuffle hash join
    — the parcel-scale ST_DWithin plan."""
    import math

    from ult_spark.ops.buffer import dilate_cells

    cell_h = 180.0 / (1 << index_level)
    k = int(math.ceil(radius / cell_h)) + 1
    base = build_cell_index_df(layer_df, index_level).select(
        "poly_id", F.col("icell").alias("cell")
    )
    cover = dilate_cells(base, index_level, k).select(
        F.col("cell").alias("_icell"), "poly_id"
    )
    edges_df = build_edge_index_df(layer_df)
    cand = points.withColumn("_icell", UF.latlon_to_cell(lat, lon, index_level))
    dist = F.when(
        _native_inside(F.col(lat), F.col(lon)), F.lit(0.0)
    ).otherwise(min_edge_distance(F.col(lat), F.col(lon)))
    return (
        cand.join(cover, "_icell", "inner")
        .join(edges_df, "poly_id")
        .withColumn("dist_e6", F.floor(dist * F.lit(1_000_000)).cast("long"))
        .where(F.col("dist_e6") <= int(radius * 1_000_000))
        .drop("_icell", "ex1", "ey1", "ex2", "ey2")
    )


def _refine_udf(polys: list[PackedPolygon]):
    """Arrow engine: scalar pandas UDF ray-cast, vectorized per polygon group
    within each batch. SELF-CONTAINED closure (plain NumPy captures, no
    ult_spark imports) so executors need no --py-files. Crossing rule pinned
    in ult_spark/geom/pip.py — keep in sync."""
    edges_by_id = {p.poly_id: p.edges() for p in polys}

    @F.pandas_udf(BooleanType())
    def pip_refine(lat: pd.Series, lon: pd.Series, poly_id: pd.Series) -> pd.Series:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        pid = poly_id.to_numpy(np.int64)
        out = np.zeros(len(la), dtype=bool)
        for p in np.unique(pid):
            mask = pid == p
            ex1, ey1, ex2, ey2 = edges_by_id[int(p)]
            cy = la[mask][:, None]
            cx = lo[mask][:, None]
            straddle = (ey1[None, :] > cy) != (ey2[None, :] > cy)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (ex2 - ex1)[None, :] * (cy - ey1[None, :]) / (ey2 - ey1)[None, :] + ex1[None, :]
            out[mask] = ((straddle & (cx < xint)).sum(axis=1) & 1).astype(bool)
        return pd.Series(out)

    return pip_refine


def pip_join(
    points: DataFrame,
    polys: list[PackedPolygon],
    lat: str = "lat",
    lon: str = "lon",
    index_level: int = DEFAULT_INDEX_LEVEL,
    how: str = "inner",
    refine: str = "native",
    id_cols: list[str] | None = None,
) -> DataFrame:
    """points ⋈ polygons (point-in-polygon). Adds ``poly_id``.

    ``how='inner'`` keeps matched rows; ``'left_anti'`` returns points in NO
    polygon (J8); ``'left'`` keeps all points with null poly_id.

    ``id_cols``: stable point identity for the ``left``/``left_anti`` back-
    join (round-1 verdict #4: re-keying on float lat/lon conflates distinct
    points at identical coordinates). REQUIRED for ``left``/``left_anti``.
    """
    spark = points.sparkSession
    cand = points.withColumn("_icell", UF.latlon_to_cell(lat, lon, index_level))
    if refine == "native":
        # broadcast layout auto-switch (round-1 verdict #5): inlining edges
        # per cell row costs Σ(cells × edges) broadcast bytes but gives ONE
        # broadcast join on the point stream; splitting costs Σcells +
        # Σedges but adds a second join. Inline only under a byte budget —
        # both layouts are result-identical (tests assert it).
        cell_rows = _index_rows(polys, index_level)
        edges_per_poly = {p.poly_id: len(p.edges()[0]) for p in polys}
        inline_floats = sum(4 * edges_per_poly[pid] for _, pid in cell_rows)
        if inline_floats * 8 <= INLINE_EDGE_BUDGET_BYTES:
            index_df = build_inline_index(spark, polys, index_level)
            matched = (
                cand.join(
                    F.broadcast(index_df), cand["_icell"] == index_df["icell"], "inner"
                )
                .where(_native_inside(F.col(lat), F.col(lon)))
                .drop("_icell", "icell", "ex1", "ey1", "ex2", "ey2")
            )
        else:
            index_df = build_cell_index(spark, polys, index_level)
            edges_df = build_edge_index(spark, polys)
            matched = (
                cand.join(
                    F.broadcast(index_df), cand["_icell"] == index_df["icell"], "inner"
                )
                .join(F.broadcast(edges_df), "poly_id")
                .where(_native_inside(F.col(lat), F.col(lon)))
                .drop("_icell", "icell", "ex1", "ey1", "ex2", "ey2")
            )
    elif refine == "arrow":
        index_df = build_cell_index(spark, polys, index_level)
        refine_fn = _refine_udf(polys)
        matched = (
            cand.join(F.broadcast(index_df), cand["_icell"] == index_df["icell"], "inner")
            .where(refine_fn(F.col(lat), F.col(lon), F.col("poly_id")))
            .drop("_icell", "icell")
        )
    else:
        raise ValueError(f"unknown refine engine {refine!r}")
    if how == "inner":
        return matched
    if how in ("left", "left_anti"):
        if not id_cols:
            raise ValueError(
                f"how={how!r} needs id_cols — a stable point identity; float "
                "lat/lon equality conflates coincident points"
            )
        if how == "left_anti":
            return points.join(
                matched.select(*id_cols).distinct(), id_cols, "left_anti"
            )
        return points.join(matched.select(*id_cols, "poly_id"), id_cols, "left")
    raise ValueError(f"unsupported how={how!r}")
