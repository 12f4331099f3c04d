"""Geometry correctness: vectorized ray-caster vs naive oracle, polyfill
conservativeness, end-to-end PIP join vs brute force (SURVEY.md §5.2)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ult_spark.geom.pip import point_in_polygon_naive, points_in_polygon
from ult_spark.geom.polyio import default_layer
from ult_spark.grid import cells as C
from ult_spark.grid.polyfill import polyfill

POLYS = list(default_layer())
RNG = np.random.default_rng(1234)


def test_fixture_shape():
    assert len(POLYS) == 16
    holed = next(p for p in POLYS if p.name == "holed")
    assert len(holed.ring_offsets) == 3  # exterior + hole + total


@pytest.mark.parametrize("poly", POLYS, ids=[p.name for p in POLYS])
def test_vectorized_matches_naive(poly):
    la0, la1, lo0, lo1 = poly.bbox()
    pad_la = (la1 - la0) * 0.3 + 0.1
    pad_lo = (lo1 - lo0) * 0.3 + 0.1
    lat = RNG.uniform(la0 - pad_la, la1 + pad_la, 800)
    lon = RNG.uniform(lo0 - pad_lo, lo1 + pad_lo, 800)
    fast = points_in_polygon(lat, lon, poly)
    slow = np.array([point_in_polygon_naive(a, o, poly) for a, o in zip(lat, lon)])
    assert np.array_equal(fast, slow)
    assert fast.any() or poly.name == "sliver"  # sanity: region is hit


def test_hole_semantics():
    holed = next(p for p in POLYS if p.name == "holed")
    # center of the hole (10, 37.5) is OUTSIDE; ring area around it inside
    assert not points_in_polygon(np.array([37.5]), np.array([10.0]), holed)[0]
    assert points_in_polygon(np.array([32.0]), np.array([10.0]), holed)[0]
    assert points_in_polygon(np.array([37.5]), np.array([2.0]), holed)[0]
    assert not points_in_polygon(np.array([50.0]), np.array([10.0]), holed)[0]


def test_concave_semantics():
    cc = next(p for p in POLYS if p.name == "concave_C")
    # inside the notch of the C → outside the polygon
    assert not points_in_polygon(np.array([40.0]), np.array([-145.0]), cc)[0]
    # inside the spine of the C
    assert points_in_polygon(np.array([40.0]), np.array([-158.0]), cc)[0]


@pytest.mark.parametrize("level", [5, 6, 8])
@pytest.mark.parametrize("poly", POLYS[:6] + [POLYS[14], POLYS[15]],
                         ids=lambda p: getattr(p, "name", p))
def test_polyfill_conservative(poly, level):
    """No interior point may fall in a cell polyfill missed (undercoverage
    drops join rows; overcoverage is refined away)."""
    cov = set(polyfill(poly, level).tolist())
    assert cov, f"{poly.name} produced empty cover at L{level}"
    la0, la1, lo0, lo1 = poly.bbox()
    lat = RNG.uniform(la0, la1, 3000)
    lon = RNG.uniform(lo0, lo1, 3000)
    inside = points_in_polygon(lat, lon, poly)
    cells_of_inside = C.latlon_to_cell(lat[inside], lon[inside], level)
    missing = set(np.unique(cells_of_inside).tolist()) - cov
    assert not missing, f"{poly.name} L{level}: {len(missing)} cells undercovered"


def test_pip_join_matches_bruteforce(spark, sf_smoke):
    from ult_spark import functions as UF
    from ult_spark.ops.pip import pip_join

    pts = (
        spark.read.parquet(f"{sf_smoke}/events.parquet")
        .select("event_id", UF.event_lat().alias("lat"), UF.event_lon().alias("lon"))
    )
    got = {
        (r.event_id, r.poly_id)
        for r in pip_join(pts, POLYS).select("event_id", "poly_id").collect()
    }
    pdf = pts.toPandas()
    exp = set()
    for p in POLYS:
        m = points_in_polygon(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), p)
        exp |= {(int(e), p.poly_id) for e in pdf["event_id"].to_numpy()[m]}
    assert got == exp
    # anti join complements the inner join on the point keys
    anti = pip_join(pts, POLYS, how="left_anti", id_cols=["event_id"]).count()
    matched_pts = len({e for e, _ in got})
    assert anti == pts.count() - matched_pts


def test_pip_left_anti_distinguishes_coincident_points(spark):
    """Round-1 verdict #4: two distinct points at IDENTICAL coordinates must
    keep separate identities through left/left_anti."""
    import pandas as pd
    from ult_spark.ops.pip import pip_join

    la0, la1, lo0, lo1 = POLYS[0].bbox()
    cy, cx = (la0 + la1) / 2, (lo0 + lo1) / 2
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [1, 2, 3], "lat": [cy, cy, 89.9], "lon": [cx, cx, 179.9]})
    )
    inner = pip_join(pts, POLYS, id_cols=["pid"])
    hit_ids = {r.pid for r in inner.select("pid").distinct().collect()}
    anti = pip_join(pts, POLYS, how="left_anti", id_cols=["pid"])
    anti_ids = {r.pid for r in anti.select("pid").collect()}
    assert hit_ids & anti_ids == set()
    assert hit_ids | anti_ids == {1, 2, 3}
    if 1 in hit_ids:  # coincident twins share fate but keep BOTH identities
        assert 2 in hit_ids
    left = pip_join(pts, POLYS, how="left", id_cols=["pid"])
    assert left.where(F.col("pid").isin([1, 2])).count() >= 2
    # id_cols is mandatory for the back-joins
    try:
        pip_join(pts, POLYS, how="left_anti")
        assert False, "expected ValueError without id_cols"
    except ValueError:
        pass


def test_pip_broadcast_scales_with_edges_not_cells(spark):
    """Round-1 verdict #5: broadcast payload must be Σcells + Σedges, never
    Σ(cells × edges) — the edge table has exactly one row per polygon, and
    the cell map carries no edge arrays."""
    from ult_spark.ops.pip import build_cell_index, build_edge_index

    cells = build_cell_index(spark, POLYS)
    edges = build_edge_index(spark, POLYS)
    assert edges.count() == len(POLYS)
    assert set(cells.columns) == {"icell", "poly_id"}  # no inlined edges
    n_cells = cells.count()
    assert n_cells > len(POLYS)  # cells >> polys, but each row is 16 bytes


def test_pip_refine_engines_agree(spark, sf_smoke):
    """native and arrow (pandas UDF reference kernel) refine engines are
    bit-identical."""
    from ult_spark import functions as UF
    from ult_spark.ops.pip import pip_join

    pts = (
        spark.read.parquet(f"{sf_smoke}/events.parquet")
        .select("event_id", UF.event_lat().alias("lat"), UF.event_lon().alias("lon"))
    )
    sets = []
    for engine in ("native", "arrow"):
        sets.append(
            {
                (r.event_id, r.poly_id)
                for r in pip_join(pts, POLYS, refine=engine).select("event_id", "poly_id").collect()
            }
        )
    assert sets[0] == sets[1] and len(sets[0]) > 0


def _square_with_hole(ring_offsets: list[int]):
    from ult_spark.geom.polyio import PackedPolygon

    return PackedPolygon(
        poly_id=1, name="sq", level=0,
        ring_offsets=np.asarray(ring_offsets, dtype=np.int32),
        xs=np.asarray([-20.0, 20.0, 20.0, -20.0, -10.0, -10.0, 10.0, 10.0]),
        ys=np.asarray([-20.0, -20.0, 20.0, 20.0, -10.0, 10.0, 10.0, -10.0]),
    )


def test_index_cache_keys_on_ring_structure(spark):
    """An outer square with a hole and the same 8 vertices as one ring have
    different covers: neither the driver-side index cache nor the session's
    index DataFrames may hand one layer the other's rows."""
    from ult_spark.grid import compact as CZ
    from ult_spark.ops.pip import _index_rows, build_cell_index

    holed, one_ring = _square_with_hole([0, 4, 8]), _square_with_hole([0, 8])
    covers = []
    for poly in (holed, one_ring):
        exp = CZ.uncompact(CZ.compact(polyfill(poly, 6)), 6).tolist()
        assert sorted(c for c, _ in _index_rows([poly], 6)) == exp
        got = [r.icell for r in build_cell_index(spark, [poly], 6).collect()]
        assert sorted(got) == exp
        covers.append(exp)
    assert covers[0] != covers[1]


def test_pip_index_built_once_per_session(spark, monkeypatch):
    """Two pip_join calls in one session build the layer index once; a
    session from newSession() builds its own and gets identical matches."""
    from ult_spark.ops import pip as P

    built = []
    real = P._index_table

    def counting(polys, index_level, kind):
        built.append(kind)
        return real(polys, index_level, kind)

    monkeypatch.setattr(P, "_index_table", counting)
    rows = [(i, -40.0 + i * 0.37, -120.0 + i * 1.13) for i in range(200)]
    matches = []
    for session in (spark.newSession(), spark.newSession()):
        pts = session.createDataFrame(rows, "pid long, lat double, lon double")
        for _ in range(2):
            matches.append({(r.pid, r.poly_id) for r in P.pip_join(pts, POLYS).collect()})
    assert built == ["inline", "inline"]
    assert matches[0] and all(m == matches[0] for m in matches)


def test_uncompact_native_matches_numpy(spark):
    from ult_spark.grid import compact as CZ
    from ult_spark.ops.compact_df import uncompact_cells_native

    rng = np.random.default_rng(5)
    base = np.unique(
        C.latlon_to_cell(rng.uniform(-80, 80, 300), rng.uniform(-179, 179, 300), 8)
    )
    packed = CZ.compact(base)  # mixed levels
    df = spark.createDataFrame([(int(c),) for c in packed.tolist()], "cell long")
    got = np.sort(np.array([r.cell for r in uncompact_cells_native(df, 8).collect()]))
    exp = CZ.uncompact(packed, 8)
    assert np.array_equal(got, exp)


def test_pip_join_df_matches_broadcast_path(spark, sf_smoke):
    """The distributed-layer PIP twin (shuffle joins, cluster-side polyfill
    via shipped py-files) is result-identical to the broadcast path."""
    from ult_spark import functions as UF
    from ult_spark.geom.polyio import to_dataframe
    from ult_spark.ops.pip import pip_join, pip_join_df

    pts = (
        spark.read.parquet(f"{sf_smoke}/events.parquet")
        .select("event_id", UF.event_lat().alias("lat"), UF.event_lon().alias("lon"))
    )
    layer_df = to_dataframe(spark, POLYS)
    got = {
        (r.event_id, r.poly_id)
        for r in pip_join_df(pts, layer_df).select("event_id", "poly_id").collect()
    }
    exp = {
        (r.event_id, r.poly_id)
        for r in pip_join(pts, POLYS).select("event_id", "poly_id").collect()
    }
    assert got == exp and len(got) > 0


def test_pip_split_layout_matches_inline(spark, monkeypatch):
    """The inline/split broadcast auto-switch is result-identical: force the
    split path with a zero budget and compare to the default (inline at this
    layer size)."""
    from ult_spark import functions as UF
    from ult_spark.ops import pip as P

    pts = spark.createDataFrame(
        [(i, -40.0 + i * 0.37, -120.0 + i * 1.13) for i in range(200)],
        "pid long, lat double, lon double",
    )
    inline = {(r.pid, r.poly_id) for r in P.pip_join(pts, POLYS).collect()}
    monkeypatch.setattr(P, "INLINE_EDGE_BUDGET_BYTES", 0)
    split = {(r.pid, r.poly_id) for r in P.pip_join(pts, POLYS).collect()}
    assert inline == split


def test_boundary_depth_known_square(spark):
    """ST_Distance-to-boundary (r4): inside a 10x10 square the depth is
    the distance to the nearest side, exact to the e6 floor."""
    import numpy as np
    import pandas as pd

    from ult_spark.geom.polyio import PackedPolygon
    from ult_spark.ops.pip import pip_depth_join

    sq = PackedPolygon(
        poly_id=1, name="sq", level=0,
        ring_offsets=np.asarray([0, 4], dtype=np.int32),
        xs=np.asarray([0.0, 10.0, 10.0, 0.0]),
        ys=np.asarray([0.0, 0.0, 10.0, 10.0]),
    )
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [0, 1, 2], "lat": [5.0, 1.0, 9.5], "lon": [5.0, 7.0, 2.0]})
    )
    got = {r.pid: r.depth_e6 for r in pip_depth_join(pts, [sq]).collect()}
    assert got == {0: 5_000_000, 1: 1_000_000, 2: 500_000}


def test_poly_distance_join_known_square(spark):
    """ST_DWithin (r4): inside → 0; outside → exact min segment distance;
    beyond the radius → excluded. Plan stays a hash join (no BNLJ)."""
    import numpy as np
    import pandas as pd

    from ult_spark.geom.polyio import PackedPolygon
    from ult_spark.ops.pip import poly_distance_join

    sq = PackedPolygon(
        poly_id=1, name="sq", level=0,
        ring_offsets=np.asarray([0, 4], dtype=np.int32),
        xs=np.asarray([0.0, 10.0, 10.0, 0.0]),
        ys=np.asarray([0.0, 0.0, 10.0, 10.0]),
    )
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "pid": [0, 1, 2, 3],
                "lat": [5.0, 5.0, 12.0, 5.0],      # inside / east / NE corner / far
                "lon": [5.0, 12.0, 12.0, 40.0],
            }
        )
    )
    df = poly_distance_join(pts, [sq], radius=4.0)
    got = {r.pid: r.dist_e6 for r in df.collect()}
    # NE corner point is sqrt(8) deg from (10, 10)
    assert got == {0: 0, 1: 2_000_000, 2: int(np.floor(np.sqrt(8.0) * 1e6))}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_depth_and_distance_df_twins_match(spark, sf_smoke):
    """The distributed-layer twins of pip_depth_join / poly_distance_join
    are bit-identical to the broadcast variants on the pinned layer, with
    shuffle-join plans (no BNLJ, no cartesian)."""
    from ult_spark.geom.polyio import default_layer, to_dataframe
    from ult_spark.ops.pip import (
        pip_depth_join,
        pip_depth_join_df,
        poly_distance_join,
        poly_distance_join_df,
    )
    from ult_spark.querydefs import events_points

    pts = events_points(spark, sf_smoke)
    polys = list(default_layer())
    layer_df = to_dataframe(spark, polys)

    drv = {
        (r.event_id, r.poly_id): r.depth_e6
        for r in pip_depth_join(pts, polys).collect()
    }
    got = {
        (r.event_id, r.poly_id): r.depth_e6
        for r in pip_depth_join_df(pts, layer_df).collect()
    }
    assert got == drv and got

    drv2 = {
        (r.event_id, r.poly_id): r.dist_e6
        for r in poly_distance_join(pts, polys, radius=3.0).collect()
    }
    got2_df = poly_distance_join_df(pts, layer_df, radius=3.0)
    got2 = {(r.event_id, r.poly_id): r.dist_e6 for r in got2_df.collect()}
    assert got2 == drv2 and len(got2) > len(got)  # within-3deg ⊋ inside
    plan = got2_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
