"""Three-way parity: NumPy core vs native Spark Columns vs DuckDB SQL.

This is the keystone test — every oracle-checked geo query relies on the
native Column encode, the NumPy encode (inside UDFs), and the DuckDB SQL
fragment (oracle) producing bit-identical cell ids.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from ult_spark import functions as UF
from ult_spark.grid import cells


def _grid_edge_points() -> pd.DataFrame:
    """Poles, the antimeridian, signed zeros, and exact cell borders (low,
    middle and high) at every level; negative ids keep them apart from the
    events."""
    pts = [(90.0, 180.0), (-90.0, -180.0), (90.0, -180.0), (-90.0, 180.0),
           (0.0, -0.0), (-0.0, 0.0), (-0.0, -0.0)]
    for level in range(1, cells.MAX_LEVEL + 1):
        n = 1 << level
        pts += [(k * 180.0 / n - 90.0, k * 360.0 / n - 180.0) for k in (1, n // 2, n - 1)]
    lat, lon = zip(*pts)
    return pd.DataFrame({"event_id": -np.arange(1, len(pts) + 1), "lat": lat, "lon": lon})


def test_native_vs_numpy_vs_duckdb(spark, sf_smoke):
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    edges = _grid_edge_points()
    pts = ev.select(
        "event_id", UF.event_lat().alias("lat"), UF.event_lon().alias("lon")
    ).unionByName(spark.createDataFrame(edges))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_smoke}/events.parquet')"
    )
    con.register("edges", edges)
    for level in range(cells.MAX_LEVEL + 1):
        got = (
            pts.select("event_id", "lat", "lon", UF.latlon_to_cell("lat", "lon", level).alias("cell"))
            .orderBy("event_id")
            .toPandas()
        )
        # NumPy twin
        np_cells = cells.latlon_to_cell(got["lat"].to_numpy(), got["lon"].to_numpy(), level)
        assert np.array_equal(got["cell"].to_numpy(), np_cells), f"native != numpy at L{level}"
        # DuckDB oracle fragment
        sql = (
            f"SELECT event_id, {UF.cell_sql(UF.EVENT_LAT_SQL, UF.EVENT_LON_SQL, level)} AS cell "
            f"FROM events UNION ALL "
            f"SELECT event_id, {UF.cell_sql('lat', 'lon', level)} AS cell FROM edges "
            f"ORDER BY event_id"
        )
        duck = con.execute(sql).df()
        assert np.array_equal(got["cell"].to_numpy(), duck["cell"].to_numpy()), f"native != duckdb at L{level}"


def test_native_parent_and_xy_roundtrip(spark, sf_smoke):
    ev = spark.read.parquet(f"{sf_smoke}/events.parquet")
    df = ev.select(
        UF.latlon_to_cell(UF.event_lat(), UF.event_lon(), 12).alias("c12"),
        UF.latlon_to_cell(UF.event_lat(), UF.event_lon(), 8).alias("c8"),
    )
    bad = df.where(UF.cell_parent("c12", 8) != df.c8).count()
    assert bad == 0
    # native de-interleave matches NumPy decode
    pdf = df.select("c12", UF.cell_x("c12", 12).alias("x"), UF.cell_y("c12", 12).alias("y")).toPandas()
    x, y, lvl = cells.cell_to_xy(pdf["c12"].to_numpy())
    assert np.array_equal(pdf["x"].to_numpy().astype(np.uint64), x)
    assert np.array_equal(pdf["y"].to_numpy().astype(np.uint64), y)
    assert np.all(lvl == 12)


def test_native_cell_range(spark):
    pts = pd.DataFrame({"lat": np.linspace(-80, 80, 50), "lon": np.linspace(-170, 170, 50)})
    df = spark.createDataFrame(pts).select(
        UF.latlon_to_cell("lat", "lon", 6).alias("c6"),
        UF.latlon_to_cell("lat", "lon", 12).alias("c12"),
    )
    lo, hi = UF.cell_range("c6")
    assert df.where((df.c12 < lo) | (df.c12 > hi)).count() == 0


def test_centroid_reencodes_to_same_cell(spark):
    pts = pd.DataFrame({"lat": np.random.default_rng(7).uniform(-89, 89, 200),
                        "lon": np.random.default_rng(8).uniform(-179, 179, 200)})
    df = spark.createDataFrame(pts).select(UF.latlon_to_cell("lat", "lon", 10).alias("c"))
    df = df.withColumn("clat", UF.cell_centroid_lat("c", 10)).withColumn(
        "clon", UF.cell_centroid_lon("c", 10)
    )
    assert df.where(UF.latlon_to_cell("clat", "clon", 10) != df.c).count() == 0


def test_quadkey_roundtrip_and_prefix(spark):
    """Quadkey interop (r4): encode→decode is the identity at several
    levels, and a cell's quadkey starts with its parent's quadkey (the
    prefix-containment property tile systems rely on)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ult_spark import functions as UF
    from ult_spark.grid import cells as C

    rng = np.random.default_rng(7)
    lat = rng.uniform(-89, 89, 200)
    lon = rng.uniform(-179.9, 179.9, 200)
    df = spark.createDataFrame(pd.DataFrame({"lat": lat, "lon": lon}))
    for level in (1, 4, 8, 12):
        out = (
            df.select(UF.latlon_to_cell("lat", "lon", level).alias("cell"))
            .withColumn("qk", UF.cell_to_quadkey("cell", level))
            .withColumn("back", UF.quadkey_to_cell("qk", level))
            .collect()
        )
        assert all(r.back == r.cell for r in out), level
        assert all(len(r.qk) == level for r in out), level
    pair = (
        df.select(
            UF.cell_to_quadkey(UF.latlon_to_cell("lat", "lon", 8), 8).alias("qk8"),
            UF.cell_to_quadkey(UF.latlon_to_cell("lat", "lon", 6), 6).alias("qk6"),
        ).collect()
    )
    assert all(r.qk8.startswith(r.qk6) for r in pair)
