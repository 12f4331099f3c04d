"""Independent references for every benchmarked output, and the checks.

References use only the NumPy/pandas kernels the package keeps as its own
references (``extract.text`` geotag_frame, ``grid.cells``,
``geom.pip.points_in_polygon``) plus brute-force NumPy kNN — never the
Spark operators under test. Each is computed once per seed and cached next
to the seeded input.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd

LEVELS = (12, 10, 8)
KNN_K = 5
STREAM_WINDOW = "10min"


def read_pages(pages_dir: Path) -> pd.DataFrame:
    import pyarrow.parquet as pq

    files = sorted(pages_dir.glob("*.parquet"))
    return pd.concat([pq.read_table(str(f)).to_pandas() for f in files], ignore_index=True)


def _pip_pairs(lat: np.ndarray, lon: np.ndarray, polys) -> tuple[np.ndarray, np.ndarray]:
    """(point index, poly_id) for every point inside every polygon; NaN
    coordinates match nothing. A bbox prefilter only narrows which points
    the exact ray cast sees."""
    from ult_spark.geom.pip import points_in_polygon

    idx_out, pid_out = [], []
    valid = ~(np.isnan(lat) | np.isnan(lon))
    for p in polys:
        la0, la1, lo0, lo1 = p.bbox()
        cand = np.flatnonzero(valid & (lat >= la0) & (lat <= la1) & (lon >= lo0) & (lon <= lo1))
        hit = cand[points_in_polygon(lat[cand], lon[cand], p)]
        idx_out.append(hit)
        pid_out.append(np.full(len(hit), p.poly_id, dtype=np.int64))
    return np.concatenate(idx_out), np.concatenate(pid_out)


def _pyramid(cells: np.ndarray, levels=LEVELS) -> pd.DataFrame:
    from ult_spark.grid.cells import cell_parent

    parts = []
    for lvl in levels:
        c = cells if lvl == levels[0] else cell_parent(cells, lvl)
        u, n = np.unique(c, return_counts=True)
        parts.append(pd.DataFrame({"level": lvl, "cell": u.astype(np.int64), "cnt": n.astype(np.int64)}))
    return pd.concat(parts, ignore_index=True)


def geotag(html: pd.Series) -> pd.DataFrame:
    from ult_spark.extract.text import make_text_pipeline

    _, geotag_frame = make_text_pipeline()
    return geotag_frame(html)


def pages_tiles(pages: pd.DataFrame) -> pd.DataFrame:
    """Reference of ``pages_pipeline``: (level, cell, cnt) over the pinned
    admin layer, one count per (page, polygon) match."""
    from ult_spark.geom.polyio import default_layer
    from ult_spark.grid.cells import latlon_to_cell

    g = geotag(pages["html"])
    lat, lon = g["lat"].to_numpy(), g["lon"].to_numpy()
    idx, _ = _pip_pairs(lat, lon, default_layer())
    return _pyramid(latlon_to_cell(lat[idx], lon[idx], LEVELS[0]))


def stream_counts(pages: pd.DataFrame) -> pd.DataFrame:
    """Reference of ``windowed_pip_tile_counts``: 10-minute tumbling-window
    counts per (window start, level-8 cell, polygon)."""
    from ult_spark.geom.polyio import default_layer
    from ult_spark.grid.cells import latlon_to_cell

    g = geotag(pages["html"])
    lat, lon = g["lat"].to_numpy(), g["lon"].to_numpy()
    idx, pid = _pip_pairs(lat, lon, default_layer())
    ts = pd.to_datetime(pages["warc_ts"]).dt.tz_localize(None).to_numpy()[idx]
    df = pd.DataFrame(
        {
            "win_start": pd.Series(ts).dt.floor(STREAM_WINDOW).to_numpy(),
            "cell": latlon_to_cell(lat[idx], lon[idx], 8).astype(np.int64),
            "poly_id": pid,
        }
    )
    return df.groupby(["win_start", "cell", "poly_id"], as_index=False).size().rename(
        columns={"size": "cnt"}
    )


def spatial_tiles(points: pd.DataFrame, layer) -> pd.DataFrame:
    from ult_spark.grid.cells import latlon_to_cell

    lat, lon = points["lat"].to_numpy(), points["lon"].to_numpy()
    idx, _ = _pip_pairs(lat, lon, layer)
    return _pyramid(latlon_to_cell(lat[idx], lon[idx], LEVELS[0]))


def zonal(layer, ref) -> pd.DataFrame:
    """Reference of ``zonal_stats(synth_raster(spark, ref), layer)``: same
    pixel-value formula and pixel centres as ``geom.raster``."""
    i = np.arange(ref.nrows * ref.ncols, dtype=np.int64)
    value = (i * 2246822519 % 100000).astype(np.float64) / 100.0
    lat = ref.origin_lat + ((i // ref.ncols).astype(np.float64) + 0.5) * ref.cell_deg
    lon = ref.origin_lon + ((i % ref.ncols).astype(np.float64) + 0.5) * ref.cell_deg
    idx, pid = _pip_pairs(lat, lon, layer)
    df = pd.DataFrame(
        {"poly_id": pid, "v": value[idx], "v_e4": np.floor(value[idx] * 10000).astype(np.int64)}
    )
    return (
        df.groupby("poly_id")
        .agg(cnt=("v", "size"), sum_e4=("v_e4", "sum"), vmin=("v", "min"), vmax=("v", "max"))
        .reset_index()
    )


def knn(queries: pd.DataFrame, points: pd.DataFrame, k: int = KNN_K) -> pd.DataFrame:
    """Brute-force exact kNN, squared planar degrees, ties by id."""
    plat, plon = points["lat"].to_numpy(), points["lon"].to_numpy()
    pid = points["id"].to_numpy()
    rows = []
    for q, qlat, qlon in queries[["qid", "qlat", "qlon"]].itertuples(index=False):
        dlat = qlat - plat
        dlon = qlon - plon
        d = dlat * dlat + dlon * dlon
        top = np.lexsort((pid, d))[:k]
        rows.extend((int(q), int(pid[j]), float(d[j]), r + 1) for r, j in enumerate(top))
    return pd.DataFrame(rows, columns=["qid", "id", "sq_dist", "rk"])


def mismatch(got: pd.DataFrame, ref: pd.DataFrame, keys: list[str], name: str) -> str | None:
    """None when ``got`` equals ``ref`` as a multiset of rows over ``ref``'s
    columns (float columns to 1e-9 relative); else a one-line reason."""
    cols = list(ref.columns)
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return f"{name}: missing columns {missing}"
    if len(got) != len(ref):
        return f"{name}: {len(got)} rows, expected {len(ref)}"
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = ref[cols].sort_values(cols).reset_index(drop=True)
    if a.duplicated(keys).any():
        return f"{name}: duplicate keys {keys}"
    for c in cols:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(y.dtype, np.floating):
            ok = np.allclose(x.astype(np.float64), y, rtol=1e-9, atol=0.0)
        else:
            ok = np.array_equal(x.astype(y.dtype), y)
        if not ok:
            return f"{name}: column {c!r} differs"
    return None
