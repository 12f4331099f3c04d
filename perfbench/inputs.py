"""Seeded benchmark inputs, generated before any timing and cached per seed.

Every input is a pure function of (workload, seed): the pages doc-id
window, the uniform points, the query points, the dense star-polygon layer
and the stream file split. The program under test only ever sees the files
written here (or the in-memory layer), never the seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np

# Sizes are chosen so the per-call fixed costs of Spark (planning, job
# scheduling, Python workers) leave room for several warm passes in a run
# at local[4] on a 4-core host: a warm pages_hot pass takes ~2.5 s, a
# spatial_ops pass ~4 s, and the cold first pass stays under 30 s.
PAGES_ROWS = 24_000
PAGES_FILES = 8
RUNNER_BUCKETS = 2
RUNNER_FAIL_AFTER = 1
STREAM_FILES = 2
POINTS_ROWS = 40_000  # kNN's density-sized start radius is 1 cell from 36.5k points up
QUERY_ROWS = 12
QUERY_OUTSIDE_SHARE = 1 / 12  # queries north of the data band take kNN's brute fallback
LAYER_POLYS = 16
LAYER_VERTICES = 64  # per ring: ten times the admin hexagons' refine edges per candidate
POINT_LAT = (-60.0, 60.0)
POINT_LON = (-170.0, 170.0)
# zonal raster: the pinned synthetic grid's origin and formula at 2-degree
# pixels (10,200 pixels), so zonal stays one share of the pass, not most of it
ZONAL_GRID = dict(origin_lat=-60.0, origin_lon=-170.0, cell_deg=2.0, nrows=60, ncols=170)


@dataclass(frozen=True)
class Inputs:
    """Paths and in-memory objects of one workload's seeded input."""

    root: Path
    n_rows: int
    pages: Path | None = None
    points: Path | None = None
    queries: Path | None = None
    stream_dir: Path | None = None
    layer: tuple | None = None


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input kind, so adding a draw to one input
    # never shifts another
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def pages_window(seed: int, n: int = PAGES_ROWS) -> np.ndarray:
    """The seeded doc-id window: ``range(start, start + n)``. The generator
    has no offset argument, so the window start is the seed's only lever;
    the pinned 20% hot-city and 10% untagged shares hold for any window."""
    # bounded so warc_ts (2024-01-01 + 7 s per doc id) stays a valid timestamp
    start = int(_rng(seed, "pages").integers(0, 100_000_000)) // 10 * 10
    return np.arange(start, start + n, dtype=np.int64)


def pages_frame(seed: int, n: int = PAGES_ROWS):
    from ult_spark.datagen.pages import make_generator

    pdf = make_generator()(pages_window(seed, n))
    # parquet TIMESTAMP(MICROS, UTC) reads back as Spark `timestamp`
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC").astype("datetime64[us, UTC]")
    return pdf


def stream_cuts(seed: int, n: int = PAGES_ROWS, files: int = STREAM_FILES) -> np.ndarray:
    """Seeded file boundaries: contiguous doc ranges, so event time rises
    from file to file and the watermark drops no row."""
    rng = _rng(seed, "stream")
    inner = np.sort(rng.choice(np.arange(n // (2 * files), n - n // (2 * files)), files - 1, replace=False))
    return np.concatenate([[0], inner, [n]]).astype(np.int64)


def points_frame(seed: int, n: int = POINTS_ROWS):
    import pandas as pd

    rng = _rng(seed, "points")
    return pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "lat": np.round(rng.uniform(*POINT_LAT, n), 6),
            "lon": np.round(rng.uniform(*POINT_LON, n), 6),
        }
    )


def queries_frame(seed: int, n: int = QUERY_ROWS):
    import pandas as pd

    rng = _rng(seed, "queries")
    n_out = max(1, int(round(n * QUERY_OUTSIDE_SHARE)))
    lat = np.concatenate([rng.uniform(-55.0, 55.0, n - n_out), rng.uniform(75.0, 85.0, n_out)])
    lon = rng.uniform(-165.0, 165.0, n)
    return pd.DataFrame(
        {"qid": np.arange(n, dtype=np.int64), "qlat": np.round(lat, 6), "qlon": np.round(lon, 6)}
    )


def star_layer(seed: int, n_polys: int = LAYER_POLYS, vertices: int = LAYER_VERTICES):
    """Seeded dense star polygons, one per cell of a 4x4 grid over the point
    band (disjoint by construction), each a single ring of ``vertices``
    vertices with seeded alternating radii."""
    from ult_spark.geom.polyio import PackedPolygon

    rng = _rng(seed, "layer")
    side = int(np.sqrt(n_polys))
    dlat = (POINT_LAT[1] - POINT_LAT[0]) / side
    dlon = (POINT_LON[1] - POINT_LON[0]) / side
    polys = []
    for k in range(n_polys):
        r, c = divmod(k, side)
        clat = POINT_LAT[0] + (r + 0.5) * dlat + rng.uniform(-0.1, 0.1) * dlat
        clon = POINT_LON[0] + (c + 0.5) * dlon + rng.uniform(-0.1, 0.1) * dlon
        outer = 0.38 * min(dlat, dlon) * rng.uniform(0.8, 1.0)
        inner = outer * rng.uniform(0.45, 0.75)
        theta = np.linspace(0.0, 2 * np.pi, vertices, endpoint=False) + rng.uniform(0, np.pi)
        rad = np.where(np.arange(vertices) % 2 == 0, outer, inner)
        polys.append(
            PackedPolygon(
                poly_id=k,
                name=f"star_{k}",
                level=0,
                ring_offsets=np.asarray([0, vertices], dtype=np.int32),
                xs=np.round(clon + rad * np.cos(theta) * (dlon / dlat), 6),
                ys=np.round(clat + rad * np.sin(theta), 6),
            )
        )
    return tuple(polys)


def _write_parquet(pdf, path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(path))


def _write_split(pdf, out_dir: Path, cuts: np.ndarray) -> None:
    out_dir.mkdir(parents=True)
    for k in range(len(cuts) - 1):
        f = out_dir / f"part-{k:05d}.parquet"
        _write_parquet(pdf.iloc[int(cuts[k]) : int(cuts[k + 1])], f)
        # the file source orders files by modification time: pin it so the
        # stream reads the contiguous ranges in event-time order
        os.utime(f, (1_700_000_000 + k, 1_700_000_000 + k))


def _build(workload: str, seed: int, tmp: Path) -> dict:
    if workload in ("pages_hot", "runner_resume", "stream_ingest"):
        # pages_hot's traced run drives the write path and the stream too
        pdf = pages_frame(seed)
        n = len(pdf)
        if workload != "runner_resume":
            _write_split(pdf, tmp / "stream", stream_cuts(seed))
        if workload != "stream_ingest":
            _write_split(pdf, tmp / "pages", np.linspace(0, n, PAGES_FILES + 1).astype(np.int64))
        return {"n_rows": n}
    if workload == "spatial_ops":
        pts = points_frame(seed)
        _write_parquet(pts, tmp / "points.parquet")
        _write_parquet(queries_frame(seed), tmp / "queries.parquet")
        return {"n_rows": len(pts)}
    raise ValueError(f"unknown workload {workload!r}")


def _generation_key() -> str:
    """Changes whenever the code that makes inputs or references does, so a
    cache never outlives the sizes and formulas it was made with."""
    here = Path(__file__).resolve().parent
    h = hashlib.sha256()
    for name in ("inputs.py", "reference.py"):
        h.update((here / name).read_bytes())
    return h.hexdigest()[:12]


def ensure(cache_root: Path, workload: str, seed: int) -> Inputs:
    """Generate (once) and return the seeded inputs of ``workload``."""
    root = cache_root / f"{workload}-{seed}-{_generation_key()}"
    meta_path = root / "meta.json"
    if not meta_path.exists():
        tmp = cache_root / f".tmp-{workload}-{seed}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        meta = _build(workload, seed, tmp)
        (tmp / "meta.json").write_text(json.dumps(meta))
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
    meta = json.loads(meta_path.read_text())
    return Inputs(
        root=root,
        n_rows=int(meta["n_rows"]),
        pages=root / "pages" if (root / "pages").exists() else None,
        points=root / "points.parquet" if workload == "spatial_ops" else None,
        queries=root / "queries.parquet" if workload == "spatial_ops" else None,
        stream_dir=root / "stream" if (root / "stream").exists() else None,
        layer=star_layer(seed) if workload == "spatial_ops" else None,
    )


def digest(inputs: Inputs) -> str:
    """Content hash of every generated input (files and layer geometry)."""
    h = hashlib.sha256()
    for f in sorted(p for p in inputs.root.rglob("*") if p.is_file() and p.name != "meta.json"):
        import pyarrow.parquet as pq

        h.update(f.relative_to(inputs.root).as_posix().encode())
        t = pq.read_table(str(f))
        for col in t.columns:
            h.update(repr(col.to_pylist()).encode())
    for p in inputs.layer or ():
        h.update(p.xs.tobytes() + p.ys.tobytes())
    return h.hexdigest()
