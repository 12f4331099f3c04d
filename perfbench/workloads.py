"""The four workloads: one timed pass each, its output check, and the
traced prefix ladder that splits a pass across the program's layers.

Every call goes through the package's public functions; the benchmark
never reaches into the program's internals.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

import pandas as pd

from perfbench import inputs as I
from perfbench import reference as R
from perfbench.trace import EventLog, Tracer


@dataclass
class PassResult:
    rows: int
    wall_s: float
    attempted: int
    failed: int
    reason: str | None = None
    extra: dict = field(default_factory=dict)


def materialize(df, *aggs) -> dict:
    """Run ``df`` to completion for timing: the noop sink writes every
    column of every row, and an Observation carries the row count (and any
    extra aggregates) out of the same job. ``count()`` would let Catalyst
    prune the work being timed."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n"), *aggs).write.format("noop").mode("overwrite").save()
    return obs.get


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


class Workload:
    name = ""
    # untimed passes between the cold pass and the timed loop: the steep
    # start of the JIT warm-up, where one pass is up to a third slower than
    # the next (the wall keeps falling slowly for a minute after it)
    warm_passes = 1

    def __init__(self, spark, inp: I.Inputs, work: Path):
        self.spark = spark
        self.inp = inp
        self.work = work
        self._seq = 0
        # checked operations a traced ladder runs besides its prefixes; they
        # count toward attempted/failed like the timed passes
        self.side_passes: list[PassResult] = []

    def fresh_dir(self, kind: str) -> Path:
        self._seq += 1
        return self.work / f"{kind}-{self._seq}"

    @staticmethod
    def reference(inp: I.Inputs) -> dict:
        raise NotImplementedError

    def run_pass(self, ref: dict) -> PassResult:
        raise NotImplementedError

    def plan_probe(self) -> dict:
        """Per-layer metrics that only a cold process shows (run before the
        cold pass of a traced run)."""
        return {}

    def ladder(self, tracer: Tracer, ref: dict) -> dict:
        """Per-layer metrics from the traced prefix ladder (session open)."""
        raise NotImplementedError

    def ladder_counts(self, log: EventLog, tracer: Tracer, layers: dict) -> dict:
        """Per-layer counts read from the event log after the session closed."""
        return {}

    def prefixes(self, tracer: Tracer, steps: list[tuple[str, object]]) -> dict[str, float]:
        """Materialize cumulative prefixes once each, with a fresh plan;
        returns the wall per step name and stores each as a span. One round
        keeps the traced run of pages_hot, which also drives the write path
        and the stream, well inside the 180 s a run may take."""
        walls: dict[str, float] = {}
        for name, build in steps:
            with tracer.span(name) as s:
                s["rows"] = int(materialize(build())["n"])
            walls[name] = s["end"] - s["start"]
        return walls


# ---------------------------------------------------------------------------


class PagesHot(Workload):
    """``pages_pipeline`` over the seeded pages window (paper headline path)."""

    name = "pages_hot"
    warm_passes = 3

    @staticmethod
    def reference(inp: I.Inputs) -> dict:
        pages = R.read_pages(inp.pages)
        return {"tiles": R.pages_tiles(pages), "counts": R.stream_counts(pages)}

    def pages(self):
        return self.spark.read.parquet(str(self.inp.pages))

    def run_pass(self, ref: dict) -> PassResult:
        from ult_spark.pipeline import pages_pipeline

        out, wall = _timed(lambda: pages_pipeline(self.pages()).toPandas())
        bad = R.mismatch(out, ref["tiles"], ["level", "cell"], "pages_pipeline")
        return PassResult(self.inp.n_rows, wall, 1, int(bad is not None), bad)

    def plan_probe(self) -> dict:
        from ult_spark.extract.geo import geotag_native
        from ult_spark.geom.polyio import default_layer
        from ult_spark.ops.pip import pip_join

        lat, lon = geotag_native("html")
        pts = self.pages().select("url", lat.alias("lat"), lon.alias("lon"))
        _, wall = _timed(lambda: pip_join(pts, list(default_layer()), index_level=6))
        return {"pip.plan_s": wall}

    def ladder(self, tracer: Tracer, ref: dict) -> dict:
        from pyspark.sql import functions as F

        from ult_spark import functions as UF
        from ult_spark.extract.geo import geotag_native
        from ult_spark.geom.polyio import default_layer
        from ult_spark.ops.pip import pip_join
        from ult_spark.ops.tiles import tile_agg
        from ult_spark.pipeline import pages_pipeline

        layer = list(default_layer())

        def extract():
            lat, lon = geotag_native("html")
            return self.pages().select("url", lat.alias("lat"), lon.alias("lon"))

        def grid():
            return extract().withColumn("cell", UF.latlon_to_cell("lat", "lon", R.LEVELS[0]))

        def pip():
            return pip_join(grid(), layer, index_level=6)

        def tiles():
            return tile_agg(pip(), salt_by="url", salt_buckets=64)

        hit = materialize(extract(), F.count("lat").alias("hit"))
        w = self.prefixes(tracer, [
            ("extract", extract), ("grid", grid), ("pip", pip), ("tiles", tiles),
            ("pipeline", lambda: pages_pipeline(self.pages())),
        ])
        # the write path and the stream over the same pages, so every layer
        # is measured on a gated workload: the write-path prefixes, one
        # crash + rerun of run_job, and one availableNow stream
        writes = RunnerResume(self.spark, self.inp, self.work)
        layers = writes.ladder(tracer, ref)
        with tracer.span("runner.resume"):
            self.side_passes.append(writes.run_pass(ref))
        with tracer.span("stream"):
            self.side_passes.append(StreamIngest(self.spark, self.inp, self.work).run_pass(ref))
        return layers | {
            "extract.self_s": w["extract"],
            "extract.geotag_hit_ratio": hit["hit"] / max(1, hit["n"]),
            "grid.self_s": w["grid"] - w["extract"],
            "pip.self_s": w["pip"] - w["grid"],
            "tiles.self_s": w["tiles"] - w["pip"],
            "tiles.pyramid_self_s": w["pipeline"] - w["tiles"],
            "_accounted_s": w["pipeline"],
            "_points": hit["hit"],
            "_candidates": _candidates(grid(), layer),
        }

    def ladder_counts(self, log: EventLog, tracer: Tracer, layers: dict) -> dict:
        return _pip_tile_counts(log, tracer, layers)


def _candidates(points, layer: list, index_level: int = 6) -> int:
    """Rows the PIP join's candidate stage produces: each point's index cell
    matched against the layer's polyfill index (``ops.pip.build_cell_index``),
    before the exact refine. Counted outside the timed prefixes."""
    from pyspark.sql import functions as F

    from ult_spark import functions as UF
    from ult_spark.ops.pip import build_cell_index

    idx = build_cell_index(points.sparkSession, layer, index_level)
    cells = points.withColumn("_icell", UF.latlon_to_cell("lat", "lon", index_level))
    return int(materialize(cells.join(F.broadcast(idx), cells["_icell"] == idx["icell"]))["n"])


def _pip_tile_counts(log: EventLog, tracer: Tracer, layers: dict) -> dict:
    pip_g, tiles_g = tracer.groups("pip"), tracer.groups("tiles")
    matched = median(s["rows"] for s in tracer.spans if s["name"] == "pip")
    cand = layers.pop("_candidates")
    return {
        "pip.candidates_per_point": cand / max(1, layers.pop("_points")),
        "pip.refine_pass_ratio": matched / cand if cand else 0.0,
        "pip.broadcast_bytes": log.sql_metric(pip_g, "BroadcastExchange", "data size"),
        "tiles.shuffle_bytes_per_row": (log.shuffle_bytes(tiles_g) - log.shuffle_bytes(pip_g)) / max(1, matched),
        "tiles.task_skew": log.task_skew(tiles_g),
    }


def _zonal_grid():
    from ult_spark.geom.raster import GeoRef

    return GeoRef(**I.ZONAL_GRID)


class SpatialOps(Workload):
    """PIP join + tiles + pyramid and zonal stats on pre-parsed points
    against the seeded dense star layer, kNN in the traced run; no
    extraction."""

    name = "spatial_ops"
    warm_passes = 2

    @staticmethod
    def reference(inp: I.Inputs) -> dict:
        pts = pd.read_parquet(inp.points)
        qs = pd.read_parquet(inp.queries)
        return {
            "tiles": R.spatial_tiles(pts, inp.layer),
            "zonal": R.zonal(inp.layer, _zonal_grid()),
            "knn": R.knn(qs, pts),
        }

    def points(self):
        return self.spark.read.parquet(str(self.inp.points))

    def _tiles(self, pts):
        from ult_spark import functions as UF
        from ult_spark.ops.pip import pip_join
        from ult_spark.ops.tiles import pyramid, tile_agg

        joined = pip_join(pts, list(self.inp.layer)).withColumn(
            "cell", UF.latlon_to_cell("lat", "lon", R.LEVELS[0])
        )
        return pyramid(tile_agg(joined, salt_by="id", salt_buckets=64), list(R.LEVELS))

    def _zonal(self):
        from ult_spark.geom.raster import synth_raster
        from ult_spark.ops.zonal import zonal_stats

        grid = _zonal_grid()
        return zonal_stats(synth_raster(self.spark, grid), list(self.inp.layer), ref=grid)

    def _knn(self):
        from ult_spark.ops.knn import knn_join

        qs = self.spark.read.parquet(str(self.inp.queries))
        return knn_join(qs, self.points(), k=R.KNN_K)

    def plan_probe(self) -> dict:
        from ult_spark.ops.pip import pip_join

        _, wall = _timed(lambda: pip_join(self.points(), list(self.inp.layer)))
        return {"pip.plan_s": wall}

    def run_pass(self, ref: dict) -> PassResult:
        # kNN is not part of the timed pass: at 4-7 s of an 8-14 s pass it
        # varied most and left room for one or two warm passes per run; the
        # traced run times and checks it (see ladder)
        t0 = time.perf_counter()
        tiles = self._tiles(self.points()).toPandas()
        t1 = time.perf_counter()
        zonal = self._zonal().toPandas()
        t2 = time.perf_counter()
        bad = (
            R.mismatch(tiles, ref["tiles"], ["level", "cell"], "pip+tiles")
            or R.mismatch(zonal, ref["zonal"], ["poly_id"], "zonal_stats")
        )
        return PassResult(
            self.inp.n_rows, t2 - t0, 1, int(bad is not None), bad,
            {"tiles_s": t1 - t0, "zonal_s": t2 - t1},
        )

    def ladder(self, tracer: Tracer, ref: dict) -> dict:
        from ult_spark import functions as UF
        from ult_spark.ops.pip import pip_join
        from ult_spark.ops.tiles import pyramid, tile_agg

        layer = list(self.inp.layer)

        def scan():
            return self.points().select("id", "lat", "lon")

        def grid():
            return scan().withColumn("cell", UF.latlon_to_cell("lat", "lon", R.LEVELS[0]))

        def pip():
            return pip_join(grid(), layer)

        def tiles():
            return tile_agg(pip(), salt_by="id", salt_buckets=64)

        w = self.prefixes(tracer, [
            ("scan", scan), ("grid", grid), ("pip", pip), ("tiles", tiles),
            ("pyramid", lambda: pyramid(tiles(), list(R.LEVELS))),
            ("zonal", self._zonal),
        ])
        # kNN once, collected and checked: its call (the density count job
        # and plan building) is the child span knn.plan
        with tracer.span("knn") as k:
            with tracer.span("knn.plan") as kp:
                df = self._knn()
            got = df.toPandas()
        knn_s, knn_plan = k["end"] - k["start"], kp["end"] - kp["start"]
        bad = R.mismatch(got, ref["knn"], ["qid", "rk"], "knn_join")
        self.side_passes.append(PassResult(I.QUERY_ROWS, knn_s, 1, int(bad is not None), bad))
        return {
            # no extraction here: the points scan is the ladder's base, kept
            # as its span in the trace file and not reported as extract
            "grid.self_s": w["grid"] - w["scan"],
            "pip.self_s": w["pip"] - w["grid"],
            "tiles.self_s": w["tiles"] - w["pip"],
            "tiles.pyramid_self_s": w["pyramid"] - w["tiles"],
            "knn.plan_s": knn_plan,
            "knn.self_s": knn_s - knn_plan,
            "knn.rows_out": float(len(got)),
            "zonal.self_s": w["zonal"],
            "_accounted_s": w["pyramid"] + w["zonal"],
            "_points": self.inp.n_rows,
            "_candidates": _candidates(scan(), layer),
        }

    def ladder_counts(self, log: EventLog, tracer: Tracer, layers: dict) -> dict:
        return _pip_tile_counts(log, tracer, layers)


class RunnerResume(Workload):
    """``run_job`` into a fresh table, crashed after RUNNER_FAIL_AFTER
    units, then rerun to completion."""

    name = "runner_resume"

    @staticmethod
    def reference(inp: I.Inputs) -> dict:
        return {"tiles": R.pages_tiles(R.read_pages(inp.pages))}

    def pages(self):
        return self.spark.read.parquet(str(self.inp.pages))

    def run_pass(self, ref: dict) -> PassResult:
        from ult_spark.runner import run_job

        table = self.fresh_dir("table")
        t0 = time.perf_counter()
        crashed = False
        try:
            run_job(self.spark, self.pages(), str(table), buckets=I.RUNNER_BUCKETS,
                    fail_after=I.RUNNER_FAIL_AFTER)
        except RuntimeError as e:
            crashed = "injected failure" in str(e)
        t1 = time.perf_counter()
        resumed = run_job(self.spark, self.pages(), str(table), buckets=I.RUNNER_BUCKETS)
        t2 = time.perf_counter()
        bad = None if crashed else "injected crash did not happen"
        if bad is None and len(resumed) != I.RUNNER_BUCKETS - I.RUNNER_FAIL_AFTER:
            bad = f"rerun committed {len(resumed)} units"
        data_bytes, bad2 = check_table(table, ref["tiles"])
        bad = bad or bad2
        shutil.rmtree(table, ignore_errors=True)
        return PassResult(
            self.inp.n_rows, t2 - t0, 2, 2 if bad else 0, bad,
            {"resume_s": t2 - t1, "bytes_written_per_row": data_bytes / self.inp.n_rows,
             "units_resumed": len(resumed)},
        )

    def ladder(self, tracer: Tracer, ref: dict) -> dict:
        from ult_spark.io import catalog, lineage
        from ult_spark.runner import units_plan

        units = [f"b{b:04d}" for b in range(I.RUNNER_BUCKETS)]

        def plan():
            return units_plan(self.pages(), units, I.RUNNER_BUCKETS)

        def instrumented():
            return lineage.instrumented(plan(), unit_col="unit")[0]

        walls = self.prefixes(tracer, [("runner.units_plan", plan), ("lineage", instrumented)])
        for name, cell_col in (("catalog.write", None), ("layout", "cell")):
            table = self.fresh_dir("table")
            with tracer.span(name) as s:
                manifests = catalog.write_units(instrumented(), str(table), units, "trace",
                                                cell_col=cell_col)
            walls[name] = s["end"] - s["start"]
            if cell_col is None:
                shutil.rmtree(table, ignore_errors=True)
        files = sum(1 for _ in table.rglob("*.parquet"))
        with tracer.span("catalog.commit") as s:
            for u in units:
                catalog.commit_unit(str(table), manifests[u])
        commit = s["end"] - s["start"]
        shutil.rmtree(table, ignore_errors=True)
        return {
            "lineage.self_s": walls["lineage"] - walls["runner.units_plan"],
            "catalog.write_s": walls["catalog.write"] - walls["lineage"],
            "layout.self_s": walls["layout"] - walls["catalog.write"],
            "catalog.commit_s": commit,
            "catalog.files_written": float(files),
            "_accounted_s": walls["layout"] + commit,
        }


def check_table(table: Path, ref: pd.DataFrame) -> tuple[int, str | None]:
    """Committed data bytes, and whether the union of committed snapshots
    equals the uninterrupted pipeline output with exactly one snapshot per
    unit and no duplicate rows within a unit."""
    import json

    import pyarrow.dataset as ds

    manifests = [json.loads(f.read_text()) for f in sorted((table / "_snapshots").glob("*.json"))]
    units = [m["unit"] for m in manifests]
    if sorted(units) != [f"b{b:04d}" for b in range(I.RUNNER_BUCKETS)]:
        return 0, f"committed units {units}"
    parts, nbytes = [], 0
    for m in manifests:
        files = sorted(Path(m["path"]).rglob("*.parquet"))
        nbytes += sum(f.stat().st_size for f in files)
        if not files:
            continue
        t = ds.dataset([str(f) for f in files], format="parquet").to_table(columns=["level", "cell", "cnt"])
        df = t.to_pandas()
        if df.duplicated(["level", "cell"]).any():
            return nbytes, f"unit {m['unit']}: duplicate (level, cell) rows"
        if len(df) != m["rows"]:
            return nbytes, f"unit {m['unit']}: manifest says {m['rows']} rows, files hold {len(df)}"
        parts.append(df)
    union = pd.concat(parts, ignore_index=True).groupby(["level", "cell"], as_index=False)["cnt"].sum()
    return nbytes, R.mismatch(union, ref, ["level", "cell"], "committed snapshots")


class StreamIngest(Workload):
    """availableNow stream over the seeded file split, one file per
    micro-batch, committed through ``write_stream_snapshots``."""

    name = "stream_ingest"

    @staticmethod
    def reference(inp: I.Inputs) -> dict:
        return {"counts": R.stream_counts(R.read_pages(inp.stream_dir))}

    def run_pass(self, ref: dict) -> PassResult:
        from ult_spark import streaming as S

        out = self.fresh_dir("stream")
        t0 = time.perf_counter()
        q = S.write_stream_snapshots(
            S.windowed_pip_tile_counts(S.stream_pages(self.spark, str(self.inp.stream_dir), max_files=1)),
            str(out / "table"), str(out / "checkpoint"),
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if "batchId" in p]
        batches = max(1, len(progress))
        bad = f"query failed: {q.exception()}" if q.exception() else check_stream(out / "table", ref["counts"])
        shutil.rmtree(out, ignore_errors=True)
        dur = [p.get("durationMs", {}) for p in progress]
        return PassResult(
            self.inp.n_rows, wall, batches, batches if bad else 0, bad,
            {
                "batch_s": [d.get("triggerExecution", 0) / 1000 for d in dur],
                "add_batch_s": [d.get("addBatch", 0) / 1000 for d in dur],
                "planning_s": [d.get("queryPlanning", 0) / 1000 for d in dur],
                "wal_commit_s": [d.get("walCommit", 0) / 1000 for d in dur],
                # the query's own thread runs its jobs under this job group
                "job_group": str(q.runId),
            },
        )

    def ladder(self, tracer: Tracer, ref: dict) -> dict:
        return {}


def check_stream(table: Path, ref: pd.DataFrame) -> str | None:
    """Update-mode output: a key's final count is its row in the latest
    micro-batch that emitted it."""
    import json

    import pyarrow.dataset as ds

    parts = []
    for f in sorted((table / "_snapshots").glob("*.json")):
        m = json.loads(f.read_text())
        files = sorted(Path(m["path"]).rglob("*.parquet"))
        if files:
            df = ds.dataset([str(p) for p in files], format="parquet").to_table().to_pandas()
            df["_batch"] = m["unit"]
            parts.append(df)
    if not parts:
        return "stream committed no rows"
    allrows = pd.concat(parts, ignore_index=True)
    allrows["win_start"] = pd.to_datetime(allrows["win_start"]).dt.tz_localize(None).astype("datetime64[ns]")
    final = allrows.sort_values("_batch").drop_duplicates(["win_start", "cell", "poly_id"], keep="last")
    ref = ref.assign(win_start=pd.to_datetime(ref["win_start"]).astype("datetime64[ns]"))
    return R.mismatch(final.drop(columns="_batch"), ref, ["win_start", "cell", "poly_id"], "stream snapshots")


WORKLOADS = {w.name: w for w in (PagesHot, SpatialOps, RunnerResume, StreamIngest)}
