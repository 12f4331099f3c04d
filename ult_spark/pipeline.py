"""Flagship pipeline assembly (SURVEY.md §3 E1/E2).

The headline BASELINE metric path: points → cell encode (native, multi-res)
→ PIP join vs the polygon layer (broadcast compacted index + native ray-cast)
→ salted per-tile aggregate → pyramid rollup → hottest tiles.

On the driver's testdata the point source is `events` with the pinned
deterministic lat/lon derivation; the synthetic pages table (datagen) runs
the same stages behind text/geotag extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ult_spark import functions as UF
from ult_spark.querydefs import events_points, val_e4


def pages_pipeline(
    pages: DataFrame,
    levels: tuple[int, ...] = (12, 10, 8),
    index_level: int = 6,
    salt_buckets: int = 64,
    unit_col: str | None = None,
) -> DataFrame:
    """The BASELINE-metric pipeline over a Common-Crawl-style pages table:

    geotag parse (native regex) → multi-res cell encode (native) →
    PIP join vs the admin layer (broadcast layer index, built once per
    session, + native ray-cast refine) → salted per-tile aggregate at the
    finest level → exact pyramid rollup.

    One codegen pipeline per input split until the single groupBy
    shuffle: scan → geotag → encode → broadcast-join → refine are all
    stage-local (SURVEY.md §4 pipelining note).

    ``unit_col``: a pass-through grouping column (the resumable runner's
    work unit). Because units partition the input disjointly, grouping by
    (unit, …) yields exactly the union of the per-unit pipeline outputs —
    the runner processes EVERY unit in one scan of the input instead of
    re-scanning per unit (round-2 verdict #1).
    """
    from ult_spark.extract.geo import geotag_native
    from ult_spark.geom.polyio import default_layer
    from ult_spark.ops.pip import pip_join
    from ult_spark.ops.tiles import pyramid, tile_agg

    extra = (unit_col,) if unit_col else ()
    lat, lon = geotag_native("html")
    # no isNotNull filter: the inner equi-join drops null cells for free, and
    # an explicit filter makes Catalyst inline (= re-evaluate) the regex
    # extraction into the filter — measured 40% slower at 32 cores
    pts = pages.select(*extra, "url", lat.alias("lat"), lon.alias("lon"))
    joined = pip_join(pts, list(default_layer()), index_level=index_level)
    finest = levels[0]
    tiles = tile_agg(
        joined.withColumn("cell", UF.latlon_to_cell("lat", "lon", finest)),
        salt_by="url",
        salt_buckets=salt_buckets,
        extra_keys=extra,
    )
    return pyramid(tiles, list(levels), sum_cols=("cnt",), extra_keys=extra)


def flagship(spark: SparkSession, sf_dir: str, level: int = 8) -> DataFrame:
    """Geo-encode events, PIP-join the admin layer, salted tile aggregate."""
    from ult_spark.geom.polyio import default_layer
    from ult_spark.ops.pip import pip_join
    from ult_spark.ops.tiles import tile_agg

    pts = events_points(spark, sf_dir)
    joined = pip_join(pts, list(default_layer()))
    tiles = tile_agg(
        joined.withColumn("cell", UF.latlon_to_cell("lat", "lon", level))
        .withColumn("val_e4", val_e4()),
        cell="cell",
        value="val_e4",
        salt_by="event_id",
    )
    return (
        tiles.select("cell", "cnt", F.col("sum_val").alias("sum_val_e4"))
        .orderBy(F.desc("cnt"), F.asc("cell"))
        .limit(50)
    )
