"""Column-level function surface (SURVEY.md §2.3, §2.8).

The cell encode is pure floor + shift/mask integer math (see
:mod:`ult_spark.grid.cells` for the pinned encoding), so the hot path is
implemented as **native Spark Column expressions** — they stay inside
whole-stage codegen with zero Python, which is stronger than the
"vectorized pandas/Arrow UDFs" floor required by BASELINE.json input_hint.
The same arithmetic is expressible in ANSI SQL, which is what makes the
DuckDB oracle parity checks possible (SURVEY.md §5.5).

NumPy twins live in ``ult_spark.grid.cells`` for use inside other UDFs
(polyfill, PIP refine, kNN ring expansion).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ult_spark.grid.cells import MAX_LEVEL

# 2D Morton bit-spreading masks — same constants as grid/cells.py (pinned)
_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread(v: Column, bits: int) -> Column:
    """Spread ``v`` so bit i lands at bit 2i (native, codegen-able), for
    ``v`` known to lie in ``[0, 2**bits)``.

    Every step references ``v`` twice, so the expression tree holds 2^steps
    copies of the input. For such ``v`` the 32-bit input mask and every
    step with ``sh >= bits`` are no-ops (``v << sh`` lands wholly in bits
    the step's mask clears), so they are left out: level 6 keeps 8 copies,
    level 12 keeps 16, instead of 32. Bit-identical to ``grid.cells`` on
    that range."""
    for sh, mask in _MASKS:
        if sh < bits:
            v = (v.bitwiseOR(F.shiftleft(v, sh))).bitwiseAND(F.lit(mask))
    return v


def _unspread(v: Column) -> Column:
    """Gather even bits back down — inverse of :func:`_spread`."""
    v = v.bitwiseAND(F.lit(_MASKS[-1][1]))
    for sh, mask in ((1, 0x3333333333333333), (2, 0x0F0F0F0F0F0F0F0F),
                     (4, 0x00FF00FF00FF00FF), (8, 0x0000FFFF0000FFFF),
                     (16, 0xFFFFFFFF)):
        v = (v.bitwiseOR(F.shiftright(v, sh))).bitwiseAND(F.lit(mask))
    return v


def grid_x(lon: Column | str, level: int) -> Column:
    """Plate-carrée x coordinate at ``level`` (long)."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    n = 1 << level
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))).cast("long")
    return F.greatest(F.lit(0), F.least(x, F.lit(n - 1)))


def grid_y(lat: Column | str, level: int) -> Column:
    """Plate-carrée y coordinate at ``level`` (long)."""
    lat = F.col(lat) if isinstance(lat, str) else lat
    n = 1 << level
    y = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n))).cast("long")
    return F.greatest(F.lit(0), F.least(y, F.lit(n - 1)))


def xy_to_cell(x: Column, y: Column, level: int) -> Column:
    """Morton-interleave + level sentinel (native bit math → long cell id).

    ``x`` and ``y`` must lie in ``[0, 2**level)`` — clamped by
    :func:`grid_x`/:func:`grid_y`, wrapped by ``pmod`` or filtered to the
    grid by every caller."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level {level} out of range [0, {MAX_LEVEL}]")
    m = _spread(x, level).bitwiseOR(F.shiftleft(_spread(y, level), 1))
    return F.shiftleft(F.shiftleft(m, 1).bitwiseOR(F.lit(1)), 2 * (MAX_LEVEL - level))


def latlon_to_cell(lat: Column | str, lon: Column | str, level: int) -> Column:
    """Encode lat/lon columns to a cell id at ``level`` — all native.

    Ref: BASELINE.json north_star "batched H3 encode at multiple resolutions
    ... with zero per-row Python"; this compiles to JVM whole-stage codegen.
    """
    return xy_to_cell(grid_x(lon, level), grid_y(lat, level), level)


def cell_parent(cell: Column | str, parent_level: int) -> Column:
    """Ancestor of ``cell`` at ``parent_level`` (native bit math).

    Only valid when every input cell is at a level >= ``parent_level``.
    """
    cell = F.col(cell) if isinstance(cell, str) else cell
    lsb = 1 << (2 * (MAX_LEVEL - parent_level))
    return cell.bitwiseAND(F.lit(~((lsb << 1) - 1))).bitwiseOR(F.lit(lsb))


def cell_range(cell: Column | str) -> tuple[Column, Column]:
    """Contiguous descendant id range [lo, hi] of ``cell`` (native)."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    lsb = cell.bitwiseAND(-cell)
    return cell - lsb + F.lit(1), cell + lsb - F.lit(1)


def cell_x(cell: Column | str, level: int) -> Column:
    """Grid x of a cell known to be at ``level`` (native de-interleave)."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    m = F.shiftright(cell, 2 * (MAX_LEVEL - level) + 1)
    return _unspread(m)


def cell_y(cell: Column | str, level: int) -> Column:
    """Grid y of a cell known to be at ``level`` (native de-interleave)."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    m = F.shiftright(cell, 2 * (MAX_LEVEL - level) + 2)
    return _unspread(m)


def cell_centroid_lat(cell: Column | str, level: int) -> Column:
    """Centroid latitude of a cell at ``level`` (native)."""
    n = float(1 << level)
    return (cell_y(cell, level).cast("double") + F.lit(0.5)) / F.lit(n) * F.lit(180.0) - F.lit(90.0)


def cell_centroid_lon(cell: Column | str, level: int) -> Column:
    """Centroid longitude of a cell at ``level`` (native)."""
    n = float(1 << level)
    return (cell_x(cell, level).cast("double") + F.lit(0.5)) / F.lit(n) * F.lit(360.0) - F.lit(180.0)


# --------------------------------------------------------------------------
# distances (native math columns — SURVEY.md §2.8)

EARTH_RADIUS_M = 6371008.8  # mean Earth radius [public: IUGG]


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters — native sin/cos/asin columns."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def sq_euclid_deg(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Squared planar distance in degrees² — exact IEEE arithmetic, used for
    oracle-checked kNN so Spark and DuckDB order candidates bit-identically
    (libm sin/cos may differ in the last ulp between JVM and C; +,-,* do not).
    """
    dlat = lat1 - lat2
    dlon = lon1 - lon2
    return dlat * dlat + dlon * dlon


# --------------------------------------------------------------------------
# pinned deterministic lat/lon derivation for the driver's `events` table
# (FIXTURES.md §A — evaluates identically in Spark SQL and DuckDB)

def event_lon(event_id: Column | str = "event_id") -> Column:
    c = F.col(event_id) if isinstance(event_id, str) else event_id
    return ((c * F.lit(2654435761)) % F.lit(360000)).cast("double") / F.lit(1000.0) - F.lit(180.0)


def event_lat(user_id: Column | str = "user_id", event_id: Column | str = "event_id") -> Column:
    u = F.col(user_id) if isinstance(user_id, str) else user_id
    e = F.col(event_id) if isinstance(event_id, str) else event_id
    return ((u * F.lit(40503) + e) % F.lit(180000)).cast("double") / F.lit(1000.0) - F.lit(90.0)


# SQL fragments for the DuckDB oracle (same pinned arithmetic, ANSI SQL)
EVENT_LON_SQL = "(((event_id * 2654435761) % 360000) / 1000.0 - 180.0)"
EVENT_LAT_SQL = "(((user_id * 40503 + event_id) % 180000) / 1000.0 - 90.0)"


def _spread_sql(e: str) -> str:
    v = f"(({e}) & 4294967295)"
    for sh, mask in _MASKS:
        v = f"((({v} | ({v} << {sh})) ) & {mask})"
    return v


def xy_cell_sql(x_sql: str, y_sql: str, level: int) -> str:
    """DuckDB SQL computing the same cell id as :func:`xy_to_cell` from
    already-computed grid coordinates."""
    m = f"({_spread_sql(x_sql)} | ({_spread_sql(y_sql)} << 1))"
    return f"((({m} << 1) | 1) << {2 * (MAX_LEVEL - level)})"


def grid_x_sql(lon_sql: str, level: int) -> str:
    n = 1 << level
    return f"greatest(0, least(CAST(floor((({lon_sql}) + 180.0) / 360.0 * {float(n)}) AS BIGINT), {n - 1}))"


def grid_y_sql(lat_sql: str, level: int) -> str:
    n = 1 << level
    return f"greatest(0, least(CAST(floor((({lat_sql}) + 90.0) / 180.0 * {float(n)}) AS BIGINT), {n - 1}))"


def cell_sql(lat_sql: str, lon_sql: str, level: int) -> str:
    """DuckDB SQL computing the same cell id as :func:`latlon_to_cell`.

    Emits the floor + clamp + Morton spread + sentinel pipeline as nested
    expressions; used by __spark_entry__.oracle_sql for parity checks.
    """
    return xy_cell_sql(grid_x_sql(lon_sql, level), grid_y_sql(lat_sql, level), level)


# ---------------------------------------------------------------------------
# Quadkey interop (r4) — Bing-maps / TMS tile-id strings. Digit i (MSB
# first) = 2·y_bit + x_bit at depth i, so a quadkey prefix IS the parent
# tile: prefix matching gives hierarchical containment in plain string ops,
# the standard interop surface for map-tile systems. Level is a plan-time
# constant, so both directions unroll into pure native bit math + concat
# (zero per-row Python, same as the cell encode).


def cell_to_quadkey(cell: Column | str, level: int) -> Column:
    """Quadkey string (length ``level``) of a cell known to be at ``level``."""
    x = cell_x(cell, level)
    y = cell_y(cell, level)
    digits = [
        (
            F.shiftright(y, level - i).bitwiseAND(F.lit(1)) * 2
            + F.shiftright(x, level - i).bitwiseAND(F.lit(1))
        ).cast("string")
        for i in range(1, level + 1)
    ]
    return F.concat(*digits)


def quadkey_to_cell(qk: Column | str, level: int) -> Column:
    """Inverse of :func:`cell_to_quadkey` — cell id from a quadkey string."""
    qk = F.col(qk) if isinstance(qk, str) else qk
    x = F.lit(0).cast("long")
    y = F.lit(0).cast("long")
    for i in range(1, level + 1):
        d = F.substring(qk, i, 1).cast("long")
        x = x + (d % 2) * F.lit(1 << (level - i))
        y = y + F.shiftright(d, 1) * F.lit(1 << (level - i))
    return xy_to_cell(x, y, level)


def quadkey_sql(px: str, py: str, level: int) -> str:
    """DuckDB mirror: quadkey digits from the same grid x/y bit math."""
    x = f"greatest(0, least(CAST(floor((({px}) + 180.0) / 360.0 * {float(1 << level)!r}) AS BIGINT), {(1 << level) - 1}))"
    y = f"greatest(0, least(CAST(floor((({py}) + 90.0) / 180.0 * {float(1 << level)!r}) AS BIGINT), {(1 << level) - 1}))"
    digits = ", ".join(
        f"CAST((({y} >> {level - i}) & 1) * 2 + (({x} >> {level - i}) & 1) AS VARCHAR)"
        for i in range(1, level + 1)
    )
    return f"concat({digits})"


# ---------------------------------------------------------------------------
# Geohash interop (public spec: base32 of interleaved lon/lat bisection bits,
# lon first — https://en.wikipedia.org/wiki/Geohash). Unlike H3's geometric
# half, geohash needs NO library anchor tables: its lat/lon mapping is the
# same plate-carrée floor/clamp this grid already pins, so encode is pure
# bit math. EVEN precisions only (odd flips the interleave parity; out of
# scope). Edge pin: lat=+90 / lon=+180 clamp to the max cell (the grid rule).

GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_encode(lat: Column | str, lon: Column | str, precision: int = 6) -> Column:
    """Geohash string of (lat, lon) at an even ``precision`` — native.

    ``5·p`` bits, lon at odd positions from the LSB (= leading bit), so the
    combined integer is this grid's Morton spread with x=lat, y=lon at
    level ``5·p/2``; each 5-bit group indexes the base32 alphabet."""
    assert precision % 2 == 0 and 2 <= precision <= 12, "even precision only"
    bits = 5 * precision // 2
    g = _spread(grid_y(lat, bits), bits).bitwiseOR(
        F.shiftleft(_spread(grid_x(lon, bits), bits), 1)
    )
    alphabet = F.array(*[F.lit(c) for c in GEOHASH32])
    chars = [
        F.element_at(
            alphabet,
            (F.shiftright(g, 5 * (precision - 1 - i)).bitwiseAND(F.lit(31)) + 1)
            .cast("int"),
        )
        for i in range(precision)
    ]
    return F.concat(*chars)


def geohash_sql(lat_sql: str, lon_sql: str, precision: int = 6) -> str:
    """DuckDB mirror of :func:`geohash_encode`."""
    assert precision % 2 == 0 and 2 <= precision <= 12
    bits = 5 * precision // 2
    g = (
        f"({_spread_sql(grid_y_sql(lat_sql, bits))} | "
        f"({_spread_sql(grid_x_sql(lon_sql, bits))} << 1))"
    )
    chars = " || ".join(
        f"substr('{GEOHASH32}', CAST((({g} >> {5 * (precision - 1 - i)}) & 31) "
        "AS INTEGER) + 1, 1)"
        for i in range(precision)
    )
    return f"({chars})"


_EVEN_BITS = 0x5555555555555555


def geohash_to_cell(gh: Column | str, precision: int = 6) -> Column:
    """Bridge an (even-precision) geohash string onto this grid: the cell
    id at level ``5·p/2`` covering exactly the geohash's bbox — geohash
    cells at even precision ARE plate-carrée grid cells, so external
    geohash-keyed tables hash-join the cell universe directly (the same
    interop shape as the H3 ancestor join). Native: per-char index via a
    map literal, bit reassembly, then ONE adjacent-bit-plane swap — the
    geohash integer interleaves lat-at-even/lon-at-odd while this grid's
    Morton core is lon-at-even/lat-at-odd, so no de/re-interleave is
    needed (a nested ``_unspread``→``_spread`` round trip doubles the
    Catalyst subtree per iteration, 32× each, and the composition with
    ``geohash_encode`` blows the analyzer past tens of millions of tree
    nodes — measured as a 32 GB driver-heap GC spiral). Precision caps at 10:
    level 5·p/2 must fit MAX_LEVEL=29."""
    assert precision % 2 == 0 and 2 <= precision <= 10
    gh = F.col(gh) if isinstance(gh, str) else gh
    bits = 5 * precision // 2
    idx_map = F.create_map(
        *[x for i, c in enumerate(GEOHASH32) for x in (F.lit(c), F.lit(i))]
    )
    g = F.lit(0).cast("long")
    for i in range(precision):
        ch = F.substring(gh, i + 1, 1)
        g = g.bitwiseOR(
            F.shiftleft(
                F.element_at(idx_map, ch).cast("long"), 5 * (precision - 1 - i)
            )
        )
    m = F.shiftleft(g.bitwiseAND(F.lit(_EVEN_BITS)), 1).bitwiseOR(
        F.shiftright(g, 1).bitwiseAND(F.lit(_EVEN_BITS))
    )
    return F.shiftleft(
        F.shiftleft(m, 1).bitwiseOR(F.lit(1)), 2 * (MAX_LEVEL - bits)
    )


def geohash_to_cell_sql(gh_sql: str, precision: int = 6) -> str:
    """DuckDB mirror of :func:`geohash_to_cell` (same plane-swap form —
    the de/re-interleave mirror would also square the SQL text size)."""
    assert precision % 2 == 0 and 2 <= precision <= 10
    bits = 5 * precision // 2
    g = "(" + " | ".join(
        f"((strpos('{GEOHASH32}', substr({gh_sql}, {i + 1}, 1)) - 1) "
        f"<< {5 * (precision - 1 - i)})"
        for i in range(precision)
    ) + ")"
    m = f"((({g} & {_EVEN_BITS}) << 1) | (({g} >> 1) & {_EVEN_BITS}))"
    return f"((({m} << 1) | 1) << {2 * (MAX_LEVEL - bits)})"
