"""Spatial binning: grid-cell rollups keyed by a Morton (Z-order)
cell id — the geo-analytics counterpart of the warehouse layout key
(:func:`~.maintenance.zorder_key` supplies the interleave).

The fixtures carry no coordinates, so the registry query derives a
deterministic synthetic (lat, lon) grid cell per user from the same
universal-hash family the CMS/MinHash constants use (pure 64-bit-safe
integer arithmetic — both engines and the oracle agree exactly). With
real data the derivation is replaced by ``floor((lat + 90) * scale)`` /
``floor((lon + 180) * scale)``; everything downstream is unchanged.

Scale shape: cell derivation is a per-row projection; the rollup is ONE
map-side-combinable aggregate keyed on the cell id (at most |grid|
groups survive), and the Morton key keeps neighboring cells adjacent in
file order when the rollup is persisted — range scans over a spatial
window prune by the key's min/max stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cents
from .maintenance import zorder_key, zorder_key_sql

GEO_P = 2_147_483_647
GEO_A1, GEO_B1 = 48_271, 11_213        # lat-cell hash params
GEO_A2, GEO_B2 = 69_621, 44_497        # lon-cell hash params
GEO_LAT_CELLS = 180                    # 1-degree grid
GEO_LON_CELLS = 360
GEO_BITS = 9                           # covers 0..511 >= 359


def _cell_sql(col: str, a: int, b: int, mod: int) -> str:
    return f"(({a} * ({col} % {GEO_P}) + {b}) % {GEO_P}) % {mod}"


def geo_cell_rollup(events: DataFrame, k: int = 50) -> DataFrame:
    """Top-k 1-degree grid cells by event count: derive each user's
    (lat_cell, lon_cell), interleave them into the Morton cell id, and
    aggregate count + 2dp value total per cell. Total order (count
    DESC, cell ASC) → TakeOrderedAndProject."""
    lat = F.expr(_cell_sql("user_id", GEO_A1, GEO_B1, GEO_LAT_CELLS))
    lon = F.expr(_cell_sql("user_id", GEO_A2, GEO_B2, GEO_LON_CELLS))
    cells = events.select(
        lat.alias("lat_cell"),
        lon.alias("lon_cell"),
        "value",
    ).withColumn(
        "cell_id", zorder_key("lat_cell", "lon_cell", bits=GEO_BITS)
    )
    return (
        cells.groupBy("cell_id", "lat_cell", "lon_cell")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy(F.desc("n_events"), F.asc("cell_id"))
        .limit(k)
    )


def geo_cell_rollup_sql(src: str = "events", k: int = 50) -> str:
    lat = _cell_sql("user_id", GEO_A1, GEO_B1, GEO_LAT_CELLS)
    lon = _cell_sql("user_id", GEO_A2, GEO_B2, GEO_LON_CELLS)
    z = zorder_key_sql("lat_cell", "lon_cell", bits=GEO_BITS)
    return f"""
        WITH cells AS (
          SELECT {lat} AS lat_cell, {lon} AS lon_cell, value FROM {src}
        ),
        keyed AS (
          SELECT ({z}) AS cell_id, lat_cell, lon_cell, value FROM cells
        )
        SELECT cell_id, lat_cell, lon_cell,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM keyed GROUP BY cell_id, lat_cell, lon_cell
        ORDER BY n_events DESC, cell_id ASC LIMIT {k}
    """


def geo_neighbor_smoothing(events: DataFrame) -> DataFrame:
    """3x3 spatial kernel smoothing over the 1-degree grid: each cell's
    event value is compared against the mean of its Moore neighborhood
    (itself + up to 8 adjacent cells) — the hotspot detector behind
    geo dashboards (a cell glowing above its neighborhood is signal; a
    whole warm region is baseline).

    Built SCATTER-side: every aggregated cell explodes into <=9
    (neighbor, contribution) rows (two 3-element explodes, no join to
    an offset table and no cartesian anywhere), then one keyed
    re-aggregate per receiving cell — at 100 TB this is two map-side-
    combinable aggregates over a |grid|-bounded table. Edge cells
    simply have smaller neighborhoods (n_nbrs counts actual
    contributors). Exact arithmetic: cents in, neighborhood mean on the
    1e-6 grid via bigint division, verdict by integer compare."""
    lat = F.expr(_cell_sql("user_id", GEO_A1, GEO_B1, GEO_LAT_CELLS))
    lon = F.expr(_cell_sql("user_id", GEO_A2, GEO_B2, GEO_LON_CELLS))
    cells = (
        events.filter(F.col("value").isNotNull())
        .select(lat.alias("lat_cell"), lon.alias("lon_cell"), cents().alias("c"))
        .groupBy("lat_cell", "lon_cell")
        .agg(F.sum("c").alias("cents"))
    )
    scatter = (
        cells.select(
            "lat_cell",
            "lon_cell",
            "cents",
            F.explode(F.expr("array(-1, 0, 1)")).alias("dx"),
        )
        .select(
            "lat_cell",
            "lon_cell",
            "cents",
            "dx",
            F.explode(F.expr("array(-1, 0, 1)")).alias("dy"),
        )
        .select(
            (F.col("lat_cell") + F.col("dx")).alias("nlat"),
            (F.col("lon_cell") + F.col("dy")).alias("nlon"),
            "cents",
        )
        .filter(
            (F.col("nlat") >= 0)
            & (F.col("nlat") < GEO_LAT_CELLS)
            & (F.col("nlon") >= 0)
            & (F.col("nlon") < GEO_LON_CELLS)
        )
    )
    smoothed = scatter.groupBy(
        F.col("nlat").alias("lat_cell"), F.col("nlon").alias("lon_cell")
    ).agg(
        F.count("*").cast("long").alias("n_nbrs"),
        F.sum("cents").alias("_nbr_sum"),
    )
    return (
        cells.join(smoothed, ["lat_cell", "lon_cell"])
        .select(
            "lat_cell",
            "lon_cell",
            "cents",
            "n_nbrs",
            F.expr("_nbr_sum * 1000000 div n_nbrs").alias("smooth_micro"),
            F.expr(
                "CASE WHEN cents * 1000000 > _nbr_sum * 1000000 div n_nbrs"
                " THEN 'hot'"
                " WHEN cents * 1000000 < _nbr_sum * 1000000 div n_nbrs"
                " THEN 'cool' ELSE 'flat' END"
            ).alias("verdict"),
        )
        .orderBy("lat_cell", "lon_cell")
    )


def geo_neighbor_smoothing_sql(src: str = "events") -> str:
    lat = _cell_sql("user_id", GEO_A1, GEO_B1, GEO_LAT_CELLS)
    lon = _cell_sql("user_id", GEO_A2, GEO_B2, GEO_LON_CELLS)
    return f"""
        WITH cells AS (
          SELECT {lat} AS lat_cell, {lon} AS lon_cell,
                 SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
          FROM {src} WHERE value IS NOT NULL
          GROUP BY 1, 2
        ),
        scatter AS (
          SELECT c.lat_cell + dx.v AS nlat, c.lon_cell + dy.v AS nlon,
                 c.cents
          FROM cells c
          CROSS JOIN (VALUES (-1), (0), (1)) dx(v)
          CROSS JOIN (VALUES (-1), (0), (1)) dy(v)
          WHERE c.lat_cell + dx.v >= 0
            AND c.lat_cell + dx.v < {GEO_LAT_CELLS}
            AND c.lon_cell + dy.v >= 0
            AND c.lon_cell + dy.v < {GEO_LON_CELLS}
        ),
        smoothed AS (
          SELECT nlat AS lat_cell, nlon AS lon_cell,
                 CAST(COUNT(*) AS BIGINT) AS n_nbrs,
                 SUM(cents) AS _nbr_sum
          FROM scatter GROUP BY 1, 2
        )
        SELECT c.lat_cell, c.lon_cell, CAST(c.cents AS BIGINT) AS cents,
               s.n_nbrs,
               CAST(s._nbr_sum * 1000000 // s.n_nbrs AS BIGINT)
                 AS smooth_micro,
               CASE WHEN c.cents * 1000000
                         > s._nbr_sum * 1000000 // s.n_nbrs THEN 'hot'
                    WHEN c.cents * 1000000
                         < s._nbr_sum * 1000000 // s.n_nbrs THEN 'cool'
                    ELSE 'flat' END AS verdict
        FROM cells c
        JOIN smoothed s
          ON c.lat_cell = s.lat_cell AND c.lon_cell = s.lon_cell
        ORDER BY c.lat_cell, c.lon_cell
    """
