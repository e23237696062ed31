"""Geospatial linking: grid-bucketed nearest-place join.

KG construction needs to turn extracted coordinates (the GeoExtractor's
lat/lon literals, reference GeoExtractor semantics at
core/src/main/scala/org/dbpedia/extraction/mappings/GeoExtractor.scala)
into *entity* links — "this page's coordinates are 12 km from Paris" —
i.e. a nearest-neighbour join between a points table (pages) and a
gazetteer (places). The naive form is a cartesian product: 10^9 points ×
10^7 places is 10^16 pairs and never finishes.

The scale shape here is the standard spatial grid join:

* places are bucketed once into equal-angle grid cells sized so the
  search radius spans ≤ 1 cell of latitude;
* each point explodes to its neighbouring cell keys — 3 latitude rows ×
  a per-row longitude span that widens with |lat| (a fixed-degree cell
  covers fewer km of longitude near the poles, so the candidate window
  must widen there; capped at the full ring, which keeps polar points
  correct instead of silently lossy);
* candidates meet in a plain **equi-join on the cell key** — AQE can
  rebalance a hot cell (a gazetteer city cluster) like any other skewed
  equi-join; there is no cartesian/BNL anywhere in the plan;
* exact haversine distance + the radius filter + a per-point
  ``row_number`` pick the true top-k — the grid only generates a
  candidate *superset*, so the result is exactly the brute-force answer.

Fan-out per point is 3 × (2·n_lon+1) rows ≈ 9-15 at mid latitudes —
O(points), not O(points × places).

Everything is pure Catalyst (floor/pmod/sequence/transform/explode +
trig), no Python, so the whole plan stays inside whole-stage codegen and
the haversine is reproducible bit-for-bit in any engine with IEEE doubles
(the DuckDB oracle runs the same formula).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088
#: km spanned by one degree of latitude (and of longitude at the equator)
KM_PER_DEG = EARTH_RADIUS_KM * math.pi / 180.0


def haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Great-circle distance in km between two (degree) coordinate pairs.

    The textbook haversine on a spherical Earth. Written with the exact
    same operation order as the SQL oracle so both engines produce the
    same IEEE-754 doubles.
    """
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(F.radians(lat1))
        * F.cos(F.radians(lat2))
        * F.sin(dlon)
        * F.sin(dlon)
    )
    return 2.0 * EARTH_RADIUS_KM * F.asin(F.sqrt(a))


def _cell_cols(lat: Column, lon: Column, cell_deg: float, ring: int):
    """(cell_lat, cell_lon) integer grid indices; lon normalized to
    [0, 360) first so the antimeridian is an ordinary cell boundary the
    pmod ring arithmetic can wrap across."""
    cell_lat = F.floor(lat / F.lit(cell_deg)).cast("int")
    lon_n = F.pmod(lon + F.lit(180.0), F.lit(360.0))
    cell_lon = F.least(
        F.floor(lon_n / F.lit(cell_deg)).cast("int"), F.lit(ring - 1)
    )
    return cell_lat, cell_lon


def nearest_places(
    points: DataFrame,
    places: DataFrame,
    radius_km: float,
    k: int = 1,
    point_id: str = "id",
    place_col: str = "place",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """For each point, the ``k`` nearest places within ``radius_km`` →
    ``(point_id, place, dist_km)``, nearest first, ties broken by place
    name (deterministic). Points with no place in range emit no row.

    Exact: the grid join only *generates candidates*; membership and
    ranking are decided by the true haversine distance, so the output
    equals the brute-force cross-join answer at any radius, latitude
    (poles included — the longitude window caps at the full ring), or
    antimeridian position.
    """
    if radius_km <= 0:
        raise ValueError(f"radius_km must be > 0: {radius_km}")
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    from pyspark.sql import Window

    # one latitude cell spans the whole radius → lat neighbours are ±1
    radius_deg_lat = radius_km / KM_PER_DEG
    cell_deg = radius_deg_lat
    ring = max(int(math.ceil(360.0 / cell_deg)), 1)

    p_lat, p_lon = F.col(lat_col), F.col(lon_col)
    pl_cell_lat, pl_cell_lon = _cell_cols(p_lat, p_lon, cell_deg, ring)
    plc = places.select(
        F.col(place_col).alias("__place"),
        p_lat.alias("__plat"),
        p_lon.alias("__plon"),
        pl_cell_lat.alias("__cl_lat"),
        pl_cell_lon.alias("__cl_lon"),
    )

    # Longitude candidate half-width in cells, per point row: the radius
    # expressed in degrees of longitude at the most-polar latitude the
    # radius band can reach from this point (cos shrinks there, degrees
    # widen). +1 cell absorbs the thinner seam cell left by a non-integer
    # 360/cell ring; the cap at ring//2 turns near-pole blow-ups into
    # full-ring coverage (correct, just wider).
    band_lat = F.least(
        F.abs(p_lat) + F.lit(radius_deg_lat), F.lit(89.9999)
    )
    radius_deg_lon = F.lit(radius_km) / (
        F.lit(KM_PER_DEG) * F.cos(F.radians(band_lat))
    )
    n_lon = F.least(
        (F.ceil(radius_deg_lon / F.lit(cell_deg)) + 1).cast("int"),
        F.lit(ring // 2 + 1),
    )

    pt_cell_lat, pt_cell_lon = _cell_cols(p_lat, p_lon, cell_deg, ring)
    # array_distinct: after pmod wrapping, a capped full-ring window
    # repeats cells — each (point, cell) key must join at most once.
    lon_cells = F.array_distinct(
        F.transform(
            F.sequence(-n_lon, n_lon),
            lambda d: F.pmod(pt_cell_lon + d, F.lit(ring)).cast("int"),
        )
    )
    pts = (
        points.select(
            F.col(point_id).alias("__pid"),
            p_lat.alias("__lat"),
            p_lon.alias("__lon"),
            pt_cell_lat.alias("__c_lat0"),
            lon_cells.alias("__lons"),
        )
        .withColumn("__dlat", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("__cl_lat", (F.col("__c_lat0") + F.col("__dlat")).cast("int"))
        .withColumn("__cl_lon", F.explode("__lons"))
        .drop("__lons", "__c_lat0", "__dlat")
    )

    dist = haversine_km(
        F.col("__lat"), F.col("__lon"), F.col("__plat"), F.col("__plon")
    )
    w = Window.partitionBy("__pid").orderBy(
        F.col("dist_km").asc(), F.col("__place").asc()
    )
    return (
        pts.join(plc, ["__cl_lat", "__cl_lon"])
        .withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= F.lit(float(radius_km)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("__pid").alias(point_id),
            F.col("__place").alias(place_col),
            "dist_km",
        )
    )
