"""Geospatial primitives: haversine distance and scale-safe radius joins.

The distance-join shape every location workload needs ("pairs of points
within R km"), built on the same bucket-equi-join discipline as the LSH /
ANN candidate generators: quantize points to equirectangular grid cells,
explode ONE side's neighborhood cells, equi-join on cell id, verify with
exact haversine. Never an all-pairs cross join.

Correctness at any latitude: a longitude degree shrinks by cos(lat), so a
fixed-degree cell covers fewer km east-west near the poles. The probe
side's neighborhood widens per row, computed from the MOST POLEWARD
latitude reachable within the radius (its own latitude would
under-reach when the neighbor sits poleward), and degrades to the full
longitude ring near the poles — bounded by n_ring cells, paid only by
rows within ~a degree of a pole, and the haversine verify keeps
exactness everywhere.

All Catalyst: cell math is integer arithmetic, the neighborhood explode
is a sequence() product, haversine is trig columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088  # IUGG mean Earth radius
KM_PER_DEG_LAT = 111.19492664455873  # pi * R / 180



def haversine_km(
    lat1: Column | str, lng1: Column | str, lat2: Column | str, lng2: Column | str
) -> Column:
    """Great-circle distance in km (haversine formula, mean Earth radius)."""
    la1, lo1, la2, lo2 = (
        F.radians(F.col(c) if isinstance(c, str) else c)
        for c in (lat1, lng1, lat2, lng2)
    )
    a = (
        F.pow(F.sin((la2 - la1) / 2), 2)
        + F.cos(la1) * F.cos(la2) * F.pow(F.sin((lo2 - lo1) / 2), 2)
    )
    # clamp for 1-ulp overshoot at antipodes before asin
    return 2 * EARTH_RADIUS_KM * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def radius_join(
    left: DataFrame,
    right: DataFrame,
    radius_km: float,
    lat_col: str = "lat",
    lng_col: str = "lng",
    suffixes: tuple[str, str] = ("_l", "_r"),
) -> DataFrame:
    """All (left, right) pairs within `radius_km` great-circle distance,
    with a `distance_km` column appended. Columns from each side get the
    respective suffix.

    Plan shape: the RIGHT side maps to its single cell; the LEFT side
    explodes its neighborhood (lat reach fixed by the radius; lng reach
    computed per row from the point's latitude) and the join is a plain
    equi-join on (lat_cell, lng_cell) followed by exact haversine
    verification — candidates are bounded by local density, never
    |left| x |right|."""
    if radius_km <= 0:
        raise ValueError(f"radius_km must be positive, got {radius_km}")
    cell_deg = radius_km / KM_PER_DEG_LAT  # one lat-cell >= radius tall
    lat_reach = 1  # radius <= one cell of latitude by construction
    # longitude cells tile the ring EXACTLY (n_ring cells of 360/n_ring
    # degrees each, every cell >= cell_deg wide) so pmod-wrapped neighbor
    # cells handle pairs straddling the +-180 antimeridian correctly
    n_ring = max(1, int(360.0 // cell_deg))
    lng_cell_deg = 360.0 / n_ring
    full_ring = n_ring // 2 + 1  # covers every cell after pmod wrap

    def prefixed(df, suffix):
        return df.select([F.col(c).alias(f"{c}{suffix}") for c in df.columns])

    l_pref, r_pref = (
        prefixed(left, suffixes[0]),
        prefixed(right, suffixes[1]),
    )
    llat, llng = F.col(f"{lat_col}{suffixes[0]}"), F.col(f"{lng_col}{suffixes[0]}")
    rlat, rlng = F.col(f"{lat_col}{suffixes[1]}"), F.col(f"{lng_col}{suffixes[1]}")

    def lng_cell(lng):
        return F.pmod(F.floor(lng / lng_cell_deg).cast("long"), F.lit(n_ring))

    r_cells = r_pref.withColumn(
        "__latc", F.floor(rlat / cell_deg).cast("long")
    ).withColumn("__lngc", lng_cell(rlng))

    # per-row longitude reach from the MOST POLEWARD latitude the radius
    # can touch (own |lat| + one radius of latitude + one cell of floor
    # quantization): cos there lower-bounds the km width of a lng cell
    # anywhere in the neighborhood. cos -> 0 near the pole degrades to the
    # full ring (bounded by n_ring; the verify step keeps exactness).
    edge_lat = F.least(F.abs(llat) + F.lit(2.0 * cell_deg), F.lit(90.0))
    km_per_lng_deg = KM_PER_DEG_LAT * F.cos(F.radians(edge_lat))
    reach = F.least(
        F.when(
            km_per_lng_deg * lng_cell_deg > radius_km / full_ring,
            F.ceil(radius_km / (km_per_lng_deg * lng_cell_deg)),
        ).otherwise(F.lit(full_ring)),
        F.lit(full_ring),
    ).cast("int")
    # dedup the wrapped cell ids PER ROW (wrap overlap when 2*reach+1 >=
    # n_ring) instead of a full-output distinct: preserves the multiplicity
    # of genuinely duplicate input rows and skips a global dedup shuffle
    lng_cells = F.array_distinct(
        F.transform(
            F.sequence(-F.col("__reach"), F.col("__reach")),
            lambda d: F.pmod(F.col("__lngc0") + d, F.lit(n_ring)),
        )
    )
    l_cells = (
        l_pref.withColumn("__latc0", F.floor(llat / cell_deg).cast("long"))
        .withColumn("__lngc0", F.floor(llng / lng_cell_deg).cast("long"))
        .withColumn("__reach", reach)
        .withColumn(
            "__dlat", F.explode(F.sequence(F.lit(-lat_reach), F.lit(lat_reach)))
        )
        .withColumn("__lngc", F.explode(lng_cells))
        .withColumn("__latc", F.col("__latc0") + F.col("__dlat"))
        .drop("__latc0", "__lngc0", "__reach", "__dlat")
    )

    joined = l_cells.join(r_cells, ["__latc", "__lngc"]).drop(
        "__latc", "__lngc"
    )
    dist = haversine_km(llat, llng, rlat, rlng)
    return joined.withColumn("distance_km", dist).filter(
        F.col("distance_km") <= radius_km
    )


def point_in_polygon(
    lat: Column | str, lng: Column | str, polygon_col: Column | str
) -> Column:
    """Ray-casting containment test, fully in Catalyst: `polygon_col` is an
    array<struct<lat:double, lng:double>> of vertices (closed implicitly);
    returns true when the point is inside (edge-touching points follow the
    half-open ray-cast convention). The whole test is one aggregate() fold
    over the vertex array — native higher-order-function API, real Column
    objects, no Python rows, no explode. Degenerate polygons (fewer than
    3 vertices, incl. empty/null arrays) are simply 'contains nothing',
    never an error.

    Planar semantics on lat/lng coordinates — correct for polygons that do
    not cross the antimeridian or enclose a pole (split such polygons
    upstream, the standard GIS contract for equirectangular ray casts)."""
    la = F.col(lat) if isinstance(lat, str) else lat
    lo = F.col(lng) if isinstance(lng, str) else lng
    poly = F.col(polygon_col) if isinstance(polygon_col, str) else polygon_col
    n = F.size(poly)

    def edge_flip(acc: Column, i: Column) -> Column:
        v1 = F.element_at(poly, i + 1)
        v2 = F.element_at(poly, F.pmod(i + 1, n) + 1)
        crosses = (v1["lat"] > la) != (v2["lat"] > la)
        x_intersect = (
            (v2["lng"] - v1["lng"]) * (la - v1["lat"]) / (v2["lat"] - v1["lat"])
            + v1["lng"]
        )
        return F.when(crosses & (lo < x_intersect), ~acc).otherwise(acc)

    fold = F.aggregate(F.sequence(F.lit(0), n - 1), F.lit(False), edge_flip)
    # CASE evaluates only the matched branch, so the fold (and its
    # descending sequence(0, -1)) never runs for degenerate polygons
    return F.when(n >= 3, fold).otherwise(F.lit(False))


def points_in_polygons_join(
    points: DataFrame,
    polygons: DataFrame,
    lat_col: str = "lat",
    lng_col: str = "lng",
    polygon_col: str = "polygon",
    suffixes: tuple[str, str] = ("", "_poly"),
    cell_deg: float | None = None,
    max_cells_per_polygon: int = 4096,
) -> DataFrame:
    """Spatial containment join: each point paired with every polygon that
    contains it. Column names shared between the two tables get `suffixes`
    (polygon-side columns are suffixed), so a polygon table carrying its
    own lat/lng centroid never trips an ambiguous-reference error.

    Two physical strategies, same results:

    * cell_deg=None (default) — the polygon table (with its vertex arrays)
      is broadcast and the exact ray-cast runs as the join filter; no
      shuffle of the point side. Right for region/geofence tables that fit
      in a broadcast (the common case).
    * cell_deg=<degrees> — bbox cell-grid blocking (the radius_join
      discipline) for LARGE polygon tables (e.g. every OSM building
      footprint): each polygon explodes the grid cells its bounding box
      touches, each point maps to its single cell, and a plain equi-join
      on the cell feeds the exact ray-cast. Candidates are bounded by
      local overlap density, never |points| x |polygons|. Pick cell_deg
      near the typical polygon diameter; a polygon whose bbox spans more
      than `max_cells_per_polygon` cells fails LOUDLY (a degenerate
      world-spanning polygon would otherwise fan out the whole grid —
      split such polygons upstream, or raise the bound deliberately).

    Planar semantics either way (see point_in_polygon): polygons must not
    cross the antimeridian or enclose a pole."""
    clash = set(points.columns) & set(polygons.columns)
    p = points.select(
        [F.col(c).alias(f"{c}{suffixes[0]}" if c in clash else c) for c in points.columns]
    )
    g = polygons.select(
        [F.col(c).alias(f"{c}{suffixes[1]}" if c in clash else c) for c in polygons.columns]
    )
    lat_name = f"{lat_col}{suffixes[0]}" if lat_col in clash else lat_col
    lng_name = f"{lng_col}{suffixes[0]}" if lng_col in clash else lng_col
    poly_name = (
        f"{polygon_col}{suffixes[1]}" if polygon_col in clash else polygon_col
    )
    if cell_deg is None:
        return p.crossJoin(F.broadcast(g)).filter(
            point_in_polygon(lat_name, lng_name, poly_name)
        )
    if cell_deg <= 0:
        raise ValueError(f"cell_deg must be positive, got {cell_deg}")
    poly = F.col(poly_name)
    lats = F.transform(poly, lambda v: v["lat"])
    lngs = F.transform(poly, lambda v: v["lng"])
    g_box = (
        g.filter(F.size(poly) >= 3)  # degenerate polygons contain nothing
        .withColumn("__lac0", F.floor(F.array_min(lats) / cell_deg).cast("long"))
        .withColumn("__lac1", F.floor(F.array_max(lats) / cell_deg).cast("long"))
        .withColumn("__loc0", F.floor(F.array_min(lngs) / cell_deg).cast("long"))
        .withColumn("__loc1", F.floor(F.array_max(lngs) / cell_deg).cast("long"))
        .withColumn(
            "__ncells",
            (F.col("__lac1") - F.col("__lac0") + 1)
            * (F.col("__loc1") - F.col("__loc0") + 1),
        )
    )
    # loud guard, evaluated once on the (already tiny per-row) bbox stats:
    # one lightweight agg job, the MAX_GWB_DIM contract shape
    worst = g_box.agg(F.max("__ncells").alias("m")).first()["m"]
    if worst is not None and worst > max_cells_per_polygon:
        raise ValueError(
            f"points_in_polygons_join: a polygon bbox spans {worst} cells "
            f"at cell_deg={cell_deg} (> max_cells_per_polygon="
            f"{max_cells_per_polygon}); split oversized polygons upstream, "
            "use a coarser cell_deg, or raise the bound deliberately"
        )
    g_cells = (
        g_box.withColumn(
            "__latc",
            F.explode(F.sequence(F.col("__lac0"), F.col("__lac1"))),
        )
        .withColumn(
            "__lngc",
            F.explode(F.sequence(F.col("__loc0"), F.col("__loc1"))),
        )
        .drop("__lac0", "__lac1", "__loc0", "__loc1", "__ncells")
    )
    p_cells = p.withColumn(
        "__latc", F.floor(F.col(lat_name) / cell_deg).cast("long")
    ).withColumn("__lngc", F.floor(F.col(lng_name) / cell_deg).cast("long"))
    return (
        p_cells.join(g_cells, ["__latc", "__lngc"])
        .drop("__latc", "__lngc")
        .filter(point_in_polygon(lat_name, lng_name, poly_name))
    )
