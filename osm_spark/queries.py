"""Registry of driver-checked queries + DuckDB oracle SQL.

Each operator implemented from SURVEY.md §2 (and the training-data-pipeline
extensions) registers a (spark_fn, oracle_sql) pair here. Spark fns take
``(spark, sf_dir)`` and return a DataFrame; oracle SQL runs in DuckDB over
pre-registered views of the same parquet tables.

Cross-engine float discipline:
- pure +,-,*,/ double math is IEEE-identical in both engines — safe raw;
- transcendental results (ln/tan/atan/exp, haversine) are quantized with
  ``floor(x * 10^k)`` (libm may differ by 1 ulp between JVM and C++);
- unordered SUM over doubles is never emitted raw: terms are quantized to
  int64 first so the sum is exact and order-independent.
"""

from __future__ import annotations

import atexit
import math
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osm_spark.core import ids
from osm_spark.geo import tiles
from osm_spark.pipeline import pages

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


# DataFrames persisted by the most recent query invocation. Query fns
# persist multi-consumer intermediates (minhash signatures, simhash
# values); the registry bounds a long session (the driver gate runs all
# ~65 queries serially) to ONE query's cache: each invocation evicts
# the previous one's blocks.
_PERSISTED: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _PERSISTED.append(df)
    return df


# Snapshot-table directories written by the most recent query
# invocation. The returned DataFrame still reads its table lazily, so a
# directory is removed when the next query starts (or at exit), which
# bounds a long session to one query's tables on disk.
_TABLE_DIRS: list[str] = []


def _table_dir(prefix: str) -> str:
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    _TABLE_DIRS.append(path)
    return path


@atexit.register
def _remove_table_dirs() -> None:
    while _TABLE_DIRS:
        shutil.rmtree(_TABLE_DIRS.pop(), ignore_errors=True)


def _release_persists() -> None:
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist(blocking=False)
        except Exception:
            pass
    _remove_table_dirs()


def register(name: str, sql: str | None = None):
    def deco(fn):
        def wrapped(spark, sf_dir):
            _release_persists()
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        SPARK_QUERIES[name] = wrapped
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _t_spread(spark: SparkSession, sf_dir: str, name: str,
              key: str = "doc_id", n: int = 32) -> DataFrame:
    """Like _t but pre-spread: the seed parquet is a single split, so
    explode/digest-heavy pipelines over it would otherwise run their
    whole scan-side stage in ONE task (same reason _docs2 repartitions;
    a real corpus arrives multi-split and skips this)."""
    return _t(spark, sf_dir, name).repartition(n, key)


def _us(c) -> "F.Column":
    """epoch micros from a (possibly NTZ) timestamp column."""
    col = F.col(c) if isinstance(c, str) else c
    return F.unix_micros(col.cast("timestamp"))



# =====================================================================
# Tile math family (SURVEY §1.5, §2.8 — orb/maptile semantics)
# =====================================================================

_Z = 12

@register(
    "tile_assign",
    f"""
    SELECT {tiles.tile_x_sql(pages.GEO_LON_SQL, _Z)} AS tile_x,
           {tiles.tile_y_sql(pages.GEO_LAT_SQL, _Z)} AS tile_y,
           count(*) AS n_pages
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship kernel: geocode -> tile.At(p, z=12) -> count per tile.

    maptile.At semantics (SURVEY §1.5); one shuffle, map-side combine.
    """
    return pages.tile_counts(spark, sf_dir, _Z).drop("zoom")


def _pyramid_oracle(z_max: int, z_min: int) -> str:
    base = f"""
    WITH base AS (
      SELECT {tiles.tile_x_sql(pages.GEO_LON_SQL, z_max)} AS x,
             {tiles.tile_y_sql(pages.GEO_LAT_SQL, z_max)} AS y,
             count(*) AS n FROM documents GROUP BY 1, 2)
    """
    parts = [
        f"SELECT x >> {z_max - z} AS tile_x, y >> {z_max - z} AS tile_y, "
        f"CAST(sum(n) AS BIGINT) AS n_pages, {z} AS zoom FROM base GROUP BY 1, 2"
        for z in range(z_max, z_min - 1, -1)
    ]
    return base + " UNION ALL ".join(parts)


@register("tile_pyramid", _pyramid_oracle(10, 4))
def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zoom pyramid z4..z10 via parent-shift rollup (tile.Range math);
    pages are scanned once, and the roll-up explodes the per-tile table
    into ancestor keys and aggregates them once (two shuffles)."""
    df = pages.tile_pyramid_counts(spark, sf_dir, z_max=10, z_min=4)
    return df.select(
        "tile_x", "tile_y", F.col("n_pages").cast("long").alias("n_pages"), "zoom"
    )


_BOUNDS9 = tiles.tile_bound_sql("x", "y", 9)

@register(
    "tile_bounds",
    f"""
    WITH t AS (
      SELECT DISTINCT {tiles.tile_x_sql(pages.GEO_LON_SQL, 9)} AS x,
                      {tiles.tile_y_sql(pages.GEO_LAT_SQL, 9)} AS y
      FROM documents)
    SELECT x AS tile_x, y AS tile_y,
           CAST(floor({_BOUNDS9['minlat']} * 1000000.0) AS BIGINT) AS minlat_e6,
           CAST(floor({_BOUNDS9['maxlat']} * 1000000.0) AS BIGINT) AS maxlat_e6,
           CAST(floor({_BOUNDS9['minlon']} * 1000000.0) AS BIGINT) AS minlon_e6,
           CAST(floor({_BOUNDS9['maxlon']} * 1000000.0) AS BIGINT) AS maxlon_e6
    FROM t
    """,
)
def q_tile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile.Bound() back-projection (reference bounds.go:18-34) for every
    distinct z9 tile touched by pages; micro-degree quantized."""
    pts = pages.page_points(spark, sf_dir)
    t = pts.select(
        tiles.tile_x("lon", 9).alias("tile_x"), tiles.tile_y("lat", 9).alias("tile_y")
    ).distinct()
    return t.select(
        "tile_x",
        "tile_y",
        F.floor(tiles.tile_bound_south("tile_y", 9) * 1e6).alias("minlat_e6"),
        F.floor(tiles.tile_bound_north("tile_y", 9) * 1e6).alias("maxlat_e6"),
        F.floor(tiles.tile_bound_west("tile_x", 9) * 1e6).alias("minlon_e6"),
        F.floor(tiles.tile_bound_east("tile_x", 9) * 1e6).alias("maxlon_e6"),
    )


@register(
    "tile_quadkey",
    f"""
    SELECT doc_id,
           {tiles.quadkey_sql(tiles.tile_x_sql(pages.GEO_LON_SQL, 8),
                              tiles.tile_y_sql(pages.GEO_LAT_SQL, 8), 8)} AS qk
    FROM documents
    """,
)
def q_tile_quadkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadkey encoding (interleaved child-index digits — the same shift
    math as tile child/parent navigation, SURVEY §1.5)."""
    pts = pages.page_points(spark, sf_dir)
    xy = pts.select(
        "doc_id",
        tiles.tile_x("lon", 8).alias("x"),
        tiles.tile_y("lat", 8).alias("y"),
    )
    return xy.select("doc_id", tiles.quadkey("x", "y", 8).alias("qk"))


@register(
    "tile_containment",
    f"""
    WITH p AS (
      SELECT doc_id, {pages.GEO_LAT_SQL} AS lat, {pages.GEO_LON_SQL} AS lon,
             {tiles.tile_x_sql(pages.GEO_LON_SQL, 7)} AS x,
             {tiles.tile_y_sql(pages.GEO_LAT_SQL, 7)} AS y
      FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN lat >= {tiles.tile_bound_sql('x','y',7)['minlat']}
                          AND lat <= {tiles.tile_bound_sql('x','y',7)['maxlat']}
                          AND lon >= {tiles.tile_bound_sql('x','y',7)['minlon']}
                          AND lon <= {tiles.tile_bound_sql('x','y',7)['maxlon']}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_contained
    FROM p
    """,
)
def q_tile_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bounds.ContainsNode (reference bounds.go:38-48) property: every
    point is inside the bounds of its own tile (inclusive bbox)."""
    pts = pages.page_points(spark, sf_dir)
    p = pts.select(
        "lat",
        "lon",
        tiles.tile_x("lon", 7).alias("x"),
        tiles.tile_y("lat", 7).alias("y"),
    )
    b = p.select(
        "lat",
        "lon",
        tiles.tile_bound_south("y", 7).alias("minlat"),
        tiles.tile_bound_north("y", 7).alias("maxlat"),
        tiles.tile_bound_west("x", 7).alias("minlon"),
        tiles.tile_bound_east("x", 7).alias("maxlon"),
    )
    return b.agg(
        F.count("*").alias("n_total"),
        F.sum(
            tiles.contains("lat", "lon", "minlat", "maxlat", "minlon", "maxlon").cast(
                "int"
            )
        )
        .cast("long")
        .alias("n_contained"),
    )


# =====================================================================
# Route linestring assembly (SURVEY §3.3 — convert.go:233-301)
# =====================================================================

_ROUTE_ORACLE = """
WITH k AS (SELECT s_suppkey AS rel_id FROM supplier WHERE s_suppkey < 30),
p AS (
  SELECT rel_id, i,
         CAST((rel_id * 9277 + i * 2003) % 340000 AS DOUBLE) / 1000.0 - 170.0 AS lon,
         CAST((rel_id * 6151 + i * 4001) % 160000 AS DOUBLE) / 1000.0 - 80.0  AS lat
  FROM k, (VALUES (0),(1),(2),(3)) AS t(i)),
dir AS (
  SELECT a.rel_id,
         (a.lon < b.lon OR (a.lon = b.lon AND a.lat <= b.lat)) AS fwd
  FROM p a JOIN p b ON a.rel_id = b.rel_id AND a.i = 0 AND b.i = 3)
SELECT p.rel_id, 0 AS line_idx,
       CASE WHEN dir.fwd THEN p.i ELSE 3 - p.i END AS point_idx,
       CAST(floor(p.lon * 1000000.0) AS BIGINT) AS lon_e6,
       CAST(floor(p.lat * 1000000.0) AS BIGINT) AS lat_e6
FROM p JOIN dir USING (rel_id)
"""


@register("route_linestring", _ROUTE_ORACLE)
def q_route_linestring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route relations (3 member ways forming a chain, middle way
    REVERSED so the greedy join must flip it) assembled through the
    distributed mapInArrow kernel; output canonicalized to ascending
    endpoint order so Spark and the oracle agree on direction."""
    from osm_spark.geom.assembly import assemble_routes_df

    s = _t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") < 30)
    k = F.col("s_suppkey").cast("long")

    def lon(i: int):
        return ((k * 9277 + i * 2003) % 340000).cast("double") / 1000.0 - 170.0

    def lat(i: int):
        return ((k * 6151 + i * 4001) % 160000).cast("double") / 1000.0 - 80.0

    def pt(i: int):
        return F.struct(lon(i).alias("lon"), lat(i).alias("lat"))

    def member(w: int):
        return F.struct(
            F.lit("way").alias("type"),
            (k * 10 + w).alias("ref"),
            F.lit("").alias("role"),
            F.lit(0).alias("orientation"),
        )

    relations = s.select(
        k.alias("rel_id"),
        F.array(member(0), member(1), member(2)).alias("members"),
    )
    way_geoms = s.select(
        k.alias("rel_id"),
        F.explode(
            F.array(
                F.struct((k * 10).alias("ref"), F.array(pt(0), pt(1)).alias("line")),
                F.struct(
                    (k * 10 + 1).alias("ref"), F.array(pt(2), pt(1)).alias("line")
                ),
                F.struct(
                    (k * 10 + 2).alias("ref"), F.array(pt(2), pt(3)).alias("line")
                ),
            )
        ).alias("w"),
    ).select(F.col("w.ref").alias("ref"), F.col("w.line").alias("line"))

    routes = assemble_routes_df(relations, way_geoms)
    first, last = F.col("line")[0], F.element_at("line", -1)
    fwd = (first["lon"] < last["lon"]) | (
        (first["lon"] == last["lon"]) & (first["lat"] <= last["lat"])
    )
    canon = routes.select(
        "rel_id",
        "line_idx",
        F.when(fwd, F.col("line")).otherwise(F.reverse("line")).alias("line"),
    )
    return canon.select(
        "rel_id",
        "line_idx",
        F.posexplode("line").alias("point_idx", "p"),
    ).select(
        "rel_id",
        "line_idx",
        "point_idx",
        F.floor(F.col("p.lon") * 1e6).cast("long").alias("lon_e6"),
        F.floor(F.col("p.lat") * 1e6).cast("long").alias("lat_e6"),
    )


@register(
    "reverse_detect",
    """
    WITH w AS (
      SELECT o_orderkey % 50 AS way_id,
             CAST(row_number() OVER (PARTITION BY o_orderkey % 50
                                     ORDER BY o_orderkey) AS INT) AS version
      FROM orders WHERE o_orderkey < 2000)
    SELECT way_id, version,
           (version > 1 AND version % 2 = 0) AS reverse
    FROM w
    """,
)
def q_reverse_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IsReverse between consecutive way versions
    (annotate/datasource.go:155-172): rings (way_id%3==0) flip by
    shoelace-area sign, open ways by endpoint-ref swap. Versions flip
    direction at every even version, so reverse == (version>1 AND
    version%2==0) for both detection paths."""
    from osm_spark.temporal.relations import way_reverse_flags

    k = F.col("o_orderkey")
    w = (
        _t(spark, sf_dir, "orders")
        .where(k < 2000)
        .select(
            (k % 50).alias("way_id"),
            F.row_number()
            .over(Window.partitionBy(k % 50).orderBy(k))
            .cast("int")
            .alias("version"),
        )
    )

    def node(ref, lon, lat):
        return F.struct(
            F.lit(ref).cast("long").alias("ref"),
            F.lit(1).alias("version"),
            F.lit(lon).cast("double").alias("lon"),
            F.lit(lat).cast("double").alias("lat"),
        )

    a, b, c = node(1, 1.0, 1.0), node(2, 2.0, 1.0), node(3, 1.5, 2.0)
    fwd_dir = (F.floor(F.col("version") / 2) % 2) == 0
    is_ring = F.col("way_id") % 3 == 0
    nodes = (
        F.when(is_ring & fwd_dir, F.array(a, b, c, a))
        .when(is_ring, F.array(a, c, b, a))
        .when(fwd_dir, F.array(a, b, c))
        .otherwise(F.array(c, b, a))
    )
    ways = w.select(
        F.col("way_id").cast("long").alias("id"),
        "version",
        F.lit("2024-01-01").cast("timestamp").alias("ts"),
        nodes.alias("nodes"),
    )
    out = way_reverse_flags(ways)
    return out.select(
        F.col("id").alias("way_id"), "version", "reverse"
    )


# =====================================================================
# osmgeojson.Convert integration (SURVEY §3.3 — convert.go:35-149)
# =====================================================================

_GEOJSON_ORACLE = """
WITH cust AS (
  SELECT c_custkey AS ck, c_nationkey AS nk FROM customer),
waycnt AS (SELECT nk, count(*) AS n FROM cust GROUP BY 1),
way_feats AS (
  SELECT 'way' AS kind, 1000 + nk AS fid,
         CASE WHEN nk % 2 = 0 THEN 'Polygon' ELSE 'LineString' END AS geom,
         CAST(n + (CASE WHEN nk % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_points
  FROM waycnt WHERE nk % 5 <> 0),
node_feats AS (
  -- every customer is a way member by construction, so the skip rule
  -- (member AND boring) reduces to: emit iff interesting (ck%3=0)
  SELECT 'node' AS kind, ck AS fid, 'Point' AS geom, CAST(1 AS BIGINT)
           AS n_points
  FROM cust WHERE ck % 3 = 0)
SELECT * FROM way_feats UNION ALL SELECT * FROM node_feats
"""


@register("geojson_convert", _GEOJSON_ORACLE)
def q_geojson_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Convert pipeline composed end-to-end from the real operators
    (convert.go:35-149): per-nation ways (even nations closed with
    building=yes, odd open with highway=road) classified by the REAL
    Way.Polygon() condition table; relation-member ways without
    interesting own tags skipped (the skippable-ways rule,
    convert.go:114-116 — modeled as nation%5==0); nodes skipped iff
    way-member AND not interesting (convert.go:124-137) using the real
    UninterestingTags blocklist. Ring/route assembly is exercised by
    multipolygon_assembly / route_linestring; this query verifies the
    feature-selection and classification layer over them."""
    from osm_spark.functions import polygon as P
    from osm_spark.functions import tags as T

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_nationkey").alias("nk")
    )
    node_tags = F.when(
        F.col("ck") % 3 == 0, F.create_map(F.lit("amenity"), F.lit("cafe"))
    ).otherwise(F.create_map(F.lit("created_by"), F.lit("autobot")))
    nodes = cust.select("ck", "nk", node_tags.alias("tags"))

    refs = (
        cust.groupBy("nk")
        .agg(F.array_sort(F.collect_list("ck")).alias("refs"))
        .select(
            "nk",
            F.when(
                F.col("nk") % 2 == 0,
                F.concat("refs", F.slice("refs", 1, 1)),
            )
            .otherwise(F.col("refs"))
            .alias("refs"),
        )
    )
    way_tags = (
        F.when(F.col("nk") % 5 == 0, F.create_map().cast("map<string,string>"))
        .when(F.col("nk") % 2 == 0, F.create_map(F.lit("building"), F.lit("yes")))
        .otherwise(F.create_map(F.lit("highway"), F.lit("road")))
    )
    ways = refs.select(
        (F.col("nk") + 1000).alias("way_id"),
        "nk",
        F.transform("refs", lambda r: F.struct(r.alias("ref"))).alias("nodes"),
        way_tags.alias("tags"),
        (F.col("nk") % 5 == 0).alias("is_rel_member"),
    )

    # skippable-ways rule: relation member with no interesting own tags
    kept_ways = ways.where(
        ~(F.col("is_rel_member") & ~T.any_interesting("tags"))
    )
    way_feats = kept_ways.select(
        F.lit("way").alias("kind"),
        F.col("way_id").cast("long").alias("fid"),
        F.when(P.way_is_polygon("nodes", "tags"), "Polygon")
        .otherwise("LineString")
        .alias("geom"),
        F.size("nodes").cast("long").alias("n_points"),
    )

    # node skip rule: way members that are boring emit no feature
    members = (
        ways.select(F.explode("nodes").alias("n"))
        .select(F.col("n.ref").alias("ck"))
        .distinct()
    )
    is_member = nodes.join(members, "ck", "left_semi").select(
        "ck", F.lit(True).alias("m")
    )
    node_feats = (
        nodes.join(is_member, "ck", "left")
        .where(F.col("m").isNull() | T.any_interesting("tags"))
        .select(
            F.lit("node").alias("kind"),
            F.col("ck").cast("long").alias("fid"),
            F.lit("Point").alias("geom"),
            F.lit(1).cast("long").alias("n_points"),
        )
    )
    return way_feats.unionByName(node_feats)


# =====================================================================
# Raster <-> vector tile rasterization (north-star component)
# =====================================================================

_RZ, _RBITS = 6, 4  # z6 tiles, 16x16-pixel rasters (pixels = z10 sub-tiles)


def _raster_oracle() -> str:
    from osm_spark.geo import raster as R

    zp = _RZ + _RBITS
    mask = (1 << _RBITS) - 1
    sparse = f"""
    sparse AS (
      SELECT xp >> {_RBITS} AS tile_x, yp >> {_RBITS} AS tile_y,
             xp & {mask} AS px, yp & {mask} AS py, count(*) AS n
      FROM (SELECT {tiles.tile_x_sql(pages.GEO_LON_SQL, zp)} AS xp,
                   {tiles.tile_y_sql(pages.GEO_LAT_SQL, zp)} AS yp
            FROM documents)
      GROUP BY 1, 2, 3, 4)
    """
    vec = R.vectorize_sql(_RZ, _RBITS, "sparse")
    return (
        f"WITH {sparse} SELECT tile_x, tile_y, px, py, "
        f"CAST(floor(lat * 1e6) AS BIGINT) AS lat_e6, "
        f"CAST(floor(lon * 1e6) AS BIGINT) AS lon_e6, n FROM ({vec})"
    )


@register("raster_vector_roundtrip", _raster_oracle())
def q_raster_vector_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster->vector round trip: sparse rasterize (one groupBy) ->
    dense numpy grid fill per tile (applyInPandas over <=4^res_bits-row
    groups — skew-proof; see geo/raster.py) -> posexplode back to
    nonzero pixels -> inverse-Mercator pixel centroids. The oracle
    computes the same pixels + centers directly in SQL, so the dense
    fill and re-extraction must be lossless to match."""
    from osm_spark.geo import raster as R

    pts = pages.page_points(spark, sf_dir)
    sparse = R.rasterize_sparse(pts, _RZ, _RBITS)
    dense = R.rasterize_dense(sparse, _RBITS)
    back = R.dense_to_sparse(dense, _RBITS)
    vec = R.vectorize(back, _RZ, _RBITS)
    return vec.select(
        "tile_x",
        "tile_y",
        "px",
        "py",
        F.floor(F.col("lat") * 1e6).cast("long").alias("lat_e6"),
        F.floor(F.col("lon") * 1e6).cast("long").alias("lon_e6"),
        "n",
    )


# =====================================================================
# Point-in-polygon joins (SURVEY §2.3 — build_polygon.go:218-243)
# =====================================================================
# Deterministic rectangles derived from supplier keys; corners offset by
# 0.0005 deg so no 3-decimal point ever sits on an edge (ray-cast and
# BETWEEN then agree exactly). Ray-cast kernel is the verbatim reference
# formula; the oracle uses interval logic — agreement on rectangles is
# the cross-engine check, general polygons are pytest-fixture-covered.

_RECT_SQL = """
    rect AS (
      SELECT s_suppkey AS poly_id,
             CAST(s_suppkey * 6151 % 140000 AS DOUBLE) / 1000.0 - 70.0 AS clat,
             CAST(s_suppkey * 9277 % 340000 AS DOUBLE) / 1000.0 - 170.0 AS clon,
             0.5 + CAST(s_suppkey % 7 AS DOUBLE) AS hlat,
             0.5 + CAST(s_suppkey % 11 AS DOUBLE) AS hlon
      FROM supplier WHERE s_suppkey < 40)
"""

_PIP_ORACLE = f"""
    WITH {_RECT_SQL}
    SELECT d.doc_id, r.poly_id
    FROM documents d, rect r
    WHERE {pages.GEO_LAT_SQL} > r.clat - r.hlat + 0.0005
      AND {pages.GEO_LAT_SQL} < r.clat + r.hlat + 0.0005
      AND {pages.GEO_LON_SQL} > r.clon - r.hlon + 0.0005
      AND {pages.GEO_LON_SQL} < r.clon + r.hlon + 0.0005
    """


def _rect_polygons_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rectangles as (poly_id, xs, ys, xmin..ymax) ring rows."""
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") < 40)
    k = F.col("s_suppkey")
    clat = (k * 6151 % 140000).cast("double") / 1000.0 - 70.0
    clon = (k * 9277 % 340000).cast("double") / 1000.0 - 170.0
    hlat = F.lit(0.5) + (k % 7).cast("double")
    hlon = F.lit(0.5) + (k % 11).cast("double")
    lat0, lat1 = clat - hlat + 0.0005, clat + hlat + 0.0005
    lon0, lon1 = clon - hlon + 0.0005, clon + hlon + 0.0005
    return s.select(
        k.alias("poly_id"),
        F.array(lon0, lon1, lon1, lon0, lon0).alias("xs"),
        F.array(lat0, lat0, lat1, lat1, lat0).alias("ys"),
        lon0.alias("xmin"),
        lon1.alias("xmax"),
        lat0.alias("ymin"),
        lat1.alias("ymax"),
    )


@register("pip_cells", _PIP_ORACLE)
def q_pip_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path PIP join: polygons explode to covering z6 tiles, equi
    join on (tile, salt) — theta join turned equi, skew split 4 ways —
    then the same ray-cast refine."""
    from osm_spark.geo import pip

    pts = pages.page_points(spark, sf_dir)
    polys = _rect_polygons_df(spark, sf_dir)
    return pip.pip_join_cells(pts, polys, zoom=6, salt=4).select("doc_id", "poly_id")


# =====================================================================
# Temporal as-of annotation (SURVEY §2.3/§3.2 — annotate core)
# =====================================================================
# Element histories modeled from events: children = non-purchase events
# per user (version = rank by ts, visible = not 'error'); parents = the
# purchase events. All timestamps are post-CommitInfoStart, so this
# checks annotate_refs' JVM path for modern refs end-to-end; the eps
# path and the kernel routing are pytest-fixture-covered (golden way
# fixtures + edgecases suite).

_ASOF_ORACLE = """
WITH ev AS (
  SELECT user_id, ts, event_id, value,
         (event_type <> 'error') AS visible,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ver
  FROM events WHERE event_type <> 'purchase'),
par AS (
  SELECT user_id, ts, event_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS pver,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
  FROM events WHERE event_type = 'purchase'),
pick AS (
  SELECT p.*,
    (SELECT max(e.ver) FROM ev e WHERE e.user_id=p.user_id AND e.ts <= p.ts) AS cur_ver,
    (SELECT max(e.ver) FROM ev e WHERE e.user_id=p.user_id AND e.ts <  p.ts) AS vb_at,
    (SELECT max(e.ver) FROM ev e WHERE e.user_id=p.user_id AND e.ts <= p.next_ts) AS n_ver,
    (SELECT max(e.ver) FROM ev e WHERE e.user_id=p.user_id AND e.ts <  p.next_ts) AS vb_next,
    (SELECT max(e.ver) FROM ev e WHERE e.user_id=p.user_id) AS last_ver
  FROM par p),
pick2 AS (
  SELECT pk.*, ce.visible AS cur_vis, ce.ts AS cur_ts, ne.visible AS n_vis, ne.ts AS n_ts
  FROM pick pk
  LEFT JOIN ev ce ON ce.user_id=pk.user_id AND ce.ver=pk.cur_ver
  LEFT JOIN ev ne ON ne.user_id=pk.user_id AND ne.ver=pk.n_ver),
bounds AS (
  SELECT *,
    CASE WHEN cur_ver IS NOT NULL AND cur_vis THEN cur_ver END AS pick_ver,
    CASE
      WHEN next_ts IS NULL THEN last_ver
      WHEN n_ver IS NOT NULL AND n_vis
        THEN (CASE WHEN n_ts < next_ts THEN n_ver ELSE n_ver - 1 END)
      WHEN cur_ver IS NOT NULL AND cur_vis AND NOT (next_ts > cur_ts) THEN 0
      ELSE coalesce(vb_next, 0)
    END AS upper_ver,
    CASE WHEN cur_ver IS NOT NULL AND cur_vis THEN cur_ver
         ELSE coalesce(vb_at, 0) END AS start_exc
  FROM pick2
  WHERE last_ver IS NOT NULL)
SELECT b.user_id, b.pver, 'set' AS kind, CAST(e.ver AS INT) AS child_version,
       e.event_id AS changeset, e.value AS lat, -e.value AS lon,
       NULL::BIGINT AS uts_us
FROM bounds b JOIN ev e ON e.user_id=b.user_id AND e.ver=b.pick_ver
UNION ALL
SELECT b.user_id, b.pver, 'update', CAST(e.ver AS INT), e.event_id, e.value, -e.value,
       epoch_us(e.ts)
FROM bounds b JOIN ev e
  ON e.user_id=b.user_id AND e.ver > b.start_exc AND e.ver <= b.upper_ver AND e.visible
"""


def _asof_inputs(spark: SparkSession, sf_dir: str, user_mod: int | None = None):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    if user_mod is not None:
        ev = ev.filter(F.col("user_id") % user_mod == 0)
    wv = Window.partitionBy("user_id").orderBy("ts", "event_id")
    children = (
        ev.filter(F.col("event_type") != "purchase")
        .withColumn("version", F.row_number().over(wv))
        .select(
            F.col("user_id").alias("ref"),
            "version",
            (F.col("event_type") != "error").alias("visible"),
            F.col("event_id").alias("changeset"),
            "ts",
            F.col("ts").alias("committed"),
            F.col("value").alias("lat"),
            (-F.col("value")).alias("lon"),
        )
    )
    parents = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("version", F.row_number().over(wv))
        .select(
            F.col("user_id").alias("pid"),
            "version",
            F.lit(True).alias("visible"),
            F.col("event_id").alias("changeset"),
            "ts",
            F.col("ts").alias("committed"),
            F.array(F.struct(F.col("user_id").alias("ref"))).alias("refs"),
        )
    )
    return parents, children


@register("asof_annotate", _ASOF_ORACLE)
def q_asof_annotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of annotation join (annotate.Ways semantics) through
    annotate_refs: for each parent version pick the child version
    visible at its commit time (kind='set') and emit the minor-version
    updates between parent versions (kind='update')."""
    from osm_spark.temporal.annotate import annotate_refs

    parents, children = _asof_inputs(spark, sf_dir)
    out = annotate_refs(parents, children)
    return out.select(
        F.col("pid").alias("user_id"),
        F.col("parent_version").alias("pver"),
        "kind",
        "child_version",
        F.col("child_changeset").alias("changeset"),
        "lat",
        "lon",
        F.unix_micros("uts").alias("uts_us"),
    )


# =====================================================================
# Packed-id family (SURVEY §1.2, §2.8 — feature.go/element.go bit math)
# =====================================================================

@register(
    "ids_pack_roundtrip",
    f"""
    SELECT (o_orderkey << 16) | {ids.NODE_MASK} | (o_orderkey % 7 + 1) AS eid,
           o_orderkey AS ref,
           CAST(o_orderkey % 7 + 1 AS INT) AS version,
           'node' AS typ,
           'node/' || CAST(o_orderkey AS VARCHAR) || ':' ||
               CAST(o_orderkey % 7 + 1 AS VARCHAR) AS id_str
    FROM orders
    """,
)
def q_ids_pack_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack (type, ref, version) -> int64 ElementID with the exact
    reference masks (feature.go:62-77), then unpack + string-format
    (element.go:76-127). Sorting the packed long is (type, ref, version)
    order — the reference's clustered sort key."""
    orders = _t(spark, sf_dir, "orders")
    ver = (F.col("o_orderkey") % 7 + 1).cast("int")
    packed = ids.eid("node", F.col("o_orderkey"), ver)
    return orders.select(
        packed.alias("eid"),
        ids.ref_of(packed).alias("ref"),
        ids.version_of(packed).alias("version"),
        ids.type_of(packed).alias("typ"),
        ids.id_string(packed).alias("id_str"),
    )


@register(
    "ids_counts",
    f"""
    WITH u AS (
      SELECT (o_orderkey << 16) | {ids.NODE_MASK} AS fid FROM orders
      UNION ALL
      SELECT (c_custkey << 16) | {ids.WAY_MASK} FROM customer
      UNION ALL
      SELECT (s_suppkey << 16) | {ids.RELATION_MASK} FROM supplier)
    SELECT CASE fid & {ids.TYPE_MASK}
             WHEN {ids.NODE_MASK} THEN 'node'
             WHEN {ids.WAY_MASK} THEN 'way'
             WHEN {ids.RELATION_MASK} THEN 'relation' END AS typ,
           count(*) AS n
    FROM u GROUP BY 1
    """,
)
def q_ids_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FeatureIDs.Counts() (feature.go:182-195) as groupBy(type).count()
    over a union of packed ids from three element types."""
    orders = _t(spark, sf_dir, "orders").select(
        ids.feature_id("node", "o_orderkey").alias("fid")
    )
    cust = _t(spark, sf_dir, "customer").select(
        ids.feature_id("way", "c_custkey").alias("fid")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        ids.feature_id("relation", "s_suppkey").alias("fid")
    )
    u = orders.unionByName(cust).unionByName(supp)
    return u.groupBy(ids.type_of("fid").alias("typ")).agg(F.count("*").alias("n"))


# =====================================================================
# Polygon heuristic (SURVEY §2.2 — polygon.go:14-53 condition table)
# =====================================================================
# Synthetic ways from `part`: tag key/value picked by partkey arithmetic,
# closed-ness by p_size. Spark side evaluates the REAL map-typed column
# expression (way_is_polygon); the oracle encodes the expected decisions.

@register(
    "way_polygon",
    """
    WITH w AS (
      SELECT p_partkey, p_size,
             CASE p_partkey % 5 WHEN 0 THEN 'yes' WHEN 1 THEN 'no'
                  WHEN 2 THEN 'station' WHEN 3 THEN 'cutline'
                  ELSE 'services' END AS val
      FROM part)
    SELECT p_partkey,
           (p_size % 3 <> 0) AND (
             CASE WHEN p_partkey % 11 = 0
                  THEN p_partkey % 2 <> 0
                  ELSE CASE p_partkey % 7
                    WHEN 0 THEN val <> 'no'
                    WHEN 1 THEN val = 'station'
                    WHEN 2 THEN val <> 'no' AND val NOT IN ('cutline','embankment','pipeline')
                    WHEN 3 THEN val <> 'no'
                    WHEN 4 THEN val = 'services'
                    WHEN 5 THEN FALSE
                    ELSE val <> 'no'
                  END
             END) AS is_polygon
    FROM w
    """,
)
def q_way_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Way.Polygon() heuristic evaluated as one column expression over a
    map<string,string> tags column (polygon.go:14-53 + condition table)."""
    from osm_spark.functions.polygon import way_is_polygon

    part = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    key = (
        F.when(k % 7 == 0, "building")
        .when(k % 7 == 1, "railway")
        .when(k % 7 == 2, "man_made")
        .when(k % 7 == 3, "natural")
        .when(k % 7 == 4, "highway")
        .when(k % 7 == 5, "waterway")
        .otherwise("tourism")
    )
    val = (
        F.when(k % 5 == 0, "yes")
        .when(k % 5 == 1, "no")
        .when(k % 5 == 2, "station")
        .when(k % 5 == 3, "cutline")
        .otherwise("services")
    )
    tags = F.when(
        k % 11 == 0,
        F.map_concat(
            F.create_map(key, val),
            F.create_map(F.lit("area"), F.when(k % 2 == 0, "no").otherwise("yes")),
        ),
    ).otherwise(F.create_map(key, val))
    closed_refs = F.expr(
        "array(struct(1L as ref),struct(2L as ref),struct(3L as ref),struct(1L as ref))"
    )
    open_refs = F.expr(
        "array(struct(1L as ref),struct(2L as ref),struct(3L as ref),struct(4L as ref))"
    )
    nodes = F.when(F.col("p_size") % 3 != 0, closed_refs).otherwise(open_refs)
    return part.select(
        "p_partkey",
        way_is_polygon(nodes, tags).alias("is_polygon"),
    )


# =====================================================================
# Aggregations (SURVEY §2.4 — planet stats, rollups)
# =====================================================================

@register(
    "planet_stats",
    """
    SELECT l_returnflag AS flag, count(*) AS n,
           min(epoch_us(l_shipdate)) AS min_ship_us,
           max(epoch_us(l_shipdate)) AS max_ship_us,
           CAST(max(CAST(l_quantity AS BIGINT) * 10000000 + l_orderkey) AS BIGINT)
             AS qty_argmax
    FROM lineitem GROUP BY 1
    """,
)
def q_planet_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planet-stats style scan+aggregate (osmpbf/example_stats_test.go:
    16-195): counts, min/max, deterministic argmax via composite key
    (ties on quantity resolved by orderkey — max_by alone is
    nondeterministic on ties in BOTH engines)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").alias("n"),
        F.min(_us("l_shipdate")).alias("min_ship_us"),
        F.max(_us("l_shipdate")).alias("max_ship_us"),
        F.max(
            F.col("l_quantity").cast("long") * 10000000 + F.col("l_orderkey")
        ).alias("qty_argmax"),
    )


@register(
    "q1_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1997-09-02 00:00:00'
    GROUP BY 1, 2
    """,
)
def q_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — partial-agg + single shuffle.
    Money terms quantized to cents BEFORE summing so the distributed
    (unordered) sum is exact and order-independent."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1997-09-02 00:00:00").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(F.floor(F.col("l_extendedprice") * 100)).alias("sum_base_cents"),
        F.sum(F.floor(disc * 100)).alias("sum_disc_cents"),
        F.sum(F.floor(charge * 100)).alias("sum_charge_cents"),
        F.count("*").alias("n"),
    )


# =====================================================================
# Window functions (SURVEY §2.5 — version indexing, lag/lead)
# =====================================================================

@register(
    "version_index",
    """
    SELECT event_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
                AS INT) AS vidx
    FROM events
    """,
)
def q_version_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VersionIndex assignment (annotate/datasource.go:114-149):
    0-based rank within each element's history."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", (F.row_number().over(w) - 1).cast("int").alias("vidx")
    )


@register(
    "prev_version",
    """
    SELECT event_id,
           lag(event_id) OVER w AS prev_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_prev_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """findPrevious* (annotate/change.go:187-275) as window lag."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = _us("ts")
    return ev.select(
        "event_id",
        F.lag("event_id").over(w).alias("prev_id"),
        (us - F.lag(us).over(w)).alias("gap_us"),
    )


@register(
    "updates_upto",
    """
    SELECT user_id, count(*) AS n,
           min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
    FROM events
    WHERE ts <= TIMESTAMP '2024-06-01 00:00:00'
    GROUP BY 1
    """,
)
def q_updates_upto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Updates.UpTo(t) (update.go:36-48): history filtered to ts<=t,
    summarized per element."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts") <= F.lit("2024-06-01 00:00:00").cast("timestamp")
    )
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.min(_us("ts")).alias("first_us"),
        F.max(_us("ts")).alias("last_us"),
    )


# =====================================================================
# Set operations (SURVEY §2.7 — Change create/modify/delete merge)
# =====================================================================

@register(
    "change_merge",
    """
    SELECT event_id, 'create' AS action, TRUE AS visible
    FROM events WHERE event_type = 'signup'
    UNION ALL
    SELECT event_id, 'modify', TRUE
    FROM events WHERE event_type IN ('purchase','click','view')
    UNION ALL
    SELECT event_id, 'delete', FALSE
    FROM events WHERE event_type = 'error'
    """,
)
def q_change_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """osm.Change merge (change.go:10-62): create/modify/delete
    sub-documents unioned with forced Visible true/true/false."""
    ev = _t(spark, sf_dir, "events")
    create = ev.filter(F.col("event_type") == "signup").select(
        "event_id", F.lit("create").alias("action"), F.lit(True).alias("visible")
    )
    modify = ev.filter(
        F.col("event_type").isin("purchase", "click", "view")
    ).select("event_id", F.lit("modify").alias("action"), F.lit(True).alias("visible"))
    delete = ev.filter(F.col("event_type") == "error").select(
        "event_id", F.lit("delete").alias("action"), F.lit(False).alias("visible")
    )
    return create.unionByName(modify).unionByName(delete)


# =====================================================================
# Geometry aggregations (SURVEY §2.4 — way centroid, ring orientation)
# =====================================================================
# "Ways" modeled as per-nation customer point sequences (ordered by
# custkey). Weighted terms are quantized to int64 BEFORE the group sum
# so the distributed aggregation is exact and order-free.

from osm_spark.geo import distance as _dist

_CUST_PTS_SQL = """
    pts AS (
      SELECT c_nationkey, c_custkey,
             CAST(c_custkey * 6151 % 140000 AS DOUBLE) / 1000.0 - 70.0 AS lat,
             CAST(c_custkey * 9277 % 340000 AS DOUBLE) / 1000.0 - 170.0 AS lon
      FROM customer)
"""

@register(
    "way_linestring",
    f"""
    WITH {_CUST_PTS_SQL}
    SELECT c_nationkey AS way_id,
           CAST(row_number() OVER (PARTITION BY c_nationkey
                                   ORDER BY c_custkey) - 1 AS INT) AS pos,
           CAST(floor(lon * 1000000.0) AS BIGINT) AS lon_e6,
           CAST(floor(lat * 1000000.0) AS BIGINT) AS lat_e6,
           (c_nationkey % 2 = 0) AS tainted
    FROM pts
    """,
)
def q_way_linestring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Way-geometry resolution (wayToLineString, convert.go:185-199):
    posexplode the way's node refs -> hash join the nodes table ->
    array_sort(collect_list) back into an ordered line. Unresolvable
    refs (here: a bogus trailing ref on even ways) are skipped and mark
    the way tainted (convert.go:167,189 nil-point skip)."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    nodes = cust.select(
        k.alias("ref"),
        ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0).alias("lat"),
        ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0).alias("lon"),
    )
    ways = (
        cust.groupBy(F.col("c_nationkey").alias("way_id"))
        .agg(F.array_sort(F.collect_list(k)).alias("refs"))
        .select(
            "way_id",
            # even ways get a trailing ref that resolves to nothing
            F.when(
                F.col("way_id") % 2 == 0,
                F.concat("refs", F.array(F.lit(-1).cast("long"))),
            )
            .otherwise(F.col("refs"))
            .alias("refs"),
        )
    )
    slots = ways.select("way_id", F.posexplode("refs").alias("pos", "ref"))
    resolved = slots.join(nodes, "ref", "left")
    lines = (
        resolved.groupBy("way_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("lat").isNotNull(),
                        F.struct("pos", "lon", "lat"),
                    )
                )
            ).alias("line"),
            F.max(F.col("lat").isNull()).alias("tainted"),
        )
    )
    return lines.select(
        "way_id",
        F.posexplode(F.transform("line", lambda p: F.struct(p["lon"], p["lat"]))).alias(
            "pos", "p"
        ),
        "tainted",
    ).select(
        "way_id",
        F.col("pos").cast("int").alias("pos"),
        F.floor(F.col("p.lon") * 1e6).cast("long").alias("lon_e6"),
        F.floor(F.col("p.lat") * 1e6).cast("long").alias("lat_e6"),
        "tainted",
    )


@register(
    "relation_membership",
    """
    SELECT c.c_custkey AS ref, s.s_suppkey AS rel_id,
           CASE (c.c_custkey + s.s_suppkey) % 3 WHEN 0 THEN 'outer'
                WHEN 1 THEN 'inner' ELSE '' END AS role
    FROM customer c
    JOIN supplier s ON s.s_suppkey = c.c_custkey % 100
    WHERE c.c_custkey % 4 = 1
    """,
)
def q_relation_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation-membership map (convert.go:60-90): explode relation
    members, broadcast-join back onto the feature table — features get
    the list of relations that reference them."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    members = supp.select(
        k.alias("rel_id"),
        F.explode(F.array(F.struct(k.alias("ref")))).alias("m"),
    ).select("rel_id", F.col("m.ref").alias("ref_key"))
    features = cust.where(F.col("c_custkey") % 4 == 1).select(
        F.col("c_custkey").alias("ref")
    )
    joined = features.join(
        F.broadcast(members), features["ref"] % 100 == members["ref_key"]
    )
    role = (
        F.when((F.col("ref") + F.col("rel_id")) % 3 == 0, "outer")
        .when((F.col("ref") + F.col("rel_id")) % 3 == 1, "inner")
        .otherwise("")
    )
    return joined.select("ref", "rel_id", role.alias("role"))


_LSAT_T = "2024-01-01 00:03:00"

@register(
    "linestring_at",
    f"""
    WITH {_CUST_PTS_SQL},
    slots AS (
      SELECT c_nationkey AS way_id, c_custkey AS ck,
             CAST(row_number() OVER (PARTITION BY c_nationkey
                                     ORDER BY c_custkey) - 1 AS INT) AS pos,
             CASE WHEN c_custkey % 7 = 0 THEN 0.0 ELSE lat END AS lat0,
             CASE WHEN c_custkey % 7 = 0 THEN 0.0 ELSE lon END AS lon0,
             lat AS tlat, lon AS tlon
      FROM pts),
    upd AS (
      SELECT way_id, pos,
             TIMESTAMP '2024-01-01 00:00:00'
               + (ck % 5) * INTERVAL 1 MINUTE AS uts,
             tlat + 0.01 AS ulat, tlon + 0.01 AS ulon
      FROM slots WHERE ck % 3 = 0),
    last_upd AS (
      SELECT way_id, pos, max_by(ulat, uts) AS ulat, max_by(ulon, uts) AS ulon
      FROM upd WHERE uts <= TIMESTAMP '{_LSAT_T}' GROUP BY 1, 2),
    applied AS (
      SELECT s.way_id, s.pos,
             coalesce(u.ulat, s.lat0) AS lat, coalesce(u.ulon, s.lon0) AS lon
      FROM slots s LEFT JOIN last_upd u
        ON u.way_id = s.way_id AND u.pos = s.pos),
    kept AS (SELECT * FROM applied WHERE lat <> 0.0 OR lon <> 0.0)
    SELECT way_id,
           CAST(row_number() OVER (PARTITION BY way_id ORDER BY pos) - 1
                AS INT) AS pos,
           CAST(floor(lon * 1000000.0) AS BIGINT) AS lon_e6,
           CAST(floor(lat * 1000000.0) AS BIGINT) AS lat_e6
    FROM kept
    """,
)
def q_linestring_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LineStringAt(t) (way.go:118-148,166-198): apply child updates with
    ts <= t in timestamp order onto the annotated node slots (last write
    per slot wins), then drop never-annotated (0,0) sentinel slots and
    compact positions. Zero slots touched by an in-window update become
    visible — sentinel semantics, not null semantics."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    w = Window.partitionBy("way_id").orderBy("ck")
    pts = cust.select(
        F.col("c_nationkey").alias("way_id"),
        k.alias("ck"),
        ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0).alias("tlat"),
        ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0).alias("tlon"),
    )
    ck = F.col("ck")
    slots = pts.select(
        "way_id",
        "ck",
        (F.row_number().over(w) - 1).cast("int").alias("pos"),
        F.when(ck % 7 == 0, 0.0).otherwise(F.col("tlat")).alias("lat0"),
        F.when(ck % 7 == 0, 0.0).otherwise(F.col("tlon")).alias("lon0"),
        "tlat",
        "tlon",
    )
    t0 = F.lit("2024-01-01 00:00:00").cast("timestamp")
    upd = slots.where(ck % 3 == 0).select(
        "way_id",
        "pos",
        (t0 + F.make_interval(mins=(ck % 5).cast("int"))).alias("uts"),
        (F.col("tlat") + 0.01).alias("ulat"),
        (F.col("tlon") + 0.01).alias("ulon"),
    )
    last_upd = (
        upd.where(F.col("uts") <= F.lit(_LSAT_T).cast("timestamp"))
        .groupBy("way_id", "pos")
        .agg(
            F.max_by("ulat", "uts").alias("ulat"),
            F.max_by("ulon", "uts").alias("ulon"),
        )
    )
    applied = slots.join(last_upd, ["way_id", "pos"], "left").select(
        "way_id",
        "pos",
        F.coalesce("ulat", "lat0").alias("lat"),
        F.coalesce("ulon", "lon0").alias("lon"),
    )
    kept = applied.where((F.col("lat") != 0.0) | (F.col("lon") != 0.0))
    wk = Window.partitionBy("way_id").orderBy("pos")
    return kept.select(
        "way_id",
        (F.row_number().over(wk) - 1).cast("int").alias("pos"),
        F.floor(F.col("lon") * 1e6).cast("long").alias("lon_e6"),
        F.floor(F.col("lat") * 1e6).cast("long").alias("lat_e6"),
    )


_HAV = _dist.haversine_m_sql("lat", "lon", "lat2", "lon2")

@register(
    "way_centroid",
    f"""
    WITH {_CUST_PTS_SQL},
    seg AS (
      SELECT c_nationkey, lat, lon,
             lead(lat) OVER w AS lat2, lead(lon) OVER w AS lon2
      FROM pts WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey)),
    t AS (
      SELECT c_nationkey,
             CAST(floor((lat + lat2) / 2.0 * {_HAV} * 1000.0) AS BIGINT) AS wlat,
             CAST(floor((lon + lon2) / 2.0 * {_HAV} * 1000.0) AS BIGINT) AS wlon,
             CAST(floor({_HAV} * 1000.0) AS BIGINT) AS w
      FROM seg WHERE lat2 IS NOT NULL)
    SELECT c_nationkey,
           CAST(sum(wlat) AS BIGINT) AS sum_wlat,
           CAST(sum(wlon) AS BIGINT) AS sum_wlon,
           CAST(sum(w) AS BIGINT) AS sum_w
    FROM t GROUP BY 1
    """,
)
def q_way_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted segment-midpoint centroid (annotate/geo.go:31-53):
    consecutive pairs via window lead, haversine weights (orb
    geo.Distance), exact int64-quantized sums."""
    from pyspark.sql import Window

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        "c_nationkey",
        "c_custkey",
        ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0).alias("lat"),
        ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0).alias("lon"),
    )
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    seg = pts.select(
        "c_nationkey",
        "lat",
        "lon",
        F.lead("lat").over(w).alias("lat2"),
        F.lead("lon").over(w).alias("lon2"),
    ).filter(F.col("lat2").isNotNull())
    d = _dist.haversine_m("lat", "lon", "lat2", "lon2")
    t = seg.select(
        "c_nationkey",
        F.floor((F.col("lat") + F.col("lat2")) / 2.0 * d * 1000.0).alias("wlat"),
        F.floor((F.col("lon") + F.col("lon2")) / 2.0 * d * 1000.0).alias("wlon"),
        F.floor(d * 1000.0).alias("w"),
    )
    return t.groupBy("c_nationkey").agg(
        F.sum("wlat").alias("sum_wlat"),
        F.sum("wlon").alias("sum_wlon"),
        F.sum("w").alias("sum_w"),
    )


@register(
    "ring_orientation",
    f"""
    WITH {_CUST_PTS_SQL},
    o AS (
      SELECT c_nationkey, lat, lon,
             first_value(lat) OVER w AS olat, first_value(lon) OVER w AS olon,
             lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
      FROM pts WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey)),
    t AS (
      SELECT c_nationkey,
             CAST(floor(((coalesce(plon, lon) - olon) * (lat - olat)
                       - (lon - olon) * (coalesce(plat, lat) - olat)) * 1000000.0)
                  AS BIGINT) AS term
      FROM o)
    SELECT c_nationkey,
           CASE WHEN sum(term) > 0 THEN 1 ELSE -1 END AS orient,
           CAST(sum(term) AS BIGINT) AS area2_e6
    FROM t GROUP BY 1
    """,
)
def q_ring_orientation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shoelace orientation with origin offset (mputil.go:104-124):
    area += (prev-o) x (p-o); CCW if positive. Terms int64-quantized for
    an exact unordered sum."""
    from pyspark.sql import Window

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        "c_nationkey",
        "c_custkey",
        ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0).alias("lat"),
        ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0).alias("lon"),
    )
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    o = pts.select(
        "c_nationkey",
        "lat",
        "lon",
        F.first("lat").over(w).alias("olat"),
        F.first("lon").over(w).alias("olon"),
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    )
    term = F.floor(
        (
            (F.coalesce("plon", "lon") - F.col("olon")) * (F.col("lat") - F.col("olat"))
            - (F.col("lon") - F.col("olon")) * (F.coalesce("plat", "lat") - F.col("olat"))
        )
        * 1000000.0
    )
    return o.select("c_nationkey", term.alias("term")).groupBy("c_nationkey").agg(
        F.when(F.sum("term") > 0, 1).otherwise(-1).alias("orient"),
        F.sum("term").alias("area2_e6"),
    )


# =====================================================================
# Training-data text ops: dedup / quality / lang-id / fingerprints
# =====================================================================

from osm_spark.text import dedup as _dd
from osm_spark.text import quality as _q

# deterministic near/exact-dup injection shared by both engines
_DOCS2_SQL = """
    docs2 AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 200000, text || ' zz9 extra tail' FROM documents
      WHERE doc_id % 10 = 0)
"""


def _docs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the seed parquet is a single split; spread the corpus before the
    # md5/shingle-heavy stages or they run in one task
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(32, "doc_id")
    )
    dup = d.filter(F.col("doc_id") % 10 == 0)
    return (
        d.unionByName(dup.select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
        .unionByName(
            dup.select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat("text", F.lit(" zz9 extra tail")).alias("text"),
            )
        )
    )


@register(
    "dedup_exact",
    f"""
    WITH {_DOCS2_SQL}
    SELECT md5(text) AS digest, count(*) AS n, min(doc_id) AS keep_id
    FROM docs2 GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-digest hash groupBy, keeper = min id."""
    return _dd.exact_dedup(_docs2(spark, sf_dir))


_NGRAM_CAP = 150

_NGRAM_ORACLE = f"""
WITH {_DOCS2_SQL},
d AS (
  SELECT doc_id, text, CAST(floor(len(text) / 32.0) AS BIGINT) AS blk
  FROM docs2 WHERE doc_id % 5 = 0),
keyed0 AS (SELECT doc_id, blk, unnest([blk, blk + 1]) AS key FROM d),
ok AS (SELECT key FROM keyed0 GROUP BY key HAVING count(*) <= {_NGRAM_CAP}),
keyed AS (SELECT keyed0.* FROM keyed0 JOIN ok USING (key)),
shl AS (SELECT doc_id, {_dd.char_shingles_sql('text', 4)} AS sh FROM d),
sizes AS (SELECT doc_id, len(sh) AS ns FROM shl),
grams AS (SELECT doc_id, unnest(sh) AS g FROM shl),
sh AS (
  SELECT k.doc_id, k.blk, k.key, e.g
  FROM keyed k JOIN grams e ON e.doc_id = k.doc_id),
cand AS (
  SELECT l.doc_id AS a, r.doc_id AS b
  FROM keyed l JOIN keyed r
    ON l.key = r.key AND l.doc_id < r.doc_id
   AND l.key = greatest(l.blk, r.blk)),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
  FROM sh x JOIN sh y
    ON x.key = y.key AND x.g = y.g AND x.doc_id < y.doc_id
   AND x.key = greatest(x.blk, y.blk)
  GROUP BY 1, 2)
SELECT c.a, c.b,
       CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
       CAST(sa.ns + sb.ns - coalesce(i.inter, 0) AS BIGINT) AS uni
FROM cand c
LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
JOIN sizes sa ON sa.doc_id = c.a
JOIN sizes sb ON sb.doc_id = c.b
"""


@register("ngram_jaccard", _NGRAM_ORACLE)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-4-gram Jaccard near-dup with OVERLAPPING length-bucket
    blocking (keys {blk, blk+1}; pair counted once under
    key = greatest(blk_a, blk_b)) + an explicit per-key member cap
    mirrored in the oracle (text/dedup.py ngram_jaccard_pairs). Exact
    inter/union over distinct grams via an exploded equi-join — all JVM,
    AQE splits hot grams."""
    docs = _docs2(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    return _dd.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=4, block_len=32, max_block=_NGRAM_CAP
    )


_SH3 = _dd.shingles_sql("text", 3)
_SIG_COLS = ",\n           ".join(
    f"min(substr(md5('{i // 4}|' || sh), {(i % 4) * 8 + 1}, 8)) AS s{i}"
    for i in range(8)
)
_BANDS_SQL = "\n      UNION ALL\n      ".join(
    f"SELECT doc_id, {b} AS band, s{2*b} || '|' || s{2*b+1} AS band_key FROM sig"
    for b in range(4)
)

@register(
    "minhash_lsh",
    f"""
    WITH {_DOCS2_SQL},
    sh AS (SELECT doc_id, unnest({_SH3}) AS sh FROM docs2),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY 1),
    bands AS ({_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
    shd AS (SELECT DISTINCT doc_id, sh FROM sh),
    inter AS (
      SELECT c.a, c.b, count(*) AS inter
      FROM cand c
      JOIN shd x ON x.doc_id = c.a
      JOIN shd y ON y.doc_id = c.b AND y.sh = x.sh
      GROUP BY 1, 2),
    sizes AS (SELECT doc_id, count(DISTINCT sh) AS ns FROM sh GROUP BY 1)
    SELECT c.a, c.b,
           CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
           CAST(sa.ns + sb.ns - coalesce(i.inter, 0) AS BIGINT) AS uni
    FROM cand c
    LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
    JOIN sizes sa ON sa.doc_id = c.a
    JOIN sizes sb ON sb.doc_id = c.b
    """,
)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8) -> LSH(4 bands x 2 rows) -> candidate pairs -> exact
    shingle-jaccard verification. The full near-dup pipeline."""
    docs = _docs2(spark, sf_dir)
    # cache the two expensive intermediates: the signature feeds 4 band
    # projections, the shingle sets feed both sides of the pair join
    sig = _persist(_dd.minhash_signature(docs, "doc_id", "text", k=8))
    sh = _persist(
        docs.select(
            F.col("doc_id"), F.array_distinct(_dd.shingles("text")).alias("sh")
        )
    )
    cand = _dd.lsh_candidates(sig, "doc_id", k=8, rows_per_band=2)
    jac = _dd.pair_jaccard(docs, cand, "doc_id", "text", shingle_df=sh)
    return jac.select(
        "a", "b", F.col("inter").cast("long").alias("inter"),
        F.col("uni").cast("long").alias("uni"),
    )


@register(
    "token_quality",
    """
    WITH m AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tok,
             length(text) AS n_chars,
             (length(text) - length(replace(text, '.', '')))
               + (length(text) - length(replace(text, ',', ''))) AS n_punct,
             len(list_filter(string_split(text, ' '),
                 w -> w IN ('the','a','of','and','to'))) AS n_stop
      FROM documents)
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_punct AS BIGINT) AS n_punct, CAST(n_stop AS BIGINT) AS n_stop,
           CAST(floor((0.5 * least(1.0, CAST(n_tok AS DOUBLE) / 100.0)
                 + 0.3 * (CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE)) * 5.0
                 + 0.2 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)))
                 * 1000000.0) AS BIGINT) AS score_e6
    FROM m
    """,
)
def q_token_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + punctuation/stopword ratios + composite quality
    score (single narrow scan-project, no shuffle)."""
    out = _q.quality_metrics(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_punct").cast("long").alias("n_punct"),
        F.col("n_stop").cast("long").alias("n_stop"),
        "score_e6",
    )


_LANG_COUNTS = ",\n           ".join(
    "len(list_filter(string_split(text, ' '), w -> w IN ({}))) AS c_{}".format(
        ",".join(f"'{m}'" for m in _q.LANG_MARKERS[lang]), lang
    )
    for lang in _q.LANG_ORDER
)

@register(
    "lang_id",
    f"""
    WITH m AS (SELECT doc_id, {_LANG_COUNTS} FROM documents)
    SELECT doc_id,
           CASE
             WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
             WHEN c_de > 0 AND c_de > c_en AND c_de >= c_fr AND c_de >= c_es THEN 'de'
             WHEN c_fr > 0 AND c_fr > c_en AND c_fr > c_de AND c_fr >= c_es THEN 'fr'
             WHEN c_es > 0 AND c_es > c_en AND c_es > c_de AND c_es > c_fr THEN 'es'
             ELSE 'und'
           END AS pred_lang,
           CAST(c_en AS BIGINT) AS c_en, CAST(c_de AS BIGINT) AS c_de,
           CAST(c_fr AS BIGINT) AS c_fr, CAST(c_es AS BIGINT) AS c_es
    FROM m
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword-marker language id with deterministic tie-break."""
    out = _q.lang_id(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select(
        "doc_id",
        "pred_lang",
        *[F.col(f"c_{l}").cast("long").alias(f"c_{l}") for l in _q.LANG_ORDER],
    )


_NIBS = ",\n           ".join(
    f"strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1 AS n{i}" for i in range(4)
)
_VOTES = ",\n           ".join(
    f"sum((CAST(floor(n{b // 4} / {1 << (b % 4)}) AS BIGINT) % 2) * 2 - 1) AS v{b}"
    for b in range(16)
)
_SIMSUM = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))

@register(
    "simhash",
    f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    hs AS (SELECT doc_id, md5(t) AS h FROM tok),
    nib AS (SELECT doc_id, {_NIBS} FROM hs),
    votes AS (SELECT doc_id, {_VOTES} FROM nib GROUP BY 1)
    SELECT doc_id, CAST({_SIMSUM} AS BIGINT) AS simhash FROM votes
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash from md5-nibble token hashes (column HOFs only)."""
    out = _dd.simhash16(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select("doc_id", F.col("simhash").cast("long").alias("simhash"))


_SH5 = _dd.shingles_sql("text", 5)

@register(
    "doc_fingerprint",
    f"""
    WITH s AS MATERIALIZED (SELECT doc_id, {_SH5} AS sh FROM documents),
    -- MATERIALIZED: inlined, DuckDB re-evaluates the split-per-element
    -- access O(n^2) per doc (measured 12.2s vs 0.27s at sf0.01)
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(sh) + 1),
                    i -> {{'pos': i - 1, 'g': sh[i]}})) AS u
      FROM s),
    p AS (SELECT doc_id, (u).pos % 4 AS bucket, md5((u).g) AS h FROM g)
    SELECT doc_id, CAST(bucket AS INT) AS bucket, min(h) AS fp
    FROM p GROUP BY 1, 2
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprints: min 5-gram digest per position
    bucket (rolling-hash document sketch)."""
    out = _q.fingerprints(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select("doc_id", F.col("bucket").cast("int").alias("bucket"), "fp")


# =====================================================================
# Embedding similarity search
# =====================================================================

from osm_spark.similarity import ann as _ann

@register(
    "embedding_topk",
    """
    WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    q AS (SELECT * FROM c WHERE vec_id < 10),
    s AS (SELECT q.vec_id AS q, c.vec_id AS neighbor,
                 list_dot_product(q.e, c.e)
                   / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))) AS cos
          FROM q, c WHERE c.vec_id <> q.vec_id),
    r AS (SELECT q, neighbor,
                 CAST(row_number() OVER (PARTITION BY q ORDER BY cos DESC, neighbor) AS INT) AS rank
          FROM s)
    SELECT q, rank, neighbor FROM r WHERE rank <= 5
    """,
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 10 query vectors: queries broadcast,
    numpy matmul per Arrow batch, rank-only output (float-robust)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id") < 10).collect()
    ]
    return _ann.brute_force_topk(emb, queries, k=5)


def _plane_sql_literal(plane: list[float]) -> str:
    return "[" + ", ".join(f"{v!r}" for v in plane) + "]"


_PLANES = _ann.hyperplanes(8, 64)
_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(e, {_plane_sql_literal(p)}) > 0 THEN {1 << i} ELSE 0 END)"
    for i, p in enumerate(_PLANES)
)

@register(
    "embedding_lsh_bucket",
    f"""
    WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings)
    SELECT vec_id, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM c
    """,
)
def q_embedding_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketing with deterministic integer hyperplanes — the
    scale path that replaces all-pairs scoring with a bucket equi-join."""
    out = _ann.random_hyperplane_bucket(_t(spark, sf_dir, "embeddings"), dim=64)
    return out.select("vec_id", F.col("bucket").cast("long").alias("bucket"))


_IVF_BASE = """
    c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS ce FROM c WHERE vec_id < 16),
    s AS (SELECT c.vec_id, cent.cid, list_dot_product(c.e, cent.ce) AS dot
          FROM c, cent),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, cid DESC) AS rn
        FROM s) WHERE rn = 1)
"""


def _ivf_centroids(spark: SparkSession, sf_dir: str):
    emb = _t(spark, sf_dir, "embeddings")
    return [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id") < 16).collect()
    ]


@register(
    "ivf_assign",
    f"""
    WITH {_IVF_BASE}
    SELECT vec_id, CAST(cid AS BIGINT) AS cell FROM assign
    """,
)
def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantizer: argmax-dot assignment to 16 deterministic
    centroids (vec_id<16 standing in for k-means output) via struct-max
    — the cell id is the bucketing key of the probe-limited ANN path.
    Dot folds are bit-identical across engines, so cell ids match
    exactly."""
    from osm_spark.similarity.ann import ivf_assign

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_assign(emb, _ivf_centroids(spark, sf_dir))


@register(
    "ivf_topk",
    f"""
    WITH {_IVF_BASE},
    q AS (SELECT vec_id AS qid, e AS qe FROM c WHERE vec_id < 5),
    qcells AS (
      SELECT qid, cid FROM (
        SELECT q.qid, cent.cid,
               row_number() OVER (PARTITION BY q.qid
                                  ORDER BY list_dot_product(q.qe, cent.ce) DESC,
                                           cent.cid DESC) AS rn
        FROM q, cent) WHERE rn <= 2),
    cand AS (
      SELECT q.qid, c.vec_id AS neighbor,
             list_dot_product(q.qe, c.e)
               / (sqrt(list_dot_product(q.qe, q.qe))
                  * sqrt(list_dot_product(c.e, c.e))) AS cos
      FROM qcells
      JOIN assign a ON a.cid = qcells.cid
      JOIN c ON c.vec_id = a.vec_id
      JOIN q ON q.qid = qcells.qid
      WHERE c.vec_id <> q.qid),
    r AS (SELECT qid AS q, neighbor,
                 CAST(row_number() OVER (PARTITION BY qid
                                         ORDER BY cos DESC, neighbor) AS INT)
                   AS rank
          FROM cand)
    SELECT q, rank, neighbor FROM r WHERE rank <= 3
    """,
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search: nprobe=2 best cells per query, brute-force
    cosine only inside the probed cells (a cell equi-join — the probed
    fraction replaces the all-pairs cross), rank-only top-3."""
    from osm_spark.similarity.ann import ivf_search

    emb = _t(spark, sf_dir, "embeddings")
    cents = _ivf_centroids(spark, sf_dir)
    queries = [(cid, vec) for cid, vec in cents if cid < 5]
    return ivf_search(emb, queries, cents, nprobe=2, k=3)


@register(
    "embedding_neardup",
    f"""
    WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    b AS (SELECT vec_id, e, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM c),
    cand AS (
      SELECT l.vec_id AS a, r.vec_id AS b, l.e AS ea, r.e AS eb
      FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
    SELECT a, b,
           CAST(floor(list_dot_product(ea, eb)
                 / (sqrt(list_dot_product(ea, ea))
                    * sqrt(list_dot_product(eb, eb))) * 1000000.0)
                AS BIGINT) AS cos_e6
    FROM cand
    WHERE list_dot_product(ea, eb)
          / (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb)))
          >= 0.0
    """,
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: sign-LSH bucket candidate pairs (the
    scale path — |docs| x planes shuffle, never all-pairs) -> exact
    cosine verification via the sequential left-to-right double fold,
    bit-identical in both engines. Pairs with cos >= 0 emitted with the
    quantized score."""
    from osm_spark.similarity import ann as _ann2

    emb = _t(spark, sf_dir, "embeddings")
    b = _ann2.random_hyperplane_bucket(emb, dim=64).join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    l = b.select(
        F.col("vec_id").alias("a"), "bucket", F.col("embedding").alias("ea")
    )
    r = b.select(
        F.col("vec_id").alias("b"), "bucket", F.col("embedding").alias("eb")
    )
    cand = l.join(r, "bucket").where(F.col("a") < F.col("b"))
    cos = _ann2.cosine_expr(F.col("ea"), F.col("eb"))
    return (
        cand.select("a", "b", cos.alias("cos"))
        .where(F.col("cos") >= 0.0)
        .select(
            "a", "b", F.floor(F.col("cos") * 1e6).cast("long").alias("cos_e6")
        )
    )


# =====================================================================
# Multipolygon assembly (SURVEY §3.3 — build_polygon + mputil.Join)
# =====================================================================
# Relations built from supplier rectangles: the outer ring arrives SPLIT
# INTO TWO WAY SEGMENTS (the second closing one), exercising the greedy
# endpoint join; the inner hole is a single CW ring assigned by ray-cast
# containment. The expected rings are fully predictable, so the oracle
# regenerates them point-by-point in SQL.

@register(
    "multipolygon_assembly",
    """
    WITH rect AS (
      SELECT s_suppkey AS rel_id,
             CAST(s_suppkey * 6151 % 140000 AS DOUBLE) / 1000.0 - 70.0 AS clat,
             CAST(s_suppkey * 9277 % 340000 AS DOUBLE) / 1000.0 - 170.0 AS clon,
             0.5 + CAST(s_suppkey % 7 AS DOUBLE) AS hlat,
             0.5 + CAST(s_suppkey % 11 AS DOUBLE) AS hlon
      FROM supplier WHERE s_suppkey < 20),
    c AS (
      SELECT rel_id,
             clat - hlat + 0.0005 AS lat0, clat + hlat + 0.0005 AS lat1,
             clon - hlon + 0.0005 AS lon0, clon + hlon + 0.0005 AS lon1,
             clat - hlat + 0.0005 + hlat / 2.0 AS ilat0,
             clat + hlat + 0.0005 - hlat / 2.0 AS ilat1,
             clon - hlon + 0.0005 + hlon / 2.0 AS ilon0,
             clon + hlon + 0.0005 - hlon / 2.0 AS ilon1
      FROM rect),
    pos(ring_idx, point_idx, code) AS (VALUES
      (0,0,'NE'),(0,1,'NW'),(0,2,'SW'),(0,3,'SE'),(0,4,'NE'),
      (1,0,'SWi'),(1,1,'NWi'),(1,2,'NEi'),(1,3,'SEi'),(1,4,'SWi'))
    SELECT c.rel_id, 0 AS poly_idx, p.ring_idx, p.point_idx,
           CAST(floor(CASE p.code
             WHEN 'NE' THEN lon1 WHEN 'NW' THEN lon0 WHEN 'SW' THEN lon0
             WHEN 'SE' THEN lon1 WHEN 'SWi' THEN ilon0 WHEN 'NWi' THEN ilon0
             WHEN 'NEi' THEN ilon1 WHEN 'SEi' THEN ilon1 END * 1000000.0)
             AS BIGINT) AS lon_e6,
           CAST(floor(CASE p.code
             WHEN 'NE' THEN lat1 WHEN 'NW' THEN lat1 WHEN 'SW' THEN lat0
             WHEN 'SE' THEN lat0 WHEN 'SWi' THEN ilat0 WHEN 'NWi' THEN ilat1
             WHEN 'NEi' THEN ilat1 WHEN 'SEi' THEN ilat0 END * 1000000.0)
             AS BIGINT) AS lat_e6
    FROM c, pos p
    """,
)
def q_multipolygon_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ring assembly through the real mapInArrow kernel:
    split outer segments joined greedily, inner hole assigned via
    ray-cast PIP, winding normalized (outer CCW, inner CW)."""
    from osm_spark.geom.assembly import assemble_multipolygons_df

    s = _t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") < 20)
    k = F.col("s_suppkey")
    clat = (k * 6151 % 140000).cast("double") / 1000.0 - 70.0
    clon = (k * 9277 % 340000).cast("double") / 1000.0 - 170.0
    hlat = F.lit(0.5) + (k % 7).cast("double")
    hlon = F.lit(0.5) + (k % 11).cast("double")
    lat0, lat1 = clat - hlat + 0.0005, clat + hlat + 0.0005
    lon0, lon1 = clon - hlon + 0.0005, clon + hlon + 0.0005
    ilat0, ilat1 = lat0 + hlat / 2.0, lat1 - hlat / 2.0
    ilon0, ilon1 = lon0 + hlon / 2.0, lon1 - hlon / 2.0

    def pt(lo, la):
        return F.struct(lo.alias("lon"), la.alias("lat"))

    base = s.select(
        k.alias("rel_id"),
        # outer split into two joinable segments: A=[SW,SE,NE], B=[NE,NW,SW]
        F.array(pt(lon0, lat0), pt(lon1, lat0), pt(lon1, lat1)).alias("lineA"),
        F.array(pt(lon1, lat1), pt(lon0, lat1), pt(lon0, lat0)).alias("lineB"),
        # inner hole, already CW: [SWi, NWi, NEi, SEi, SWi]
        F.array(
            pt(ilon0, ilat0), pt(ilon0, ilat1), pt(ilon1, ilat1),
            pt(ilon1, ilat0), pt(ilon0, ilat0),
        ).alias("lineC"),
    )
    mk_member = lambda ref, role: F.struct(
        F.lit("way").alias("type"), ref.alias("ref"), F.lit(role).alias("role"),
        F.lit(0).alias("orientation"),
    )
    rels = base.select(
        "rel_id",
        F.array(
            mk_member(F.col("rel_id") * 10 + 1, "outer"),
            mk_member(F.col("rel_id") * 10 + 2, "outer"),
            mk_member(F.col("rel_id") * 10 + 3, "inner"),
        ).alias("members"),
    )
    ways = (
        base.select((F.col("rel_id") * 10 + 1).alias("ref"), F.col("lineA").alias("line"))
        .unionByName(
            base.select((F.col("rel_id") * 10 + 2).alias("ref"), F.col("lineB").alias("line"))
        )
        .unionByName(
            base.select((F.col("rel_id") * 10 + 3).alias("ref"), F.col("lineC").alias("line"))
        )
    )
    rings = assemble_multipolygons_df(rels, ways)
    return rings.select(
        "rel_id",
        "poly_idx",
        "ring_idx",
        F.posexplode("ring").alias("point_idx", "p"),
    ).select(
        "rel_id",
        "poly_idx",
        "ring_idx",
        "point_idx",
        F.floor(F.col("p.lon") * 1e6).alias("lon_e6"),
        F.floor(F.col("p.lat") * 1e6).alias("lat_e6"),
    )


# =====================================================================
# kNN via cell k-ring expand-and-prune (SURVEY §7 step 6)
# =====================================================================

_KNN_HAV = _dist.haversine_m_sql(
    "q.clat", "q.clon", pages.GEO_LAT_SQL.replace("doc_id", "p.doc_id"),
    pages.GEO_LON_SQL.replace("doc_id", "p.doc_id"),
)

@register(
    "knn_kring",
    f"""
    WITH q AS (
      SELECT s_suppkey AS qid,
             CAST(s_suppkey * 6151 % 140000 AS DOUBLE) / 1000.0 - 70.0 AS clat,
             CAST(s_suppkey * 9277 % 340000 AS DOUBLE) / 1000.0 - 170.0 AS clon
      FROM supplier WHERE s_suppkey < 20),
    s AS (
      SELECT q.qid, p.doc_id AS neighbor,
             CAST(row_number() OVER (
               PARTITION BY q.qid ORDER BY {_KNN_HAV}, p.doc_id) AS INT) AS rank
      FROM q, documents p)
    SELECT qid, rank, neighbor FROM s WHERE rank <= 5
    """,
)
def q_knn_kring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ring kNN: corpus cell-indexed at z7, per-query ring expansion
    from a cell histogram, one broadcast equi-join + top-k — verified
    against exact brute force (the oracle)."""
    from osm_spark.geo.cells import knn_kring

    s = _t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") < 20)
    k = F.col("s_suppkey")
    queries = [
        (r.qid, r.clat, r.clon)
        for r in s.select(
            k.alias("qid"),
            ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0).alias("clat"),
            ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0).alias("clon"),
        ).collect()
    ]
    pts = pages.page_points(spark, sf_dir)
    out = knn_kring(pts, queries, k=5, zoom=7)
    return out.select("qid", "rank", "neighbor")


# =====================================================================
# Multimodal binary columns (decode plumbing; codec stubbed — see
# osm_spark/multimodal/media.py)
# =====================================================================

@register(
    "media_meta",
    """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
           CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height
    FROM documents
    """,
)
def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary media columns + typed metadata + (fake-)decoded
    dimensions through the real mapInPandas Arrow plumbing."""
    from osm_spark.multimodal.media import decode_features, media_from_documents

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    feats = decode_features(media)
    return (
        media.join(feats, "media_id")
        .select(
            "media_id",
            "kind",
            F.col("meta.n_bytes").alias("n_bytes"),
            "width",
            "height",
        )
    )


@register(
    "media_frame_sample",
    """
    WITH f AS (
      SELECT doc_id AS media_id,
             unnest(range(0, CAST(floor(length(text) / 64) AS BIGINT))) AS frame_idx
      FROM documents)
    SELECT f.media_id, CAST(f.frame_idx AS INT) AS frame_idx,
           md5(substr(d.text, CAST(f.frame_idx * 64 + 1 AS BIGINT), 64)) AS frame_md5
    FROM f JOIN documents d ON d.doc_id = f.media_id
    """,
)
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: fixed-stride binary slices per media row
    (video-frame stand-in); digests must match byte-for-byte (corpus is
    ASCII so the text oracle slices align)."""
    from osm_spark.multimodal.media import frame_sample, media_from_documents

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    frames = frame_sample(media, every_n_bytes=64)
    return frames.select(
        "media_id", "frame_idx", F.md5("frame_bytes").alias("frame_md5")
    )


# =====================================================================
# Iteration / graph: ChildFirstOrdering (annotate/order.go:21-167)
# =====================================================================
# Relation-membership DAG synthesized as the binary heap tree over the
# first 1000 order keys: parent k -> children 2k, 2k+1. The engine runs
# the real iterative frontier-join fixpoint; the oracle walks subtrees
# with a recursive CTE.

@register(
    "child_first_depth",
    """
    WITH nodes AS (
      -- id 0 excluded: 0*2 = 0 self-loop (the engine's walk is
      -- cycle-tolerant; a recursive-CTE oracle is not — and DuckDB's
      -- recursive CTE on this shape took minutes, so the oracle uses
      -- the closed form instead: with ids dense 1..max, the deepest
      -- descendant of id is its leftmost chain id*2^d, which exists
      -- iff id*2^d <= max)
      SELECT o_orderkey AS id FROM orders
      WHERE o_orderkey >= 1 AND o_orderkey < 1000),
    -- the closed form requires ids dense min..max; fail LOUDLY (not
    -- silently diverge) if the generator ever introduces gaps
    mx AS (
      SELECT CASE
        WHEN count(*) = max(id) - min(id) + 1 THEN max(id)
        ELSE CAST(error('child_first_depth oracle: ids not dense') AS BIGINT)
      END AS m FROM nodes),
    gens AS (SELECT unnest(range(0, 11)) AS d)
    SELECT n.id, CAST(max(g.d) AS INT) AS depth
    FROM nodes n, mx, gens g
    WHERE n.id * (1 << g.d) <= mx.m
    GROUP BY 1
    """,
)
def q_child_first_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Child-first processing depths via iterative frontier joins
    (the Spark realization of the reference's cycle-tolerant DFS)."""
    from osm_spark.plans.iterate import child_first_depths

    nodes = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderkey") >= 1) & (F.col("o_orderkey") < 1000))
        .select(F.col("o_orderkey").alias("id"))
    )
    e1 = nodes.select(F.col("id").alias("parent"), (F.col("id") * 2).alias("child"))
    e2 = nodes.select(
        F.col("id").alias("parent"), (F.col("id") * 2 + 1).alias("child")
    )
    ids = nodes.select(F.col("id").alias("child"))
    edges = e1.unionByName(e2).join(ids, "child")
    out = child_first_depths(nodes, edges)
    return out.select("id", F.col("depth").cast("int").alias("depth"))


# =====================================================================
# Replication batch kernel (SURVEY §2.9 — annotate/change.go semantics)
# =====================================================================
# State = latest pre-cutoff event version per user; batch = post-cutoff
# events as a replication change batch. Runs the REAL apply_change_batch
# kernel; the oracle mirrors the action derivation with window lag.

_REPL_CUTOFF = "2024-01-20 00:00:00"

def _repl_inputs(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = ev.withColumn("ver", F.row_number().over(w))
    cutoff = F.lit(_REPL_CUTOFF).cast("timestamp")
    base = ev.select(
        F.lit("node").alias("type"),
        F.col("user_id").alias("id"),
        F.col("ver").cast("int").alias("version"),
        (F.col("event_type") != "error").alias("visible"),
        F.col("event_id").alias("changeset"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").alias("lat"),
        (-F.col("value")).alias("lon"),
        F.col("ver").cast("long").alias("seq"),
        F.when(F.col("event_type") == "error", "delete")
        .otherwise("modify")
        .alias("action"),
        (F.col("ts") <= cutoff).alias("_is_state"),
    )
    from osm_spark.streaming.replication import latest_state

    state = latest_state(
        base.filter("_is_state").select(
            "type", "id", "version", "visible", "changeset", "ts", "lat", "lon"
        )
    )
    batch = base.filter(~F.col("_is_state")).select(
        "seq", "action", "type", "id", "version", "visible", "changeset",
        "ts", "lat", "lon",
    )
    return state, batch


_REPL_ORACLE_BASE = f"""
    ev AS (
      SELECT user_id, ts, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ver
      FROM events),
    state AS (
      SELECT user_id, max(ver) AS state_version
      FROM ev WHERE ts <= TIMESTAMP '{_REPL_CUTOFF}' GROUP BY 1),
    batch AS (
      SELECT user_id, ver, event_id, ts, (event_type = 'error') AS is_del,
             lag(ver) OVER (PARTITION BY user_id ORDER BY ver) AS prev_in_batch
      FROM ev WHERE ts > TIMESTAMP '{_REPL_CUTOFF}')
"""

@register(
    "history_group",
    """
    WITH ev AS (
      SELECT user_id AS id, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS ver
      FROM events)
    SELECT id,
           CAST(count(*) AS BIGINT) AS n_versions,
           CAST(min(ver) AS INT) AS first_version,
           CAST(max(ver) AS INT) AS last_version,
           max_by(event_id, ver) AS last_changeset
    FROM ev GROUP BY 1
    """,
)
def q_history_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HistoryDatasource.add grouping (datasource.go:27-70): elements
    grouped by id into a version-sorted history list; emitted as the
    list's summary (count, first/last version, last changeset) so the
    collect_list+array_sort layout is verified without array-typed
    oracle columns."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hist = (
        ev.withColumn("ver", F.row_number().over(w))
        .groupBy(F.col("user_id").alias("id"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ver", F.col("event_id").alias("cs")))
            ).alias("history")
        )
    )
    return hist.select(
        "id",
        F.size("history").cast("long").alias("n_versions"),
        F.col("history")[0]["ver"].cast("int").alias("first_version"),
        F.element_at("history", -1)["ver"].cast("int").alias("last_version"),
        F.element_at("history", -1)["cs"].alias("last_changeset"),
    )


@register(
    "osmapi_fetch",
    """
    WITH ev AS (
      SELECT user_id, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events)
    SELECT user_id AS id, value AS lat, -value AS lon,
           CAST(n AS INT) AS version, event_id AS changeset
    FROM ev WHERE rn = 1 AND user_id % 11 = 0
    """,
)
def q_osmapi_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OSM API source round-trip (sources/osmapi.py — the osmapi
    package's URL grammar + XML decode with a pluggable transport,
    datasource.go:28-101): latest-version nodes modeled from events
    render to OSM XML through the JVM codec, a fake transport serves
    them under the EXACT reference URL (node.go:49-58 multi-id form),
    and Datasource.nodes() fetches + re-parses via from_xml. The oracle
    computes the same nodes directly — the API hop (URL build, XML
    serialize, transport, XML parse) must be invisible. Doubles survive
    because Java's Double.toString/parseDouble round-trip exactly."""
    from osm_spark.functions.xml_codec import node_struct, node_to_xml
    from osm_spark.sources.osmapi import OsmApiDatasource

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("user_id")))
        .where((F.col("rn") == 1) & (F.col("user_id") % 11 == 0))
    )
    no_tags = F.array().cast("array<struct<k:string,v:string>>")
    rendered = latest.select(
        F.col("user_id").alias("id"),
        node_to_xml(
            node_struct(
                "user_id", F.col("value"), -F.col("value"),
                F.col("n").cast("int"), "event_id", no_tags,
            )
        ).alias("xml"),
    ).collect()  # parameter-sized probe set (|ids| ~ tens)

    ids = sorted(r["id"] for r in rendered)
    body = "<osm>" + "".join(r["xml"] for r in rendered) + "</osm>"
    ds = OsmApiDatasource(spark, lambda url: server[url])
    server = {ds.elements_url("node", ids): body.encode()}
    return ds.nodes(ids).select("id", "lat", "lon", "version", "changeset")


@register(
    "osmapi_notes",
    """
    WITH src AS (
      SELECT event_id AS id, value AS lat, -value / 2 AS lon,
             date_trunc('second', ts) AS created,
             (event_type = 'error') AS is_closed,
             user_id AS uid
      FROM events WHERE event_id % 97 = 0)
    SELECT id, lat, lon,
           CASE WHEN is_closed THEN 'closed' ELSE 'open' END AS status,
           epoch_us(created) AS created_us,
           CASE WHEN is_closed THEN epoch_us(created + INTERVAL 2 DAY)
                ELSE CAST(-1 AS BIGINT) END AS closed_us,
           CAST(CASE WHEN is_closed THEN 2 ELSE 1 END AS INT)
             AS n_comments,
           CASE WHEN is_closed THEN 'closed' ELSE 'opened' END
             AS last_action,
           uid AS last_uid
    FROM src
    """,
)
def q_osmapi_notes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Notes API round-trip (sources/osmapi.py notes — note.go:44-68
    bbox fetch + the Note XML shape of note.go:54-82 and its
    '2006-01-02 15:04:05 MST' Date codec, note.go:16-35): notes modeled
    from events render to the reference's notes XML (lat/lon
    attributes, child id/status/dates, ordered <comments> list — open
    notes carry the 'opened' comment, closed ones also the 'closed'
    comment), a fake transport serves the body under the EXACT
    notes_url grammar, and Datasource.notes() fetches + parses through
    one JVM from_xml. Doubles survive because the server renders them
    with Java Double.toString (Spark string cast) and from_xml
    parseDoubles them back. closed_us is -1 (not NULL) for open notes
    so neither engine's pandas bridge degrades the column to float64."""
    from osm_spark.sources.osmapi import OsmApiDatasource

    ev = _t(spark, sf_dir, "events")
    src = ev.where(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("id"),
        F.col("value").cast("string").alias("lat_s"),
        (-F.col("value") / 2).cast("string").alias("lon_s"),
        F.date_format(F.col("ts").cast("timestamp"),
                      "yyyy-MM-dd HH:mm:ss").alias("created_s"),
        F.date_format(
            F.col("ts").cast("timestamp") + F.expr("INTERVAL 2 DAYS"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("closed_s"),
        (F.col("event_type") == "error").alias("is_closed"),
        F.col("user_id").alias("uid"),
    ).collect()  # parameter-sized fixture set (~100 notes at sf0.01)

    def render(r) -> str:
        opened = (
            f"<comment><date>{r.created_s} UTC</date><uid>{r.uid}</uid>"
            f"<user>u{r.uid}</user><action>opened</action>"
            f"<text>note {r.id}</text></comment>"
        )
        closed = (
            f"<comment><date>{r.closed_s} UTC</date><uid>{r.uid}</uid>"
            f"<user>u{r.uid}</user><action>closed</action>"
            f"<text/></comment>"
            if r.is_closed else ""
        )
        date_closed = (
            f"<date_closed>{r.closed_s} UTC</date_closed>"
            if r.is_closed else ""
        )
        status = "closed" if r.is_closed else "open"
        return (
            f'<note lon="{r.lon_s}" lat="{r.lat_s}"><id>{r.id}</id>'
            f"<url>https://api.openstreetmap.org/api/0.6/notes/{r.id}"
            f"</url><date_created>{r.created_s} UTC</date_created>"
            f"<status>{status}</status>{date_closed}"
            f"<comments>{opened}{closed}</comments></note>"
        )

    body = "<osm>" + "".join(render(r) for r in src) + "</osm>"
    ds = OsmApiDatasource(spark, lambda url: server[url])
    server = {ds.notes_url(-180.0, -90.0, 180.0, 90.0): body.encode()}
    notes = ds.notes(-180.0, -90.0, 180.0, 90.0)
    return notes.select(
        "id", "lat", "lon", "status",
        F.unix_micros("created").alias("created_us"),
        F.coalesce(
            F.unix_micros("closed"), F.lit(-1).cast("long")
        ).alias("closed_us"),
        F.size("comments").cast("int").alias("n_comments"),
        F.element_at("comments", -1)["action"].alias("last_action"),
        F.element_at("comments", -1)["uid"].alias("last_uid"),
    )


@register(
    "changeset_feed_parse",
    """
    SELECT o_orderkey AS id, o_custkey AS uid,
           'u' || CAST(o_custkey AS VARCHAR) AS user,
           epoch_us(o_orderdate) AS created_us,
           epoch_us(o_orderdate + INTERVAL 1 DAY) AS closed_us,
           (o_orderstatus = 'O') AS open,
           CAST(o_orderkey % 50 AS INT) AS num_changes,
           o_totalprice / 100000 AS min_lat,
           o_totalprice / 100000 + 0.5 AS max_lat,
           -(o_totalprice / 100000) AS min_lon,
           CAST(2 AS INT) AS n_tags,
           o_orderpriority AS created_by
    FROM orders WHERE o_orderkey % 101 = 0
    """,
)
def q_changeset_feed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changeset feed decode (sources/osmapi.py _parse_changesets —
    the element shape of changeset.go:20-38 with ordered <tag>
    children, served as the replicate_changesets.rb feed of
    changeset_test.go:13-26 and by the API's changeset/<id> endpoint,
    changeset.go:17-46): changesets modeled from orders render to
    attribute-heavy XML (RFC3339 created_at/closed_at, bbox doubles via
    Java Double.toString) and parse back through one JVM from_xml into
    the typed frame. The oracle computes the same rows directly from
    orders — the XML hop must be invisible."""
    from osm_spark.sources.osmapi import OsmApiDatasource

    o = _t(spark, sf_dir, "orders")
    src = o.where(F.col("o_orderkey") % 101 == 0).select(
        F.col("o_orderkey").alias("id"),
        F.col("o_custkey").alias("uid"),
        F.date_format(F.col("o_orderdate").cast("timestamp"),
                      "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("created_s"),
        F.date_format(
            F.col("o_orderdate").cast("timestamp") + F.expr("INTERVAL 1 DAY"),
            "yyyy-MM-dd'T'HH:mm:ss'Z'",
        ).alias("closed_s"),
        (F.col("o_orderstatus") == "O").alias("open"),
        (F.col("o_orderkey") % 50).cast("int").alias("num_changes"),
        (F.col("o_totalprice") / 100000).cast("string").alias("minlat_s"),
        (F.col("o_totalprice") / 100000 + 0.5).cast("string").alias("maxlat_s"),
        (-(F.col("o_totalprice") / 100000)).cast("string").alias("minlon_s"),
        (-(F.col("o_totalprice") / 100000) + 0.5).cast("string").alias("maxlon_s"),
        F.col("o_orderpriority").alias("prio"),
    ).collect()  # parameter-sized fixture set (~150 changesets)

    def render(r) -> str:
        return (
            f'<changeset id="{r.id}" created_at="{r.created_s}" '
            f'closed_at="{r.closed_s}" open="{str(r.open).lower()}" '
            f'num_changes="{r.num_changes}" user="u{r.uid}" '
            f'uid="{r.uid}" min_lat="{r.minlat_s}" max_lat="{r.maxlat_s}" '
            f'min_lon="{r.minlon_s}" max_lon="{r.maxlon_s}">'
            f'<tag k="created_by" v="{r.prio}"/>'
            f'<tag k="bot" v="no"/></changeset>'
        )

    body = (
        '<osm version="0.6" generator="replicate_changesets.rb">'
        + "".join(render(r) for r in src) + "</osm>"
    )
    ds = OsmApiDatasource(spark)
    feed = ds.parse_changeset_feed(body)
    return feed.select(
        "id", "uid", "user",
        F.unix_micros("created_at").alias("created_us"),
        F.unix_micros("closed_at").alias("closed_us"),
        "open", "num_changes", "min_lat", "max_lat", "min_lon",
        F.size("tags").cast("int").alias("n_tags"),
        F.element_at("tags", 1)["v"].alias("created_by"),
    )


@register(
    "history_at",
    """
    WITH ev AS (
      SELECT user_id AS id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS ver,
             (event_type <> 'error') AS visible,
             event_id AS changeset, ts,
             CASE WHEN event_id % 3 = 0 THEN ts - INTERVAL 2 DAY END
               AS committed,
             value AS lat, -value AS lon
      FROM events),
    upto AS (
      SELECT * FROM ev
      WHERE coalesce(committed, ts) <= TIMESTAMP '2024-01-20 00:00:00'),
    last AS (
      SELECT *, row_number() OVER (PARTITION BY id ORDER BY ver DESC) AS rn
      FROM upto)
    SELECT id, CAST(ver AS INT) AS version, changeset, lat, lon
    FROM last WHERE rn = 1 AND visible
    """,
)
def q_history_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HistoryDatasource time travel (sources/history.py snapshot_at —
    the osmapi At(t) read, datasource.go:9-30 + node.go:65-71
    CommittedAt fallback): every element's visible version as of t over
    a modeled history where a third of the rows carry an explicit
    committed timestamp two days before ts (so coalesce(committed, ts)
    is actually exercised on both branches); deleted-at-t elements
    vanish. One window pass — the distributed form."""
    from osm_spark.sources.history import HistoryDatasource

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    elements = ev.withColumn("ver", F.row_number().over(w)).select(
        F.lit("node").alias("type"),
        F.col("user_id").alias("id"),
        F.col("ver").alias("version"),
        (F.col("event_type") != "error").alias("visible"),
        F.col("event_id").alias("changeset"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.when(
            F.col("event_id") % 3 == 0,
            F.col("ts").cast("timestamp") - F.expr("INTERVAL 2 DAYS"),
        ).alias("committed"),
        F.col("value").alias("lat"),
        (-F.col("value")).alias("lon"),
    )
    snap = HistoryDatasource(elements).snapshot_at("2024-01-20 00:00:00")
    return snap.select(
        "id", F.col("version").cast("int").alias("version"),
        "changeset", "lat", "lon",
    )


@register(
    "replication_seqnum_search",
    """
    WITH states AS (
      SELECT CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS seq, m
      FROM (SELECT DISTINCT date_trunc('minute', ts) AS m FROM events)),
    probes AS (SELECT event_id, ts FROM events WHERE event_id % 97 = 0)
    SELECT p.event_id,
           (SELECT max(s.seq) FROM states s WHERE s.m <= p.ts) AS seq
    FROM probes p
    """,
)
def q_replication_seqnum_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timestamp -> sequence-number search (replication/search.go:184-315
    searchTimestamp): the state-file index is tiny relative to the
    probes, so the binary search becomes a BROADCAST as-of lookup —
    probes range-join the broadcast state table on state_ts <= probe_ts,
    take max(seq). Probes before the first state resolve to NULL (the
    reference's not-found error)."""
    ev = _t(spark, sf_dir, "events")
    states = (
        ev.select(F.date_trunc("minute", "ts").alias("m"))
        .distinct()
        .select(
            F.row_number().over(Window.orderBy("m")).cast("long").alias("seq"),
            "m",
        )
    )
    probes = ev.where(F.col("event_id") % 97 == 0).select("event_id", "ts")
    return (
        probes.join(F.broadcast(states), states["m"] <= probes["ts"], "left")
        .groupBy("event_id")
        .agg(F.max("seq").alias("seq"))
    )


@register(
    "replication_actions",
    f"""
    WITH {_REPL_ORACLE_BASE}
    SELECT CAST(b.ver AS BIGINT) AS seq,
           CASE WHEN b.is_del THEN 'delete'
                WHEN coalesce(b.prev_in_batch, s.state_version) IS NULL THEN 'create'
                ELSE 'modify' END AS action,
           b.user_id AS id,
           CAST(b.ver AS INT) AS new_version,
           CAST(coalesce(b.prev_in_batch, s.state_version) AS INT) AS old_version,
           NOT b.is_del AS visible
    FROM batch b LEFT JOIN state s ON s.user_id = b.user_id
    """,
)
def q_replication_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One replication batch through apply_change_batch: diff actions
    with old/new version pairs (annotate/change.go:15-185 semantics)."""
    from osm_spark.streaming.replication import apply_change_batch

    state, batch = _repl_inputs(spark, sf_dir)
    actions, _ = apply_change_batch(state, batch)
    return actions.select(
        "seq", "action", "id",
        F.col("new_version").cast("int").alias("new_version"),
        F.col("old_version").cast("int").alias("old_version"),
        "visible",
    )


@register(
    "replication_state",
    f"""
    WITH {_REPL_ORACLE_BASE},
    allv AS (SELECT user_id, ver, event_type FROM ev),
    latest AS (
      SELECT user_id, max(ver) AS version FROM allv GROUP BY 1)
    SELECT l.user_id AS id, CAST(l.version AS INT) AS version,
           (a.event_type <> 'error') AS visible
    FROM latest l JOIN allv a ON a.user_id = l.user_id AND a.ver = l.version
    """,
)
def q_replication_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-state table after the batch: latest version per element."""
    from osm_spark.streaming.replication import apply_change_batch

    state, batch = _repl_inputs(spark, sf_dir)
    _, new_state = apply_change_batch(state, batch)
    return new_state.select(
        "id", F.col("version").cast("int").alias("version"), "visible"
    )


# =====================================================================
# OSM-JSON codec (SURVEY §2.1 — osm.go:288-367 polymorphic elements)
# =====================================================================

@register(
    "json_codec_roundtrip",
    """
    SELECT o_orderkey AS id,
           CASE o_orderkey % 3 WHEN 0 THEN 'node' WHEN 1 THEN 'way'
                ELSE 'relation' END AS typ,
           TRUE AS rt_ok,
           o_orderpriority AS tag_v
    FROM orders
    """,
)
def q_json_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overpass-style OSM-JSON codec: elements serialized via to_json
    (type-discriminated, tags as an object) and parsed back via
    from_json; any codec asymmetry would break the roundtrip and the
    oracle match."""
    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    typ = (
        F.when(k % 3 == 0, "node").when(k % 3 == 1, "way").otherwise("relation")
    )
    element = F.struct(
        typ.alias("type"),
        k.alias("id"),
        F.create_map(F.lit("priority"), F.col("o_orderpriority")).alias("tags"),
    )
    js = F.to_json(element)
    parsed = F.from_json(
        js, "struct<type:string, id:bigint, tags:map<string,string>>"
    )
    return orders.select(
        k.alias("id"),
        parsed["type"].alias("typ"),
        (
            (parsed["id"] == k)
            & (parsed["type"] == typ)
        ).alias("rt_ok"),
        F.element_at(parsed["tags"], "priority").alias("tag_v"),
    )


@register(
    "xml_codec_roundtrip",
    """
    SELECT o_orderkey AS id,
           CAST(o_orderkey % 170 AS DOUBLE) - 85.0 AS lat,
           CAST(o_orderkey % 360 AS DOUBLE) - 180.0 AS lon,
           CAST(o_orderkey % 7 + 1 AS INT) AS version,
           o_custkey AS changeset,
           o_orderpriority AS tag_v,
           TRUE AS rt_ok
    FROM orders
    """,
)
def q_xml_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OSM XML codec (osmxml scan / osm.go:205-282 write shape):
    attribute-style <node id lat lon version changeset> with ordered
    <tag k v/> children, rendered with to_xml and parsed back with
    from_xml — all JVM. Any attribute/child asymmetry breaks the
    roundtrip flag and the oracle match."""
    from osm_spark.functions import xml_codec as X

    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    lat = (k % 170).cast("double") - 85.0
    lon = (k % 360).cast("double") - 180.0
    ver = (k % 7 + 1).cast("int")
    tags = F.array(
        F.struct(F.lit("priority").alias("k"), F.col("o_orderpriority").alias("v"))
    )
    node = X.node_struct(k, lat, lon, ver, F.col("o_custkey"), tags)
    parsed = X.xml_to_node(X.node_to_xml(node)).alias("p")
    return orders.select(
        k.alias("id"),
        parsed["_lat"].alias("lat"),
        parsed["_lon"].alias("lon"),
        parsed["_version"].alias("version"),
        parsed["_changeset"].alias("changeset"),
        parsed["tag"][0]["_v"].alias("tag_v"),
        (
            (parsed["_id"] == k)
            & (parsed["_lat"] == lat)
            & (parsed["_lon"] == lon)
            & (parsed["_version"] == ver)
            & (parsed["tag"][0]["_k"] == F.lit("priority"))
        ).alias("rt_ok"),
    )


@register(
    "osc_roundtrip",
    """
    SELECT CASE WHEN event_type = 'error' THEN 'delete'
                WHEN event_type = 'view' THEN 'modify'
                ELSE 'create' END AS action,
           event_id AS id, value AS lat, -value * 2 AS lon,
           CAST(user_id % 5 + 1 AS INT) AS version,
           event_id + 7 AS changeset
    FROM events WHERE event_id % 2 = 0
    """,
)
def q_osc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """osmChange document codec (functions/osmchange.py — the Change
    wrapper casing of change.go:65-124 and the replication .osc
    payload): events classify into create/modify/delete, render
    through render_osc (element XML from the JVM codec, blocks in the
    reference's action order) and parse back with parse_osc — the
    document hop must be invisible vs the direct oracle. Repeated
    blocks / doubles survive for the usual reasons (accumulating
    parse; Double.toString round-trip)."""
    from osm_spark.functions.osmchange import parse_osc, render_osc
    from osm_spark.functions.xml_codec import node_struct, node_to_xml

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 2 == 0)
    no_tags = F.array().cast("array<struct<k:string,v:string>>")
    xml = ev.select(
        F.when(F.col("event_type") == "error", "delete")
        .when(F.col("event_type") == "view", "modify")
        .otherwise("create")
        .alias("action"),
        F.col("event_id").alias("order"),
        node_to_xml(
            node_struct(
                "event_id", F.col("value"), -F.col("value") * 2,
                (F.col("user_id") % 5 + 1).cast("int"),
                F.col("event_id") + 7, no_tags,
            )
        ).alias("xml"),
    )
    doc = render_osc(xml, generator="osm_spark")  # batch-sized document
    return parse_osc(spark, doc, "node").select(
        "action", "id", "lat", "lon", "version", "changeset"
    )


@register(
    "diff_roundtrip",
    """
    WITH src AS (
      SELECT event_id AS id, value AS lat,
             CASE WHEN event_type = 'error' THEN 'delete'
                  WHEN event_type = 'view' THEN 'modify'
                  ELSE 'create' END AS type,
             CAST(user_id % 6 + 2 AS INT) AS new_version
      FROM events WHERE event_id % 13 = 0),
    new_rows AS (
      SELECT type AS action, 'new' AS role, id, new_version AS version,
             lat FROM src),
    old_rows AS (
      SELECT type AS action, 'old' AS role, id,
             new_version - 1 AS version, lat - 0.25 AS lat
      FROM src WHERE type <> 'create')
    SELECT * FROM new_rows UNION ALL SELECT * FROM old_rows
    """,
)
def q_diff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented-diff document codec (functions/osmchange.py
    parse_diff/render_diff — diff.go:21-109: create actions carry the
    bare new element, modify/delete carry <old>/<new> wrappers):
    events model an action stream, render through render_diff and
    parse back; the oracle recomputes old/new roles directly. Roles,
    versions and coordinate doubles must survive the document hop."""
    from osm_spark.functions.osmchange import parse_diff, render_diff
    from osm_spark.functions.xml_codec import node_struct, node_to_xml

    ev = _t(spark, sf_dir, "events")
    no_tags = F.array().cast("array<struct<k:string,v:string>>")
    src = ev.where(F.col("event_id") % 13 == 0).select(
        F.col("event_id").alias("id"),
        F.col("value").alias("lat"),
        F.when(F.col("event_type") == "error", "delete")
        .when(F.col("event_type") == "view", "modify")
        .otherwise("create")
        .alias("type"),
        (F.col("user_id") % 6 + 2).cast("int").alias("new_version"),
    )
    mk = lambda ver, lat: node_to_xml(
        node_struct("id", lat, F.lit(0.0), ver, F.lit(1), no_tags)
    )
    xml = src.select(
        "type",
        F.col("id").cast("int").alias("order"),
        mk(F.col("new_version"), F.col("lat")).alias("new_xml"),
        F.when(
            F.col("type") != "create",
            mk(F.col("new_version") - 1, F.col("lat") - 0.25),
        ).alias("old_xml"),
    )
    doc = render_diff(xml)  # batch-sized document (~770 actions)
    return parse_diff(spark, doc, "node").select(
        "action", "role", "id", "version", "lat"
    )


@register(
    "xml_scan",
    """
    WITH n AS (
      SELECT 'node' AS etype, event_id AS id,
             CAST(user_id % 9 + 1 AS INT) AS version,
             event_id * 2 AS changeset,
             value AS lat, -value AS lon,
             CAST(0 AS INT) AS n_refs, CAST(0 AS BIGINT) AS ref_sum
      FROM events),
    w AS (
      SELECT 'way' AS etype, 1000000 + user_id AS id,
             CAST(count(*) AS INT) AS version,
             max(event_id) AS changeset,
             0.0 AS lat, 0.0 AS lon,
             CAST(count(*) AS INT) AS n_refs,
             CAST(sum(event_id) AS BIGINT) AS ref_sum
      FROM events GROUP BY user_id)
    SELECT * FROM n UNION ALL SELECT * FROM w
    """,
)
def q_xml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming XML FILE source (sources/xmlfile.py — the element-wise
    scan of osmxml/scanner.go:34-125 re-expressed as a byte-range-split
    parallel read): events render to a multi-split .osm document (nodes
    via the JVM node codec, per-user ways with ordered <nd> children),
    the file scans with deliberately tiny split ranges so element
    boundaries cross every task edge, and the typed parse must
    reproduce every element exactly once — the oracle recomputes the
    same rows straight from events. Doubles survive the file because
    to_xml renders them with Java Double.toString and from_xml parses
    them back."""
    import hashlib
    import os
    import tempfile

    from osm_spark.functions import xml_codec as X
    from osm_spark.sources.xmlfile import parse_elements, read_osm_xml

    ev = _t(spark, sf_dir, "events")
    no_tags = F.array().cast("array<struct<k:string,v:string>>")
    node_xml = ev.select(
        F.col("event_id").alias("id"),
        X.node_to_xml(
            X.node_struct(
                "event_id", F.col("value"), -F.col("value"),
                (F.col("user_id") % 9 + 1).cast("int"),
                F.col("event_id") * 2, no_tags,
            )
        ).alias("xml"),
    )
    way_xml = (
        ev.groupBy("user_id")
        .agg(
            F.sort_array(F.collect_list("event_id")).alias("refs"),
            F.count("*").cast("int").alias("version"),
            F.max("event_id").alias("changeset"),
        )
        .select(
            (F.col("user_id") + 1000000).alias("id"),
            X.way_to_xml(
                X.way_struct(
                    F.col("user_id") + 1000000, "version", "changeset",
                    F.col("refs"), no_tags,
                )
            ).alias("xml"),
        )
    )
    lines = [
        r.xml
        for r in node_xml.unionByName(way_xml).orderBy("id").collect()
    ]  # fixture-sized render (~10k elements at sf0.01)
    body = ("<osm version=\"0.6\">\n" + "\n".join(lines) + "\n</osm>\n").encode()

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"osm_spark_xml_scan_{key}.osm")
    fd, tmp = tempfile.mkstemp(dir=tempfile.gettempdir())
    with os.fdopen(fd, "wb") as f:
        f.write(body)
    os.replace(tmp, path)  # atomic vs concurrent sessions

    # two typed passes (nodes, ways) read the snippet frame — persist
    # so the file scans once
    snip = _persist(read_osm_xml(spark, path, split_bytes=128 << 10))
    nodes = parse_elements(snip, "node").select(
        F.lit("node").alias("etype"), "id", "version", "changeset",
        "lat", "lon",
        F.lit(0).cast("int").alias("n_refs"),
        F.lit(0).cast("long").alias("ref_sum"),
    )
    ways = parse_elements(snip, "way").select(
        F.lit("way").alias("etype"), "id", "version", "changeset",
        F.lit(0.0).alias("lat"), F.lit(0.0).alias("lon"),
        F.size("refs").cast("int").alias("n_refs"),
        F.aggregate(
            "refs", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("ref_sum"),
    )
    return nodes.unionByName(ways)


@register(
    "xml_bz2_scan",
    """
    SELECT 'node' AS etype, event_id AS id,
           CAST(user_id % 9 + 1 AS INT) AS version,
           event_id * 2 AS changeset,
           value AS lat, -value AS lon
    FROM events
    """,
)
def q_xml_bz2_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Splittable bzip2 XML source (sources/bzip2.py — the parallel
    re-expression of the reference's sequential planet-dump read,
    osmxml/scanner_test.go:163-230): events render to a node document,
    compress into a MULTI-BLOCK bzip2 file (level 1 = 100 KB blocks,
    so block magics land at arbitrary bit offsets), and the scan runs
    with raw-byte splits far smaller than the compressed file so both
    ownership levels — bz2 blocks per raw range, elements per owned
    decompressed bytes — cross every task edge. The typed parse must
    reproduce every node exactly once; the oracle recomputes the rows
    straight from events."""
    import bz2 as _bz2
    import hashlib
    import os
    import tempfile

    from osm_spark.functions import xml_codec as X
    from osm_spark.sources.bzip2 import read_osm_xml_bz2
    from osm_spark.sources.xmlfile import parse_elements

    ev = _t(spark, sf_dir, "events")
    no_tags = F.array().cast("array<struct<k:string,v:string>>")
    node_xml = ev.select(
        F.col("event_id").alias("id"),
        X.node_to_xml(
            X.node_struct(
                "event_id", F.col("value"), -F.col("value"),
                (F.col("user_id") % 9 + 1).cast("int"),
                F.col("event_id") * 2, no_tags,
            )
        ).alias("xml"),
    )
    lines = [r.xml for r in node_xml.orderBy("id").collect()]
    # fixture-sized render (~10k elements at sf0.01), as in xml_scan
    body = ("<osm version=\"0.6\">\n" + "\n".join(lines) + "\n</osm>\n").encode()
    comp = _bz2.BZ2Compressor(1)  # 100 KB blocks -> multi-block file
    data = comp.compress(body) + comp.flush()

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(
        tempfile.gettempdir(), f"osm_spark_xml_bz2_{key}.osm.bz2"
    )
    fd, tmp = tempfile.mkstemp(dir=tempfile.gettempdir())
    with os.fdopen(fd, "wb") as f:
        f.write(data)
    os.replace(tmp, path)  # atomic vs concurrent sessions

    snip = read_osm_xml_bz2(spark, path, split_bytes=4 << 10)
    return parse_elements(snip, "node").select(
        F.lit("node").alias("etype"), "id", "version", "changeset",
        "lat", "lon",
    )


@register(
    "table_prune_scan",
    """
    SELECT user_id,
           count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           TRUE AS pruned
    FROM events
    WHERE event_id >= 2500 AND event_id < 5000
    GROUP BY user_id
    """,
)
def q_table_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-shaped snapshot table (pipeline/table.py): events write
    range-partitioned into a SnapshotTable whose manifest carries
    per-file event_id bounds; the scan's predicate prunes files on
    those bounds BEFORE any data I/O (plan_files), then filters
    row-level. The oracle recomputes the same aggregate straight from
    events — the storage hop (snapshot commit, manifest stats, pruned
    read) must be invisible; the `pruned` column asserts the planner
    actually skipped files (a contiguous id predicate over
    range-partitioned files must leave some file fully outside)."""
    from osm_spark.pipeline.table import SnapshotTable

    ev = _t(spark, sf_dir, "events")
    t = SnapshotTable(
        spark, _table_dir("osm_spark_snap_"), stats_cols=("event_id",)
    )
    t.append(
        ev.select("event_id", "user_id").repartitionByRange(8, "event_id")
    )
    preds = [("event_id", ">=", 2500), ("event_id", "<", 5000)]
    n_total = len(t.plan_files())
    n_scan = len(t.plan_files(preds))
    return (
        t.scan(preds)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("id_sum"),
        )
        .withColumn("pruned", F.lit(n_scan < n_total))
    )


# =====================================================================
# Remaining §2 coverage: bounds HOF, point-on-surface, skip rules,
# changeset rollups, notes date codec
# =====================================================================

@register(
    "way_bounds",
    """
    WITH pts AS (
      SELECT c_nationkey,
             CAST(c_custkey * 6151 % 140000 AS DOUBLE) / 1000.0 - 70.0 AS lat,
             CAST(c_custkey * 9277 % 340000 AS DOUBLE) / 1000.0 - 170.0 AS lon
      FROM customer)
    SELECT c_nationkey, min(lat) AS minlat, max(lat) AS maxlat,
           min(lon) AS minlon, max(lon) AS maxlon
    FROM pts GROUP BY 1
    """,
)
def q_way_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WayNodes.Bounds (way.go:201-236): per-way min/max lat/lon — here
    as an aggregate HOF over the assembled nodes array (no explode)."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ways = (
        cust.select(
            "c_nationkey",
            F.struct(
                ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0).alias("lat"),
                ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0).alias("lon"),
            ).alias("n"),
        )
        .groupBy("c_nationkey")
        .agg(F.collect_list("n").alias("nodes"))
    )
    agg_min = lambda f: F.array_min(F.transform("nodes", f))
    agg_max = lambda f: F.array_max(F.transform("nodes", f))
    return ways.select(
        "c_nationkey",
        agg_min(lambda n: n["lat"]).alias("minlat"),
        agg_max(lambda n: n["lat"]).alias("maxlat"),
        agg_min(lambda n: n["lon"]).alias("minlon"),
        agg_max(lambda n: n["lon"]).alias("maxlon"),
    )


_POS_HAV = _dist.haversine_m_sql("lat", "lon", "40.712", "-74.006")

@register(
    "point_on_surface",
    f"""
    WITH pts AS (
      SELECT c_nationkey, c_custkey,
             CAST(c_custkey * 6151 % 140000 AS DOUBLE) / 1000.0 - 70.0 AS lat,
             CAST(c_custkey * 9277 % 340000 AS DOUBLE) / 1000.0 - 170.0 AS lon
      FROM customer),
    d AS (SELECT c_nationkey, c_custkey, {_POS_HAV} AS dist FROM pts),
    r AS (SELECT c_nationkey, c_custkey,
                 row_number() OVER (PARTITION BY c_nationkey
                                    ORDER BY dist, c_custkey) AS rn
          FROM d)
    SELECT c_nationkey, c_custkey AS pos_key FROM r WHERE rn = 1
    """,
)
def q_point_on_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wayPointOnSurface (annotate/geo.go:13-29): the member point
    closest to a reference point — min_by with deterministic tie-break."""
    from pyspark.sql import Window

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        "c_nationkey",
        "c_custkey",
        ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0).alias("lat"),
        ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0).alias("lon"),
    )
    d = pts.select(
        "c_nationkey",
        "c_custkey",
        _dist.haversine_m("lat", "lon", F.lit(40.712), F.lit(-74.006)).alias("dist"),
    )
    w = Window.partitionBy("c_nationkey").orderBy("dist", "c_custkey")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", F.col("c_custkey").alias("pos_key"))
    )


@register(
    "interesting_nodes",
    """
    WITH way_refs AS (
      SELECT DISTINCT l_partkey AS ref FROM lineitem),
    nodes AS (
      SELECT p_partkey AS id, (p_size % 4 <> 0) AS has_tags FROM part)
    SELECT n.id FROM nodes n
    WHERE n.has_tags OR n.id NOT IN (SELECT ref FROM way_refs)
    """,
)
def q_interesting_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node interestingness skip rule (osmgeojson/convert.go:124-137):
    keep nodes that have interesting tags OR are not way members —
    realized as a left-anti join against exploded way refs."""
    way_refs = (
        _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("ref")).distinct()
    )
    nodes = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), (F.col("p_size") % 4 != 0).alias("has_tags")
    )
    boring = nodes.filter(~F.col("has_tags"))
    boring_members = boring.join(
        way_refs, boring["id"] == way_refs["ref"], "left_semi"
    )
    return nodes.join(boring_members, "id", "left_anti").select("id")


@register(
    "changeset_rollup",
    """
    SELECT o_custkey AS uid, count(*) AS n_changesets,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           min(epoch_us(o_orderdate)) AS first_us,
           max(epoch_us(o_orderdate)) AS last_us
    FROM orders GROUP BY 1
    """,
)
def q_changeset_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changeset rollups (changeset.go:28-89): per-user counts, change
    totals, first/last activity."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_custkey").alias("uid")).agg(
        F.count("*").alias("n_changesets"),
        F.sum(F.floor(F.col("o_totalprice") * 100)).alias("total_cents"),
        F.min(_us("o_orderdate")).alias("first_us"),
        F.max(_us("o_orderdate")).alias("last_us"),
    )


@register(
    "notes_date_codec",
    """
    SELECT event_id,
           epoch_us(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'),
                    '%Y-%m-%d %H:%M:%S')) AS parsed_us
    FROM events
    """,
)
def q_notes_date_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Notes date codec (note.go:16-49, format '2006-01-02 15:04:05'):
    format -> parse roundtrip at second precision."""
    ev = _t(spark, sf_dir, "events")
    s = F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd HH:mm:ss")
    return ev.select(
        "event_id",
        F.unix_micros(F.to_timestamp(s, "yyyy-MM-dd HH:mm:ss")).alias("parsed_us"),
    )


# =====================================================================
# Aperture-7 hex cell index — the H3 surface (north star: "encoded into
# H3 cells ... via vectorized Arrow UDFs"; geo/hex.py, geo/hex_spark.py)
# =====================================================================
# The oracle rebuilds the FULL 64-bit cell id in closed-form SQL: axial
# coords at res 3 via the affine+hexround twin, the parent chain via the
# /7 hexround twin, digits from the coset residuals, then the bit
# layout. Matching ids prove the digit-chain encode, the id packing and
# the decode are all lossless and bit-identical across engines.

from osm_spark.geo import hex as _hx
from osm_spark.geo import hex_spark as _hxs


def _digit_case_sql(dq: str, dr: str) -> str:
    whens = " ".join(
        f"WHEN ({dq}) = {a} AND ({dr}) = {b} THEN {i}"
        for i, (a, b) in enumerate(_hx.DIGITS)
    )
    return f"(CASE {whens} END)"


def _h3_oracle_res3() -> str:
    q3, r3 = _hx.axial_sql(pages.GEO_LAT_SQL, pages.GEO_LON_SQL, 3)
    pq2, pr2 = _hx.parent_axial_sql("q3", "r3")
    pq1, pr1 = _hx.parent_axial_sql("q2", "r2")
    pq0, pr0 = _hx.parent_axial_sql("q1", "r1")
    d1 = _digit_case_sql("q1 - (2 * q0 - r0)", "r1 - (q0 + 3 * r0)")
    d2 = _digit_case_sql("q2 - (2 * q1 - r1)", "r2 - (q1 + 3 * r1)")
    d3 = _digit_case_sql("q3 - (2 * q2 - r2)", "r3 - (q2 + 3 * r2)")
    pad = (1 << 36) - 1  # levels 4..15 slots all-7s
    return f"""
    WITH a3 AS (SELECT doc_id, {q3} AS q3, {r3} AS r3 FROM documents),
    a2 AS (SELECT *, {pq2} AS q2, {pr2} AS r2 FROM a3),
    a1 AS (SELECT *, {pq1} AS q1, {pr1} AS r1 FROM a2),
    a0 AS (SELECT *, {pq0} AS q0, {pr0} AS r0 FROM a1),
    ids AS (
      SELECT doc_id, q3 AS q, r3 AS r,
             ((CAST(1 AS BIGINT) << 59) | (CAST(3 AS BIGINT) << 55)
              | (CAST((q0 + 16) * 32 + (r0 + 16) AS BIGINT) << 45)
              | (CAST({d1} AS BIGINT) << 42)
              | (CAST({d2} AS BIGINT) << 39)
              | (CAST({d3} AS BIGINT) << 36)
              | CAST({pad} AS BIGINT)) AS cell
      FROM a0)
    SELECT cell, q, r, count(*) AS n_docs FROM ids GROUP BY 1, 2, 3
    """


@register("h3_assign", _h3_oracle_res3())
def q_h3_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex-cell assignment at res 3: vectorized Arrow-UDF encode of the
    geocoded corpus into 64-bit aperture-7 cell ids, decoded back to
    axial coords, counted per cell. One narrow UDF map + one |cells|
    shuffle — the hex twin of tile_assign."""
    pts = pages.page_points(spark, sf_dir)
    df = pts.select(_hxs.hex_cell("lat", "lon", 3).alias("cell"))
    df = df.select("cell", _hxs.hex_axial(F.col("cell")).alias("ax"))
    return (
        df.select("cell", F.col("ax.q").alias("q"), F.col("ax.r").alias("r"))
        .groupBy("cell", "q", "r")
        .agg(F.count("*").alias("n_docs"))
    )


_POLYFILL_OFF = [(2, 0), (1, 2), (-1, 2), (-2, 0), (0, -2)]


def _pentagon_polys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The polyfill/compact/cover-join fixture layer: µdeg pentagons
    anchored ON the geocoded page positions (doc_id % 10 == 7), so the
    cover-join genuinely hits — twin of _polyfill_cte's polys CTE."""
    d = F.col("doc_id")
    return (
        _t(spark, sf_dir, "documents")
        .where(d % 10 == 7)
        .select(
            d.alias("poly_id"),
            F.floor(pages.geo_lon(d) * F.lit(1000000.0)).cast("long")
            .alias("cx"),
            F.floor(pages.geo_lat(d) * F.lit(1000000.0)).cast("long")
            .alias("cy"),
            ((d % 3 + 1) * 400000).alias("s"),
        )
        .select(
            "poly_id",
            F.array(*[
                F.struct(
                    (F.col("cx") + dx * F.col("s")).alias("x"),
                    (F.col("cy") + dy * F.col("s")).alias("y"),
                )
                for dx, dy in _POLYFILL_OFF
            ]).alias("verts"),
        )
    )


def _polyfill_cte(res: int = 4) -> str:
    """CTE chain ending in ``pf(poly_id, q, r)`` — the DuckDB twin of
    hex_polyfill over the pentagon corpus: same fractional-axial corner
    math, same adjugate/7^R center, same quantization, same integer
    ray cast — bit-for-bit.  Shared by the polyfill and compact
    oracles."""
    from osm_spark.geo import hex as _hhx
    from osm_spark.geo.polyfill import center_lonlat_sql

    def fax(lon: str, lat: str) -> tuple[str, str]:
        return _hhx.frac_axial_sql(lat, lon, res)

    sx = [f"(cx + {dx} * s)" for dx, _ in _POLYFILL_OFF]
    sy = [f"(cy + {dy} * s)" for _, dy in _POLYFILL_OFF]
    lon_lo = f"(least({', '.join(sx)}) / 1000000.0)"
    lon_hi = f"(greatest({', '.join(sx)}) / 1000000.0)"
    lat_lo = f"(least({', '.join(sy)}) / 1000000.0)"
    lat_hi = f"(greatest({', '.join(sy)}) / 1000000.0)"
    corners = [
        fax(lon, lat)
        for lon in (lon_lo, lon_hi)
        for lat in (lat_lo, lat_hi)
    ]
    qlo = f"(CAST(floor(least({', '.join(cq for cq, _ in corners)})) AS BIGINT) - 1)"
    qhi = f"(CAST(floor(greatest({', '.join(cq for cq, _ in corners)})) AS BIGINT) + 1)"
    rlo = f"(CAST(floor(least({', '.join(cr for _, cr in corners)})) AS BIGINT) - 1)"
    rhi = f"(CAST(floor(greatest({', '.join(cr for _, cr in corners)})) AS BIGINT) + 1)"
    clon, clat = center_lonlat_sql("q", "r", res)
    terms = []
    n = len(_POLYFILL_OFF)
    for k in range(n):
        xj, yj = sx[k], sy[k]
        xi, yi = sx[k - 1], sy[k - 1]
        t = f"(({xj} - {xi}) * (py - {yi}) - (px - {xi}) * ({yj} - {yi}))"
        terms.append(
            f"(CASE WHEN (({yi} > py) <> ({yj} > py)) AND "
            f"(CASE WHEN {yj} > {yi} THEN {t} > 0 ELSE {t} < 0 END) "
            f"THEN 1 ELSE 0 END)"
        )
    return f"""polys AS (
      SELECT doc_id AS poly_id,
             CAST(floor({pages.GEO_LON_SQL} * 1000000.0) AS BIGINT) AS cx,
             CAST(floor({pages.GEO_LAT_SQL} * 1000000.0) AS BIGINT) AS cy,
             (doc_id % 3 + 1) * 400000 AS s
      FROM documents WHERE doc_id % 10 = 7),
    cand AS (
      SELECT poly_id, cx, cy, s, uq.q AS q, ur.r AS r
      FROM polys,
           unnest(range({qlo}, {qhi} + 1)) AS uq(q),
           unnest(range({rlo}, {rhi} + 1)) AS ur(r)),
    pts AS (
      SELECT poly_id, cx, cy, s, q, r,
             CAST(floor({clon} * 1000000.0) AS BIGINT) AS px,
             CAST(floor({clat} * 1000000.0) AS BIGINT) AS py
      FROM cand),
    pf AS (
      SELECT poly_id, q, r FROM pts
      WHERE ({' + '.join(terms)}) % 2 = 1)"""


@register(
    "hex_polyfill",
    f"WITH {_polyfill_cte(4)}\n    SELECT poly_id, q, r FROM pf",
)
def q_hex_polyfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex polyfill (geo/polyfill.py) — region->cells, the third leg of
    the hex family (H3 polyfill center-containment semantics; the
    reference's analog is the tile.Range bbox cover, maptile/tile.go,
    hex-exact and trimmed to the polygon interior): documents derive
    µdeg pentagon polygons, candidate res-4 cells enumerate from the
    bbox's LINEAR axial image (a cell center's fractional axial coords
    ARE its integer (q, r), so the parallelogram's integer points are
    the complete candidate set), centers come from the closed-form
    adjugate-over-7^R inverse, and containment is an exact int64 ray
    cast over the quantized center — explode + filter, zero joins,
    zero Python, whole-stage codegen.  The oracle replays every stage
    bit-for-bit in DuckDB."""
    from osm_spark.geo.polyfill import hex_polyfill as _pf

    return _pf(_pentagon_polys(spark, sf_dir), res=4)


def _compact_ctes(res: int = 5) -> str:
    """CTE chain ending in ``cover(poly_id, res, q, r)`` — polyfill at
    ``res`` then ``res`` unrolled compaction levels; each level: parent
    keys (the exact hexround(M^-1) twin), complete 7-sibling groups,
    anti-join survivors, promoted parents."""
    from osm_spark.geo import hex as _hhx

    ctes = [_polyfill_cte(res), f"c{res} AS (SELECT poly_id, q, r FROM pf)"]
    for rv in range(res, 0, -1):
        pq, pr = _hhx.parent_axial_sql("q", "r")
        ctes.append(
            f"p{rv} AS (SELECT poly_id, q, r, {pq} AS pq, {pr} AS pr "
            f"FROM c{rv})"
        )
        ctes.append(
            f"f{rv} AS (SELECT poly_id, pq, pr FROM p{rv} "
            f"GROUP BY 1, 2, 3 HAVING count(*) = 7)"
        )
        ctes.append(
            f"k{rv} AS (SELECT p.poly_id, {rv} AS res, p.q, p.r "
            f"FROM p{rv} p LEFT JOIN f{rv} f ON f.poly_id = p.poly_id "
            f"AND f.pq = p.pq AND f.pr = p.pr WHERE f.poly_id IS NULL)"
        )
        ctes.append(
            f"c{rv - 1} AS (SELECT poly_id, pq AS q, pr AS r FROM f{rv})"
        )
    levels = " UNION ALL ".join(
        [f"SELECT poly_id, CAST(res AS INT) AS res, q, r FROM k{rv}"
         for rv in range(res, 0, -1)]
        + ["SELECT poly_id, CAST(0 AS INT) AS res, q, r FROM c0"]
    )
    ctes.append(f"cover AS ({levels})")
    return ",\n    ".join(ctes)


def _compact_oracle(res: int = 5) -> str:
    return (
        f"WITH {_compact_ctes(res)}\n"
        f"    SELECT poly_id, res, q, r FROM cover"
    )


def _cover_join_oracle(res: int = 5) -> str:
    """Points probe the compacted cover once per ancestor level —
    identical axial + parent chains to the Spark columns."""
    from osm_spark.geo import hex as _hhx

    q5, r5 = _hhx.axial_sql(pages.GEO_LAT_SQL, pages.GEO_LON_SQL, res)
    ctes = [
        _compact_ctes(res),
        f"g{res} AS (SELECT doc_id, {q5} AS q, {r5} AS r FROM documents)",
    ]
    for rv in range(res - 1, -1, -1):
        pq, pr = _hhx.parent_axial_sql("q", "r")
        ctes.append(
            f"g{rv} AS (SELECT doc_id, {pq} AS q, {pr} AS r FROM g{rv + 1})"
        )
    probes = " UNION ALL ".join(
        f"SELECT doc_id, CAST({rv} AS INT) AS res, q, r FROM g{rv}"
        for rv in range(res, -1, -1)
    )
    return f"""WITH {",".join([chr(10) + "    " + c for c in ctes])},
    probes AS ({probes})
    SELECT p.doc_id, c.poly_id
    FROM probes p JOIN cover c USING (res, q, r)
    """


@register("hex_cover_join", _cover_join_oracle(5))
def q_hex_cover_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-granular polygon containment join (geo/polyfill.py
    hex_cover_join) — the broadcast pattern polyfill+compact exist
    for: the pentagon layer polyfills at res 5, compacts to the
    minimal mixed-res cover, BROADCASTS, and each geocoded page probes
    it with its in-row ancestor chain (res 5 down to 0, chained exact
    parent rounding — no UDF, no shuffle of the page side).  A point
    hits at most one cover cell per polygon because compact covers are
    level-disjoint by construction.  The oracle replays the axial,
    parent, compaction, and probe chains bit-for-bit."""
    from osm_spark.geo.hex_spark import axial_cols
    from osm_spark.geo.polyfill import hex_compact as _hc
    from osm_spark.geo.polyfill import hex_polyfill as _pf

    cover = _hc(_persist(_pf(_pentagon_polys(spark, sf_dir), res=5)), res=5)
    pts = pages.page_points(spark, sf_dir)
    q5, r5 = axial_cols("lat", "lon", 5)
    pts = pts.select("doc_id", q5.alias("q"), r5.alias("r"))
    from osm_spark.geo.polyfill import hex_cover_join as _cj

    return _cj(pts, cover, res=5).select("doc_id", "poly_id")


@register("hex_compact", _compact_oracle(5))
def q_hex_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3 compactCells over a polyfill (geo/polyfill.py hex_compact):
    the pentagon corpus polyfills at res 5 (fine enough that polygon
    interiors contain complete 7-sibling sets), then every complete
    sibling group collapses to its parent, recursively — the minimal
    mixed-resolution cover a cell-keyed polygon join actually wants to
    broadcast.  Parent keys are the exact hexround(M^-1) twin already
    driver-proven by h3_parent; per level the plan is one groupBy +
    one anti-join, and the level count is bounded by the RESOLUTION,
    never the data.  The oracle unrolls the same levels in DuckDB."""
    from osm_spark.geo.polyfill import hex_compact as _hc
    from osm_spark.geo.polyfill import hex_polyfill as _pf

    cells = _persist(_pf(_pentagon_polys(spark, sf_dir), res=5))
    return _hc(cells, res=5).select(
        "poly_id", F.col("res").cast("int").alias("res"), "q", "r"
    )


def _h3_parent_oracle() -> str:
    q3, r3 = _hx.axial_sql(pages.GEO_LAT_SQL, pages.GEO_LON_SQL, 3)
    pq2, pr2 = _hx.parent_axial_sql("q3", "r3")
    pq1, pr1 = _hx.parent_axial_sql("q2", "r2")
    return f"""
    WITH a3 AS (SELECT doc_id, {q3} AS q3, {r3} AS r3 FROM documents),
    a2 AS (SELECT *, {pq2} AS q2, {pr2} AS r2 FROM a3),
    a1 AS (SELECT *, {pq1} AS q1, {pr1} AS r1 FROM a2)
    SELECT q1 AS q, r1 AS r, count(*) AS n_docs FROM a1 GROUP BY 1, 2
    """


@register("h3_parent", _h3_parent_oracle())
def q_h3_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aperture-7 rollup: res-3 cells -> res-1 ancestors via digit-chain
    truncation (cell_to_parent), counted per ancestor. The hierarchy is
    pure bit math on the id — the rollup never revisits lat/lon."""
    pts = pages.page_points(spark, sf_dir)
    cells = pts.select(_hxs.hex_cell("lat", "lon", 3).alias("cell"))
    par = cells.select(_hxs.hex_parent("cell", 1).alias("p"))
    ax = par.select(_hxs.hex_axial(F.col("p")).alias("ax"))
    return (
        ax.select(F.col("ax.q").alias("q"), F.col("ax.r").alias("r"))
        .groupBy("q", "r")
        .agg(F.count("*").alias("n_docs"))
    )


def _h3_kring_oracle() -> str:
    q2, r2 = _hx.axial_sql(pages.GEO_LAT_SQL, pages.GEO_LON_SQL, 2)
    return f"""
    WITH ax AS (SELECT doc_id, {q2} AS q, {r2} AS r FROM documents),
    cnt AS (SELECT q, r, count(*) AS n FROM ax GROUP BY 1, 2),
    qry AS (SELECT doc_id AS qid, q, r FROM ax WHERE doc_id % 97 = 0),
    offs AS (
      SELECT a.x AS dq, b.x AS dr FROM range(-2, 3) a(x), range(-2, 3) b(x)
      WHERE (abs(a.x) + abs(b.x) + abs(a.x + b.x)) / 2 <= 2),
    ring AS (SELECT qid, qry.q + dq AS q, qry.r + dr AS r FROM qry, offs)
    SELECT ring.qid, ring.q, ring.r, CAST(cnt.n AS BIGINT) AS n_docs
    FROM ring JOIN cnt ON cnt.q = ring.q AND cnt.r = ring.r
    """


@register("h3_kring", _h3_kring_oracle())
def q_h3_kring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ring expand-and-probe at res 2: each query doc's cell expands
    to its filled 2-ring (19 cells) via the hex_kring Arrow UDF, then an
    equi-join against the per-cell corpus counts. The probe side is tiny
    and broadcast; the corpus aggregates once and never re-shuffles."""
    pts = pages.page_points(spark, sf_dir)
    ax = pts.select(_hxs.hex_axial(_hxs.hex_cell("lat", "lon", 2)).alias("ax"))
    cnt = (
        ax.select(F.col("ax.q").alias("q"), F.col("ax.r").alias("r"))
        .groupBy("q", "r")
        .agg(F.count("*").alias("n_docs"))
    )
    qry = (
        pts.where(F.col("doc_id") % 97 == 0)
        .select(
            F.col("doc_id").alias("qid"),
            F.explode(
                _hxs.hex_kring(_hxs.hex_cell("lat", "lon", 2), 2)
            ).alias("cell"),
        )
        .select("qid", _hxs.hex_axial(F.col("cell")).alias("ax"))
        .select("qid", F.col("ax.q").alias("q"), F.col("ax.r").alias("r"))
    )
    return F.broadcast(qry).join(cnt, ["q", "r"]).select("qid", "q", "r", "n_docs")


_H3KNN_HAV = _dist.haversine_m_sql(
    "q.clat", "q.clon", pages.GEO_LAT_SQL.replace("doc_id", "p.doc_id"),
    pages.GEO_LON_SQL.replace("doc_id", "p.doc_id"),
)

@register(
    "h3_knn",
    f"""
    WITH q AS (
      SELECT c_custkey AS qid,
             CAST(c_custkey * 7013 % 160000 AS DOUBLE) / 1000.0 - 80.0 AS clat,
             CAST(c_custkey * 9551 % 350000 AS DOUBLE) / 1000.0 - 175.0 AS clon
      FROM customer WHERE c_custkey < 12),
    s AS (
      SELECT q.qid, p.doc_id AS neighbor,
             CAST(row_number() OVER (
               PARTITION BY q.qid ORDER BY {_H3KNN_HAV}, p.doc_id) AS INT) AS rank
      FROM q, documents p)
    SELECT qid, rank, neighbor FROM s WHERE rank <= 4
    """,
)
def q_h3_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex k-ring expand-and-prune kNN (north star operator): hex-ring
    histogram picks the probe radius, filled-k-ring equi-join +
    exact-verify pass — checked against exact brute force (the oracle)."""
    from osm_spark.geo.cells import knn_hex

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 12)
    kk = F.col("c_custkey")
    queries = [
        (r.qid, r.clat, r.clon)
        for r in c.select(
            kk.alias("qid"),
            ((kk * 7013 % 160000).cast("double") / 1000.0 - 80.0).alias("clat"),
            ((kk * 9551 % 350000).cast("double") / 1000.0 - 175.0).alias("clon"),
        ).collect()
    ]
    pts = pages.page_points(spark, sf_dir)
    out = knn_hex(pts, queries, k=4, res=3)
    return out.select("qid", "rank", F.col("neighbor").cast("long").alias("neighbor"))


# =====================================================================
# WKB geometry codec (north star: "ray-casting over WKB polygons in
# pandas UDFs"; geo/wkb.py)
# =====================================================================

@register(
    "wkb_roundtrip",
    f"""
    WITH {_RECT_SQL}
    SELECT poly_id,
           CAST(93 AS BIGINT) AS wkb_len,
           3 AS geom_type,
           5 AS n_pts,
           CAST(floor((clon - hlon + 0.0005) * 1e6) AS BIGINT) AS x0_e6,
           CAST(floor((clat - hlat + 0.0005) * 1e6) AS BIGINT) AS y0_e6,
           CAST(floor((clon + hlon + 0.0005) * 1e6) AS BIGINT) AS x2_e6,
           CAST(floor((clat + hlat + 0.0005) * 1e6) AS BIGINT) AS y2_e6
    FROM rect
    """,
)
def q_wkb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed WKB encode -> decode roundtrip: ring arrays become
    ISO WKB binary columns (9 + 4 + 16n bytes for a 5-vertex ring = 93),
    decoded back batch-wise; the oracle recomputes the structural fields
    and corner coordinates closed-form, so any byte-order or precision
    defect in the codec shifts the e6 values and fails the gate."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from osm_spark.geo import wkb as W

    def _enc_fn(xs, ys):
        return pd.Series(
            [W.encode_polygon([(x, y)]) for x, y in zip(xs, ys)]
        )

    _enc = pandas_udf(_enc_fn, "binary")

    def _dec_fn(bufs):
        rows = []
        for buf in bufs:
            gt, rings = W.decode(buf)
            xs, ys = rings[0]
            rows.append(
                (len(buf), gt, len(xs), xs[0], ys[0], xs[2], ys[2])
            )
        return pd.DataFrame(
            rows,
            columns=["wkb_len", "geom_type", "n_pts", "x0", "y0", "x2", "y2"],
        )

    _dec = pandas_udf(
        _dec_fn,
        "struct<wkb_len:long, geom_type:int, n_pts:int,"
        " x0:double, y0:double, x2:double, y2:double>",
    )

    rect = _rect_polygons_df(spark, sf_dir)
    out = rect.select("poly_id", _enc("xs", "ys").alias("wkb"))
    out = out.select("poly_id", _dec("wkb").alias("d"))
    return out.select(
        "poly_id",
        F.col("d.wkb_len").alias("wkb_len"),
        F.col("d.geom_type").alias("geom_type"),
        F.col("d.n_pts").alias("n_pts"),
        F.floor(F.col("d.x0") * 1e6).cast("long").alias("x0_e6"),
        F.floor(F.col("d.y0") * 1e6).cast("long").alias("y0_e6"),
        F.floor(F.col("d.x2") * 1e6).cast("long").alias("x2_e6"),
        F.floor(F.col("d.y2") * 1e6).cast("long").alias("y2_e6"),
    )


# =====================================================================
# S2-style adaptive multi-zoom covering (geo/covering.py)
# =====================================================================

from osm_spark.geo import covering as _cov

_RECTB_SQL = _RECT_SQL + """,
    rectb AS (
      SELECT poly_id,
             clon - hlon + 0.0005 AS xmin, clon + hlon + 0.0005 AS xmax,
             clat - hlat + 0.0005 AS ymin, clat + hlat + 0.0005 AS ymax
      FROM rect)"""


@register(
    "covering_adaptive",
    _cov.adaptive_covering_sql(_RECTB_SQL[5:], 4, 7, table="rectb"),
)
def q_covering_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive z4..z7 covering of the rect polygon set: coarse tiles
    where they fit, boundary tiles split to z7 — the S2 RegionCoverer
    shape on the Z/X/Y hierarchy, closed form for bboxes so the oracle
    mirrors it exactly."""
    rect = _rect_polygons_df(spark, sf_dir).select(
        "poly_id", "xmin", "xmax", "ymin", "ymax"
    )
    return _cov.adaptive_covering(rect, 4, 7).select(
        "poly_id", "zoom", "tile_x", "tile_y"
    )


def _triangle_covering_sql(z_min: int, z_max: int) -> str:
    """Closed-form adaptive covering of the RIGHT TRIANGLE cut from each
    rectb bbox (vertices (x0,y0),(x1,y0),(x0,y1); hypotenuse from
    (x1,y0) to (x0,y1)). Convexity makes the tile classification exact
    by separating axes: x, y, and the hypotenuse normal (in normalized
    coords u = (x-x0)/dx + (y-y0)/dy the triangle is {{x>=x0, y>=y0,
    u<=1}}). The engine side classifies the SAME triangle generically
    (segment-rect clip + ray-cast over its WKB rings) — agreement here
    checks the general kernel against an independent closed form."""

    def u(xe: str, ye: str) -> str:
        return f"((({xe}) - x0) / dx + (({ye}) - y0) / dy)"

    def conds(xe: str, ye: str, z: int) -> tuple[str, str]:
        b = tiles.tile_bound_sql(xe, ye, z)
        w, e = b["minlon"], b["maxlon"]
        s, n = b["minlat"], b["maxlat"]
        full = f"({w} >= x0 AND {s} >= y0 AND {u(e, n)} <= 1.0)"
        inter = (
            f"({e} > x0 AND {n} > y0 AND {w} < x1 AND {s} < y1"
            f" AND {u(w, s)} < 1.0)"
        )
        return inter, full

    parts = []
    for z in range(z_min, z_max + 1):
        inter, full = conds("tx.x", "ty.x", z)
        cs = [inter]
        if z < z_max:
            cs.append(full)
        for zp in range(z_min, z):
            _, afull = conds(f"(tx.x >> {z - zp})", f"(ty.x >> {z - zp})", zp)
            cs.append("NOT " + afull)
        parts.append(
            f"""
  SELECT poly_id, {z} AS zoom, tx.x AS tile_x, ty.x AS tile_y
  FROM tri,
       LATERAL (SELECT unnest(range({tiles.tile_x_sql('x0', z)},
                                    {tiles.tile_x_sql('x1', z)} + 1)) AS x) tx,
       LATERAL (SELECT unnest(range({tiles.tile_y_sql('y1', z)},
                                    {tiles.tile_y_sql('y0', z)} + 1)) AS x) ty
  WHERE {' AND '.join(cs)}"""
        )
    tri_cte = f"""{_RECTB_SQL[5:]},
    tri AS (
      SELECT poly_id, xmin AS x0, xmax AS x1, ymin AS y0, ymax AS y1,
             xmax - xmin AS dx, ymax - ymin AS dy
      FROM rectb)"""
    return f"WITH {tri_cte} " + " UNION ALL ".join(parts)


def _triangle_polygons_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each rect fixture bbox cut to its lower-left right triangle, as
    (poly_id, xmin..ymax, wkb) with the triangle as an ISO WKB Polygon."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from osm_spark.geo import wkb as W

    @pandas_udf("binary")
    def enc(x0s, x1s, y0s, y1s):
        return pd.Series(
            [
                W.encode_polygon([([x0, x1, x0, x0], [y0, y0, y1, y0])])
                for x0, x1, y0, y1 in zip(x0s, x1s, y0s, y1s)
            ]
        )

    return _rect_polygons_df(spark, sf_dir).select(
        "poly_id", "xmin", "xmax", "ymin", "ymax",
        enc("xmin", "xmax", "ymin", "ymax").alias("wkb"),
    )


@register("covering_polygon", _triangle_covering_sql(4, 7))
def q_covering_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERAL-polygon adaptive covering (geo/covering.py
    polygon_covering): tiles classified against the actual WKB rings —
    Liang-Barsky edge-vs-rect clip for BOUNDARY, tile-center ray-cast
    (build_polygon.go:228-230 formula, even-odd over rings) for
    FULL/DISJOINT — via the same O(perimeter) frontier recursion. The
    fixture cuts each rect fixture bbox into its lower-left right
    triangle, so interior coarsening AND exterior-corner drop-out are
    both exercised; the oracle is an independent separating-axes closed
    form for that triangle."""
    tri = _triangle_polygons_df(spark, sf_dir)
    return _cov.polygon_covering(tri, 4, 7).select(
        "poly_id", "zoom", "tile_x", "tile_y"
    )


_TRI_PIP_ORACLE = f"""
    WITH {_RECTB_SQL[5:]},
    tri AS (
      SELECT poly_id, xmin AS x0, xmax AS x1, ymin AS y0, ymax AS y1,
             xmax - xmin AS dx, ymax - ymin AS dy
      FROM rectb)
    SELECT d.doc_id, t.poly_id
    FROM documents d, tri t
    WHERE {pages.GEO_LAT_SQL.replace('doc_id', 'd.doc_id')} > t.y0
      AND {pages.GEO_LON_SQL.replace('doc_id', 'd.doc_id')} > t.x0
      AND ({pages.GEO_LON_SQL.replace('doc_id', 'd.doc_id')} - t.x0) / t.dx
        + ({pages.GEO_LAT_SQL.replace('doc_id', 'd.doc_id')} - t.y0) / t.dy < 1
    """


@register("pip_polygon_covering", _TRI_PIP_ORACLE)
def q_pip_polygon_covering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join through the TRUE polygon covering with the
    interior/boundary split (geo/pip.py pip_join_polygon_covering):
    cell_full covering cells accept their points WITHOUT any ray-cast —
    the covering proved containment — and only z_max boundary cells run
    the WKB even-odd refine. The fixture is the triangle cut of each
    rect bbox; the oracle is the closed-form point-in-triangle test, so
    BOTH the ring-exact covering and the skip-refine shortcut must be
    exactly right for the join outputs to agree."""
    from osm_spark.geo import pip

    tri = _triangle_polygons_df(spark, sf_dir)
    pts = pages.page_points(spark, sf_dir)
    return pip.pip_join_polygon_covering(pts, tri, z_min=4, z_max=7).select(
        "doc_id", "poly_id"
    )


# =====================================================================
# GeoJSON feature emission (osmgeojson/convert.go:165-231 output layer;
# functions/geojson.py)
# =====================================================================

@register(
    "geojson_features",
    f"""
    WITH n AS (
      SELECT doc_id, {pages.GEO_LAT_SQL} AS lat, {pages.GEO_LON_SQL} AS lon,
             doc_id % 7 AS version, doc_id % 100 AS changeset
      FROM documents),
    kept AS (
      SELECT * FROM n WHERE NOT (lat = 0 AND lon = 0 AND version = 0))
    SELECT 'node/' || CAST(doc_id AS VARCHAR) AS feature_id,
           CAST(floor(lon * 1e6) AS BIGINT) AS lon_e6,
           CAST(floor(lat * 1e6) AS BIGINT) AS lat_e6,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT) AS n_rel,
           CASE WHEN doc_id % 3 = 0 AND doc_id % 6 = 0 THEN 'outer'
                WHEN doc_id % 3 = 0 THEN 'inner' END AS rel_role,
           CASE WHEN version = 0 THEN NULL ELSE CAST(version AS INT) END
             AS meta_version,
           CASE WHEN changeset = 0 THEN NULL ELSE changeset END
             AS meta_changeset
    FROM kept
    """,
)
def q_geojson_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GeoJSON document emission: node features with geometry,
    properties (id/type/tags), relation-membership summaries and
    zero-omitting meta, built by the ported convert.go kernel and
    emitted as canonical JSON strings — then parsed BACK with
    get_json_object so the oracle checks the serialized structure
    (quantized coords keep float formatting out of the hash)."""
    from osm_spark.functions import geojson as GJ

    docs = pages.load_documents(spark, sf_dir)
    nodes = docs.select(
        F.col("doc_id").alias("id"),
        pages.geo_lat("doc_id").alias("lat"),
        pages.geo_lon("doc_id").alias("lon"),
        (F.col("doc_id") % 7).cast("int").alias("version"),
        (F.col("doc_id") % 100).alias("changeset"),
    )
    members = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("ref"),
        F.floor(F.col("doc_id") / 3).cast("long").alias("rel_id"),
        F.when(F.col("doc_id") % 6 == 0, F.lit("outer"))
        .otherwise(F.lit("inner"))
        .alias("role"),
        F.create_map(F.lit("type"), F.lit("multipolygon")).alias("tags"),
    )
    feats = GJ.node_features_df(nodes, members)
    g = lambda p: F.get_json_object("feature", p)
    return feats.select(
        g("$.id").alias("feature_id"),
        F.floor(g("$.geometry.coordinates[0]").cast("double") * 1e6)
        .cast("long")
        .alias("lon_e6"),
        F.floor(g("$.geometry.coordinates[1]").cast("double") * 1e6)
        .cast("long")
        .alias("lat_e6"),
        F.json_array_length(g("$.properties.relations")).alias("n_rel"),
        g("$.properties.relations[0].role").alias("rel_role"),
        g("$.properties.meta.version").cast("int").alias("meta_version"),
        g("$.properties.meta.changeset").cast("long").alias("meta_changeset"),
    )


_SIM60_SQL = _dd.simhash60_sql("docs2", "doc_id", "text")

@register(
    "simhash_neardup",
    f"""
    WITH {_DOCS2_SQL},
    sim AS ({_SIM60_SQL}),
    bands AS (
      SELECT doc_id, t.k AS band,
             (simhash >> (15 * t.k)) % 32768 AS band_key, simhash
      FROM sim, unnest([0, 1, 2, 3]) AS t(k)),
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
             l.simhash AS sa, r.simhash AS sb
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.band_key = r.band_key
       AND l.doc_id < r.doc_id)
    SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 12
    """,
)
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-SimHash near-dup: 60-bit simhash (15 md5 nibbles/token; 60
    not 64 keeps the value signed-BIGINT-safe in every engine) banded
    4 x 15 bits; by pigeonhole every pair with <= 3 differing bands
    shares an exact band, candidates verified by exact popcount
    (bit_count over XOR). Shuffle volume |docs| x 4 band keys — never
    all-pairs."""
    docs = _docs2(spark, sf_dir)
    # persist: the band self-join consumes the 60-sum aggregation from
    # both sides (2 consumers -> 1 compute)
    sim = _persist(_dd.simhash60(docs, "doc_id", "text"))
    out = _dd.simhash_neardup_pairs(sim, "doc_id", max_hamming=12)
    return out.select("a", "b", F.col("hamming").cast("int").alias("hamming"))


_CS_CUTOFF = "2024-01-20 00:00:00"

@register(
    "changeset_stream",
    f"""
    WITH upd AS (
      SELECT user_id * 10 + (date_part('day', ts) % 7) AS cs_id,
             ts, CAST(event_id % 5 + 1 AS INT) AS n_changes
      FROM events)
    SELECT cs_id,
           count(*) AS n_updates,
           CAST(sum(n_changes) AS BIGINT) AS n_changes,
           min(epoch_us(ts)) AS first_us,
           max(epoch_us(ts)) AS last_us
    FROM upd GROUP BY 1
    """,
)
def q_changeset_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changeset replication stream (replication/changesets.go:147-205
    feed): per-changeset rollup state maintained by the associative
    batch-merge kernel — state built from pre-cutoff updates, one
    post-cutoff batch merged through apply_changeset_batch; the oracle
    recomputes the rollup over the full feed, which must equal the
    incremental merge."""
    from osm_spark.streaming.replication import (
        apply_changeset_batch, changeset_rollup_batch,
    )

    ev = _t(spark, sf_dir, "events")
    upd = ev.select(
        (F.col("user_id") * 10 + F.dayofmonth("ts") % 7).alias("cs_id"),
        F.col("ts"),
        (F.col("event_id") % 5 + 1).cast("int").alias("n_changes"),
    )
    cutoff = F.lit(_CS_CUTOFF).cast("timestamp")
    state = changeset_rollup_batch(upd.where(F.col("ts") < cutoff))
    merged = apply_changeset_batch(state, upd.where(F.col("ts") >= cutoff))
    return merged.select(
        "cs_id",
        F.col("n_updates").alias("n_updates"),
        "n_changes",
        "first_us",
        "last_us",
    )


@register(
    "media_decode_real",
    """
    WITH img AS (
      SELECT doc_id AS media_id, doc_id % 16 + 4 AS w, doc_id % 12 + 3 AS h
      FROM documents WHERE doc_id % 2 = 0),
    ib AS (
      SELECT media_id, w, h,
             ((media_id * 31 + t.x * 7) % 256) >> 5 AS bin
      FROM img, LATERAL (SELECT unnest(range(0, w * h * 3)) AS x) t),
    irows AS (
      SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             3 AS channels,
             CAST(sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
             CAST(sum(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
             CAST(sum(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
             CAST(sum(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
             CAST(sum(CASE WHEN bin = 4 THEN 1 ELSE 0 END) AS BIGINT) AS b4,
             CAST(sum(CASE WHEN bin = 5 THEN 1 ELSE 0 END) AS BIGINT) AS b5,
             CAST(sum(CASE WHEN bin = 6 THEN 1 ELSE 0 END) AS BIGINT) AS b6,
             CAST(sum(CASE WHEN bin = 7 THEN 1 ELSE 0 END) AS BIGINT) AS b7
      FROM ib GROUP BY media_id, w, h),
    aud AS (
      SELECT doc_id AS media_id, doc_id % 50 + 10 AS n
      FROM documents WHERE doc_id % 2 = 1),
    ab AS (
      SELECT media_id, n,
             ((media_id * 13 + t.x * 5) % 65536) >> 13 AS bin
      FROM aud, LATERAL (SELECT unnest(range(0, n)) AS x) t),
    arows AS (
      SELECT media_id, CAST(n AS INT) AS width, 1 AS height, 1 AS channels,
             CAST(sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
             CAST(sum(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
             CAST(sum(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
             CAST(sum(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
             CAST(sum(CASE WHEN bin = 4 THEN 1 ELSE 0 END) AS BIGINT) AS b4,
             CAST(sum(CASE WHEN bin = 5 THEN 1 ELSE 0 END) AS BIGINT) AS b5,
             CAST(sum(CASE WHEN bin = 6 THEN 1 ELSE 0 END) AS BIGINT) AS b6,
             CAST(sum(CASE WHEN bin = 7 THEN 1 ELSE 0 END) AS BIGINT) AS b7
      FROM ab GROUP BY media_id, n)
    SELECT * FROM irows UNION ALL SELECT * FROM arows
    """,
)
def q_media_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode: deterministic pixel/sample payloads encode to
    genuine 24bpp BMP / PNG (deflate + scanline filters) / PCM16 WAV
    blobs (multimodal/codecs.py), travel as binary columns, then
    decode_features(real_decode=True) parses the actual file bytes
    (bottom-up padded BMP rows, PNG unfiltering, RIFF chunks) and
    histograms the recovered values. The oracle recomputes dims + bins
    closed-form — any header/stride/filter/byte-order defect shifts
    them, and PNG vs BMP must be invisible to the result."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    import numpy as np

    from osm_spark.multimodal import codecs as C
    from osm_spark.multimodal.media import decode_features

    def _mk_fn(ids):
        blobs = []
        for mid in ids:
            mid = int(mid)
            if mid % 2 == 0:
                w, h = mid % 16 + 4, mid % 12 + 3
                px = (mid * 31 + np.arange(w * h * 3) * 7) % 256
                img = px.astype(np.uint8).reshape(h, w, 3)
                # alternate container: same pixels travel as PNG (real
                # deflate + filter codec) or BMP — the decoded values,
                # hence the oracle's bins, are container-independent
                if mid % 4 == 0:
                    blobs.append(C.encode_png(img))
                else:
                    blobs.append(C.encode_bmp(img))
            else:
                n = mid % 50 + 10
                s = ((mid * 13 + np.arange(n) * 5) % 65536) - 32768
                blobs.append(C.encode_wav(s.astype(np.int16)))
        return pd.Series(blobs)

    _mk = pandas_udf(_mk_fn, "binary")

    docs = pages.load_documents(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"), _mk("doc_id").alias("blob")
    )
    feats = decode_features(media, real_decode=True)
    return feats.select(
        "media_id", "width", "height", "channels",
        *[F.col("feature")[k].alias(f"b{k}") for k in range(8)],
    )


@register(
    "pbf_scan",
    f"""
    SELECT doc_id AS id,
           CAST(floor(0.000000001 * (100 * floor({pages.GEO_LAT_SQL} * 10000000 + 0.5)) * 1000000)
                AS BIGINT) AS lat_e6,
           CAST(floor(0.000000001 * (100 * floor({pages.GEO_LON_SQL} * 10000000 + 0.5)) * 1000000)
                AS BIGINT) AS lon_e6
    FROM documents
    """,
)
def q_pbf_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL OSM PBF wire-format round-trip (sources/pbf.py): geocoded
    pages encode into DenseNodes PrimitiveBlocks — hand-rolled protobuf
    varint/zigzag/packed columns, delta coding, string table, zlib
    blobs, BigEndian BlobHeader framing (decode.go:301-330,
    osmformat.pb.go DenseNodes) — written to a .osm.pbf file that the
    Arrow file scan (read_pbf_file_nodes_arrow: executor-side preads,
    mapInArrow, cumsum delta-undo) reads back. The oracle reproduces
    the 1e-7 coordinate grid closed-form (granularity 100 nano-degrees,
    floor(x+0.5) grid rounding), so any defect in varint packing,
    zigzag, delta chains, framing or the granularity math shifts the
    values."""
    import hashlib
    import os
    import tempfile

    from osm_spark.sources import pbf as P

    pts = pages.page_points(spark, sf_dir).select("doc_id", "lat", "lon")
    rows = pts.collect()  # parameter-sized fixture (500 at sf0.01)
    blocks = []
    for i in range(0, len(rows), 64):
        blocks.append(
            P.encode_primitive_block(
                nodes=[
                    {"id": r["doc_id"], "lat": r["lat"], "lon": r["lon"]}
                    for r in rows[i : i + 64]
                ]
            )
        )
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"osm_spark_pbf_scan_{key}.osm.pbf")
    fd, tmp = tempfile.mkstemp(dir=tempfile.gettempdir())
    with os.fdopen(fd, "wb") as f:
        f.write(P.encode_pbf(blocks))
    os.replace(tmp, path)  # atomic vs concurrent sessions
    nodes = P.read_pbf_file_nodes_arrow(spark, path)
    return nodes.select(
        "id",
        F.floor(F.col("lat") * 1e6).cast("long").alias("lat_e6"),
        F.floor(F.col("lon") * 1e6).cast("long").alias("lon_e6"),
    )


@register(
    "media_jpeg",
    """
    WITH img AS (
      SELECT doc_id AS media_id, doc_id % 3 + 1 AS bw, doc_id % 2 + 1 AS bh
      FROM documents),
    blocks AS (
      SELECT media_id, bw, bh,
             ((media_id * 31 + t.i * 17) % 256) >> 5 AS bin
      FROM img, LATERAL (SELECT unnest(range(0, bw * bh)) AS i) t)
    SELECT media_id,
           CAST(bw * 8 AS INT) AS width, CAST(bh * 8 AS INT) AS height,
           1 AS channels,
           CAST(sum(CASE WHEN bin = 0 THEN 64 ELSE 0 END) AS BIGINT) AS b0,
           CAST(sum(CASE WHEN bin = 1 THEN 64 ELSE 0 END) AS BIGINT) AS b1,
           CAST(sum(CASE WHEN bin = 2 THEN 64 ELSE 0 END) AS BIGINT) AS b2,
           CAST(sum(CASE WHEN bin = 3 THEN 64 ELSE 0 END) AS BIGINT) AS b3,
           CAST(sum(CASE WHEN bin = 4 THEN 64 ELSE 0 END) AS BIGINT) AS b4,
           CAST(sum(CASE WHEN bin = 5 THEN 64 ELSE 0 END) AS BIGINT) AS b5,
           CAST(sum(CASE WHEN bin = 6 THEN 64 ELSE 0 END) AS BIGINT) AS b6,
           CAST(sum(CASE WHEN bin = 7 THEN 64 ELSE 0 END) AS BIGINT) AS b7
    FROM blocks GROUP BY media_id, bw, bh
    """,
)
def q_media_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG round-trip through the FULL lossy pipeline
    (multimodal/jpeg.py: DCT -> quantize -> zigzag -> huffman bitstream
    with byte stuffing -> markers, then the general decoder back): the
    fixture images are BLOCK-UNIFORM, which diagonalizes the DCT (each
    8x8 block is a pure DC coefficient), so the lossy codec becomes
    bit-exact and the DuckDB oracle can predict every decoded pixel —
    the one fixture family where a closed-form oracle can check a DCT
    codec end-to-end. Odd media_ids encode PROGRESSIVE (SOF2, full
    successive approximation + RSTn restarts), even ids baseline
    (SOF0); the decoder's multi-scan engine must reconstruct identical
    pixels from both, so the one oracle checks both codecs. Any defect
    in the DCT, quantizer, zigzag, huffman tables, bit packing,
    stuffing, marker layout, or progressive scan decode shifts the
    histogram."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    import numpy as np

    from osm_spark.multimodal.jpeg import encode_jpeg, encode_jpeg_progressive
    from osm_spark.multimodal.media import decode_features

    def _mk_fn(ids):
        blobs = []
        for mid in ids:
            mid = int(mid)
            bw, bh = mid % 3 + 1, mid % 2 + 1
            vals = (mid * 31 + np.arange(bw * bh) * 17) % 256
            blocks = vals.astype(np.uint8).reshape(bh, bw)
            img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
            if mid % 2:
                blobs.append(encode_jpeg_progressive(img, restart_interval=2))
            else:
                blobs.append(encode_jpeg(img))
        return pd.Series(blobs)

    _mk = pandas_udf(_mk_fn, "binary")
    docs = pages.load_documents(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"), _mk("doc_id").alias("blob")
    )
    feats = decode_features(media, real_decode=True)
    return feats.select(
        "media_id", "width", "height", "channels",
        *[F.col("feature")[k].alias(f"b{k}") for k in range(8)],
    )


# =====================================================================
# Within-distance spatial self-join (range join -> cell equi-join;
# geo/distance_join.py)
# =====================================================================

_WD_D = 300000.0  # meters

_WD_HAV = _dist.haversine_m_sql(
    pages.GEO_LAT_SQL.replace("doc_id", "l.doc_id"),
    pages.GEO_LON_SQL.replace("doc_id", "l.doc_id"),
    pages.GEO_LAT_SQL.replace("doc_id", "r.doc_id"),
    pages.GEO_LON_SQL.replace("doc_id", "r.doc_id"),
)

@register(
    "within_distance",
    f"""
    SELECT l.doc_id AS a, r.doc_id AS b,
           CAST(floor({_WD_HAV}) AS BIGINT) AS dist_floor_m
    FROM documents l JOIN documents r ON l.doc_id < r.doc_id
    WHERE floor({_WD_HAV}) <= {math.floor(_WD_D)}
    """,
)
def q_within_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All page pairs within 300 km: the range join as a cell equi-join
    (left side emits its 3x3 cell neighborhood at a zoom whose cells
    are >= d wide across the latitude band, exact haversine refine) —
    never all-pairs; the oracle IS all-pairs brute force."""
    from osm_spark.geo.distance_join import within_distance_pairs

    pts = pages.page_points(spark, sf_dir)
    return within_distance_pairs(pts, _WD_D)


def _kmeans_cte_chain(k: int = 4, dim: int = 64, seed_mod: int = 137) -> str:
    """WITH-chain pts/c0/a1/c1/a2/c2/af shared by the kmeans oracles."""
    qv = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    dist = (
        "list_sum(list_transform(range(1, {d} + 1), "
        "i -> (p.qv[i] - c.qv[i]) * (p.qv[i] - c.qv[i])))"
    ).format(d=dim)

    def assign(src: str, cents: str) -> str:
        return f"""(
      SELECT vec_id, qv, cid AS cell FROM (
        SELECT p.vec_id, p.qv, c.cid,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {dist}, c.cid) AS rn
        FROM {src} p CROSS JOIN {cents} c) WHERE rn = 1)"""

    def update(src: str, prev: str) -> str:
        # LEFT JOIN the previous centroids so an EMPTY cell keeps its
        # old centroid — mirroring kmeans_quantized's fallback exactly
        # (similarity/kmeans.py:96-101) instead of dropping the cid
        return f"""(
      SELECT p.cid, coalesce(u.qv, p.qv) AS qv
      FROM {prev} p LEFT JOIN (
        SELECT cell AS cid, list(coord ORDER BY i) AS qv FROM (
          SELECT cell, t.i,
                 CAST(floor(CAST(sum(qv[t.i]) AS DOUBLE) / count(*)) AS BIGINT)
                   AS coord
          FROM {src}, range(1, {dim} + 1) t(i) GROUP BY cell, t.i)
        GROUP BY cell) u ON u.cid = p.cid)"""

    return f"""
    WITH pts AS (SELECT vec_id, {qv} AS qv FROM embeddings),
    c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv
           FROM pts WHERE vec_id % {seed_mod} = 0 ORDER BY vec_id LIMIT {k}),
    a1 AS {assign('pts', 'c0')},
    c1 AS {update('a1', 'c0')},
    a2 AS {assign('pts', 'c1')},
    c2 AS {update('a2', 'c1')},
    af AS {assign('pts', 'c2')}"""


def _kmeans_oracle(k: int = 4, dim: int = 64, seed_mod: int = 137) -> str:
    return f"""{_kmeans_cte_chain(k, dim, seed_mod)},
    sizes AS (SELECT cell, count(*) AS n FROM af GROUP BY 1)
    SELECT c2.cid AS cell, t.i - 1 AS dim, c2.qv[t.i] AS coord,
           CAST(s.n AS BIGINT) AS n_members
    FROM c2, range(1, {dim} + 1) t(i), sizes s
    WHERE s.cell = c2.cid
    """


@register("kmeans_iterate", _kmeans_oracle())
def q_kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized Lloyd's k-means (2 iterations, k=4, dim 64):
    the IVF coarse-quantizer TRAINING loop, exact in integer arithmetic
    so the oracle replays every assignment and centroid update
    bit-for-bit (similarity/kmeans.py). Output: final centroids per
    dimension + member counts of the final assignment."""
    from osm_spark.similarity.kmeans import kmeans_quantized

    emb = _t(spark, sf_dir, "embeddings")
    centroids, assign = kmeans_quantized(emb, k=4, iters=2)
    sizes = assign.groupBy("cell").agg(F.count("*").alias("n_members"))
    cent_rows = [
        (cid, d, int(v)) for cid, vec in centroids for d, v in enumerate(vec)
    ]
    cdf = spark.createDataFrame(cent_rows, "cell long, dim long, coord long")
    return cdf.join(sizes, "cell").select(
        "cell", F.col("dim").cast("long").alias("dim"), "coord",
        F.col("n_members").cast("long").alias("n_members"),
    )


@register("kmeans_bigk", _kmeans_oracle(k=64, seed_mod=7))
def q_kmeans_bigk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME training loop at k=64 — past similarity/kmeans.py's
    LITERAL_K_MAX, so the assignment runs through the Arrow argmin over
    a closure-captured int64 centroid matrix (constant plan size in k;
    tests/test_plans.py asserts it) while the oracle replays the
    identical integer math. This is the production-IVF shape: k grows
    to 10^4-10^5 cells without growing the query plan."""
    from osm_spark.similarity.kmeans import kmeans_quantized

    emb = _t(spark, sf_dir, "embeddings")
    centroids, assign = kmeans_quantized(emb, k=64, iters=2, seed_mod=7)
    sizes = assign.groupBy("cell").agg(F.count("*").alias("n_members"))
    cent_rows = [
        (cid, d, int(v)) for cid, vec in centroids for d, v in enumerate(vec)
    ]
    cdf = spark.createDataFrame(cent_rows, "cell long, dim long, coord long")
    return cdf.join(sizes, "cell").select(
        "cell", F.col("dim").cast("long").alias("dim"), "coord",
        F.col("n_members").cast("long").alias("n_members"),
    )


@register(
    "token_count_bpe",
    f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tok,
           CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'))
                AS INT) AS n_bpe_tok
    FROM documents
    """,
)
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways the brief asks for: whitespace split +
    a BPE-ish pre-tokenizer regex (GPT-2-style pieces, ASCII classes
    only, no lookarounds, so Java regex and RE2 tokenize identically)."""
    from osm_spark.text import quality as _q

    docs = pages.load_documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        _q.n_tokens("text").cast("int").alias("n_ws_tok"),
        _q.n_bpe_tokens("text").cast("int").alias("n_bpe_tok"),
    )


def _ann_trained_oracle(dim: int = 64, qmod: int = 91, nprobe: int = 2, topk: int = 3) -> str:
    cdist = (
        f"list_sum(list_transform(range(1, {dim} + 1), "
        "i -> (qs.qv[i] - c.qv[i]) * (qs.qv[i] - c.qv[i])))"
    )
    ndist = (
        f"list_sum(list_transform(range(1, {dim} + 1), "
        "i -> (qs.qv[i] - a.qv[i]) * (qs.qv[i] - a.qv[i])))"
    )
    return f"""{_kmeans_cte_chain()},
    qs AS (SELECT vec_id AS q, qv FROM pts WHERE vec_id % {qmod} = 0),
    pcells AS (
      SELECT q, cid AS cell FROM (
        SELECT qs.q, c.cid,
               row_number() OVER (PARTITION BY qs.q ORDER BY {cdist}, c.cid)
                 AS rn
        FROM qs CROSS JOIN c2 c) WHERE rn <= {nprobe}),
    cand AS (
      SELECT pc.q, a.vec_id AS neighbor, {ndist} AS d2
      FROM pcells pc
      JOIN af a ON a.cell = pc.cell
      JOIN qs ON qs.q = pc.q
      WHERE a.vec_id <> pc.q)
    SELECT q, rank, neighbor FROM (
      SELECT q, neighbor,
             CAST(row_number() OVER (PARTITION BY q ORDER BY d2, neighbor)
                  AS INT) AS rank
      FROM cand) WHERE rank <= {topk}
    """


@register("ann_trained_topk", _ann_trained_oracle())
def q_ann_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ANN stack end-to-end: k-means-trained quantizer ->
    corpus assignment -> nprobe probe -> integer-L2 top-k — every step
    exact integer math, so the oracle replays TRAINING and SEARCH
    bit-for-bit (similarity/kmeans.py trained_ivf_topk)."""
    from osm_spark.similarity.kmeans import trained_ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.where(F.col("vec_id") % 91 == 0).collect()
    ]
    return trained_ivf_topk(emb, queries, k=4, iters=2, nprobe=2, topk=3)


# =====================================================================
# URL canonicalization + host rollup (text/urls.py — webtext pipeline)
# =====================================================================

from osm_spark.text import urls as _urls

_MESSY_SQL = """
      SELECT doc_id, source,
             CASE doc_id % 4
               WHEN 0 THEN 'HTTP://' || upper(source) || '.Example.COM:80/p'
                           || CAST(doc_id AS VARCHAR) || '/'
               WHEN 1 THEN 'https://' || source || '.example.com:443/p'
                           || CAST(doc_id AS VARCHAR) || '?utm_source=x&q='
                           || CAST(doc_id AS VARCHAR)
               WHEN 2 THEN 'https://' || source || '.example.com/p'
                           || CAST(doc_id AS VARCHAR) || '#frag'
               ELSE 'https://' || source || '.Example.com/p'
                           || CAST(doc_id AS VARCHAR) || '?utm_a=1&utm_b=2'
             END AS url
      FROM documents"""

_CLEAN_SQL = """
      SELECT doc_id, source,
             'http' || (CASE WHEN doc_id % 4 = 0 THEN '' ELSE 's' END)
             || '://' || lower(source) || '.example.com/p'
             || CAST(doc_id AS VARCHAR)
             || (CASE WHEN doc_id % 4 = 1
                 THEN '?q=' || CAST(doc_id AS VARCHAR) ELSE '' END) AS url
      FROM documents"""


@register(
    "url_canonical_rollup",
    f"""
    WITH messy AS ({_MESSY_SQL}),
    clean AS ({_CLEAN_SQL}),
    allu AS (SELECT url FROM messy UNION ALL SELECT url FROM clean),
    canon AS (SELECT {_urls.url_canonical_sql('url')} AS curl,
                     {_urls.url_host_sql('url')} AS host
              FROM allu)
    SELECT host, count(*) AS n_urls,
           count(DISTINCT curl) AS n_canonical
    FROM canon GROUP BY 1
    """,
)
def q_url_canonical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (text/urls.py): every doc contributes one
    MESSY url (case noise, default ports, fragments, utm params,
    trailing slashes) and its hand-built clean form; canonicalization
    must collapse each pair to ONE url, so per host
    n_canonical == n_urls / 2. The oracle applies the identical
    replacement chain in RE2."""
    docs = pages.load_documents(spark, sf_dir)
    d = F.col("doc_id")
    sid = F.col("source")
    messy = docs.select(
        F.when(d % 4 == 0,
               F.concat(F.lit("HTTP://"), F.upper(sid), F.lit(".Example.COM:80/p"),
                        d.cast("string"), F.lit("/")))
        .when(d % 4 == 1,
              F.concat(F.lit("https://"), sid, F.lit(".example.com:443/p"),
                       d.cast("string"), F.lit("?utm_source=x&q="), d.cast("string")))
        .when(d % 4 == 2,
              F.concat(F.lit("https://"), sid, F.lit(".example.com/p"),
                       d.cast("string"), F.lit("#frag")))
        .otherwise(
            F.concat(F.lit("https://"), sid, F.lit(".Example.com/p"),
                     d.cast("string"), F.lit("?utm_a=1&utm_b=2")))
        .alias("url")
    )
    clean = docs.select(
        F.concat(
            F.lit("http"),
            F.when(d % 4 == 0, F.lit("")).otherwise(F.lit("s")),
            F.lit("://"), F.lower(sid), F.lit(".example.com/p"), d.cast("string"),
            F.when(d % 4 == 1, F.concat(F.lit("?q="), d.cast("string")))
            .otherwise(F.lit("")),
        ).alias("url")
    )
    allu = messy.unionByName(clean)
    canon = allu.select(
        _urls.url_canonical("url").alias("curl"),
        _urls.url_host("url").alias("host"),
    )
    return canon.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("curl").alias("n_canonical"),
    )


@register(
    "media_resize",
    """
    WITH img AS (
      SELECT doc_id AS media_id, doc_id % 16 + 4 AS w, doc_id % 12 + 3 AS h
      FROM documents WHERE doc_id % 2 = 0),
    px AS (
      SELECT media_id, w, h, t.i,
             ((t.i // 18) * h) // 5 AS sy,
             (((t.i % 18) // 3) * w) // 6 AS sx,
             (t.i % 3) AS c
      FROM img, LATERAL (SELECT unnest(range(0, 90)) AS i) t),
    v AS (
      SELECT media_id,
             ((media_id * 31 + ((sy * w + sx) * 3 + c) * 7) % 256) >> 5 AS bin
      FROM px),
    bins AS (
      SELECT media_id,
             CAST(sum(CASE WHEN bin = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
             CAST(sum(CASE WHEN bin = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
             CAST(sum(CASE WHEN bin = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
             CAST(sum(CASE WHEN bin = 3 THEN 1 ELSE 0 END) AS BIGINT) AS b3,
             CAST(sum(CASE WHEN bin = 4 THEN 1 ELSE 0 END) AS BIGINT) AS b4,
             CAST(sum(CASE WHEN bin = 5 THEN 1 ELSE 0 END) AS BIGINT) AS b5,
             CAST(sum(CASE WHEN bin = 6 THEN 1 ELSE 0 END) AS BIGINT) AS b6,
             CAST(sum(CASE WHEN bin = 7 THEN 1 ELSE 0 END) AS BIGINT) AS b7
      FROM v GROUP BY 1)
    SELECT media_id, 6 AS width, 5 AS height, b0, b1, b2, b3, b4, b5, b6, b7
    FROM bins
    """,
)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize through real bytes: deterministic pixels ->
    genuine BMP -> decode -> nearest-neighbor resize to 6x5
    (codecs.resize_nearest) -> re-encode -> decode -> histogram. The
    oracle recomputes the nearest-neighbor source indices closed-form,
    so any off-by-one in the index math or the re-encode roundtrip
    shifts the bins."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from osm_spark.multimodal import codecs as C

    def _fn(ids):
        rows = []
        for mid in ids:
            mid = int(mid)
            w, h = mid % 16 + 4, mid % 12 + 3
            px = ((mid * 31 + np.arange(w * h * 3) * 7) % 256).astype(np.uint8)
            buf = C.encode_bmp(px.reshape(h, w, 3))
            img = C.decode_bmp(buf)
            small = C.resize_nearest(img, 6, 5)
            buf2 = C.encode_bmp(small)
            img2 = C.decode_bmp(buf2)
            hist = np.bincount(img2.reshape(-1) >> 5, minlength=8)
            rows.append([img2.shape[1], img2.shape[0]] + hist.tolist())
        return pd.DataFrame(
            rows, columns=["width", "height"] + [f"b{k}" for k in range(8)]
        )

    _udf = pandas_udf(
        _fn,
        "struct<width:int, height:int, b0:long, b1:long, b2:long, b3:long,"
        " b4:long, b5:long, b6:long, b7:long>",
    )
    docs = pages.load_documents(spark, sf_dir).where(F.col("doc_id") % 2 == 0)
    out = docs.select(F.col("doc_id").alias("media_id"), _udf("doc_id").alias("r"))
    return out.select(
        "media_id", F.col("r.width").alias("width"), F.col("r.height").alias("height"),
        *[F.col(f"r.b{k}").alias(f"b{k}") for k in range(8)],
    )


@register(
    "corpus_prep",
    f"""
    WITH {_DOCS2_SQL},
    langd AS (
      SELECT d.doc_id, d.text, doc.lang
      FROM docs2 d JOIN documents doc ON doc.doc_id = d.doc_id % 100000),
    q AS (
      SELECT doc_id, text, lang,
             len(string_split(text, ' ')) AS n_tok
      FROM langd),
    keep_q AS (SELECT * FROM q WHERE n_tok >= 5),
    dedup AS (
      SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
             arg_min(n_tok, doc_id) AS n_tok
      FROM (SELECT doc_id, md5(text) AS digest, lang, n_tok FROM keep_q)
      GROUP BY digest),
    final AS (SELECT * FROM dedup)
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           min(doc_id) AS first_doc
    FROM final GROUP BY 1
    """,
)
def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data prep pipeline in one dataflow:
    quality gate (min token count) -> exact dedup keeping the smallest
    id per digest -> per-language corpus stats. Composition of the
    dedup/quality operators the suite verifies individually; one
    digest-keyed shuffle + one lang rollup."""
    from osm_spark.text import dedup as _dd2

    docs = _docs2(spark, sf_dir)
    lang = pages.load_documents(spark, sf_dir).select(
        F.col("doc_id").alias("_lid"), "lang"
    )
    d = docs.join(lang, docs["doc_id"] % 100000 == lang["_lid"]).drop("_lid")
    q = d.select(
        "doc_id", "text", "lang", F.size(_dd2.words("text")).alias("n_tok")
    ).where(F.col("n_tok") >= 5)
    dedup = (
        q.select(F.md5("text").alias("digest"), "doc_id", "lang", "n_tok")
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("doc_id"),
            # min_by, not first: deterministic representative even when
            # duplicate texts could disagree on the carried columns
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("n_tok", "doc_id").alias("n_tok"),
        )
    )
    return dedup.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


_REL_ASOF_ORACLE = _ASOF_ORACLE.replace(
    "FROM events WHERE",
    "FROM (SELECT * FROM events WHERE user_id % 5 = 0) events_sub WHERE",
)


@register("relation_annotate", _REL_ASOF_ORACLE)
def q_relation_annotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """annotate.Relations wiring (temporal/relations.py annotate_relations) —
    typed children keyed by PACKED FEATURE IDS, member-slot rebuild and
    update-array assembly — driven by the same modeled histories as
    asof_annotate with node-typed members, so the brute-force as-of
    oracle applies unchanged: the relation layer must be invisible to
    the core kernel's results."""
    from osm_spark.temporal.relations import annotate_relations

    parents, children = _asof_inputs(spark, sf_dir, user_mod=5)
    relations = parents.select(
        F.col("pid").alias("id"),
        "version", "visible", "changeset", "ts", "committed",
        F.lit(None).cast("map<string,string>").alias("tags"),
        F.transform(
            "refs",
            lambda r: F.struct(
                F.lit("node").alias("type"),
                r["ref"].alias("ref"),
                F.lit("").alias("role"),
            ),
        ).alias("members"),
    )
    node_histories = children.select(
        F.col("ref").alias("id"), "version", "visible", "changeset",
        "ts", "committed", "lat", "lon",
    )
    ways_empty = spark.createDataFrame(
        [],
        "id long, version int, visible boolean, changeset long, "
        "ts timestamp, committed timestamp, "
        "nodes array<struct<ref:long, version:int, changeset:long, "
        "lat:double, lon:double>>, "
        "updates array<struct<idx:int, version:int, ts:timestamp, "
        "changeset:long, lat:double, lon:double>>",
    )
    out = annotate_relations(
        relations, node_histories, ways_empty, ignore_inconsistency=True
    )
    sets = (
        out.select(
            F.col("id").alias("user_id"),
            F.col("version").alias("pver"),
            F.explode("members").alias("m"),
        )
        .where(F.col("m.version") != 0)
        .select(
            "user_id", "pver", F.lit("set").alias("kind"),
            F.col("m.version").alias("child_version"),
            F.col("m.changeset").alias("changeset"),
            F.col("m.lat").alias("lat"),
            F.col("m.lon").alias("lon"),
            F.lit(None).cast("long").alias("uts_us"),
        )
    )
    upds = out.select(
        F.col("id").alias("user_id"),
        F.col("version").alias("pver"),
        F.explode("updates").alias("u"),
    ).select(
        "user_id", "pver", F.lit("update").alias("kind"),
        F.col("u.version").alias("child_version"),
        F.col("u.changeset").alias("changeset"),
        F.col("u.lat").alias("lat"),
        F.col("u.lon").alias("lon"),
        F.unix_micros("u.ts").alias("uts_us"),
    )
    return sets.unionByName(upds)


@register(
    "geojson_way_features",
    """
    WITH pts AS (
      SELECT c_custkey AS ref, c_nationkey AS way_id,
             CAST(c_custkey * 6151 % 140000 AS DOUBLE) / 1000.0 - 70.0 AS lat,
             CAST(c_custkey * 9277 % 340000 AS DOUBLE) / 1000.0 - 170.0 AS lon
      FROM customer),
    agg AS (
      SELECT way_id, count(*) AS n_pts,
             sum(CAST(floor(lon * 1e6) AS BIGINT)) AS lsum,
             sum(CAST(floor(lat * 1e6) AS BIGINT)) AS tsum,
             min(ref) AS first_ref
      FROM pts GROUP BY 1),
    fst AS (
      SELECT a.*, p.lon AS flon, p.lat AS flat
      FROM agg a JOIN pts p ON p.ref = a.first_ref)
    SELECT 'way/' || CAST(way_id AS VARCHAR) AS feature_id,
           CASE WHEN way_id % 3 = 0 THEN 'Polygon' ELSE 'LineString' END
             AS gtype,
           CAST(n_pts + CASE WHEN way_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
             AS n_coords,
           CAST(lsum + CASE WHEN way_id % 3 = 0
                            THEN CAST(floor(flon * 1e6) AS BIGINT) ELSE 0 END
                AS BIGINT) AS lon_e6_sum,
           CAST(tsum + CASE WHEN way_id % 3 = 0
                            THEN CAST(floor(flat * 1e6) AS BIGINT) ELSE 0 END
                AS BIGINT) AS lat_e6_sum,
           (way_id % 2 = 0) AS tainted
    FROM fst
    """,
)
def q_geojson_way_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed WAY-feature emission (wayToFeature through
    way_features_df): resolved lines become LineString features, area
    ways close + CCW-reorient into Polygons, unresolvable refs set the
    tainted property. The oracle checks the serialized geometry via
    orientation-INVARIANT aggregates (coordinate-sum over quantized
    values is unchanged by the CCW reorder) plus counts/types."""
    from osm_spark.functions.geojson import way_features_df

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    nodes = cust.select(
        k.alias("ref"),
        ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0).alias("lat"),
        ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0).alias("lon"),
    )
    ways0 = (
        cust.groupBy(F.col("c_nationkey").alias("way_id"))
        .agg(F.array_sort(F.collect_list(k)).alias("refs"))
        .select(
            "way_id",
            F.when(
                F.col("way_id") % 2 == 0,
                F.concat("refs", F.array(F.lit(-1).cast("long"))),
            ).otherwise(F.col("refs")).alias("refs"),
        )
    )
    slots = ways0.select("way_id", F.posexplode("refs").alias("pos", "ref"))
    resolved = slots.join(nodes, "ref", "left")
    lines = resolved.groupBy("way_id").agg(
        F.array_sort(
            F.collect_list(
                F.when(F.col("lat").isNotNull(), F.struct("pos", "lon", "lat"))
            )
        ).alias("_l"),
        F.max(F.col("lat").isNull()).alias("tainted"),
    )
    ways = lines.select(
        F.col("way_id").alias("id"),
        F.transform(
            "_l", lambda p: F.struct(p["lon"].alias("lon"), p["lat"].alias("lat"))
        ).alias("line"),
        (F.col("way_id") % 3 == 0).alias("is_polygon"),
        "tainted",
    )
    feats = way_features_df(ways)
    # ONE from_json pass (r03 advice: the old form re-parsed the JSON
    # per output column); coordinates captured as raw text (from_json
    # yields the JSON snippet for string-typed fields), then one typed
    # parse per geometry branch
    fschema = (
        "struct<id:string,geometry:struct<type:string,"
        "coordinates:string>,properties:struct<tainted:string>>"
    )
    parsed = feats.select(F.from_json("feature", fschema).alias("f"))
    coords = F.when(
        F.col("f.geometry.type") == "Polygon",
        F.flatten(
            F.from_json("f.geometry.coordinates", "array<array<array<double>>>")
        ),
    ).otherwise(
        F.from_json("f.geometry.coordinates", "array<array<double>>")
    )
    parsed = parsed.select("f", coords.alias("coords"))
    qsum = lambda i: F.aggregate(
        F.transform("coords", lambda c: F.floor(c[i] * 1e6).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return parsed.select(
        F.col("f.id").alias("feature_id"),
        F.col("f.geometry.type").alias("gtype"),
        F.size("coords").alias("n_coords"),
        qsum(0).alias("lon_e6_sum"),
        qsum(1).alias("lat_e6_sum"),
        F.col("f.properties.tainted").isNotNull().alias("tainted"),
    )


# =====================================================================
# Web-page preparation suite (round 4): HTML render/extract with the
# north rule's byte-identical invariant, Gopher-style repetition
# signals, PII scrub, C4-style chunk-granularity corpus dedup.
# =====================================================================

from osm_spark.text import webprep as _wp


@register(
    "html_extract",
    """
    WITH r AS (
      SELECT doc_id, lang,
             text || ' <#' || CAST(doc_id AS VARCHAR) || ' & "tail">' AS rich
      FROM documents),
    h AS (
      SELECT doc_id, rich,
             '<!DOCTYPE html><html lang="' || lang || '"><head><title>p' ||
             CAST(doc_id AS VARCHAR) || '</title></head><body><p id="c' ||
             CAST(doc_id AS VARCHAR) || '">' ||
             replace(replace(replace(replace(rich,
                 '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;') ||
             '</p></body></html>' AS html
      FROM r),
    e AS (
      SELECT doc_id, rich, length(html) AS n_html_chars,
             replace(replace(replace(replace(
                 regexp_extract(html, '<p[^>]*>(.*)</p>', 1),
                 '&quot;', '"'), '&gt;', '>'), '&lt;', '<'), '&amp;', '&') AS x
      FROM h)
    SELECT doc_id,
           CAST(n_html_chars AS BIGINT) AS n_html_chars,
           CAST((x = rich) AS BIGINT) AS byte_identical,
           md5(x) AS text_md5,
           CAST(length(x) AS BIGINT) AS n_text_chars
    FROM e
    """,
)
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule per-row invariant, exercised end-to-end: render each
    document into a real HTML5 page (**binary** column, entity-escaped
    body on text deliberately containing ``& < > "``), then extract the
    text back and prove it **byte-identical** per row.  Column-only
    (replace/regexp/encode/decode) — single narrow scan-project, no
    shuffle, no UDF; survives 10^12 rows trivially."""
    docs = _t(spark, sf_dir, "documents")
    rich = _wp.rich_text(F.col("text"), F.col("doc_id"))
    page = docs.select(
        F.col("doc_id"),
        rich.alias("rich"),
        _wp.render_html(rich, F.col("doc_id"), F.col("lang")).alias("html"),
    )
    ext = page.select(
        "doc_id",
        F.length(F.decode("html", "UTF-8")).cast("long").alias("n_html_chars"),
        F.col("rich"),
        _wp.extract_text(F.col("html")).alias("x"),
    )
    return ext.select(
        "doc_id",
        "n_html_chars",
        (F.col("x") == F.col("rich")).cast("long").alias("byte_identical"),
        F.md5("x").alias("text_md5"),
        F.length("x").cast("long").alias("n_text_chars"),
    )


@register(
    "quality_repetition",
    f"""
    WITH base AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             len(list_distinct(string_split(text, ' '))) AS n_uniq,
             {_dd.shingles_sql("text", 2)} AS bg
      FROM documents),
    bgx AS (SELECT doc_id, unnest(bg) AS bg FROM base),
    per AS (SELECT doc_id, bg, count(*) AS n FROM bgx GROUP BY doc_id, bg),
    top AS (SELECT doc_id, max(n) AS top_bigram_count, sum(n) AS n_bigrams
            FROM per GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(b.n_words AS BIGINT) AS n_words,
           CAST(floor((1.0 - CAST(b.n_uniq AS DOUBLE) / CAST(b.n_words AS DOUBLE))
                * 1000000.0) AS BIGINT) AS dup_word_frac_e6,
           CAST(coalesce(t.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(t.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
           CAST(coalesce(floor(CAST(t.top_bigram_count AS DOUBLE)
                / CAST(t.n_bigrams AS DOUBLE) * 1000000.0), 0) AS BIGINT)
             AS top_bigram_frac_e6
    FROM base b LEFT JOIN top t USING (doc_id)
    """,
)
def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: duplicate-word fraction
    + top-bigram fraction.  The bigram key space is per-document, so
    the frequency argmax is computed IN-ROW (sorted-array max run, see
    webprep._max_run) — the whole operator is one narrow scan-project
    with zero shuffles at any corpus size."""
    # seed parquet is a single split; spread before the shingle-heavy
    # stage (same local-mode ergonomic as _docs2 — a real corpus
    # arrives already multi-split and skips this)
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(32, "doc_id")
    )
    return _wp.repetition_metrics(docs, "doc_id", "text")


@register(
    "pii_scrub",
    """
    WITH a AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example'
                  || ' call 555-0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.' || CAST(doc_id * 7 % 256 AS VARCHAR) AS t
      FROM documents),
    s AS (
      SELECT doc_id, t,
             regexp_replace(regexp_replace(regexp_replace(t,
                 '[A-Za-z0-9._]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                 '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g'),
                 '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrub
      FROM a)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._]+@[A-Za-z0-9.-]+')) AS BIGINT)
             AS n_email,
           CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(t,
             '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS BIGINT) AS n_ip,
           md5(scrub) AS scrub_md5,
           CAST(length(scrub) AS BIGINT) AS scrub_len
    FROM s
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact (email / phone / IPv4) with RE2-compatible
    character-class regexes; PII is injected deterministically per row
    (the sandbox word-soup has none) so the counts and the redacted-md5
    are non-vacuous.  Column-only regex — narrow scan-project."""
    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        F.col("doc_id"),
        _wp.pii_augment(F.col("text"), F.col("doc_id")).alias("t"),
    )
    return _wp.pii_metrics(aug, "doc_id", F.col("t"))


@register(
    "chunk_dedup",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    c AS (
      SELECT doc_id,
             list_transform(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT)),
                 i -> array_to_string(
                     list_slice(w, CAST(i * 8 + 1 AS BIGINT),
                                CAST(i * 8 + 8 AS BIGINT)), ' ')) AS ch
      FROM w),
    x AS (SELECT doc_id, unnest(range(0, len(ch))) AS chunk,
                 unnest(ch) AS chunk_text FROM c),
    k AS (SELECT doc_id, chunk, chunk_text,
                 row_number() OVER (PARTITION BY md5(chunk_text)
                                    ORDER BY doc_id, chunk) AS rn FROM x),
    a AS (SELECT doc_id, count(*) AS kept_chunks,
                 md5(string_agg(chunk_text, ' ' ORDER BY chunk)) AS dedup_md5
          FROM k WHERE rn = 1 GROUP BY doc_id)
    SELECT c.doc_id,
           CAST(len(c.ch) AS BIGINT) AS n_chunks,
           CAST(coalesce(a.kept_chunks, 0) AS BIGINT) AS kept_chunks,
           coalesce(a.dedup_md5, md5('')) AS dedup_md5
    FROM c LEFT JOIN a USING (doc_id)
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-global exact dedup at 8-word-chunk granularity:
    first occurrence per chunk digest wins (deterministic (doc_id,
    chunk) order), documents reassembled from surviving chunks.  ONE
    digest-keyed shuffle + one doc-keyed reassembly shuffle — the same
    shape at 10^12 docs."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(32, "doc_id")
    )
    return _wp.chunk_dedup(docs, "doc_id", "text")


@register(
    "top_terms",
    """
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
               FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM t GROUP BY doc_id, term),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                 row_number() OVER (PARTITION BY tf.doc_id
                     ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank
          FROM tf JOIN df USING (term))
    SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df
    FROM r WHERE rank <= 3
    """,
)
def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 salient terms (webprep.term_counts + top_terms):
    TF-IDF-style ranking made integer-exact — (tf desc, df asc, term
    asc) instead of a float tf*log(N/df) score, the same order for any
    monotone idf and bit-reproducible in both engines.  Document
    frequencies aggregate from the persisted (doc, term) counts and
    broadcast back; the top-k window shuffles on doc_id only."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(32, "doc_id")
    )
    tf = _persist(_wp.term_counts(docs, "doc_id", "text"))
    return _wp.top_terms(tf, "doc_id", k=3)


@register(
    "robots_filter",
    """
    WITH u AS (
      SELECT doc_id,
             lower(source) || '.example.com' AS host,
             CASE doc_id % 5
               WHEN 0 THEN '/p' || CAST(doc_id AS VARCHAR)
               WHEN 1 THEN '/private/x' || CAST(doc_id AS VARCHAR)
               WHEN 2 THEN '/private/ok' || CAST(doc_id AS VARCHAR)
               WHEN 3 THEN '/data' || CAST(doc_id AS VARCHAR) || '.zip'
               ELSE '/tmp/' || CAST(doc_id AS VARCHAR) || '/file'
             END AS path
      FROM documents)
    SELECT doc_id, host, path,
           CAST(CASE doc_id % 5
             WHEN 0 THEN 1
             WHEN 1 THEN CASE WHEN length(host) % 2 = 0 THEN 1 ELSE 0 END
             WHEN 2 THEN 1
             WHEN 3 THEN 0
             ELSE 0
           END AS BIGINT) AS allowed,
           CASE doc_id % 5
             WHEN 0 THEN NULL
             WHEN 1 THEN '/private/'
             WHEN 2 THEN '/private/ok*'
             WHEN 3 THEN '/*.zip$'
             ELSE '/tmp*'
           END AS matched,
           CAST(0 AS BIGINT) AS gptbot_allowed
    FROM u
    """,
)
def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt crawl-policy gate (text/robots.py): per-host robots
    files (a gptbot deny-all group and a ``*`` group with prefix,
    wildcard and $-anchored rules — even-length hosts add a tie-making
    ``Allow: /private/``) parse via the windowed group-propagation
    pass, and five deterministic path shapes per doc evaluate under RFC
    9309 longest-match + Allow-wins-ties for two different agents.  The
    oracle derives every expected decision in CLOSED FORM from doc_id
    and host parity — fully independent of the parser, so any parse or
    precedence defect reds the hash.  Rules broadcast; the page side
    takes zero shuffles."""
    from osm_spark.text import robots as _rb

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(F.lower("source"), F.lit(".example.com"))
    ds = d.cast("string")
    path = (
        F.when(d % 5 == 0, F.concat(F.lit("/p"), ds))
        .when(d % 5 == 1, F.concat(F.lit("/private/x"), ds))
        .when(d % 5 == 2, F.concat(F.lit("/private/ok"), ds))
        .when(d % 5 == 3, F.concat(F.lit("/data"), ds, F.lit(".zip")))
        .otherwise(F.concat(F.lit("/tmp/"), ds, F.lit("/file")))
    )
    urls = docs.select(d.alias("doc_id"), host.alias("host"), path.alias("path"))
    base = (
        "# crawl policy\n"
        "User-agent: gptbot\n"
        "Disallow: /\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/ok*\n"
        "Disallow: /*.zip$\n"
        "Disallow: /tmp*\n"
    )
    files = (
        docs.select(host.alias("host"))
        .distinct()
        .select(
            "host",
            F.concat(
                F.lit(base),
                F.when(F.length("host") % 2 == 0, F.lit("Allow: /private/\n"))
                .otherwise(F.lit("")),
            ).alias("txt"),
        )
    )
    rules = _rb.parse_robots(files, "host", "txt")
    # chain both agents' evaluations over ONE page-side pass (each is a
    # broadcast 1:1 join) — never self-join the page table
    cc = _rb.robots_eval(urls, rules, agent="ccbot").select(
        "doc_id", "host", "path",
        F.col("allowed").alias("cc_allowed"),
        F.col("matched").alias("cc_matched"),
    )
    both = _rb.robots_eval(cc, rules, agent="gptbot")
    return both.select(
        "doc_id", "host", "path",
        F.col("cc_allowed").cast("long").alias("allowed"),
        F.col("cc_matched").alias("matched"),
        F.col("allowed").cast("long").alias("gptbot_allowed"),
    )


@register(
    "main_content",
    """
    WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    pg AS (
      SELECT doc_id, text,
             '<header><a href="/">Home</a> <a href="/about">About</a></header>' ||
             array_to_string(list_transform(range(0, 3), i ->
                 '<p>' ||
                 replace(replace(replace(replace(array_to_string(
                     list_slice(w, CAST(i * ceil(len(w) / 3.0) + 1 AS BIGINT),
                                CAST((i + 1) * ceil(len(w) / 3.0) AS BIGINT)), ' '),
                     '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;') ||
                 '</p>'), '') ||
             '<footer>Copyright ' || CAST(doc_id % 10 + 2010 AS VARCHAR) ||
             ' <a href="/tos">Terms</a></footer>' AS html
      FROM w),
    bl AS (
      SELECT doc_id, text, unnest(range(0, len(b))) AS bi, unnest(b) AS raw
      FROM (SELECT doc_id, text,
                   regexp_extract_all(html,
                       '<(?:p|li|div|nav|footer|header|aside)[^>]*>(.*?)</(?:p|li|div|nav|footer|header|aside)>',
                       1) AS b
            FROM pg) t
    ),
    cl AS (
      SELECT doc_id, text, bi,
             replace(replace(replace(replace(
                 regexp_replace(raw, '<[^>]*>', '', 'g'),
                 '&quot;', '"'), '&gt;', '>'), '&lt;', '<'), '&amp;', '&') AS txt,
             list_sum(list_transform(
                 regexp_extract_all(raw, '<a[^>]*>(.*?)</a>', 1),
                 a -> length(replace(replace(replace(replace(a,
                     '&quot;', '"'), '&gt;', '>'), '&lt;', '<'),
                     '&amp;', '&')))) AS link_chars
      FROM bl),
    cf AS (
      SELECT doc_id, text, bi, txt,
             (coalesce(link_chars, 0) * 3 < length(txt)
              AND len(string_split(txt, ' ')) >= 5) AS is_content
      FROM cl)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(CAST(is_content AS INT)) AS BIGINT) AS n_content_blocks,
           CAST(coalesce(sum(length(txt)) FILTER (WHERE is_content), 0) AS BIGINT)
             AS main_chars,
           CAST(coalesce(sum(length(txt)) FILTER (WHERE NOT is_content), 0)
             AS BIGINT) AS boiler_chars,
           md5(coalesce(string_agg(txt, ' ' ORDER BY bi)
                 FILTER (WHERE is_content), '')) AS main_md5,
           CAST((coalesce(string_agg(txt, ' ' ORDER BY bi)
                 FILTER (WHERE is_content), '') = any_value(text)) AS BIGINT)
             AS main_is_exact
    FROM cf GROUP BY doc_id
    """,
)
def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal (webprep.main_content): each document is
    wrapped into a page with a link-dense header, three flat content
    paragraphs (entity-escaped) and a short footer; block segmentation
    + per-block link-density classification must keep exactly the
    content blocks, whose space-joined text is byte-equal to the
    original document (main_is_exact — honestly 0 for the ~5% of docs
    whose word count leaves a tail paragraph under MIN_CONTENT_WORDS,
    which the densitometric rule legitimately drops; both engines must
    agree on every such row).  One explode + one doc-keyed reassembly
    shuffle — the chunk_dedup shape at any corpus size."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(32, "doc_id")
    )
    pages = docs.select(
        "doc_id",
        F.col("text"),
        _wp.synth_page(F.col("text"), F.col("doc_id")).alias("html"),
    )
    return _wp.main_content(pages, "doc_id", F.col("html"), F.col("text"))


def _bloom_oracle_sql() -> str:
    """DuckDB twin of the bloom_seen_filter query — rebuilds the SAME
    bitmap with the nibble-sum hash (text/bloom.py bit_position_sql),
    so membership AND the deterministic false positives must match."""
    from osm_spark.text.bloom import K_HASHES, bit_position_sql

    pos = [bit_position_sql("key", j) for j in range(K_HASHES)]
    bit_union = " UNION ALL ".join(
        f"SELECT doc_id, {p} AS bit FROM k WHERE doc_id % 3 = 0" for p in pos
    )
    probe_union = " UNION ALL ".join(
        f"SELECT doc_id, {p} AS bit FROM k" for p in pos
    )
    return f"""
    WITH k AS (
      SELECT doc_id,
             'https://crawl.example/doc/' || CAST(doc_id AS VARCHAR) AS key
      FROM documents),
    sb AS ({bit_union}),
    w AS (SELECT CAST(bit // 32 AS BIGINT) AS word,
                 bit_or(CAST(1 AS BIGINT) << CAST(bit % 32 AS INT)) AS bits
          FROM sb GROUP BY 1),
    pb AS ({probe_union}),
    chk AS (SELECT doc_id, CAST(bit // 32 AS BIGINT) AS word,
                   CAST(1 AS BIGINT) << CAST(bit % 32 AS INT) AS m
            FROM pb),
    hits AS (SELECT c.doc_id,
                    CASE WHEN (coalesce(w.bits, 0) & c.m) = c.m
                         THEN 1 ELSE 0 END AS hit
             FROM chk c LEFT JOIN w USING (word))
    SELECT doc_id,
           CAST(doc_id % 3 = 0 AS BIGINT) AS is_seen,
           CAST(sum(hit) = 4 AS BIGINT) AS in_bloom
    FROM hits GROUP BY doc_id
    """


@register("bloom_seen_filter", _bloom_oracle_sql())
def q_bloom_seen_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Bloom seen-set (text/bloom.py): every third document
    is 'already crawled'; its url hashes into a word-table bitmap (ONE
    bit_or shuffle, <= m/32 rows) which then BROADCASTS against a probe
    of every url.  No false negatives is the invariant; false positives
    are deterministic functions of (key, j), so the oracle — which
    rebuilds the identical bitmap with the nibble-sum hash — must agree
    on every row, including which keys false-positive."""
    from osm_spark.text import bloom as _bl

    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://crawl.example/doc/"), F.col("doc_id").cast("string")
        ).alias("key"),
    )
    bitmap = _bl.bloom_build(keyed.where(F.col("doc_id") % 3 == 0), "key")
    probed = _bl.bloom_probe(keyed, "key", bitmap)
    return probed.select(
        "doc_id",
        (F.col("doc_id") % 3 == 0).cast("long").alias("is_seen"),
        F.col("in_bloom"),
    )


@register(
    "sample_mix",
    f"""
    WITH d AS (
      SELECT doc_id, lang,
             CASE WHEN lang < 'f' THEN 250 ELSE 625 END AS rate_e3,
             (( (strpos('0123456789abcdef', substr(md5('s|' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 65536
              + (strpos('0123456789abcdef', substr(md5('s|' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(md5('s|' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(md5('s|' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5('s|' || CAST(doc_id AS VARCHAR)), 5, 1)) - 1)
             ) % 1000) AS h
      FROM documents)
    SELECT lang,
           CAST(any_value(rate_e3) AS BIGINT) AS rate_e3,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN h < rate_e3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(coalesce(sum(CASE WHEN h < rate_e3 THEN doc_id END), 0)
             AS BIGINT) AS kept_id_sum
    FROM d GROUP BY lang
    """,
)
def q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for training-mix construction
    (webprep.sample_hash): per-language keep rates in thousandths,
    membership a pure md5 function of doc_id — reproducible across
    engines, runs and cluster sizes, unlike rand(seed) which depends on
    partitioning.  Zero shuffles for the sampling itself; one lang
    aggregation audits the achieved rates."""
    docs = _t(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") < "f", F.lit(250)).otherwise(F.lit(625))
    h = _wp.sample_hash(F.col("doc_id"))
    kept = (h < rate).cast("long")
    return docs.groupBy("lang").agg(
        F.max(rate).cast("long").alias("rate_e3"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(kept).alias("n_kept"),
        F.coalesce(
            F.sum(F.when(kept == 1, F.col("doc_id"))), F.lit(0)
        ).cast("long").alias("kept_id_sum"),
    )


@register(
    "pack_ctx",
    """
    WITH t AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
             sum(len(string_split(text, ' '))) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents)
    SELECT doc_id, lang AS stratum,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS start_off,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS bin_first,
           CAST((cum - 1) // 512 AS BIGINT) AS bin_last,
           CAST((cum - 1) // 512 - (cum - n_tokens) // 512 + 1 AS BIGINT)
             AS n_bins
    FROM t
    """,
)
def q_pack_ctx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing into 512-token context windows
    (webprep.pack_sequences): documents concatenate per language in
    doc_id order and may straddle window boundaries — the training-data
    packing layout.  One window pass per stratum; the byte/bin layout
    is integer-exact in both engines."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return _wp.pack_sequences(docs, "doc_id", "text", "lang", ctx=512)


def _pagerank_oracle_sql(iters: int = 4) -> str:
    """Chained-CTE DuckDB twin of plans/pagerank.py pagerank_int: the
    edge formula in closed form (independent of the Spark side's html
    link EXTRACTION), then ``iters`` integer-exact steps — `//` in
    DuckDB and `DIV` in Spark both floor for the all-positive scores,
    so the fixed point matches bit-for-bit."""
    parts = ["""
    WITH n AS (SELECT doc_id FROM documents),
    cnt AS (SELECT count(*) AS c FROM documents),
    e AS (
      SELECT doc_id AS src,
             (doc_id * 7 + 3) % (SELECT c FROM cnt) AS dst FROM documents
      UNION ALL
      SELECT doc_id AS src,
             (doc_id * 13 + 5) % (SELECT c FROM cnt) AS dst FROM documents),
    od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    ind AS (SELECT dst, CAST(count(*) AS BIGINT) AS indeg FROM e GROUP BY dst),
    pr0 AS (SELECT doc_id AS node, CAST(1000000 AS BIGINT) AS pr FROM n)"""]
    for k in range(iters):
        parts.append(f""",
    c{k} AS (SELECT e.dst AS node, pr{k}.pr // od.outdeg AS c
             FROM e JOIN pr{k} ON e.src = pr{k}.node
                    JOIN od ON od.src = e.src),
    s{k} AS (SELECT node, sum(c) AS s FROM c{k} GROUP BY node),
    pr{k + 1} AS (SELECT n.doc_id AS node,
                      CAST(150000 + (85 * coalesce(s{k}.s, 0)) // 100 AS BIGINT)
                        AS pr
                  FROM n LEFT JOIN s{k} ON s{k}.node = n.doc_id)""")
    parts.append(f"""
    SELECT pr{iters}.node AS doc_id, pr{iters}.pr AS pr,
           CAST(coalesce(ind.indeg, 0) AS BIGINT) AS indeg
    FROM pr{iters} LEFT JOIN ind ON ind.dst = pr{iters}.node""")
    return "".join(parts)


@register("link_pagerank", _pagerank_oracle_sql(4))
def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph PageRank (plans/pagerank.py): every document renders
    into a page with two deterministic outlinks, the edge list is
    EXTRACTED from the html (column regex + explode — any extraction
    defect changes the graph and reds the hash against the oracle's
    closed-form edges), and four scaled-integer PageRank steps
    propagate over it — one join + one node-keyed aggregation per
    step, integer DIV throughout so both engines hit the identical
    fixed point.  The iterative analogue of the reference's child-first
    relation-DAG ordering (plans/iterate.py)."""
    from osm_spark.plans import pagerank as _pg

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    d = F.col("doc_id")
    t1 = ((d * 7 + 3) % n_docs).cast("string")
    t2 = ((d * 13 + 5) % n_docs).cast("string")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><body><nav><a href="/doc/'), t1,
            F.lit('">n1</a> <a href="/doc/'), t2,
            F.lit('">n2</a></nav><p>'), F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )
    edges = _persist(_pg.extract_links(pages, "doc_id", "html"))
    pr = _pg.pagerank_int(docs, edges, "doc_id", iters=4,
                          persist_fn=_persist)
    indeg = edges.groupBy("dst").agg(
        F.count(F.lit(1)).cast("long").alias("indeg")
    )
    return pr.join(indeg, pr["node"] == indeg["dst"], "left").select(
        F.col("node").alias("doc_id"),
        F.col("pr"),
        F.coalesce("indeg", F.lit(0)).cast("long").alias("indeg"),
    )


def _min_label_rounds_sql(iters: int, id_alias: str) -> str:
    """Chained-CTE DuckDB twin of plans/components.py
    min_label_components: given prior CTEs ``n(node)`` and ``e(src,
    dst)`` (symmetrized), appends l0..l{iters} — each round a
    neighbor-min step followed by the pointer-jump self-join — plus the
    final cluster_stats projection.  Pure integer `min`/`least` over
    deterministic frames, so both engines hit the identical labels
    whether or not the rounds have converged."""
    parts = [",\n    l0 AS (SELECT node, node AS lbl FROM n)"]
    for k in range(iters):
        parts.append(f""",
    m{k} AS (SELECT e.dst AS node, min(l{k}.lbl) AS m
             FROM e JOIN l{k} ON e.src = l{k}.node GROUP BY 1),
    p{k} AS (SELECT l{k}.node,
                    least(l{k}.lbl, coalesce(m{k}.m, l{k}.lbl)) AS lbl
             FROM l{k} LEFT JOIN m{k} ON m{k}.node = l{k}.node),
    l{k + 1} AS (SELECT a.node, least(a.lbl, b.lbl) AS lbl
                 FROM p{k} a JOIN p{k} b ON a.lbl = b.node)""")
    parts.append(f"""
    SELECT l{iters}.node AS {id_alias}, l{iters}.lbl AS cluster,
           CAST(s.c AS BIGINT) AS cluster_size,
           CAST(l{iters}.node = l{iters}.lbl AS INT) AS is_canonical
    FROM l{iters}
    JOIN (SELECT lbl, count(*) AS c FROM l{iters} GROUP BY 1) s
      ON s.lbl = l{iters}.lbl""")
    return "".join(parts)


def _components_oracle_sql(iters: int = 4) -> str:
    """link_components oracle: min-label rounds over the closed-form
    chain edges (d -> d-1 unless d % 8 == 0)."""
    return ("""
    WITH n AS (SELECT doc_id AS node FROM documents),
    e0 AS (SELECT doc_id AS a, doc_id - 1 AS b
           FROM documents WHERE doc_id % 8 <> 0),
    e AS (SELECT a AS src, b AS dst FROM e0
          UNION ALL SELECT b, a FROM e0)"""
            + _min_label_rounds_sql(iters, "doc_id"))


@register("link_components", _components_oracle_sql(4))
def q_link_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the link graph
    (plans/components.py): pages chain-link to their predecessor
    within 8-page sites, the edge list is EXTRACTED from the html
    (same column-regex path as link_pagerank — an extraction defect
    changes the graph and reds the hash against the oracle's
    closed-form edges), then bulk-synchronous min-label propagation
    with pointer jumping groups transitively-linked pages and elects
    the minimum-id canonical per cluster.  The completion step every
    near-dup dedup pipeline needs after pair generation; 2^iters-1
    reach per round makes it O(log diameter) at web scale."""
    from osm_spark.plans import components as _cc
    from osm_spark.plans import pagerank as _pg

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    link = F.concat(
        F.lit('<a href="/doc/'), (d - 1).cast("string"), F.lit('">prev</a>')
    )
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><body><nav>"),
            F.when(d % 8 != 0, link).otherwise(F.lit("")),
            F.lit("</nav><p>"), F.col("text"), F.lit("</p></body></html>"),
        ).alias("html"),
    )
    pairs = _pg.extract_links(pages, "doc_id", "html").select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    edges = _persist(_cc.symmetrize(pairs))
    # label rounds truncate lineage with an EAGER localCheckpoint, not
    # persist: each round's plan nests the previous round's (two joins
    # deep), and with lazy persist the optimizer re-analyzes the whole
    # nested tree per round — measured 7.8s warm at sf0.1 vs 2.1s
    # checkpointed (same fix as plans/iterate.py child_first_depth).
    lbl = _cc.min_label_components(docs, edges, "doc_id", iters=4,
                                   persist_fn=lambda df: df.localCheckpoint())
    return _cc.cluster_stats(lbl).select(
        F.col("node").alias("doc_id"),
        "cluster",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "is_canonical",
    )


@register(
    "anchor_rollup",
    """
    WITH cnt AS (SELECT count(*) AS c FROM documents),
    a AS (
      SELECT doc_id AS src,
             (doc_id * 7 + 3) % (SELECT c FROM cnt) AS dst,
             'w' || CAST(doc_id % 5 AS VARCHAR) AS anchor
      FROM documents
      UNION ALL
      SELECT doc_id,
             (doc_id * 13 + 5) % (SELECT c FROM cnt),
             'w' || CAST(doc_id % 3 AS VARCHAR)
      FROM documents)
    SELECT dst,
           CAST(count(*) AS BIGINT) AS n_inlinks,
           CAST(count(DISTINCT anchor) AS BIGINT) AS n_anchor_terms,
           array_to_string(list_sort(list_distinct(list(anchor))), '|')
             AS anchors,
           min(anchor) AS first_anchor,
           min(src) AS min_src
    FROM a GROUP BY 1
    """,
)
def q_anchor_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text index build (plans/pagerank.py extract_anchors +
    anchor_rollup): pages render with two deterministic outlinks whose
    anchor WORDS vary per source, (src, dst, anchor) triples are
    extracted by one column regex evaluated per capture group (the
    href and text arrays zip positionally), and ONE dst-keyed
    aggregation builds each target's inlink-text profile — the signal
    search/training pipelines aggregate per page.  The sorted-'|'
    vocabulary join is deterministic in both engines."""
    from osm_spark.plans import pagerank as _pg

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    d = F.col("doc_id")
    t1 = ((d * 7 + 3) % n_docs).cast("string")
    t2 = ((d * 13 + 5) % n_docs).cast("string")
    a1 = F.concat(F.lit("w"), (d % 5).cast("string"))
    a2 = F.concat(F.lit("w"), (d % 3).cast("string"))
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><body><p><a href="/doc/'), t1, F.lit('">'), a1,
            F.lit('</a> and <a href="/doc/'), t2, F.lit('">'), a2,
            F.lit("</a></p><p>"), F.col("text"), F.lit("</p></body></html>"),
        ).alias("html"),
    )
    anchors = _pg.extract_anchors(pages, "doc_id", "html")
    return _pg.anchor_rollup(anchors)


@register(
    "web_sessions",
    """
    WITH e AS (
      SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
      FROM events),
    g AS (
      SELECT *, CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (
      SELECT *, CAST(sum(new_s) OVER (
                 PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
               AS BIGINT) AS sess_idx
      FROM g)
    SELECT user_id, sess_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           min(us) AS start_us, max(us) AS end_us,
           max(us) - min(us) AS duration_us,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM s GROUP BY 1, 2
    """,
)
def q_web_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization + per-session rollup
    (streaming/sessions.py): the web-analytics counterpart of the
    reference's changeset assembly (a changeset IS a user session of
    edits bounded by inactivity — changeset.go), expressed as two
    window passes and one aggregation over a single user_id hash
    exchange.  Monetary values quantize to int64 cents BEFORE the sum
    so the rollup is order-independent and engine-exact."""
    from osm_spark.streaming import sessions as _ss

    ev = _t(spark, sf_dir, "events")
    sess = _ss.sessionize(ev, "user_id", "ts", "event_id")
    return _ss.session_rollup(sess, "user_id", "value", "event_type")


@register(
    "contamination_check",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (SELECT DISTINCT doc_id AS doc,
                  array_to_string(list_slice(w, CAST(i + 1 AS BIGINT),
                                             CAST(i + 8 AS BIGINT)), ' ')
                    AS shingle
           FROM d, unnest(range(0, greatest(len(w) - 7, 0))) AS t(i)),
    tr AS (SELECT DISTINCT shingle FROM sh WHERE doc % 10 <> 0),
    ev AS (SELECT doc, shingle FROM sh WHERE doc % 10 = 0),
    base AS (SELECT doc, count(*) AS n_shingles FROM ev GROUP BY doc),
    hits AS (SELECT ev.doc, count(*) AS n_hit, min(ev.shingle) AS first_hit
             FROM ev JOIN tr USING (shingle) GROUP BY ev.doc)
    SELECT ids.doc_id,
           CAST(coalesce(b.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           h.first_hit,
           CAST(coalesce(h.n_hit, 0) >= 1 AS INT) AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) ids
    LEFT JOIN base b ON b.doc = ids.doc_id
    LEFT JOIN hits h ON h.doc = ids.doc_id
    """,
)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval benchmark decontamination (text/contamination.py):
    documents split 90/10 into train/eval by doc_id, word 8-gram
    shingles explode DISTINCT per side, the train side collapses to
    one row per shingle, and the eval side inner-joins into it — the
    GPT-3-style n-gram overlap check every pre-training pipeline runs
    before reporting eval numbers.  Short docs re-enter via a left
    join from the eval id set (`n_shingles = 0`); never all-pairs, one
    shingle-keyed exchange."""
    from osm_spark.text import contamination as _ct

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.where(F.col("doc_id") % 10 == 0)
    tr = docs.where(F.col("doc_id") % 10 != 0)
    return _ct.contamination_report(ev, tr, "doc_id", "text", n=8)


_FUZZY_BANDS = "\n      UNION ALL\n      ".join(
    "SELECT doc_id, {b} AS band, s{x} || '|' || s{y} AS band_key "
    "FROM {{t}}".format(b=b, x=2 * b, y=2 * b + 1)
    for b in range(4)
)


@register(
    "fuzzy_contamination",
    f"""
    WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
    ev AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 500000, text || ' qq7 leak tail' FROM documents
      WHERE doc_id % 10 = 1),
    sht AS (SELECT doc_id, unnest({_SH3}) AS sh FROM tr),
    she AS (SELECT doc_id, unnest({_SH3}) AS sh FROM ev),
    sigt AS (SELECT doc_id, {_SIG_COLS} FROM sht GROUP BY 1),
    sige AS (SELECT doc_id, {_SIG_COLS} FROM she GROUP BY 1),
    bt AS ({_FUZZY_BANDS.format(t="sigt")}),
    be AS ({_FUZZY_BANDS.format(t="sige")}),
    cand AS (SELECT DISTINCT e.doc_id AS a, t.doc_id AS b
             FROM be e JOIN bt t
               ON e.band = t.band AND e.band_key = t.band_key),
    shdt AS (SELECT DISTINCT doc_id, sh FROM sht),
    shde AS (SELECT DISTINCT doc_id, sh FROM she),
    inter AS (SELECT c.a, c.b, count(*) AS i
              FROM cand c
              JOIN shde x ON x.doc_id = c.a
              JOIN shdt y ON y.doc_id = c.b AND y.sh = x.sh
              GROUP BY 1, 2),
    se AS (SELECT doc_id, count(DISTINCT sh) AS ns FROM she GROUP BY 1),
    st AS (SELECT doc_id, count(DISTINCT sh) AS ns FROM sht GROUP BY 1),
    flag AS (SELECT c.a, c.b, coalesce(i.i, 0) AS inter,
                    se.ns + st.ns - coalesce(i.i, 0) AS uni
             FROM cand c
             LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
             JOIN se ON se.doc_id = c.a
             JOIN st ON st.doc_id = c.b),
    hits AS (SELECT a, count(*) AS n_cand,
                    sum(CASE WHEN inter * 2 >= uni THEN 1 ELSE 0 END)
                      AS n_contam,
                    min(CASE WHEN inter * 2 >= uni THEN b END) AS best_train
             FROM flag GROUP BY a)
    SELECT e.doc_id,
           CAST(coalesce(h.n_cand, 0) AS BIGINT) AS n_cand,
           CAST(coalesce(h.n_contam, 0) AS BIGINT) AS n_contam,
           h.best_train,
           CAST(coalesce(h.n_contam, 0) >= 1 AS INT) AS contaminated
    FROM ev e LEFT JOIN hits h ON h.a = e.doc_id
    """,
)
def q_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY train/eval decontamination (text/dedup.py
    lsh_candidates_cross) — the MinHash twin of the exact 8-gram
    contamination_check: paraphrased/near-duplicate eval leaks that exact
    n-gram overlap misses.  Corpus: train = 90% of documents; eval =
    the held-out 10% (clean) plus PLANTED near-copies of train docs
    ('train text' + a 3-word tail).  Both sides minhash (k=8), band
    (4x2), and the candidate join is CROSS-corpus on (band, band_key)
    with the eval side broadcast — at real scale the eval benchmark is
    thousands of docs against a trillion-doc train side, so the train
    corpus never shuffles for the join.  Candidates verify with exact
    distinct-shingle jaccard; contaminated = jaccard >= 0.5, compared
    as ``inter*2 >= uni`` in int64 so both engines agree exactly.
    Never all-pairs anywhere; the per-eval-doc rollup is keyed on the
    (small) eval side."""
    from osm_spark.text import dedup as _dd2

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(32, "doc_id")
    tr = docs.where(F.col("doc_id") % 10 != 0)
    ev = docs.where(F.col("doc_id") % 10 == 0).unionByName(
        docs.where(F.col("doc_id") % 10 == 1).select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.concat("text", F.lit(" qq7 leak tail")).alias("text"),
        )
    )
    sig_t = _persist(_dd2.minhash_signature(tr, "doc_id", "text", k=8))
    sig_e = _persist(_dd2.minhash_signature(ev, "doc_id", "text", k=8))
    sh_t = _persist(
        tr.select("doc_id", F.array_distinct(_dd2.shingles("text")).alias("sh"))
    )
    sh_e = _persist(
        ev.select("doc_id", F.array_distinct(_dd2.shingles("text")).alias("sh"))
    )
    cand = _dd2.lsh_candidates_cross(
        sig_e, sig_t, "doc_id", k=8, rows_per_band=2, broadcast_a=True
    )
    jac = _dd2.pair_jaccard_cross(cand, sh_e, sh_t)
    contam = F.col("inter") * 2 >= F.col("uni")
    hits = jac.groupBy("a").agg(
        F.count("*").alias("n_cand"),
        F.sum(contam.cast("long")).alias("n_contam"),
        F.min(F.when(contam, F.col("b"))).alias("best_train"),
    )
    return (
        ev.select("doc_id")
        .join(hits.withColumnRenamed("a", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
            F.coalesce("n_contam", F.lit(0)).alias("n_contam"),
            "best_train",
            (F.coalesce("n_contam", F.lit(0)) >= 1).cast("int")
            .alias("contaminated"),
        )
    )


@register(
    "bpe_pair_counts",
    """
    WITH t AS (SELECT unnest(string_split(text, ' ')) AS word
               FROM documents),
    wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
           FROM t GROUP BY word),
    p AS (SELECT substr(word, CAST(i AS INT), 2) AS pair, freq
          FROM wf,
               unnest(range(1, CAST(greatest(length(word), 1) AS BIGINT)))
                 AS u(i)),
    pc AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p GROUP BY pair),
    r AS (SELECT pair, n,
                 row_number() OVER (ORDER BY n DESC, pair ASC) AS rank
          FROM pc)
    SELECT CAST(rank AS INT) AS rank, pair, n FROM r WHERE rank <= 20
    """,
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction, one merge-selection iteration
    (text/vocab.py): adjacent character pairs counted over the
    DISTINCT word table weighted by word frequency — per-iteration
    cost is vocabulary-sized, not corpus-sized, which is what makes
    tokenizer training feasible at 10^12 documents.  Pairs are
    substrings (no char-array explode, stays in codegen); the ranking
    window runs over the alphabet²-bounded pair table with a
    deterministic (count desc, pair asc) tie rule."""
    from osm_spark.text import vocab as _vb

    docs = _t(spark, sf_dir, "documents").select("text")
    wf = _vb.word_freq(docs, "text")
    return _vb.top_merges(_vb.pair_counts(wf), k=20)


def _semantic_dedup_oracle_sql(iters: int = 4, thr_e6: int = 300000) -> str:
    """Composes the embedding_neardup candidate/verify CTEs with the
    min-label component rounds (shared builder)."""
    return (f"""
    WITH c AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    b AS (SELECT vec_id, e, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM c),
    cand AS (SELECT l.vec_id AS a, r.vec_id AS b
           FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
           WHERE floor(list_dot_product(l.e, r.e)
                   / (sqrt(list_dot_product(l.e, l.e))
                      * sqrt(list_dot_product(r.e, r.e))) * 1000000.0)
                 >= {thr_e6}),
    n AS (SELECT vec_id AS node FROM embeddings),
    e AS (SELECT a AS src, b AS dst FROM cand
          UNION ALL SELECT b, a FROM cand)"""
            + _min_label_rounds_sql(iters, "vec_id"))


@register("semantic_dedup", _semantic_dedup_oracle_sql(4))
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication END-TO-END
    (similarity/ann.py + plans/components.py): sign-LSH buckets
    generate candidate pairs (|docs| x planes shuffle, never
    all-pairs), exact cosine verifies them at a quantized threshold
    (floor(cos*1e6) >= 300000 — quantize-then-compare so a 1-ulp
    engine split can't flip a pair), min-label propagation with
    pointer jumping closes the pairs into clusters, and each cluster
    elects its minimum-id canonical — the keep-one retention policy.
    This is the full near-dup pipeline shape: pair generation alone
    (embedding_neardup) is NOT a dedup decision; transitive closure
    is."""
    from osm_spark.plans import components as _cc
    from osm_spark.similarity import ann as _ann2

    emb = _t(spark, sf_dir, "embeddings")
    bk = _ann2.random_hyperplane_bucket(emb, dim=64).join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    l = bk.select(F.col("vec_id").alias("a"), "bucket",
                  F.col("embedding").alias("ea"))
    r = bk.select(F.col("vec_id").alias("b"), "bucket",
                  F.col("embedding").alias("eb"))
    cos = _ann2.cosine_expr(F.col("ea"), F.col("eb"))
    pairs = (
        l.join(r, "bucket")
        .where(F.col("a") < F.col("b"))
        .where(F.floor(cos * 1e6).cast("long") >= 300000)
        .select("a", "b")
    )
    edges = _persist(_cc.symmetrize(pairs))
    lbl = _cc.min_label_components(
        emb.select("vec_id"), edges, "vec_id", iters=4,
        persist_fn=lambda df: df.localCheckpoint(),
    )
    return _cc.cluster_stats(lbl).select(
        F.col("node").alias("vec_id"),
        "cluster",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "is_canonical",
    )


@register(
    "crawl_delta",
    """
    WITH d AS (
      SELECT doc_id, text,
             'https://' || lower(source) || '.example.com/p'
               || CAST(doc_id AS VARCHAR) AS url
      FROM documents)
    SELECT url,
           CASE WHEN doc_id % 13 = 0 THEN 'deleted'
                WHEN doc_id % 7 = 0 THEN 'modified'
                ELSE 'unchanged' END AS action,
           md5(text) AS old_md5,
           CASE WHEN doc_id % 13 = 0 THEN NULL
                WHEN doc_id % 7 = 0 THEN md5(text || ' v2')
                ELSE md5(text) END AS new_md5
    FROM d
    UNION ALL
    SELECT url || '-new', 'created', NULL, md5('fresh ' || text)
    FROM d WHERE doc_id % 11 = 0
    """,
)
def q_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl snapshot diff (text/crawldiff.py) — the reference's
    change/diff semantics (change.go create/modify/delete merge,
    diff.go old/new pairs) in the webtext domain: two crawl snapshots
    (epoch 2 deletes doc_id%13, rewrites doc_id%7, adds a page per
    doc_id%11) full-outer-join on url with scan-side md5 digests, so
    the exchange carries 32-byte digests, never page bodies.  The
    oracle derives every action and digest in CLOSED FORM from doc_id
    arithmetic — fully independent of the join/diff implementation."""
    from osm_spark.text import crawldiff as _cd

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://"), F.lower(F.col("source")),
        F.lit(".example.com/p"), d.cast("string"),
    )
    old = docs.select(url.alias("url"), F.col("text").alias("content"))
    base = docs.where(d % 13 != 0).select(
        url.alias("url"),
        F.when(d % 7 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("content"),
    )
    created = docs.where(d % 11 == 0).select(
        F.concat(url, F.lit("-new")).alias("url"),
        F.concat(F.lit("fresh "), F.col("text")).alias("content"),
    )
    return _cd.snapshot_diff(old, base.unionByName(created), "url", "content")


@register(
    "substr_dedup",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    spans AS (
      SELECT doc_id, u.pos,
             md5(array_to_string(w[u.pos:u.pos+4], ' ')) AS g
      FROM t, UNNEST(range(1, len(w) - 3)) AS u(pos)
    ),
    marked AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY g) AS cnt,
             row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
      FROM spans
    ),
    dups AS (SELECT doc_id, pos FROM marked WHERE cnt > 1 AND rn > 1),
    toks AS (
      SELECT t.doc_id, u.i, w[u.i] AS tok, len(w) AS n_tokens
      FROM t, UNNEST(range(1, len(w) + 1)) AS u(i)
    ),
    kept AS (
      SELECT doc_id, i, tok, n_tokens,
             NOT EXISTS (SELECT 1 FROM dups d
                         WHERE d.doc_id = toks.doc_id
                           AND toks.i BETWEEN d.pos AND d.pos + 4) AS keep
      FROM toks
    )
    SELECT doc_id,
           CAST(max(n_tokens) AS BIGINT) AS n_tokens,
           CAST(max(n_tokens) - count(*) FILTER (keep) AS BIGINT)
             AS n_removed,
           md5(coalesce(string_agg(tok, ' ' ORDER BY i) FILTER (keep), ''))
             AS clean_md5
    FROM kept
    GROUP BY doc_id
    """,
)
def q_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring deduplication (text/substrdedup.py) — the
    span-level form of corpus dedup (Lee et al. 2022): every 5-token
    window whose exact text repeats anywhere in the corpus is scrubbed
    from all occurrences EXCEPT the first (ordered by (doc_id, pos)).
    Spark side is one gram-digest-keyed shuffle (count + first
    occurrence in a single partial-aggregated groupBy) plus a codegen
    `filter` HOF rebuild of the cleaned token stream; the oracle
    recomputes the same semantics with window functions and an
    anti-semijoin span-coverage test.  The cleaned text is fingerprinted
    (clean_md5) so byte-exact reconstruction is verified without
    shipping bodies."""
    from osm_spark.text import substrdedup as _sd

    docs = _t_spread(spark, sf_dir, "documents")
    return _sd.scrub(docs, "doc_id", "text", k=5)


@register(
    "lm_perplexity",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    bg AS (
      SELECT doc_id, w[u.i] AS w1, w[u.i + 1] AS w2
      FROM t, UNNEST(range(1, len(w))) AS u(i)
    ),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1),
    v AS (
      SELECT count(DISTINCT tok) AS v
      FROM (SELECT unnest(w) AS tok FROM t)
    ),
    term AS (
      SELECT bg.doc_id,
             CAST(floor(ln((c12.c12 + 0.5)
                           / (c1.c1 + 0.5 * (SELECT v FROM v))) * 1e6)
                  AS BIGINT) AS e6
      FROM bg
      JOIN c12 USING (w1, w2)
      JOIN c1 USING (w1)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(e6) AS BIGINT) AS logprob_e6
    FROM term
    GROUP BY doc_id
    """,
)
def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM perplexity scoring (text/lm.py) — the
    CCNet/Gopher-class quality filter: add-k-smoothed bigram
    probabilities trained on the corpus itself, each document scored by
    its summed per-bigram log-probability.  Spark side is two
    partial-aggregated count shuffles (bigram + context, the context
    totals derived from the already-aggregated bigram table), a 1-row
    broadcast vocabulary size, a count-lookup join back onto the bigram
    stream, and one doc-keyed sum; per-term ``ln P`` is quantized to
    int64 at 1e-6 before summing (house float discipline — unordered
    double SUMs never cross engines raw).  The oracle recomputes the
    identical smoothed model in SQL."""
    from osm_spark.text import lm as _lm

    docs = _t_spread(spark, sf_dir, "documents")
    return _lm.perplexity(docs, "doc_id", "text")


_NEARDUP_ORACLE = (
    f"""
    WITH {_DOCS2_SQL},
    sh AS (SELECT doc_id, unnest({_SH3}) AS sh FROM docs2),
    sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY 1),
    bands AS ({_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
    shd AS (SELECT DISTINCT doc_id, sh FROM sh),
    inter AS (
      SELECT c.a, c.b, count(*) AS inter
      FROM cand c
      JOIN shd x ON x.doc_id = c.a
      JOIN shd y ON y.doc_id = c.b AND y.sh = x.sh
      GROUP BY 1, 2),
    sizes AS (SELECT doc_id, count(DISTINCT sh) AS ns FROM sh GROUP BY 1),
    vp AS (
      SELECT c.a, c.b
      FROM cand c
      LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
      JOIN sizes sa ON sa.doc_id = c.a
      JOIN sizes sb ON sb.doc_id = c.b
      WHERE coalesce(i.inter, 0) * 10
            >= (sa.ns + sb.ns - coalesce(i.inter, 0)) * 7),
    n AS MATERIALIZED (SELECT doc_id AS node FROM docs2),
    -- MATERIALIZED: the label rounds' self-joins double the references
    -- into this subtree per round; inlined, DuckDB re-expands the whole
    -- LSH pipeline 2^iters times (measured: fd exhaustion on the
    -- parquet scan). Materializing e (and n) pins one evaluation —
    -- the same lineage cut the Spark side makes with localCheckpoint.
    e AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM vp UNION ALL SELECT b, a FROM vp)"""
    + _min_label_rounds_sql(4, "doc_id")
)


@register("neardup_clusters", _NEARDUP_ORACLE)
def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy-dedup CLUSTERING — the canonical shape of
    MinHashDedup/NearDedup in Dolma/RedPajama-class pipelines, and the
    completion the pair-emitting queries stop short of: MinHash(8) ->
    LSH(4 bands x 2 rows) -> candidate pairs -> exact shingle-Jaccard
    verify (keep J >= 0.7, integer cross-multiplied so no float ever
    crosses engines) -> symmetrize -> bulk-synchronous min-label
    connected components with pointer jumping (4 rounds, O(log
    diameter)) -> per-cluster size + minimum-id canonical retention
    flag.  Every stage is a proven kernel (text/dedup.py pair stage =
    minhash_lsh, plans/components.py label stage = link_components);
    this query wires them end-to-end so the full retention pipeline is
    under one driver hash.  Scale shape: banded self-join (never
    all-pairs), verify only on candidates, node-sized label state with
    per-round localCheckpoint lineage cuts — identical at 10^12 docs."""
    from osm_spark.plans import components as _cc

    docs = _docs2(spark, sf_dir)
    sig = _persist(_dd.minhash_signature(docs, "doc_id", "text", k=8))
    sh = _persist(
        docs.select(
            F.col("doc_id"), F.array_distinct(_dd.shingles("text")).alias("sh")
        )
    )
    cand = _dd.lsh_candidates(sig, "doc_id", k=8, rows_per_band=2)
    jac = _dd.pair_jaccard(docs, cand, "doc_id", "text", shingle_df=sh)
    pairs = jac.where(
        F.col("inter") * 10 >= F.col("uni") * 7
    ).select("a", "b")
    edges = _persist(_cc.symmetrize(pairs))
    lbl = _cc.min_label_components(
        docs, edges, "doc_id", iters=4,
        persist_fn=lambda df: df.localCheckpoint(),
    )
    return _cc.cluster_stats(lbl).select(
        F.col("node").alias("doc_id"),
        "cluster",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "is_canonical",
    )


@register(
    "frontier_schedule",
    """
    WITH f AS (
      SELECT 'https://' || lower(source) || '.example.com/p'
               || CAST(doc_id AS VARCHAR) AS url,
             lower(source) || '.example.com' AS host,
             n_chars AS prio
      FROM documents WHERE doc_id % 3 <> 1),
    r AS (
      SELECT host, url, prio,
             row_number() OVER (PARTITION BY host
                                ORDER BY prio DESC, url) AS slot
      FROM f)
    SELECT host, url, CAST(prio AS BIGINT) AS prio,
           CAST(slot AS BIGINT) AS slot,
           CAST((slot - 1) * (1 + length(host) % 3) AS BIGINT) AS fetch_at_s
    FROM r WHERE slot <= 8
    """,
)
def q_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier politeness schedule (streaming/frontier.py) — the
    acquisition-side analogue of the reference's replication sequence
    scheduling (replication.go's fixed per-origin request budget over an
    ordered stream): each host's top-8 frontier URLs by (priority DESC,
    url) are assigned fetch slots, one fetch per host per slot, slot k
    starting at (k-1) * crawl-delay(host) seconds.  The Spark side runs
    the per-host top-B as a SALTED two-level window so a hot host never
    funnels its whole frontier into one reducer task; the salt never
    reaches the output, so the oracle is a plain one-window ranking."""
    from osm_spark.streaming import frontier as _fr

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(F.lower(F.col("source")), F.lit(".example.com"))
    front = docs.where(d % 3 != 1).select(
        F.concat(F.lit("https://"), host, F.lit("/p"), d.cast("string"))
        .alias("url"),
        host.alias("host"),
        F.col("n_chars").alias("prio"),
    )
    return _fr.schedule(front, "host", "url", "prio", budget=8)


# terms drawn from the synthetic corpus's actual vocabulary so the AND
# queries return real result sets at every sf (stopword-style picks
# matched nothing at sf0.01 — a trivially-empty driver gate)
_SEARCH_QUERIES = [
    (1, ["scan", "join"]),
    (2, ["hash", "merge"]),
    (3, ["batch", "filter", "sort"]),
]
_SEARCH_Q_SQL = ", ".join(
    f"({qid}, '{t}', {len(set(ts))})"
    for qid, ts in _SEARCH_QUERIES
    for t in sorted(set(ts))
)


@register(
    "index_search",
    f"""
    WITH p AS (
      SELECT term, doc_id, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY term, doc_id),
    q AS (SELECT * FROM (VALUES {_SEARCH_Q_SQL}) t(qid, term, n_terms)),
    h AS (
      SELECT q.qid, p.doc_id, count(*) AS n_matched,
             max(q.n_terms) AS n_terms, sum(p.tf) AS score
      FROM p JOIN q USING (term)
      GROUP BY 1, 2),
    r AS (
      SELECT qid, doc_id, score,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rank
      FROM h WHERE n_matched = n_terms)
    SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
           doc_id, CAST(score AS BIGINT) AS score
    FROM r WHERE rank <= 10
    """,
)
def q_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build + conjunctive search (text/index.py): one
    explode + one (term, doc) partial-aggregated shuffle builds the
    posting lists (tf in the same pass); the three AND queries
    broadcast as a parameter-sized frame, match via a count filter
    (n_matched == n_terms, exact on the one-row-per-(term,doc)
    postings), score by summed tf, and rank with the salted two-level
    top-k window — a stopword query matches most of the corpus, and a
    plain per-qid window would funnel it into one reducer task.  The
    oracle recomputes postings, AND semantics and ranking in SQL (its
    single window is fine at oracle scale)."""
    from osm_spark.text import index as _ix

    docs = _t_spread(spark, sf_dir, "documents")
    postings = _ix.build_postings(docs, "doc_id", "text")
    return _ix.search(postings, _SEARCH_QUERIES, "doc_id", k=10)


def _pq_oracle(
    m: int = 4, subdim: int = 16, kc: int = 4, seed_mod: int = 137,
    qid: int = 3, topk: int = 10,
) -> str:
    """PQ oracle: per-subspace 1-iteration Lloyd's (same CTE shapes as
    _kmeans_cte_chain, over sliced subvectors), ADC distance tables
    from the trained codebooks against vec {qid}'s subvectors, and the
    lookup-sum ranking — all exact int64."""
    qv = ("list_transform(embedding, "
          "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
    dist = (f"list_sum(list_transform(range(1, {subdim} + 1), "
            "i -> (p.qv[i] - c.qv[i]) * (p.qv[i] - c.qv[i])))")

    def assign(src: str, cents: str) -> str:
        return f"""(
      SELECT vec_id, qv, cid AS cell FROM (
        SELECT p.vec_id, p.qv, c.cid,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {dist}, c.cid) AS rn
        FROM {src} p CROSS JOIN {cents} c) WHERE rn = 1)"""

    def update(src: str, prev: str) -> str:
        return f"""(
      SELECT p.cid, coalesce(u.qv, p.qv) AS qv
      FROM {prev} p LEFT JOIN (
        SELECT cell AS cid, list(coord ORDER BY i) AS qv FROM (
          SELECT cell, t.i,
                 CAST(floor(CAST(sum(qv[t.i]) AS DOUBLE) / count(*))
                      AS BIGINT) AS coord
          FROM {src}, range(1, {subdim} + 1) t(i) GROUP BY cell, t.i)
        GROUP BY cell) u ON u.cid = p.cid)"""

    parts = [f"WITH pts AS (SELECT vec_id, {qv} AS qv FROM embeddings)"]
    for s in range(m):
        lo, hi = s * subdim + 1, (s + 1) * subdim
        parts.append(
            f", sub{s} AS (SELECT vec_id, qv[{lo}:{hi}] AS qv FROM pts)"
        )
        parts.append(
            f", c0_{s} AS (SELECT row_number() OVER (ORDER BY vec_id) - 1"
            f" AS cid, qv FROM sub{s} WHERE vec_id % {seed_mod} = 0"
            f" ORDER BY vec_id LIMIT {kc})"
        )
        parts.append(f", a1_{s} AS {assign(f'sub{s}', f'c0_{s}')}")
        parts.append(f", c1_{s} AS {update(f'a1_{s}', f'c0_{s}')}")
        parts.append(f", af_{s} AS {assign(f'sub{s}', f'c1_{s}')}")
        parts.append(
            f", dt{s} AS (SELECT c.cid, list_sum(list_transform("
            f"range(1, {subdim} + 1), i -> (q.qv[{s * subdim} + i] - c.qv[i])"
            f" * (q.qv[{s * subdim} + i] - c.qv[i]))) AS d"
            f" FROM c1_{s} c, (SELECT qv FROM pts WHERE vec_id = {qid}) q)"
        )
    joins = " ".join(
        f"JOIN af_{s} a{s} ON a{s}.vec_id = a0.vec_id" for s in range(1, m)
    )
    djoins = " ".join(
        f"JOIN dt{s} ON dt{s}.cid = a{s}.cell" for s in range(m)
    )
    adc = " + ".join(f"dt{s}.d" for s in range(m))
    parts.append(f"""
    , scored AS (SELECT a0.vec_id, {adc} AS adc
                 FROM af_0 a0 {joins} {djoins})
    , ranked AS (SELECT vec_id, adc,
                        row_number() OVER (ORDER BY adc, vec_id) AS rank
                 FROM scored)
    SELECT vec_id, CAST(rank AS BIGINT) AS rank, CAST(adc AS BIGINT) AS adc
    FROM ranked WHERE rank <= {topk}""")
    return "".join(parts)


@register("pq_topk", _pq_oracle())
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (similarity/pq.py): 4 subspaces x 16
    dims, 4-centroid codebook per subspace trained by the SAME
    integer-quantized Lloyd's loop as the IVF coarse quantizer, vectors
    encoded to 4 codes, and the query answered by Asymmetric Distance
    Computation — one parameter-sized (m x k) distance table
    driver-side, each candidate scored by m in-row element_at lookups
    (no vector math in the scan), ranked by the salted two-level top-k
    window.  The memory-bounded ANN scale path: at 10^12 vectors the
    encoded corpus is m bytes/vector and the hot loop is a lookup-sum
    in codegen.  The oracle replays training, encoding, table build and
    ranking bit-for-bit in SQL."""
    from osm_spark.similarity import pq as _pq

    emb = _t(spark, sf_dir, "embeddings")
    codebooks, codes = _pq.train_pq(emb, m=4, subdim=16, k=4, iters=1)
    qrow = emb.where(F.col("vec_id") == 3).select("embedding").first()
    qqv = _pq.quantize_query(list(qrow["embedding"]))
    dtab = _pq.adc_table(codebooks, qqv, subdim=16)
    return _pq.adc_topk(codes, dtab, "vec_id", k=10)


@register(
    "nb_classify",
    """
    WITH tok AS (
      SELECT lang AS class, unnest(string_split(text, ' ')) AS word
      FROM documents),
    cw AS (SELECT class, word, count(*) AS c_wc FROM tok GROUP BY 1, 2),
    ctot AS (SELECT class, sum(c_wc) AS c_c FROM cw GROUP BY 1),
    v AS (SELECT count(DISTINCT word) AS v FROM tok),
    priors AS (
      SELECT lang AS class,
             CAST(floor(ln(count(*) / (SELECT CAST(count(*) AS DOUBLE)
                                       FROM documents)) * 1e6)
                  AS BIGINT) AS prior_e6
      FROM documents GROUP BY 1),
    wl AS (
      SELECT cw.class, cw.word,
             CAST(floor(ln((cw.c_wc + 0.5)
                           / (ctot.c_c + 0.5 * (SELECT v FROM v))) * 1e6)
                  AS BIGINT) AS logp_e6
      FROM cw JOIN ctot USING (class)),
    cm AS (
      SELECT ctot.class,
             CAST(floor(ln(0.5 / (ctot.c_c + 0.5 * (SELECT v FROM v)))
                        * 1e6) AS BIGINT) AS floor_e6
      FROM ctot),
    tf AS (
      SELECT doc_id, word, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents)
      GROUP BY 1, 2),
    terms AS (
      SELECT tf.doc_id, cm.class,
             tf.tf * coalesce(wl.logp_e6, cm.floor_e6) AS term_e6
      FROM tf CROSS JOIN cm
      LEFT JOIN wl ON wl.class = cm.class AND wl.word = tf.word),
    scores AS (
      SELECT t.doc_id, t.class,
             CAST(sum(t.term_e6) AS BIGINT) AS ll_e6
      FROM terms t GROUP BY 1, 2),
    ranked AS (
      SELECT s.doc_id, s.class, s.ll_e6 + p.prior_e6 AS score_e6,
             row_number() OVER (PARTITION BY s.doc_id
                                ORDER BY s.ll_e6 + p.prior_e6 DESC,
                                         s.class) AS rn
      FROM scores s JOIN priors p ON p.class = s.class)
    SELECT r.doc_id, r.class AS pred, CAST(r.score_e6 AS BIGINT) AS score_e6,
           CAST(r.class = d.lang AS INT) AS hit
    FROM ranked r JOIN documents d ON d.doc_id = r.doc_id
    WHERE r.rn = 1
    """,
)
def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classification (text/nbayes.py)
    — the train-a-classifier-on-the-corpus operator (the fastText
    wiki-vs-crawl quality gate in CCNet/Dolma-class pipelines, here
    supervised on the lang column): add-k-smoothed class-conditional
    unigram models trained in two vocab-sized shuffles, documents
    scored by a tf-weighted lookup join (per-word ln P quantized to
    int64 BEFORE the weighted sum), argmax per doc over the bounded
    |classes| group with (score DESC, class ASC) ties.  ``hit``
    compares the prediction against the training label in-row."""
    from osm_spark.text import nbayes as _nb

    docs = _t_spread(spark, sf_dir, "documents")
    word_logp, class_model, _ = _nb.train(docs, "lang", "text")
    pred = _nb.classify(docs, word_logp, class_model, "doc_id", "text")
    return pred.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "pred", "score_e6",
        (F.col("pred") == F.col("lang")).cast("int").alias("hit"),
    )


_BM25_Q_SQL = ", ".join(
    f"({qid}, '{t}')"
    for qid, ts in _SEARCH_QUERIES
    for t in sorted(set(ts))
)


@register(
    "bm25_search",
    f"""
    WITH p AS (
      SELECT term, doc_id, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY 1),
    st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
    q AS (SELECT * FROM (VALUES {_BM25_Q_SQL}) t(qid, term)),
    dfq AS (
      SELECT p.term, CAST(count(*) AS BIGINT) AS df
      FROM p JOIN (SELECT DISTINCT term FROM q) tq ON tq.term = p.term
      GROUP BY 1),
    hit AS (
      SELECT q.qid, p.doc_id,
             CAST(floor(
               CAST(floor(ln(((SELECT n FROM st) - dfq.df
                              + CAST(0.5 AS DOUBLE))
                             / (dfq.df + CAST(0.5 AS DOUBLE))) * 1000000)
                    AS BIGINT)
               * ((p.tf * CAST(2.2 AS DOUBLE))
                  / (p.tf + CAST(1.2 AS DOUBLE)
                     * (CAST(0.25 AS DOUBLE)
                        + CAST(0.75 AS DOUBLE) * dl.dl
                          / (SELECT avgdl FROM st))))
             ) AS BIGINT) AS term_e6
      FROM p
      JOIN q ON q.term = p.term
      JOIN dfq ON dfq.term = p.term
      JOIN dl ON dl.doc_id = p.doc_id),
    sc AS (SELECT qid, doc_id, CAST(sum(term_e6) AS BIGINT) AS score_e6
           FROM hit GROUP BY 1, 2),
    r AS (SELECT qid, doc_id, score_e6,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY score_e6 DESC, doc_id) AS rank
          FROM sc)
    SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
           doc_id, score_e6
    FROM r WHERE rank <= 10
    """,
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked disjunctive retrieval (text/index.py bm25_search)
    over the same postings build as index_search: df restricted to the
    broadcast query terms BEFORE its rollup (|query| keys, not the
    vocabulary), document lengths as one corpus-keyed aggregation
    reused across queries, idf quantized to int64 the moment the ln is
    computed (the only transcendental), the tf normalization pure IEEE
    rational arithmetic over integer-derived doubles, and each term
    contributing floor(idf_e6 · tfn) so the per-doc sum is
    order-independent.  Ranking is the salted two-level top-k."""
    from osm_spark.text import index as _ix

    docs = _t_spread(spark, sf_dir, "documents")
    postings = _ix.build_postings(docs, "doc_id", "text")
    return _ix.bm25_search(postings, _SEARCH_QUERIES, "doc_id", k=10)


@register(
    "page_snapshot_at",
    """
    WITH caps AS (
      SELECT 'https://' || source || '.example/p' || CAST(doc_id AS VARCHAR)
               AS url,
             u.rev,
             (1704067200 + doc_id + u.rev * 86400) * 1000000 AS ts_us,
             CASE WHEN u.rev = 0 THEN text
                  ELSE text || ' rev' || CAST(u.rev AS VARCHAR) END AS text
      FROM documents, UNNEST(range(0, doc_id % 3 + 1)) u(rev)),
    upto AS (SELECT * FROM caps WHERE ts_us <= 1704196800000000),
    r AS (
      SELECT url, ts_us, rev, text,
             row_number() OVER (PARTITION BY url ORDER BY ts_us DESC) AS rn,
             count(*) OVER (PARTITION BY url) AS n_upto
      FROM upto)
    SELECT url, CAST(ts_us AS BIGINT) AS ts_us, CAST(rev AS BIGINT) AS rev,
           CAST(n_upto AS BIGINT) AS n_upto, md5(text) AS digest
    FROM r WHERE rn = 1
    """,
)
def q_page_snapshot_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency snapshot of the north-rule pages table
    (pipeline/pages.py captures/snapshot_at) — the webtext twin of the
    reference's element ``At(t)`` / history-visibility semantics
    (history_at, reference osm/types.go): every url carries 1-3
    one-day-apart recrawl captures with revised bodies; the snapshot at
    2024-01-02 12:00 UTC keeps each url's latest visible capture.
    Per-url window groups are bounded by the crawl epoch count, so the
    single url-keyed exchange is safe at 10^12 urls.  Timestamps leave
    the query as epoch micros and bodies as md5 digests, so the driver
    hash is engine-neutral; the oracle derives every capture in closed
    form from doc_id arithmetic."""
    from osm_spark.pipeline import pages as _pg

    caps = _pg.captures(spark, sf_dir)
    t = F.lit("2024-01-02 12:00:00").cast("timestamp")
    return _pg.snapshot_at(caps, t)


_KMV_VK_POLY = " + ".join(
    f"(strpos('0123456789abcdef', substr(vk_dig, {i + 1}, 1)) - 1)"
    f" * CAST({16 ** (14 - i)} AS BIGINT)"
    for i in range(15)
)


@register(
    "kmv_distinct",
    f"""
    WITH d AS (
      SELECT DISTINCT source AS grp, md5(text) AS dig FROM documents),
    r AS (
      SELECT grp, dig,
             row_number() OVER (PARTITION BY grp ORDER BY dig) AS rn
      FROM d),
    agg AS (
      SELECT grp, count(*) AS n_kept, max(dig) AS vk_dig
      FROM r WHERE rn <= 16 GROUP BY 1),
    ex AS (SELECT grp, count(*) AS exact_distinct FROM d GROUP BY 1),
    v AS (SELECT grp, n_kept, {_KMV_VK_POLY} AS vk FROM agg)
    SELECT v.grp AS source,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
           CAST(v.n_kept AS BIGINT) AS n_kept,
           CAST(CASE WHEN v.n_kept < 16 THEN v.n_kept
                     ELSE 15 * (CAST({1 << 60} AS BIGINT) // v.vk)
                END AS BIGINT) AS est
    FROM v JOIN ex ON ex.grp = v.grp
    """,
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (text/sketch.py) — per-source distinct
    page-content cardinality the mergeable-sketch way: each group's 16
    smallest md5 digests (distinct shuffle + the salted two-level
    bottom-k window), exact count when the group holds < k values, else
    the integer-exact estimator (k-1)·(2^60 DIV v_k) over the k-th
    minimum's 60-bit value.  Every byte is md5-derived, so the oracle
    reproduces the sketch AND its estimation error bit-for-bit; the
    exact_distinct column (one extra aggregation, skipped at real
    scale) pins the estimator's accuracy under the driver hash."""
    from osm_spark.text import sketch as _sk

    docs = _t(spark, sf_dir, "documents")
    sk = _sk.kmv_sketch(docs, "source", "text", k=16)
    est = _sk.kmv_estimate(sk, "source", k=16)
    exact = (
        docs.select("source", F.md5("text").alias("d"))
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_distinct"))
    )
    return est.join(exact, "source").select(
        "source", "exact_distinct", "n_kept", "est"
    )


@register(
    "pmi_collocations",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (
      SELECT w[u.i] AS w1, w[u.i + 1] AS w2
      FROM t, UNNEST(range(1, len(w))) AS u(i)),
    c12 AS (
      SELECT w1, w2, count(*) AS c12
      FROM bg GROUP BY 1, 2 HAVING count(*) >= 3),
    tok AS (SELECT unnest(w) AS w FROM t),
    uni AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
    tot AS (SELECT (SELECT count(*) FROM tok) AS t_uni,
                   (SELECT count(*) FROM bg) AS t_bi)
    SELECT c12.w1, c12.w2, CAST(c12.c12 AS BIGINT) AS c12,
           CAST(floor(ln((CAST(c12.c12 AS DOUBLE) * tot.t_uni * tot.t_uni)
                         / (CAST(tot.t_bi AS DOUBLE) * u1.c * u2.c))
                      * 1000000) AS BIGINT) AS pmi_e6
    FROM c12
    JOIN uni u1 ON u1.w = c12.w1
    JOIN uni u2 ON u2.w = c12.w2
    CROSS JOIN tot
    """,
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (text/lm.py collocations) — the
    word2vec/phrase-detection preprocessing pass: every adjacent pair
    seen >= 3 times scored by pointwise mutual information, the ln
    quantized to int64 at the moment it is computed, the count
    products run left-associated in double on both engines.  Count
    tables are vocabulary-sized; the raw stream aggregates once per
    statistic; corpus totals broadcast as a 1-row frame."""
    from osm_spark.text import lm as _lm

    docs = _t_spread(spark, sf_dir, "documents")
    return _lm.collocations(docs, "doc_id", "text", min_count=3)


@register(
    "length_quantiles",
    """
    WITH v AS (
      SELECT lang, len(string_split(text, ' ')) AS value FROM documents),
    h AS (SELECT lang, value, count(*) AS n FROM v GROUP BY 1, 2),
    c AS (
      SELECT lang, value, n,
             sum(n) OVER (PARTITION BY lang ORDER BY value
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             sum(n) OVER (PARTITION BY lang) AS total
      FROM h),
    q AS (SELECT unnest([25, 50, 75, 95]) AS q)
    SELECT c.lang, CAST(q.q AS BIGINT) AS q,
           CAST(min(c.value) AS BIGINT) AS value
    FROM c CROSS JOIN q
    WHERE c.cum * 100 >= q.q * c.total
    GROUP BY 1, 2
    """,
)
def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language token-length quantiles (text/quantiles.py) —
    dataset-card distribution statistics computed the scale-right way:
    a (group, value) histogram shuffle whose output is
    corpus-independent, a cumsum window over per-group DISTINCT-VALUE
    partitions (never row partitions), and the integer inverted-CDF
    pick ``cum·100 >= q·total`` — no doubles, no row sort, and exact
    (Spark's percentile_approx is an engine-specific sketch that could
    never hash-match an oracle)."""
    from osm_spark.text import quantiles as _qt

    docs = _t(spark, sf_dir, "documents")
    vals = docs.select(
        "lang", F.size(F.split("text", " ")).alias("n_tok")
    )
    return _qt.group_quantiles(vals, "lang", "n_tok", qs=[25, 50, 75, 95])


@register(
    "phrase_merge",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (
      SELECT doc_id, u.i AS pos, w[u.i] AS w1, w[u.i + 1] AS w2
      FROM t, UNNEST(range(1, len(w))) AS u(i)),
    c12 AS (
      SELECT w1, w2, count(*) AS c12
      FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
    tok AS (SELECT unnest(w) AS w FROM t),
    uni AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
    tot AS (SELECT (SELECT count(*) FROM tok) AS t_uni,
                   (SELECT count(*) FROM bg) AS t_bi),
    ph AS (
      SELECT c12.w1, c12.w2
      FROM c12
      JOIN uni u1 ON u1.w = c12.w1
      JOIN uni u2 ON u2.w = c12.w2
      CROSS JOIN tot
      WHERE CAST(floor(ln((CAST(c12.c12 AS DOUBLE) * tot.t_uni * tot.t_uni)
                          / (CAST(tot.t_bi AS DOUBLE) * u1.c * u2.c))
                       * 1000000) AS BIGINT) > 0),
    cand AS (
      SELECT bg.doc_id, bg.pos FROM bg
      JOIN ph ON ph.w1 = bg.w1 AND ph.w2 = bg.w2),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id
                                      ORDER BY pos) AS island
      FROM cand),
    mg AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               pos - min(pos) OVER (PARTITION BY doc_id, island) AS off
        FROM isl)
      WHERE off % 2 = 0),
    toks AS (
      SELECT doc_id, u.i AS pos, w[u.i] AS tokw, w AS warr
      FROM t, UNNEST(range(1, len(w) + 1)) AS u(i)),
    outt AS (
      SELECT toks.doc_id, toks.pos,
             CASE WHEN m1.pos IS NOT NULL
                    THEN toks.tokw || '_' || toks.warr[toks.pos + 1]
                  WHEN m2.pos IS NOT NULL THEN NULL
                  ELSE toks.tokw END AS ot
      FROM toks
      LEFT JOIN mg m1 ON m1.doc_id = toks.doc_id AND m1.pos = toks.pos
      LEFT JOIN mg m2 ON m2.doc_id = toks.doc_id AND m2.pos = toks.pos - 1),
    res AS (
      SELECT doc_id, string_agg(ot, ' ' ORDER BY pos) AS merged
      FROM outt WHERE ot IS NOT NULL GROUP BY doc_id),
    nm AS (SELECT doc_id, count(*) AS n FROM mg GROUP BY 1)
    SELECT res.doc_id, CAST(coalesce(nm.n, 0) AS BIGINT) AS n_merges,
           md5(res.merged) AS merged_md5
    FROM res LEFT JOIN nm ON nm.doc_id = res.doc_id
    """,
)
def q_phrase_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2phrase application (text/lm.py merge_phrases): phrases =
    self-trained collocations (c12 >= 5, PMI > 0), every document
    rewritten with greedy left-to-right non-overlapping pair merges.
    The greedy scan compiles to gaps-and-islands windows — within a
    run of consecutive candidate positions the merges are exactly the
    even offsets from the run start — so the whole stateful pass is
    one pair explode + one broadcast phrase semi-join + two in-doc
    windows + an in-row HOF rebuild; the rewritten body ships as a
    digest (byte-exact proof, substr_dedup convention)."""
    from osm_spark.text import lm as _lm

    docs = _t_spread(spark, sf_dir, "documents")
    phrases = _lm.collocations(docs, "doc_id", "text", min_count=5).where(
        F.col("pmi_e6") > 0
    )
    return _lm.merge_phrases(docs, phrases, "doc_id", "text")


@register(
    "tile_quantiles",
    f"""
    WITH base AS (
      SELECT {{x}} AS x, {{y}} AS y, count(*) AS n
      FROM documents GROUP BY 1, 2),
    pyr AS (
      {{pyr}}),
    h AS (SELECT zoom, n, count(*) AS cnt FROM pyr GROUP BY 1, 2),
    c AS (
      SELECT zoom, n, cnt,
             sum(cnt) OVER (PARTITION BY zoom ORDER BY n
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
             sum(cnt) OVER (PARTITION BY zoom) AS total
      FROM h),
    q AS (SELECT unnest([25, 50, 75, 95]) AS q)
    SELECT CAST(c.zoom AS BIGINT) AS zoom, CAST(q.q AS BIGINT) AS q,
           CAST(min(c.n) AS BIGINT) AS value
    FROM c CROSS JOIN q
    WHERE c.cum * 100 >= q.q * c.total
    GROUP BY 1, 2
    """.format(
        x=tiles.tile_x_sql(pages.GEO_LON_SQL, 10),
        y=tiles.tile_y_sql(pages.GEO_LAT_SQL, 10),
        pyr=" UNION ALL ".join(
            f"SELECT x >> {10 - z} AS tx, y >> {10 - z} AS ty, "
            f"CAST(sum(n) AS BIGINT) AS n, {z} AS zoom "
            f"FROM base GROUP BY 1, 2"
            for z in range(10, 3, -1)
        ),
    ),
)
def q_tile_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial-density distribution statistics — the dataset-card view
    of the tile layer: exact quantiles of pages-per-tile at every
    pyramid level z4..z10 (hot-spot skew shows up as a p95/p50 ratio).
    Composes the flagship pyramid rollup (pages scanned once, rollups
    on the per-tile table) with the exact histogram-quantile kernel
    (text/quantiles.py) — the cumsum windows partition over per-zoom
    DISTINCT COUNT VALUES, never tiles, so the stats stage is
    corpus-independent."""
    from osm_spark.text import quantiles as _qt

    pyr = pages.tile_pyramid_counts(spark, sf_dir, z_max=10, z_min=4)
    # value column must not collide with group_quantiles' internal
    # histogram count alias ("n")
    vals = pyr.select("zoom", F.col("n_pages").cast("long").alias("npt"))
    return _qt.group_quantiles(vals, "zoom", "npt", qs=[25, 50, 75, 95]).select(
        F.col("zoom").cast("long").alias("zoom"), "q", "value"
    )


def _supercover_oracle(z: int = 8, qbits: int = 16) -> str:
    Q = 1 << qbits
    lon1, lat1 = pages.GEO_LON_SQL, pages.GEO_LAT_SQL
    lon2 = pages.GEO_LON_SQL.replace("doc_id", "(doc_id + 1)")
    lat2 = pages.GEO_LAT_SQL.replace("doc_id", "(doc_id + 1)")
    qx = lambda lon: (
        f"CAST(floor(({tiles.fraction_x_sql(lon, z)}) * {float(Q)!r})"
        " AS BIGINT)"
    )
    qy = lambda lat: (
        f"CAST(floor(({tiles.fraction_y_sql(lat, z)}) * {float(Q)!r})"
        " AS BIGINT)"
    )

    def axis(main1, other1, main2, other2, mcol, ocol):
        return f"""(
      SELECT seg_id,
             least({main1}, {main2}) AS lo_m,
             greatest({main1}, {main2}) AS hi_m,
             CASE WHEN {main1} <= {main2} THEN {other1} ELSE {other2} END
               AS lo_o,
             CASE WHEN {main1} <= {main2} THEN {other2} ELSE {other1} END
               AS hi_o
      FROM s)"""

    return f"""
    WITH s AS (
      SELECT doc_id AS seg_id,
             {qx(lon1)} AS x1, {qy(lat1)} AS y1,
             {qx(lon2)} AS x2, {qy(lat2)} AS y2
      FROM documents WHERE doc_id % 2 = 0),
    ends AS (
      SELECT seg_id, x1 >> {qbits} AS tile_x, y1 >> {qbits} AS tile_y FROM s
      UNION ALL
      SELECT seg_id, x2 >> {qbits}, y2 >> {qbits} FROM s),
    xo AS {axis('x1', 'y1', 'x2', 'y2', 'x', 'y')},
    xc AS (
      SELECT seg_id, u.g,
             ((lo_o + ((u.g * {Q} - lo_m) * (hi_o - lo_o))
                       // (hi_m - lo_m)) >> {qbits}) AS oc
      FROM xo, UNNEST(range((lo_m >> {qbits}) + 1, (hi_m >> {qbits}) + 1))
             AS u(g)
      WHERE hi_m > lo_m),
    xcells AS (
      SELECT seg_id, g - 1 AS tile_x, oc AS tile_y FROM xc
      UNION ALL SELECT seg_id, g, oc FROM xc),
    yo AS {axis('y1', 'x1', 'y2', 'x2', 'y', 'x')},
    yc AS (
      SELECT seg_id, u.g,
             ((lo_o + ((u.g * {Q} - lo_m) * (hi_o - lo_o))
                       // (hi_m - lo_m)) >> {qbits}) AS oc
      FROM yo, UNNEST(range((lo_m >> {qbits}) + 1, (hi_m >> {qbits}) + 1))
             AS u(g)
      WHERE hi_m > lo_m),
    ycells AS (
      SELECT seg_id, oc AS tile_x, g - 1 AS tile_y FROM yc
      UNION ALL SELECT seg_id, oc, g FROM yc)
    SELECT DISTINCT seg_id, CAST(tile_x AS BIGINT) AS tile_x,
           CAST(tile_y AS BIGINT) AS tile_y
    FROM (SELECT * FROM ends
          UNION ALL SELECT * FROM xcells
          UNION ALL SELECT * FROM ycells)
    """


@register("segment_tiles", _supercover_oracle())
def q_segment_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supercover line rasterization (geo/raster_line.py) — the
    way→tile assignment the reference's render/index consumers need:
    every z8 tile each segment passes through, not just endpoint
    tiles.  Fixed-point semantics: endpoint tile fractions quantize
    ONCE to 2^16 sub-tile units (the only transcendental boundary,
    same class as every quantized floor in this repo), then all
    gridline-crossing interpolation is exact int64 FLOOR division
    (Spark: the pmod-subtract construction; DuckDB: `//`) — both
    engines produce the identical cell set, asserted per-cell by the
    oracle and against a Python mirror in tests.  Scan-shaped: one
    in-row gridline walk + explode + one DISTINCT exchange; no joins,
    no Python."""
    from osm_spark.geo import raster_line as _rl

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 0)
    d = F.col("doc_id")
    segs = docs.select(
        d.alias("seg_id"),
        pages.geo_lon(d).alias("lon1"),
        pages.geo_lat(d).alias("lat1"),
        pages.geo_lon(d + 1).alias("lon2"),
        pages.geo_lat(d + 1).alias("lat2"),
    )
    return _rl.supercover(segs, z=8, qbits=16)


@register(
    "way_crossings",
    """
    WITH s AS (
      SELECT doc_id AS sid,
             (doc_id * 104729 % 36000) * 1000 AS x1,
             (doc_id * 7919 % 17000) * 1000 AS y1,
             (doc_id * 104729 % 36000) * 1000
               + ((doc_id * 65537 % 2001) - 1000) * 1000 AS x2,
             (doc_id * 7919 % 17000) * 1000
               + ((doc_id * 4099 % 2001) - 1000) * 1000 AS y2
      FROM documents),
    p AS (
      SELECT a.sid AS seg_a, b.sid AS seg_b,
             (a.x2-a.x1)*(b.y1-a.y1) - (a.y2-a.y1)*(b.x1-a.x1) AS d1,
             (a.x2-a.x1)*(b.y2-a.y1) - (a.y2-a.y1)*(b.x2-a.x1) AS d2,
             (b.x2-b.x1)*(a.y1-b.y1) - (b.y2-b.y1)*(a.x1-b.x1) AS d3,
             (b.x2-b.x1)*(a.y2-b.y1) - (b.y2-b.y1)*(a.x2-b.x1) AS d4
      FROM s a JOIN s b ON a.sid < b.sid)
    SELECT seg_a, seg_b FROM p
    WHERE ((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
      AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0))
    """,
)
def q_way_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-intersection spatial join (geo/crossings.py) — the OSM
    QA query 'which ways properly cross without sharing a node' (the
    reference's WayNodes geometries + orb-style planar predicates,
    scaled to a planet of ways): documents derive ~1°-long int64 µdeg
    segments inside a 36°x17° region, each explodes to its bbox grid
    cells (2^20 µdeg ≈ 1.05°, 1-4 cells/segment), candidates equi-join
    on cell + bbox overlap, and the exact orientation sign test keeps
    strict interior crossings only.  Everything is exact integer
    arithmetic end-to-end, so the oracle's brute-force ALL-PAIRS
    derivation (which exists only in DuckDB — the Spark side never
    leaves the cell join) agrees bit-for-bit.  The pair-keyed DISTINCT
    is sized by the output, not the candidate set."""
    from osm_spark.geo.crossings import segment_crossings

    d = F.col("doc_id")
    segs = _t(spark, sf_dir, "documents").select(
        d.alias("seg_id"),
        (d * 104729 % 36000 * 1000).alias("x1"),
        (d * 7919 % 17000 * 1000).alias("y1"),
        (d * 104729 % 36000 * 1000
         + (d * 65537 % 2001 - 1000) * 1000).alias("x2"),
        (d * 7919 % 17000 * 1000
         + (d * 4099 % 2001 - 1000) * 1000).alias("y2"),
    )
    return segment_crossings(segs, cell_bits=20)


def _warc_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Render every document into an HTML page and pack the pages into
    a deterministic `.warc.gz` (one gzip member per record — the Common
    Crawl layout).  Shared by the warc_scan and warc_cdx_fetch queries;
    the write is atomic per sf_dir key."""
    import hashlib
    import os
    import tempfile

    from osm_spark.sources import warc as W

    docs = _t(spark, sf_dir, "documents")
    rich = _wp.rich_text(F.col("text"), F.col("doc_id"))
    rendered = (
        docs.select(
            "doc_id",
            _wp.render_html(rich, F.col("doc_id"), F.col("lang")).alias("html"),
        )
        .orderBy("doc_id")
        .collect()
    )  # fixture-sized render (500 rows at sf0.01)
    records = [
        W.build_record(
            payload=bytes(r.html),
            target_uri=f"https://crawl.example/doc/{r.doc_id}",
            warc_date_epoch=1483228800 + r.doc_id,
            record_id=f"<urn:uuid:{r.doc_id:08d}-0000-4000-8000-000000000000>",
        )
        for r in rendered
    ]
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"osm_spark_warc_{key}.warc.gz")
    W.write_warc(path, records)
    return path


@register(
    "warc_scan",
    """
    WITH r AS (
      SELECT doc_id, lang,
             text || ' <#' || CAST(doc_id AS VARCHAR) || ' & "tail">' AS rich
      FROM documents),
    h AS (
      SELECT doc_id, rich,
             '<!DOCTYPE html><html lang="' || lang || '"><head><title>p' ||
             CAST(doc_id AS VARCHAR) || '</title></head><body><p id="c' ||
             CAST(doc_id AS VARCHAR) || '">' ||
             replace(replace(replace(replace(rich,
                 '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;') ||
             '</p></body></html>' AS html
      FROM r)
    SELECT doc_id,
           strftime(make_timestamp((1483228800 + doc_id) * 1000000),
                    '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
           CAST(octet_length(encode(html)) AS BIGINT) AS content_length,
           CAST(1 AS BIGINT) AS byte_identical,
           md5(rich) AS text_md5
    FROM h
    """,
)
def q_warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC container source (sources/warc.py — Common Crawl's actual
    page format, one gzip member per record, offset-splittable exactly
    like the PBF blob framing in osmpbf/scanner.go): documents render
    to HTML pages, pack into a .warc.gz with deliberately tiny split
    ranges so member boundaries cross every task edge, then scan back
    block-parallel; the extracted text must come back byte-identical
    per url (joined against the source rows), and WARC-Date /
    Content-Length must survive the container round trip.  The oracle
    recomputes every value straight from documents — byte_identical=1
    IS the asserted invariant (the oracle cannot see the file, so any
    container corruption reds the hash)."""
    from osm_spark.sources import warc as W

    docs = _t(spark, sf_dir, "documents")
    path = _warc_fixture(spark, sf_dir)
    rec = W.read_warc(spark, path, split_bytes=16 << 10)
    ext = rec.where(F.col("warc_type") == "response").select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long").alias("doc_id"),
        F.col("warc_date"),
        F.length("payload").cast("long").alias("content_length"),
        _wp.extract_text(F.col("payload")).alias("x"),
    )
    orig = docs.select(
        "doc_id", _wp.rich_text(F.col("text"), F.col("doc_id")).alias("rich")
    )
    return ext.join(orig, "doc_id").select(
        "doc_id",
        "warc_date",
        "content_length",
        (F.col("x") == F.col("rich")).cast("long").alias("byte_identical"),
        F.md5("x").alias("text_md5"),
    )


@register(
    "warc_cdx_fetch",
    """
    WITH r AS (
      SELECT doc_id, lang,
             text || ' <#' || CAST(doc_id AS VARCHAR) || ' & "tail">' AS rich
      FROM documents WHERE doc_id % 7 = 0),
    h AS (
      SELECT doc_id, rich,
             '<!DOCTYPE html><html lang="' || lang || '"><head><title>p' ||
             CAST(doc_id AS VARCHAR) || '</title></head><body><p id="c' ||
             CAST(doc_id AS VARCHAR) || '">' ||
             replace(replace(replace(replace(rich,
                 '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&quot;') ||
             '</p></body></html>' AS html
      FROM r)
    SELECT doc_id,
           CAST(octet_length(encode(html)) AS BIGINT) AS content_length,
           CAST(1 AS BIGINT) AS digest_match,
           CAST(1 AS BIGINT) AS byte_identical,
           md5(rich) AS text_md5
    FROM h
    """,
)
def q_warc_cdx_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX-indexed random access into the WARC container
    (sources/warc.py cdx_index + read_warc_at — Common Crawl's actual
    consumption pattern: one full scan builds the capture index, then
    consumers pread single records by byte offset without scanning):
    the offsets scan indexes every record, every 7th document's record
    is fetched back via seek+read of exactly its member bytes, and the
    fetched payload must (a) hash-match the index digest recorded by
    the INDEPENDENT full-scan decode and (b) extract to text
    byte-identical to the source row.  The oracle recomputes the
    expected lengths/hashes in closed form from documents — offsets
    are physical and never surface in the compared frame."""
    from osm_spark.sources import warc as W

    docs = _t(spark, sf_dir, "documents")
    path = _warc_fixture(spark, sf_dir)
    idx = _persist(
        W.cdx_index(W.read_warc(spark, path, split_bytes=32 << 10,
                                with_offsets=True))
        .withColumn(
            "doc_id",
            F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long"),
        )
    )
    pick = idx.where(F.col("doc_id") % 7 == 0)
    fetched = W.read_warc_at(spark, path, pick)
    ext = fetched.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long").alias("doc_id"),
        F.col("member_offset").alias("offset"),
        F.length("payload").cast("long").alias("content_length"),
        F.md5("payload").alias("fetched_digest"),
        _wp.extract_text(F.col("payload")).alias("x"),
    )
    orig = docs.select(
        "doc_id", _wp.rich_text(F.col("text"), F.col("doc_id")).alias("rich")
    )
    return (
        ext.join(pick.select("doc_id", "offset", "digest"), ["doc_id", "offset"])
        .join(orig, "doc_id")
        .select(
            "doc_id",
            "content_length",
            (F.col("fetched_digest") == F.col("digest")).cast("long")
            .alias("digest_match"),
            (F.col("x") == F.col("rich")).cast("long").alias("byte_identical"),
            F.md5("x").alias("text_md5"),
        )
    )


# =====================================================================
# Geohash cell index (geo/geohash.py — third standard cell family)
# =====================================================================

def _geohash_oracle(p: int = 7) -> str:
    from osm_spark.geo import geohash as _gh

    lat, lon = pages.GEO_LAT_SQL, pages.GEO_LON_SQL
    return f"""
    WITH g AS (
      SELECT doc_id,
             {_gh.geohash_sql(lat, lon, p)} AS gh{p},
             {_gh.lon_q_sql(lon, p)} AS lon_q,
             {_gh.lat_q_sql(lat, p)} AS lat_q
      FROM documents)
    SELECT doc_id, gh{p}, substring(gh{p}, 1, 5) AS gh5, lon_q, lat_q
    FROM g
    """


@register("geohash_cell", _geohash_oracle())
def q_geohash_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash cell index (geo/geohash.py) — the third standard cell
    family next to slippy tiles/quadkey (orb/maptile semantics,
    reference bounds.go:18-34) and the hex index: quantize lon/lat ONCE
    (the only float boundary), Morton-interleave with lon in the MSB,
    emit the base32 string via one conv+translate+lpad (the quadkey
    allocation trick), and prove the packed id is losslessly invertible
    by DEINTERLEAVING it back — the oracle quantizes directly, so any
    interleave/compact defect mismatches.  gh5 parent = string prefix
    (the geohash contract that makes it a clustering/rollup key).
    Scan-shaped: pure column math, no UDF, no join, no shuffle."""
    from osm_spark.geo import geohash as _gh

    p = 7
    pts = pages.page_points(spark, sf_dir)
    v = pts.select(
        "doc_id", _gh.geohash_value("lat", "lon", p).alias("v")
    )
    gh = F.col("gh7")
    return v.select(
        "doc_id",
        _gh.geohash_from_value("v", p).alias("gh7"),
        _gh.decode_lon_q("v", p).alias("lon_q"),
        _gh.decode_lat_q("v", p).alias("lat_q"),
    ).select("doc_id", "gh7", F.substring(gh, 1, 5).alias("gh5"),
             "lon_q", "lat_q")


# =====================================================================
# Viewport clipping (geo/clip.py — orb/clip semantics, exact int64 LB)
# =====================================================================

# viewport covering ~1/8 of the fixture's lon/lat domain, placed so the
# 25 nation-ways produce a healthy inside/clipped/outside mix
_CLIP_BBOX = (-60_000_000, 60_000_000, -30_000_000, 30_000_000)


def _clip_oracle() -> str:
    from osm_spark.geo import clip as _clip

    bx0, bx1, by0, by1 = _CLIP_BBOX
    return f"""
    WITH {_CUST_PTS_SQL},
    q AS (
      SELECT c_nationkey AS way_id,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_custkey) - 1 AS pos,
             CAST(floor(lon * 1000000.0) AS BIGINT) AS x,
             CAST(floor(lat * 1000000.0) AS BIGINT) AS y
      FROM pts),
    s AS (
      SELECT way_id, CAST(pos AS INT) AS pos, x AS x1, y AS y1,
             lead(x) OVER (PARTITION BY way_id ORDER BY pos) AS x2,
             lead(y) OVER (PARTITION BY way_id ORDER BY pos) AS y2
      FROM q),
    s2 AS (SELECT * FROM s WHERE x2 IS NOT NULL),
    {_clip.clip_sql("s2", ["way_id", "pos"], bx0, bx1, by0, by1)
         .replace("CASE WHEN ok THEN cxa END AS cxa",
                  "coalesce(CASE WHEN ok THEN cxa END, 0) AS cxa")
         .replace("CASE WHEN ok THEN cya END AS cya",
                  "coalesce(CASE WHEN ok THEN cya END, 0) AS cya")
         .replace("CASE WHEN ok THEN cxb END AS cxb",
                  "coalesce(CASE WHEN ok THEN cxb END, 0) AS cxb")
         .replace("CASE WHEN ok THEN cyb END AS cyb",
                  "coalesce(CASE WHEN ok THEN cyb END, 0) AS cyb")}
    """


@register("clip_bbox", _clip_oracle())
def q_clip_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viewport clipping (geo/clip.py — orb/clip's LineString-to-Bound
    semantics over the reference's bbox type, bounds.go:10-34): every
    way segment is classified inside / clipped / outside against a
    fixed viewport and clipped vertices are computed by Liang-Barsky in
    EXACT int64 rational arithmetic — crossing parameters stay
    fractions with positive denominators, comparisons cross-multiply,
    and clipped vertices land back on the e6 grid via the shared
    pmod-subtract floor division, so both engines emit identical
    integers (no float parity surface at all past the one e6 quantize).
    Clipped columns are 0-sentineled when status='outside' (kept
    non-null so the nullable-int→float64 pandas widening can't split
    dtypes between engines).  Scan-shaped: one lead() window per way +
    pure column math; no UDF, no join beyond the window exchange."""
    from osm_spark.geo import clip as _clip

    bx0, bx1, by0, by1 = _CLIP_BBOX
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        F.col("c_nationkey").alias("way_id"),
        k.alias("ck"),
        ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0).alias("lat"),
        ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0).alias("lon"),
    )
    rn = Window.partitionBy("way_id").orderBy("ck")
    q = pts.select(
        "way_id",
        (F.row_number().over(rn) - 1).cast("int").alias("pos"),
        F.floor(F.col("lon") * 1e6).cast("long").alias("x"),
        F.floor(F.col("lat") * 1e6).cast("long").alias("y"),
    )
    w = Window.partitionBy("way_id").orderBy("pos")
    segs = q.select(
        "way_id",
        "pos",
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
        F.lead("x").over(w).alias("x2"),
        F.lead("y").over(w).alias("y2"),
    ).where(F.col("x2").isNotNull())
    out = _clip.clip_to_bbox(segs, bx0, bx1, by0, by1)
    return out.select(
        "way_id",
        "pos",
        "status",
        *[F.coalesce(c, F.lit(0)).alias(c) for c in ("cxa", "cya", "cxb", "cyb")],
    )


# =====================================================================
# Encoded-polyline codec (functions/polyline.py)
# =====================================================================

def _polyline_oracle() -> str:
    from osm_spark.functions import polyline as _pl

    return f"""
    WITH {_CUST_PTS_SQL},
    p5 AS (
      SELECT c_nationkey AS way_id,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_custkey) - 1 AS pos,
             CAST(floor(lat * 100000.0) AS BIGINT) AS lat5,
             CAST(floor(lon * 100000.0) AS BIGINT) AS lon5
      FROM pts),
    d AS (
      SELECT way_id, pos, lat5, lon5,
             lat5 - lag(lat5, 1, 0) OVER w AS dlat,
             lon5 - lag(lon5, 1, 0) OVER w AS dlon
      FROM p5
      WINDOW w AS (PARTITION BY way_id ORDER BY pos)),
    z AS (
      SELECT way_id, pos, lat5, lon5,
             {_pl.zigzag_sql('dlat')} AS za,
             {_pl.zigzag_sql('dlon')} AS zb
      FROM d),
    f AS (
      SELECT way_id, pos, lat5, lon5,
             {_pl.encode_value_sql('za')} || {_pl.encode_value_sql('zb')}
               AS frag
      FROM z)
    SELECT way_id,
           string_agg(frag, '' ORDER BY pos) AS polyline,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(lat5) AS BIGINT) AS lat5_sum,
           CAST(sum(lon5) AS BIGINT) AS lon5_sum,
           TRUE AS decode_ok
    FROM f GROUP BY way_id
    """


@register("polyline_codec", _polyline_oracle())
def q_polyline_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Google encoded-polyline codec (functions/polyline.py — the
    reference author's canonical compact line-geometry interchange,
    github.com/paulmach/polyline; public Google spec): each way's e5
    point sequence delta+zigzag encodes into printable ASCII, then the
    engine DECODES its own encoding back — no stateful scan needed:
    the continuation bit partitions the byte range, so one
    regexp_extract_all splits values and an unrolled chunk sum decodes
    each — and proves the roundtrip (decode_ok + decoded-coordinate
    sums the oracle recomputes directly from source points; the oracle
    independently assembles the same polyline string via the chunk-
    formula SQL twin).  Plan: one lag() window + one groupBy per way;
    encode/decode are in-row array ops, no UDF, no Python."""
    from osm_spark.functions import polyline as _pl

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        F.col("c_nationkey").alias("way_id"),
        k.alias("ck"),
        ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0).alias("lat"),
        ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0).alias("lon"),
    )
    rn = Window.partitionBy("way_id").orderBy("ck")
    p5 = pts.select(
        "way_id",
        (F.row_number().over(rn) - 1).alias("pos"),
        F.floor(F.col("lat") * 1e5).cast("long").alias("lat5"),
        F.floor(F.col("lon") * 1e5).cast("long").alias("lon5"),
    )
    w = Window.partitionBy("way_id").orderBy("pos")
    d = p5.select(
        "way_id",
        "pos",
        "lat5",
        "lon5",
        (F.col("lat5") - F.lag("lat5", 1, 0).over(w)).alias("dlat"),
        (F.col("lon5") - F.lag("lon5", 1, 0).over(w)).alias("dlon"),
    )
    per_way = d.groupBy("way_id").agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "dlat", "dlon"))
        ).alias("deltas"),
        F.array_sort(
            F.collect_list(F.struct("pos", "lat5", "lon5"))
        ).alias("orig"),
    )
    enc = per_way.select(
        "way_id",
        _pl.encode_line(F.col("deltas")).alias("polyline"),
        F.transform("orig", lambda p: p["lat5"]).alias("olats"),
        F.transform("orig", lambda p: p["lon5"]).alias("olons"),
    )
    vals = _pl.decode_values(F.col("polyline"))
    dec = enc.select(
        "way_id",
        "polyline",
        "olats",
        "olons",
        _pl.prefix_sums(F.filter(vals, lambda v, i: i % 2 == 0)).alias("lats"),
        _pl.prefix_sums(F.filter(vals, lambda v, i: i % 2 == 1)).alias("lons"),
    )
    acc0 = F.lit(0).cast("bigint")
    return dec.select(
        "way_id",
        "polyline",
        F.size("lats").cast("long").alias("n_points"),
        F.aggregate("lats", acc0, lambda a, x: a + x).alias("lat5_sum"),
        F.aggregate("lons", acc0, lambda a, x: a + x).alias("lon5_sum"),
        (
            (F.col("lats") == F.col("olats"))
            & (F.col("lons") == F.col("olons"))
        ).alias("decode_ok"),
    )


# =====================================================================
# Douglas-Peucker simplification (geo/simplify.py — orb/simplify)
# =====================================================================

_DP_EPS_E6 = 60_000_000  # 60 degrees — the scatter fixture keeps ~60%


def _simplify_oracle() -> str:
    from osm_spark.geo import simplify as _sp

    return f"""
    WITH RECURSIVE {_CUST_PTS_SQL},
    p AS (
      SELECT c_nationkey AS way_id,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_custkey) - 1 AS idx,
             CAST(floor(lon * 1000000.0) AS BIGINT) AS x,
             CAST(floor(lat * 1000000.0) AS BIGINT) AS y
      FROM pts),
    {_sp.simplify_sql("p", _DP_EPS_E6)}
    """


@register("simplify_dp", _simplify_oracle())
def q_simplify_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker simplification (geo/simplify.py —
    orb/simplify's DouglasPeucker(threshold) retained-vertex set over
    the reference's way geometries, way.go:31-54).  Runs the Arrow
    KERNEL path (one way_id shuffle, one applyInPandas stage): DP is
    embarrassingly parallel per way, so the kernel has no cross-way
    coordination — unlike the declarative frontier twin
    (simplify.simplify_dp), whose driver loop costs one global barrier
    + codegen compile per recursion LEVEL (measured 77s → <1s at
    sf0.1; the frontier stays exported and bit-equality-tested as the
    pure-JVM reference).  Exact with no float surface: argmax |cross|
    in int64 (ties to lowest index), the lone threshold square in
    Python bigints vs HUGEINT in the DuckDB twin — whose recursion is
    a WITH RECURSIVE chain picking each split with an aggregate-free
    NOT EXISTS argmax."""
    from osm_spark.geo import simplify as _sp

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        F.col("c_nationkey").alias("way_id"),
        k.alias("ck"),
        ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0).alias("lat"),
        ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0).alias("lon"),
    )
    rn = Window.partitionBy("way_id").orderBy("ck")
    p6 = pts.select(
        "way_id",
        (F.row_number().over(rn) - 1).alias("pos"),
        F.floor(F.col("lon") * 1e6).cast("long").alias("x"),
        F.floor(F.col("lat") * 1e6).cast("long").alias("y"),
    )
    out = _sp.simplify_dp_kernel(p6, _DP_EPS_E6)
    return out.select(
        "way_id", F.col("pos").cast("int").alias("pos"), "x", "y"
    )


# =====================================================================
# Even-spacing resample (geo/resample.py — orb/resample)
# =====================================================================

_RESAMPLE_N = 16


def _resample_oracle() -> str:
    from osm_spark.geo import resample as _rs

    return f"""
    WITH {_CUST_PTS_SQL},
    p AS (
      SELECT c_nationkey AS way_id,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_custkey) - 1 AS pos,
             CAST(floor(lon * 1000000.0) AS BIGINT) AS x,
             CAST(floor(lat * 1000000.0) AS BIGINT) AS y
      FROM pts),
    {_rs.resample_sql("p", _RESAMPLE_N)}
    """


@register("resample_line", _resample_oracle())
def q_resample_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Even-spacing resample (geo/resample.py — orb/resample's
    Resample(ls, n): n points evenly spaced by arc length).  This
    operator has a REAL double surface (chord lengths need sqrt), so
    it rides the repo's float-parity discipline: Spark and the DuckDB
    twin evaluate operation-identical IEEE expressions, running sums
    fold in frame order in both engines, and outputs quantize ONCE to
    the e6 grid.  Segment pick is a half-open cumulative interval
    (zero-length segments own an empty interval), the j = n−1 endpoint
    is emitted explicitly.  Plan: one lead+cumsum window pass, targets
    explode from a literal sequence, pick is an equi-join on way_id
    with a range filter — all row counts way-bounded."""
    from osm_spark.geo import resample as _rs

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        F.col("c_nationkey").alias("way_id"),
        k.alias("ck"),
        ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0).alias("lat"),
        ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0).alias("lon"),
    )
    rn = Window.partitionBy("way_id").orderBy("ck")
    p6 = pts.select(
        "way_id",
        (F.row_number().over(rn) - 1).alias("pos"),
        F.floor(F.col("lon") * 1e6).cast("long").alias("x"),
        F.floor(F.col("lat") * 1e6).cast("long").alias("y"),
    )
    out = _rs.resample(p6, _RESAMPLE_N)
    return out.select(
        "way_id", F.col("j").cast("long").alias("j"), "rx", "ry"
    )


# =====================================================================
# Per-tile top-k terms (the graft query: tile layer × text layer)
# =====================================================================

_TTK_Z = 4
_TTK_K = 5


@register(
    "tile_topk_terms",
    f"""
    WITH p AS (
      SELECT doc_id, text,
             {{tx}} AS tile_x, {{ty}} AS tile_y
      FROM documents),
    t AS (SELECT tile_x, tile_y, unnest(string_split(text, ' ')) AS term
          FROM p),
    tf AS (SELECT tile_x, tile_y, term, CAST(count(*) AS BIGINT) AS n
           FROM t GROUP BY 1, 2, 3),
    r AS (SELECT *,
                 row_number() OVER (PARTITION BY tile_x, tile_y
                                    ORDER BY n DESC, term ASC) AS rank
          FROM tf)
    SELECT tile_x, tile_y, CAST(rank AS INT) AS rank, term, n
    FROM r WHERE rank <= {_TTK_K}
    """.format(
        tx=tiles.tile_x_sql(pages.GEO_LON_SQL, _TTK_Z),
        ty=tiles.tile_y_sql(pages.GEO_LAT_SQL, _TTK_Z),
    ),
)
def q_tile_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE graft query — the tile layer joined to the text layer:
    top-k most frequent terms per z4 map tile ("what is this region's
    corpus about").  Ranking is the integer-exact total order
    (n desc, term asc) — bit-reproducible, no float scores.

    Scale shape: geocode+tile-assign is in-row column math fused into
    the scan; ONE (tile, term) shuffle with map-side combine reduces
    pages × tokens to distinct (tile, term) pairs; the top-k window is
    SALTED two-level (rank within (tile, xxhash64(term) % 16) first,
    then globally over ≤ 16k survivors) so a hot city tile with a
    10^8-term vocabulary never funnels one partition — exact for any
    salt function by the superset argument (a global top-k term has
    < k better terms globally, hence < k better in its own bucket),
    which is why the oracle can rank the straightforward way."""
    docs = _t_spread(spark, sf_dir, "documents")
    terms = docs.select(
        tiles.tile_x(pages.geo_lon(F.col("doc_id")), _TTK_Z).alias("tile_x"),
        tiles.tile_y(pages.geo_lat(F.col("doc_id")), _TTK_Z).alias("tile_y"),
        F.explode(F.split("text", " ")).alias("term"),
    )
    tf = terms.groupBy("tile_x", "tile_y", "term").agg(
        F.count("*").alias("n")
    )
    from osm_spark.plans.skew import salted_topk

    top = salted_topk(
        tf, _TTK_K, [F.col("n").desc(), F.col("term").asc()],
        F.xxhash64("term"), 16, ["tile_x", "tile_y"],
    )
    return top.select(
        "tile_x", "tile_y", F.col("rank").cast("int").alias("rank"), "term", "n"
    )


# =====================================================================
# Segment bearings (geo/distance.py — orb geo.Bearing)
# =====================================================================

@register(
    "segment_bearing",
    f"""
    WITH {_CUST_PTS_SQL},
    seg AS (
      SELECT c_nationkey AS way_id,
             row_number() OVER w - 1 AS pos,
             lat, lon,
             lead(lat) OVER w AS lat2, lead(lon) OVER w AS lon2
      FROM pts WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey)),
    b AS (
      SELECT way_id, CAST(pos AS INT) AS pos,
             CAST(floor({_dist.bearing_deg_sql('lat', 'lon', 'lat2', 'lon2')}
                        * 1000.0) AS BIGINT) AS bearing_md
      FROM seg WHERE lat2 IS NOT NULL)
    SELECT way_id, pos, bearing_md,
           ((bearing_md + 360000 + 22500) // 45000) % 8 AS octant
    FROM b
    """,
)
def q_segment_bearing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial great-circle bearing per way segment (geo/distance.py
    bearing_deg — orb geo.Bearing, the third member of the geodesic
    family next to geo.Distance/haversine and the centroid weights).
    Transcendental output quantizes ONCE at the proven 1e3 grain
    (same as every haversine oracle in this repo); the compass octant
    then derives from the ALREADY-QUANTIZED integer with exact floor
    division, so it adds no second float boundary.  Scan-shaped: one
    lead() window, pure column math."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        F.col("c_nationkey").alias("way_id"),
        k.alias("ck"),
        ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0).alias("lat"),
        ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0).alias("lon"),
    )
    w = Window.partitionBy("way_id").orderBy("ck")
    seg = pts.select(
        "way_id",
        (F.row_number().over(w) - 1).cast("int").alias("pos"),
        "lat",
        "lon",
        F.lead("lat").over(w).alias("lat2"),
        F.lead("lon").over(w).alias("lon2"),
    ).where(F.col("lat2").isNotNull())
    md = F.floor(
        _dist.bearing_deg("lat", "lon", "lat2", "lon2") * 1e3
    ).cast("long")
    out = seg.select("way_id", "pos", md.alias("bearing_md"))
    shifted = F.col("bearing_md") + F.lit(382500)
    return out.select(
        "way_id",
        "pos",
        "bearing_md",
        (
            ((shifted - F.pmod(shifted, F.lit(45000))) / F.lit(45000))
            .cast("long") % 8
        ).alias("octant"),
    )


# =====================================================================
# 3x3 tile box blur (raster smoothing over the z-grid)
# =====================================================================

_SMOOTH_Z = 8


@register(
    "tile_smooth",
    f"""
    WITH c AS (
      SELECT {tiles.tile_x_sql(pages.GEO_LON_SQL, _SMOOTH_Z)} AS x,
             {tiles.tile_y_sql(pages.GEO_LAT_SQL, _SMOOTH_Z)} AS y,
             CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2),
    o AS (SELECT unnest([-1, 0, 1]) AS d),
    s AS (
      SELECT c.x + ox.d AS tile_x, c.y + oy.d AS tile_y,
             c.n, (ox.d = 0 AND oy.d = 0) AS center
      FROM c CROSS JOIN o ox CROSS JOIN o oy),
    g AS (
      SELECT tile_x, tile_y,
             CAST(sum(n) AS BIGINT) AS n_box,
             CAST(sum(CASE WHEN center THEN n ELSE 0 END) AS BIGINT)
               AS n_self
      FROM s
      WHERE tile_x >= 0 AND tile_x < {1 << _SMOOTH_Z}
        AND tile_y >= 0 AND tile_y < {1 << _SMOOTH_Z}
      GROUP BY 1, 2)
    SELECT tile_x, tile_y, n_self, n_box FROM g
    """,
)
def q_tile_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 box blur over the z8 tile grid (the heatmap-smoothing pass
    a tile renderer runs over the flagship per-tile counts; raster
    sibling of geo/raster.py).  SCATTER formulation: each occupied
    tile explodes its count to its 9 neighbors and one (x, y) shuffle
    re-aggregates — at 10^12 pages the explode runs over the per-TILE
    table (already collapsed by the first groupBy), so the 9x factor
    applies to |tiles|, never |pages|.  Grid edges clip exactly like
    tiles.At clamps."""
    pts = pages.page_points(spark, sf_dir)
    c = (
        pts.select(
            tiles.tile_x("lon", _SMOOTH_Z).alias("x"),
            tiles.tile_y("lat", _SMOOTH_Z).alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count("*").alias("n"))
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    nmax = 1 << _SMOOTH_Z
    s = c.select("x", "y", "n", F.explode(offs).alias("o")).select(
        (F.col("x") + F.col("o.dx")).alias("tile_x"),
        (F.col("y") + F.col("o.dy")).alias("tile_y"),
        "n",
        ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("center"),
    )
    return (
        s.where(
            (F.col("tile_x") >= 0)
            & (F.col("tile_x") < nmax)
            & (F.col("tile_y") >= 0)
            & (F.col("tile_y") < nmax)
        )
        .groupBy("tile_x", "tile_y")
        .agg(
            F.sum(F.when(F.col("center"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_self"),
            F.sum("n").cast("long").alias("n_box"),
        )
        .select("tile_x", "tile_y", "n_self", "n_box")
    )


# =====================================================================
# HyperLogLog register build (text/sketch.py family)
# =====================================================================

_HLL_B = 6  # 64 registers
_HLL_W = 54  # 60-bit hash minus 6 bucket bits

_HLL_DIG_POLY = " + ".join(
    f"(strpos('0123456789abcdef', substr(dig, {i + 1}, 1)) - 1)"
    f" * CAST({16 ** (14 - i)} AS BIGINT)"
    for i in range(15)
)


@register(
    "hll_registers",
    f"""
    WITH h AS (
      SELECT source, md5(text) AS dig FROM documents),
    v AS (SELECT source, {_HLL_DIG_POLY} AS v FROM h),
    r AS (
      SELECT source, v >> {_HLL_W} AS bucket,
             v & {(1 << _HLL_W) - 1} AS w
      FROM v),
    rho AS (
      SELECT source, bucket,
             CASE WHEN strpos(lpad(bin(w), {_HLL_W}, '0'), '1') = 0
                  THEN {_HLL_W + 1}
                  ELSE strpos(lpad(bin(w), {_HLL_W}, '0'), '1')
             END AS rho
      FROM r),
    per AS (
      SELECT source, bucket, CAST(max(rho) AS BIGINT) AS rho,
             CAST(count(*) AS BIGINT) AS n_items
      FROM rho GROUP BY 1, 2)
    SELECT source, bucket, rho, n_items FROM per
    UNION ALL
    SELECT '__all__', bucket, CAST(max(rho) AS BIGINT),
           CAST(sum(n_items) AS BIGINT)
    FROM per GROUP BY 2
    """,
)
def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register build (sibling of the KMV sketch in
    text/sketch.py — the other canonical mergeable distinct-count
    sketch): 60-bit md5 value splits into a 6-bit bucket and a 54-bit
    suffix whose leading-zero rank is computed WITHOUT an integer-log
    builtin — rho = strpos(lpad(bin(w)), '1') — the identical
    string-op formula in both engines, no float log2 boundary.
    Registers are per-source max(rho); the '__all__' rows re-max the
    per-source registers, demonstrating the merge property IN-QUERY
    (merge = register-wise max, the reason HLL shards freely across
    10^12-row scans).  The estimate is a driver-side closed form over
    the registers; the sketch CONTENT is what the oracle pins."""
    docs = _t_spread(spark, sf_dir, "documents")
    from osm_spark.text.sketch import _hex15_to_long

    v = docs.select(
        "source", _hex15_to_long(F.md5("text")).alias("v")
    )
    r = v.select(
        "source",
        F.shiftright("v", _HLL_W).alias("bucket"),
        F.col("v").bitwiseAND(F.lit((1 << _HLL_W) - 1)).alias("w"),
    )
    pos = F.instr(F.lpad(F.bin("w"), _HLL_W, "0"), "1")
    rho = r.select(
        "source",
        "bucket",
        F.when(pos == 0, F.lit(_HLL_W + 1)).otherwise(pos).alias("rho"),
    )
    per = rho.groupBy("source", "bucket").agg(
        F.max("rho").cast("long").alias("rho"),
        F.count("*").alias("n_items"),
    )
    merged = per.groupBy("bucket").agg(
        F.max("rho").cast("long").alias("rho"),
        F.sum("n_items").alias("n_items"),
    ).select(F.lit("__all__").alias("source"), "bucket", "rho", "n_items")
    return per.select("source", "bucket", "rho", "n_items").unionByName(
        merged
    )


# =====================================================================
# WKT codec (orb/encoding/wkt sibling of the WKB codec in geo/wkb.py)
# =====================================================================

def _e6_str_sql(v: str) -> str:
    """Render an e6 int64 as the exact fixed-6-decimal string — pure
    integer/string ops, so both engines emit identical bytes (no
    printf rounding surface).  -1234567 -> '-1.234567'."""
    a = f"abs({v})"
    return (
        f"(CASE WHEN ({v}) < 0 THEN '-' ELSE '' END || "
        f"CAST({a} // 1000000 AS VARCHAR) || '.' || "
        f"lpad(CAST({a} % 1000000 AS VARCHAR), 6, '0'))"
    )


def _e6_str(v) -> "F.Column":
    c = F.col(v) if isinstance(v, str) else v
    a = F.abs(c)
    return F.concat(
        F.when(c < 0, F.lit("-")).otherwise(F.lit("")),
        (
            (a - F.pmod(a, F.lit(1000000))) / F.lit(1000000)
        ).cast("long").cast("string"),
        F.lit("."),
        F.lpad(F.pmod(a, F.lit(1000000)).cast("string"), 6, "0"),
    )


@register(
    "wkt_codec",
    f"""
    WITH {_CUST_PTS_SQL},
    p AS (
      SELECT c_nationkey AS way_id,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_custkey) - 1 AS pos,
             CAST(floor(lon * 1000000.0) AS BIGINT) AS x,
             CAST(floor(lat * 1000000.0) AS BIGINT) AS y
      FROM pts),
    f AS (
      SELECT way_id, pos, x, y,
             {_e6_str_sql('x')} || ' ' || {_e6_str_sql('y')} AS pair
      FROM p)
    SELECT way_id,
           'LINESTRING(' || string_agg(pair, ',' ORDER BY pos) || ')'
             AS wkt,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(x) AS BIGINT) AS x_sum,
           CAST(sum(y) AS BIGINT) AS y_sum,
           TRUE AS decode_ok
    FROM f GROUP BY way_id
    """,
)
def q_wkt_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKT codec (orb/encoding/wkt — the text sibling of the binary
    WKB codec already in geo/wkb.py): each way renders to
    ``LINESTRING(lon lat, ...)`` with EXACT fixed-6-decimal strings
    built from the e6 integers by pure integer/string ops (no printf,
    no float-format rounding surface — both engines emit identical
    bytes), then the engine PARSES its own text back — one
    regexp_extract_all over the signed-decimal token grammar, '.'
    stripped, cast to int64 — and proves the roundtrip via decode_ok +
    coordinate sums the oracle recomputes directly.  Plan: one window
    + one per-way groupBy; decode is in-row array math."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        F.col("c_nationkey").alias("way_id"),
        k.alias("ck"),
        ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0).alias("lat"),
        ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0).alias("lon"),
    )
    rn = Window.partitionBy("way_id").orderBy("ck")
    p6 = pts.select(
        "way_id",
        (F.row_number().over(rn) - 1).alias("pos"),
        F.floor(F.col("lon") * 1e6).cast("long").alias("x"),
        F.floor(F.col("lat") * 1e6).cast("long").alias("y"),
    )
    per = p6.groupBy("way_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "x", "y"))).alias("s")
    )
    wkt = F.concat(
        F.lit("LINESTRING("),
        F.array_join(
            F.transform(
                "s",
                lambda t: F.concat(
                    _e6_str(t["x"]), F.lit(" "), _e6_str(t["y"])
                ),
            ),
            ",",
        ),
        F.lit(")"),
    )
    enc = per.select(
        "way_id",
        wkt.alias("wkt"),
        F.transform("s", lambda t: t["x"]).alias("ox"),
        F.transform("s", lambda t: t["y"]).alias("oy"),
    )
    toks = F.regexp_extract_all(
        F.col("wkt"), F.lit(r"(-?\d+\.\d{6})"), 1
    )
    nums = F.transform(
        toks, lambda s: F.regexp_replace(s, r"\.", "").cast("long")
    )
    dec = enc.select(
        "way_id",
        "wkt",
        "ox",
        "oy",
        F.filter(nums, lambda v, i: i % 2 == 0).alias("dx"),
        F.filter(nums, lambda v, i: i % 2 == 1).alias("dy"),
    )
    acc0 = F.lit(0).cast("bigint")
    return dec.select(
        "way_id",
        "wkt",
        F.size("dx").cast("long").alias("n_points"),
        F.aggregate("dx", acc0, lambda a, x: a + x).alias("x_sum"),
        F.aggregate("dy", acc0, lambda a, x: a + x).alias("y_sum"),
        (
            (F.col("dx") == F.col("ox")) & (F.col("dy") == F.col("oy"))
        ).alias("decode_ok"),
    )


# =====================================================================
# Mapbox Vector Tile encoder (geo/mvt.py — the wire artifact behind
# the reference's maptile Z/X/Y assignment, public MVT spec 2.1)
# =====================================================================

_MVT_Z = 2


def _mvt_oracle() -> str:
    fx = tiles.fraction_x_sql("lon", _MVT_Z)
    fy = tiles.fraction_y_sql("lat", _MVT_Z)
    return f"""
    WITH {_CUST_PTS_SQL},
    g AS (
      SELECT c_nationkey AS way_id, c_custkey AS ck,
             CAST(floor(({fx}) * 4096.0) AS BIGINT) AS gx,
             CAST(floor(({fy}) * 4096.0) AS BIGINT) AS gy,
             {tiles.tile_x_sql('lon', _MVT_Z)} AS px,
             {tiles.tile_y_sql('lat', _MVT_Z)} AS py
      FROM pts),
    f AS (
      SELECT way_id,
             min_by(px, ck) AS tile_x, min_by(py, ck) AS tile_y,
             count(*) AS n,
             CAST(sum(gx) AS BIGINT) AS sgx,
             CAST(sum(gy) AS BIGINT) AS sgy
      FROM g GROUP BY way_id),
    per_way AS (
      SELECT way_id, tile_x, tile_y, n,
             sgx - n * tile_x * 4096 AS lxsum,
             sgy - n * tile_y * 4096 AS lysum,
             9 + CASE WHEN n > 1 THEN 2 + 8 * (n - 1) ELSE 0 END AS cmds,
             way_id % 3 AS tagval
      FROM f)
    SELECT tile_x, tile_y,
           CAST(count(*) AS BIGINT) AS n_features,
           CAST(count(DISTINCT tagval) AS BIGINT) AS n_values,
           CAST(sum(cmds) AS BIGINT) AS cmdsum,
           CAST(sum(lxsum) AS BIGINT) AS xsum,
           CAST(sum(lysum) AS BIGINT) AS ysum,
           CAST(sum(tagval) AS BIGINT) AS tagsum
    FROM per_way GROUP BY tile_x, tile_y
    """


@register("mvt_encode", _mvt_oracle())
def q_mvt_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mapbox Vector Tile emission (geo/mvt.py; public MVT spec 2.1):
    the z=2 tile each way's FIRST point lands in (tile.At semantics,
    reference maptile/tile.go:113-130) becomes one wire tile — every
    way in it quantizes to tile-local extent-4096 integers, the
    layer's keys/values tables deduplicate, geometry becomes
    MoveTo/LineTo command streams with zigzagged cursor deltas, and
    the whole layer serializes to spec-exact protobuf bytes on the
    same varint primitives as the PBF codec.  The kernel then DECODES
    its own bytes and every reported number (feature count, value-
    table size, command-integer checksum, absolute decoded coordinate
    sums, tag-value sum) comes from the decoded artifact, which the
    oracle recomputes directly from source points — a wire-layer bug
    cannot cancel out.  Plan: one per-way shuffle (groupBy way_id with
    min_by first-point tile), one per-tile shuffle into the
    applyInPandas encode kernel; groups are tile-sized, the bounded
    unit a renderer consumes (production tiling picks z by feature
    budget, exactly like the pyramid density split)."""
    from osm_spark.geo import mvt as _mvt

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        F.col("c_nationkey").alias("way_id"),
        k.alias("ck"),
        ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0).alias("lat"),
        ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0).alias("lon"),
    )
    g = pts.select(
        "way_id",
        "ck",
        F.floor(tiles.fraction_x("lon", _MVT_Z) * F.lit(4096.0))
        .cast("long")
        .alias("gx"),
        F.floor(tiles.fraction_y("lat", _MVT_Z) * F.lit(4096.0))
        .cast("long")
        .alias("gy"),
        tiles.tile_x("lon", _MVT_Z).alias("px"),
        tiles.tile_y("lat", _MVT_Z).alias("py"),
    )
    per_way = (
        g.groupBy("way_id")
        .agg(
            F.min_by("px", "ck").alias("tile_x"),
            F.min_by("py", "ck").alias("tile_y"),
            F.array_sort(F.collect_list(F.struct("ck", "gx", "gy"))).alias(
                "p"
            ),
        )
        .select(
            "way_id",
            "tile_x",
            "tile_y",
            F.transform(
                "p", lambda s: s["gx"] - F.col("tile_x") * 4096
            ).alias("xs"),
            F.transform(
                "p", lambda s: s["gy"] - F.col("tile_y") * 4096
            ).alias("ys"),
            (F.col("way_id") % 3).cast("long").alias("tagval"),
        )
    )
    out = per_way.groupBy("tile_x", "tile_y").applyInPandas(
        _mvt.tile_stats_kernel, _mvt.TILE_STATS_SCHEMA
    )
    return out.select(
        "tile_x",
        "tile_y",
        "n_features",
        "n_values",
        "cmdsum",
        "xsum",
        "ysum",
        "tagsum",
    )


# =====================================================================
# Convex hull (geo/hull.py — exact-integer monotone chain)
# =====================================================================

@register(
    "convex_hull",
    f"""
    WITH {_CUST_PTS_SQL},
    p AS (
      SELECT c_nationkey AS way_id,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_custkey) - 1 AS pos,
             CAST(floor(lon * 1000000.0) AS BIGINT) AS x,
             CAST(floor(lat * 1000000.0) AS BIGINT) AS y
      FROM pts),
    e AS (
      SELECT a.way_id,
             a.pos AS pa, b.pos AS pb,
             a.x AS ax, a.y AS ay, b.x AS qx, b.y AS qy
      FROM p a JOIN p b
        ON a.way_id = b.way_id AND a.pos <> b.pos
      WHERE NOT EXISTS (
        -- c blocks edge a->b if it is strictly RIGHT of it, or exactly
        -- collinear but OUTSIDE the segment (an on-edge interior point
        -- does NOT disqualify the edge: the strict hull keeps a->b and
        -- drops the collinear middle, matching the monotone chain)
        SELECT 1 FROM p c
        WHERE c.way_id = a.way_id
          AND c.pos <> a.pos AND c.pos <> b.pos
          AND (
            ((b.x - a.x) * (c.y - a.y)
             - (b.y - a.y) * (c.x - a.x)) < 0
            OR (
              ((b.x - a.x) * (c.y - a.y)
               - (b.y - a.y) * (c.x - a.x)) = 0
              AND NOT (
                c.x BETWEEN least(a.x, b.x) AND greatest(a.x, b.x)
                AND c.y BETWEEN least(a.y, b.y) AND greatest(a.y, b.y))
            )))),
    agg_e AS (
      SELECT way_id,
             CAST(sum(ax * qy - qx * ay) AS BIGINT) AS area2
      FROM e GROUP BY way_id),
    v AS (
      SELECT DISTINCT way_id, pos, x, y FROM (
        SELECT way_id, pa AS pos, ax AS x, ay AS y FROM e
        UNION ALL
        SELECT way_id, pb AS pos, qx AS x, qy AS y FROM e)),
    agg_v AS (
      SELECT way_id,
             CAST(count(*) AS BIGINT) AS n_hull,
             CAST(sum(x) AS BIGINT) AS hx_sum,
             CAST(sum(y) AS BIGINT) AS hy_sum
      FROM v GROUP BY way_id)
    SELECT way_id, n_hull, hx_sum, hy_sum, area2
    FROM agg_e JOIN agg_v USING (way_id)
    """,
)
def q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convex hull per way (geo/hull.py — the exact polygon refinement
    of the reference's bound/extent reduction, bounds.go semantics):
    each way's e6 point cloud reduces to its strict CCW hull via
    Andrew's monotone chain over exact int64 cross products (no
    epsilon), and the reported stats (vertex count, coordinate sums,
    exact shoelace 2*area) are re-derived by the oracle from first
    principles — an O(n^3) SQL edge predicate: (a,b) is a hull edge
    iff every other point is STRICTLY left of a->b.  The two
    derivations share no code path, so they cross-check the geometry,
    not the implementation.  Plan: ONE way_id shuffle into the Arrow
    kernel; groups are way-sized.  The corpus-scale path is the
    associative hull-of-hulls merge (hull.merge, property-tested) —
    per-partition hulls then a tiny final reduce, never a global
    collect."""
    from osm_spark.geo import hull as _hull

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        F.col("c_nationkey").cast("long").alias("way_id"),
        F.floor(
            ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0) * 1e6
        ).cast("long").alias("x"),
        F.floor(
            ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0) * 1e6
        ).cast("long").alias("y"),
    )
    return pts.groupBy("way_id").applyInPandas(
        _hull.hull_stats_kernel, _hull.HULL_STATS_SCHEMA
    )


def _route_shortest_oracle_sql(iters: int = 6) -> str:
    """Chained-CTE DuckDB twin of plans/paths.py relax_rounds over the
    closed-form road graph: nation chains of customers (lag window),
    L1 micro-degree edge weights, symmetrized, sources every 20th
    custkey.  One full relaxation per round — frontier pruning on the
    Spark side is round-for-round identical (an unchanged node's
    proposals were already folded in the round after it last changed,
    and min-folding is monotone), so the unconverged round-k states
    match bit-for-bit."""
    from osm_spark.plans.paths import relax_rounds_sql

    return ("""
    WITH coord AS (
      SELECT c_custkey AS node,
             CAST((c_custkey * 6151 % 140000) * 1000 - 70000000
                  AS BIGINT) AS lat_e6,
             CAST((c_custkey * 9277 % 340000) * 1000 - 170000000
                  AS BIGINT) AS lon_e6
      FROM customer),
    n AS (SELECT node FROM coord),
    chain AS (
      SELECT c_custkey AS b,
             lag(c_custkey) OVER (PARTITION BY c_nationkey
                                  ORDER BY c_custkey) AS a
      FROM customer),
    e0 AS (
      SELECT chain.a, chain.b,
             abs(ca.lat_e6 - cb.lat_e6)
               + abs(ca.lon_e6 - cb.lon_e6) AS w
      FROM chain
      JOIN coord ca ON ca.node = chain.a
      JOIN coord cb ON cb.node = chain.b
      WHERE chain.a IS NOT NULL),
    e AS (SELECT a AS src, b AS dst, w FROM e0
          UNION ALL SELECT b, a, w FROM e0),
    s AS (SELECT node FROM coord WHERE node % 20 = 3)"""
            + relax_rounds_sql(iters, "c_custkey"))


@register("route_shortest", _route_shortest_oracle_sql(6))
def q_route_shortest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source shortest paths over the way graph
    (plans/paths.py): the canonical ROUTING use of the reference's
    way/node model (osm/way.go WayNodes — ways resolve to node chains,
    chains induce a weighted road graph).  Nation chains of customers
    give the ways, consecutive refs become bidirectional edges
    weighted by exact L1 micro-degree length, and 6 bulk-synchronous
    Bellman-Ford rounds relax distances from the source set — one
    frontier join + one node-keyed min per round, integer-exact so
    Spark and DuckDB reproduce the round-6 state bit-for-bit (most
    nodes are ~10 hops from a source, so round 6 is deliberately
    UNconverged — the parity holds on the partial state, which is the
    stronger check).  NULL dist is +infinity in both engines' least();
    unreached surfaces as -1."""
    from osm_spark.plans import paths as _paths

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    coord = cust.select(
        k.alias("node"),
        ((k * 6151 % 140000) * 1000 - 70000000).cast("long").alias("lat_e6"),
        ((k * 9277 % 340000) * 1000 - 170000000).cast("long").alias("lon_e6"),
    )
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    chain = (
        cust.select("c_custkey", "c_nationkey")
        .withColumn("a", F.lag("c_custkey").over(w))
        .where(F.col("a").isNotNull())
        .select("a", F.col("c_custkey").alias("b"))
    )
    ca = coord.select(F.col("node").alias("a"),
                      F.col("lat_e6").alias("la"), F.col("lon_e6").alias("lo"))
    cb = coord.select(F.col("node").alias("b"),
                      F.col("lat_e6").alias("lb"), F.col("lon_e6").alias("lb_o"))
    e0 = (
        chain.join(ca, "a").join(cb, "b")
        .select(
            "a", "b",
            (F.abs(F.col("la") - F.col("lb"))
             + F.abs(F.col("lo") - F.col("lb_o"))).cast("long").alias("w"),
        )
    )
    edges = _persist(
        e0.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
        .unionAll(e0.select(F.col("b").alias("src"),
                            F.col("a").alias("dst"), "w"))
    )
    sources = coord.where(F.col("node") % 20 == 3).select("node")
    # per-round localCheckpoint, not persist: each round's plan nests
    # the previous round's two-join tree, and lazy persist re-analyzes
    # the whole nested plan per round (same measurement as
    # plans/components.py / link_components).
    dist = _paths.relax_rounds(
        coord.select("node"), edges, sources, "node", iters=6,
        persist_fn=lambda df: df.localCheckpoint(),
    )
    return dist.select(
        F.col("node").alias("c_custkey"),
        F.coalesce("dist", F.lit(-1)).cast("long").alias("dist"),
        F.col("dist").isNotNull().cast("int").alias("reached"),
    )


_SNAP_ROADS_SQL = """
    WITH pts AS (
      SELECT c_custkey AS pid,
             CAST((c_custkey * 9277 % 340000) * 1000 - 170000000
                  AS BIGINT) AS px,
             CAST((c_custkey * 6151 % 140000) * 1000 - 70000000
                  AS BIGINT) AS py
      FROM customer),
    base AS (
      SELECT s_suppkey AS k,
             CAST((s_suppkey * 7919 % 340000) * 1000 - 170000000
                  AS BIGINT) AS x0,
             CAST((s_suppkey * 4567 % 140000) * 1000 - 70000000
                  AS BIGINT) AS y0,
             CAST(s_suppkey * 31 % 800000 - 400000 AS BIGINT) AS d1x,
             CAST(s_suppkey * 53 % 800000 - 400000 AS BIGINT) AS d1y,
             CAST(s_suppkey * 71 % 800000 - 400000 AS BIGINT) AS d2x,
             CAST(s_suppkey * 97 % 800000 - 400000 AS BIGINT) AS d2y
      FROM supplier),
    segs AS (
      SELECT k * 2 AS seg_id, x0 AS ax, y0 AS ay,
             x0 + d1x AS bx, y0 + d1y AS "by" FROM base
      UNION ALL
      SELECT k * 2 + 1, x0 + d1x, y0 + d1y,
             x0 + d1x + d2x, y0 + d1y + d2y FROM base),
    pairs AS (
      SELECT p.pid, s.seg_id,
             CAST(p.px AS DOUBLE) AS pxd, CAST(p.py AS DOUBLE) AS pyd,
             CAST(s.ax AS DOUBLE) AS axd, CAST(s.ay AS DOUBLE) AS ayd,
             CAST(s.bx AS DOUBLE) AS bxd, CAST(s."by" AS DOUBLE) AS byd
      FROM pts p CROSS JOIN segs s),
    proj AS (
      SELECT pid, seg_id, pxd, pyd, axd, ayd,
             bxd - axd AS dx, byd - ayd AS dy,
             (bxd - axd) * (bxd - axd) + (byd - ayd) * (byd - ayd) AS len2
      FROM pairs),
    tt AS (
      SELECT pid, seg_id, pxd, pyd, axd, ayd, dx, dy, len2,
             CASE WHEN len2 = 0.0 THEN 0.0
                  ELSE least(greatest(
                    ((pxd - axd) * dx + (pyd - ayd) * dy) / len2,
                    0.0), 1.0) END AS t
      FROM proj),
    sc AS (
      SELECT pid, seg_id,
             (pxd - sxx) * (pxd - sxx) + (pyd - syy) * (pyd - syy) AS d2,
             sxx, syy
      FROM (SELECT pid, seg_id, pxd, pyd,
                   CASE WHEN len2 = 0.0 THEN axd
                        ELSE axd + t * dx END AS sxx,
                   CASE WHEN len2 = 0.0 THEN ayd
                        ELSE ayd + t * dy END AS syy
            FROM tt)),
    best AS (
      SELECT pid, seg_id, d2, sxx, syy,
             row_number() OVER (PARTITION BY pid
                                ORDER BY d2, seg_id) AS rn
      FROM sc WHERE d2 <= 160000000000.0)
    SELECT p.pid AS c_custkey,
           CAST(coalesce(b.seg_id, -1) AS BIGINT) AS seg_id,
           CAST(b.pid IS NOT NULL AS INT) AS matched,
           CAST(coalesce(floor(b.d2), -1) AS BIGINT) AS d2_q,
           CAST(coalesce(floor(b.sxx), p.px) AS BIGINT) AS snap_x,
           CAST(coalesce(floor(b.syy), p.py) AS BIGINT) AS snap_y
    FROM pts p
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.pid = p.pid
"""


@register("snap_roads", _SNAP_ROADS_SQL)
def q_snap_roads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map matching (geo/snap.py): snap every customer point to its
    nearest road segment within a 0.4-degree radius — the
    orb/planar.DistanceFromSegment + project primitive under every OSM
    router's snap step, distributed.  Roads are per-supplier 2-segment
    chains; segments index under every 2^19-µdeg grid cell they pass
    through (the raster_line supercover on raw e6 ints), points probe
    their 3x3 neighborhood, and the argmin is one min(struct) per
    point.  The oracle brute-forces ALL point x segment pairs with the
    same IEEE +,-,*,/ projection math, so the hash checks the INDEX'S
    COMPLETENESS (radius <= cell size makes the 3x3 probe provably
    exhaustive), not just the distance formula."""
    from osm_spark.geo import snap as _snap

    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    k = F.col("c_custkey")
    pts = cust.select(
        k.alias("pid"),
        ((k * 9277 % 340000) * 1000 - 170000000).cast("long").alias("px"),
        ((k * 6151 % 140000) * 1000 - 70000000).cast("long").alias("py"),
    )
    s = F.col("s_suppkey")
    base = supp.select(
        s.alias("k"),
        ((s * 7919 % 340000) * 1000 - 170000000).cast("long").alias("x0"),
        ((s * 4567 % 140000) * 1000 - 70000000).cast("long").alias("y0"),
        (s * 31 % 800000 - 400000).cast("long").alias("d1x"),
        (s * 53 % 800000 - 400000).cast("long").alias("d1y"),
        (s * 71 % 800000 - 400000).cast("long").alias("d2x"),
        (s * 97 % 800000 - 400000).cast("long").alias("d2y"),
    )
    x0, y0 = F.col("x0"), F.col("y0")
    d1x, d1y = F.col("d1x"), F.col("d1y")
    seg1 = base.select(
        (F.col("k") * 2).alias("seg_id"),
        x0.alias("ax"), y0.alias("ay"),
        (x0 + d1x).alias("bx"), (y0 + d1y).alias("by"),
    )
    seg2 = base.select(
        (F.col("k") * 2 + 1).alias("seg_id"),
        (x0 + d1x).alias("ax"), (y0 + d1y).alias("ay"),
        (x0 + d1x + F.col("d2x")).alias("bx"),
        (y0 + d1y + F.col("d2y")).alias("by"),
    )
    out = _snap.snap_points(
        pts, seg1.unionAll(seg2), shift=19,
        max_d2=float(400_000**2), point_id="pid",
    )
    return out.select(
        F.col("pid").alias("c_custkey"),
        "seg_id", "matched", "d2_q", "snap_x", "snap_y",
    )


_GEO_CLUSTER_SQL = (
    f"""
    WITH n AS (SELECT doc_id AS node FROM documents),
    e0 AS (
      SELECT l.doc_id AS a, r.doc_id AS b
      FROM documents l JOIN documents r ON l.doc_id < r.doc_id
      WHERE floor({_WD_HAV}) <= {300000}),
    e AS (SELECT a AS src, b AS dst FROM e0
          UNION ALL SELECT b, a FROM e0)"""
    + _min_label_rounds_sql(4, "doc_id")
)


@register("geo_cluster", _GEO_CLUSTER_SQL)
def q_geo_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density clustering (grid-DBSCAN core): pages within
    300 km become edges via the cell-pruned within-distance join
    (geo/distance_join.py — 3x3 neighborhood equi-join, exact-recall,
    never all-pairs), then min-label propagation with pointer jumping
    (plans/components.py) groups transitively-near pages and elects
    the minimum-id canonical per spatial cluster — the geo analogue of
    neardup_clusters' completion step, and the dedup/venue-grouping
    primitive a geocoded crawl needs.  The oracle derives the SAME
    edge set by all-pairs brute force, so the hash checks the pair
    join's recall, and replays the label rounds in chained CTEs so
    unconverged states still match bit-for-bit."""
    from osm_spark.geo.distance_join import within_distance_pairs
    from osm_spark.plans import components as _cc

    pts = pages.page_points(spark, sf_dir)
    pairs = within_distance_pairs(pts, 300000.0).select("a", "b")
    edges = _persist(_cc.symmetrize(pairs))
    lbl = _cc.min_label_components(
        pts.select("doc_id"), edges, "doc_id", iters=4,
        persist_fn=lambda df: df.localCheckpoint(),
    )
    return _cc.cluster_stats(lbl).select(
        F.col("node").alias("doc_id"),
        "cluster",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "is_canonical",
    )


_GEOCODE_LAT_E6 = (
    "CAST(CASE WHEN doc_id % 20 = 0 THEN 40712000 "
    "ELSE (doc_id * 7919 % 170000) * 1000 - 85000000 END AS BIGINT)"
)
_GEOCODE_LON_E6 = (
    "CAST(CASE WHEN doc_id % 20 = 0 THEN -74006000 "
    "ELSE (doc_id * 104729 % 360000) * 1000 - 180000000 END AS BIGINT)"
)

_GEOCODE_EXTRACT_SQL = f"""
    WITH g AS (
      SELECT doc_id,
             {_GEOCODE_LAT_E6} AS lat_e6,
             {_GEOCODE_LON_E6} AS lon_e6
      FROM documents)
    SELECT doc_id, lat_e6, lon_e6,
           {tiles.tile_x_sql('(CAST(lon_e6 AS DOUBLE) / 1000000.0)', 12)}
             AS tile_x,
           {tiles.tile_y_sql('(CAST(lat_e6 AS DOUBLE) / 1000000.0)', 12)}
             AS tile_y
    FROM g
"""


@register("geocode_extract", _GEOCODE_EXTRACT_SQL)
def q_geocode_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geoparsing (the webtext x geospatial graft in one operator):
    each page renders with an ICBM-style ``<meta name="geo.position"
    content="lat;lon">`` tag (exact fixed-6-decimal strings via the
    wkt_codec integer renderer — no printf surface), the EXTRACTION
    side regex-pulls the tag back out of the full html (body text and
    phone-number decoys included), parses the decimals back to exact
    e6 int64 by pure string ops, and assigns z12 tiles.  The oracle
    derives lat/lon/tile CLOSED-FORM from doc_id — same pattern as
    link_pagerank's edge extraction: a regex or parse defect changes
    the extracted value and reds the hash, and a dropped row reds the
    row count (rows where extraction fails are filtered, not
    defaulted)."""
    d = F.col("doc_id")
    lat_e6 = F.when(d % 20 == 0, F.lit(40712000)).otherwise(
        (d * 7919 % 170000) * 1000 - 85000000
    ).cast("long")
    lon_e6 = F.when(d % 20 == 0, F.lit(-74006000)).otherwise(
        (d * 104729 % 360000) * 1000 - 180000000
    ).cast("long")
    html = F.concat(
        F.lit('<html><head><meta name="geo.position" content="'),
        _e6_str(lat_e6), F.lit(";"), _e6_str(lon_e6),
        F.lit('"></head><body><p>'), F.col("text"),
        F.lit(" call 555-0"),
        F.lpad((d % 1000).cast("string"), 3, "0"),
        F.lit(" lat 12.34</p></body></html>"),
    )
    pat = r'meta name="geo\.position" content="(-?\d+\.\d{6});(-?\d+\.\d{6})"'
    docs = _t(spark, sf_dir, "documents").select("doc_id", html.alias("html"))
    ext = docs.select(
        "doc_id",
        F.regexp_extract("html", pat, 1).alias("s_lat"),
        F.regexp_extract("html", pat, 2).alias("s_lon"),
    ).where((F.col("s_lat") != "") & (F.col("s_lon") != ""))
    parsed = ext.select(
        "doc_id",
        F.regexp_replace("s_lat", r"\.", "").cast("long").alias("lat_e6"),
        F.regexp_replace("s_lon", r"\.", "").cast("long").alias("lon_e6"),
    )
    lat = F.col("lat_e6").cast("double") / F.lit(1000000.0)
    lon = F.col("lon_e6").cast("double") / F.lit(1000000.0)
    return parsed.select(
        "doc_id", "lat_e6", "lon_e6",
        tiles.tile_x(lon, 12).alias("tile_x"),
        tiles.tile_y(lat, 12).alias("tile_y"),
    )


_GA_TERM = _dist.ring_area_term_km2_sql("lat", "lon", "nlat", "nlon")

_GEODESIC_AREA_SQL = f"""
    WITH {_CUST_PTS_SQL},
    ring AS (
      SELECT c_nationkey AS way_id, lat, lon,
             coalesce(
               lead(lat) OVER (PARTITION BY c_nationkey ORDER BY c_custkey),
               first_value(lat) OVER (PARTITION BY c_nationkey
                                      ORDER BY c_custkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING)) AS nlat,
             coalesce(
               lead(lon) OVER (PARTITION BY c_nationkey ORDER BY c_custkey),
               first_value(lon) OVER (PARTITION BY c_nationkey
                                      ORDER BY c_custkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING)) AS nlon
      FROM pts)
    SELECT way_id,
           CAST(sum({_GA_TERM}) AS BIGINT) AS area_km2,
           CAST(count(*) AS BIGINT) AS n_edges,
           CAST(sum({_GA_TERM}) > 0 AS INT) AS cw
    FROM ring GROUP BY 1
"""


@register("geodesic_area", _GEODESIC_AREA_SQL)
def q_geodesic_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical ring area (orb geo.Area semantics — the geodesic
    sibling of the planar shoelace in ring_orientation): each nation's
    customer chain closes into a ring, and the signed area accumulates
    the (λ2−λ1)(2+sin φ1+sin φ2) edge terms.  Each term is
    floor-quantized to int64 km² BEFORE the sum (the module float
    discipline: unordered double SUMs are never emitted raw; the 1-ulp
    JVM-vs-libm sin divergence scales below the quantization step), so
    the per-way totals — and the orientation bit derived from the sign
    (clockwise positive under this formula variant) — match the oracle
    bit-for-bit.  One window + one groupBy;
    scan-shaped at any way count."""
    from osm_spark.geo import distance as _d

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        F.col("c_nationkey").cast("long").alias("way_id"),
        k.alias("k"),
        ((k * 6151 % 140000).cast("double") / 1000.0 - 70.0).alias("lat"),
        ((k * 9277 % 340000).cast("double") / 1000.0 - 170.0).alias("lon"),
    )
    w = Window.partitionBy("way_id").orderBy("k")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ring = pts.select(
        "way_id", "lat", "lon",
        F.coalesce(F.lead("lat").over(w), F.first("lat").over(wf)).alias("nlat"),
        F.coalesce(F.lead("lon").over(w), F.first("lon").over(wf)).alias("nlon"),
    )
    term = _d.ring_area_term_km2("lat", "lon", "nlat", "nlon")
    return ring.groupBy("way_id").agg(
        F.sum(term).alias("area_km2"),
        F.count(F.lit(1)).alias("n_edges"),
        (F.sum(term) > 0).cast("int").alias("cw"),
    )


# =====================================================================
# Generic as-of + interval joins (temporal/asof.py)
# =====================================================================

_ASOF_DIM_SQL = """
    WITH f AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type <> 'purchase'),
    d0 AS (
      SELECT user_id, ts,
             arg_max(CAST(floor(value * 1000) AS BIGINT), event_id)
               AS price_vq
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts)
    SELECT f.event_id, f.user_id, epoch_us(f.ts) AS ts_us,
           CAST(coalesce(
             (SELECT price_vq FROM d0
              WHERE d0.user_id = f.user_id AND d0.ts <= f.ts
              ORDER BY d0.ts DESC LIMIT 1), -1) AS BIGINT) AS price_vq
    FROM f
"""


@register("asof_join_dim", _ASOF_DIM_SQL)
def q_asof_join_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic as-of join (temporal/asof.py asof_join — the
    pandas-merge_asof / KDB-aj / Flink-temporal-table primitive the
    task brief names): every non-purchase event annotates with the
    user's latest purchase price at-or-before its timestamp.  The
    scale-correct shape is UNION + WINDOW, not a range join: tag both
    sides, sort per key by (ts, side), carry the last dim attributes
    with last(ignoreNulls) — ONE key-keyed shuffle, NO join node, hot
    keys cost a sort instead of a |facts|x|dims| product.  The oracle
    is the correlated argmax subquery (the definitional form); dim
    ties at equal (key, ts) are pre-collapsed with max_by/arg_max so
    both engines see the identical dimension."""
    from osm_spark.temporal import asof as _as

    ev = _t(spark, sf_dir, "events")
    facts = ev.where(F.col("event_type") != "purchase").select(
        "event_id", "user_id", "ts"
    )
    dim = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by(
                F.floor(F.col("value") * 1000).cast("long"), "event_id"
            ).alias("price_vq")
        )
    )
    out = _as.asof_join(facts, dim, "user_id", "ts", ["price_vq"])
    return out.select(
        "event_id", "user_id",
        _us(F.col("ts")).alias("ts_us"),
        F.coalesce("price_vq", F.lit(-1)).cast("long").alias("price_vq"),
    )


_IV_START = "1704067200000000 + n_nationkey * 68400000000"
_IV_END = f"{_IV_START} + (3 + n_nationkey % 5) * 3600000000"

_INTERVAL_JOIN_SQL = f"""
    WITH iv AS (
      SELECT n_nationkey AS iv_id,
             CAST({_IV_START} AS BIGINT) AS start_us,
             CAST({_IV_END} AS BIGINT) AS end_us
      FROM nation),
    f AS (
      SELECT epoch_us(ts) AS ts_us,
             CAST(floor(value * 1000) AS BIGINT) AS vq
      FROM events)
    SELECT iv.iv_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(f.vq) AS BIGINT) AS vq_sum,
           CAST(min(f.ts_us) AS BIGINT) AS first_us,
           CAST(max(f.ts_us) AS BIGINT) AS last_us
    FROM iv JOIN f
      ON f.ts_us >= iv.start_us AND f.ts_us < iv.end_us
    GROUP BY iv.iv_id
"""


@register("interval_join_rollup", _INTERVAL_JOIN_SQL)
def q_interval_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join (temporal/asof.py interval_join — the
    other temporal join the task brief names): events match every
    maintenance window containing their timestamp.  The theta
    predicate becomes a BUCKETED EQUI JOIN — intervals explode to the
    hour buckets they overlap, each event computes its single bucket,
    and the bucket join + residual refine is exactly-once with no
    dedup (the time-domain rotation of the engine's spatial cell
    joins).  A naive Spark range join here is a broadcast-nested-loop
    over |events| x |intervals|; this is |events| + |interval-hours|
    shuffled once.  The oracle runs the definitional theta join."""
    from osm_spark.temporal import asof as _as

    ev = _t(spark, sf_dir, "events")
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    iv = n.select(
        k.alias("iv_id"),
        (F.lit(1704067200000000) + k * 68400000000)
        .cast("long").alias("start_us"),
        (F.lit(1704067200000000) + k * 68400000000
         + (F.lit(3) + k % 5) * 3600000000)
        .cast("long").alias("end_us"),
    )
    facts = ev.select(
        _us(F.col("ts")).alias("ts_us"),
        F.floor(F.col("value") * 1000).cast("long").alias("vq"),
    )
    hits = _as.interval_join(
        facts, iv, "ts_us", "start_us", "end_us",
        bucket=3_600_000_000,
    )
    return hits.groupBy("iv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("vq").cast("long").alias("vq_sum"),
        F.min("ts_us").cast("long").alias("first_us"),
        F.max("ts_us").cast("long").alias("last_us"),
    )


# =====================================================================
# Weighted sampling without replacement (webprep.weighted_sample)
# =====================================================================

_WSAMPLE_SQL = """
    WITH d AS (
      SELECT doc_id, lang, n_chars,
             md5('w|' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents),
    v AS (
      SELECT doc_id, lang, n_chars,
             ( (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * CAST(16 ** 12 AS BIGINT)
             + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * CAST(16 ** 11 AS BIGINT)
             + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * CAST(16 ** 10 AS BIGINT)
             + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * CAST(16 ** 9 AS BIGINT)
             + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * CAST(16 ** 8 AS BIGINT)
             + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * CAST(16 ** 7 AS BIGINT)
             + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * CAST(16 ** 6 AS BIGINT)
             + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1) * CAST(16 ** 5 AS BIGINT)
             + (strpos('0123456789abcdef', substr(h, 9, 1)) - 1) * CAST(16 ** 4 AS BIGINT)
             + (strpos('0123456789abcdef', substr(h, 10, 1)) - 1) * CAST(16 ** 3 AS BIGINT)
             + (strpos('0123456789abcdef', substr(h, 11, 1)) - 1) * CAST(16 ** 2 AS BIGINT)
             + (strpos('0123456789abcdef', substr(h, 12, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(h, 13, 1)) - 1)
             ) AS hv
      FROM d),
    p AS (
      SELECT doc_id, lang, n_chars,
             CAST(floor(-ln((hv + 1) / 4503599627370496.0)
                        / CAST(n_chars AS DOUBLE) * 1e12) AS BIGINT)
               AS pq
      FROM v),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY lang ORDER BY pq ASC, doc_id ASC) AS rank
      FROM p)
    SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id,
           CAST(n_chars AS BIGINT) AS weight, pq
    FROM r WHERE rank <= 20
"""


@register("weighted_sample", _WSAMPLE_SQL)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (webprep.weighted_sample —
    Efraimidis-Spirakis): the 20 docs per language a quality-weighted
    corpus mix keeps, with n_chars as the weight, priorities
    -ln(u)/w from md5-derived uniforms — deterministic across engines,
    runs and cluster sizes, unlike rand()-based A-ES.  The single ln
    quantizes to e12 BEFORE ranking so a 1-ulp libm divergence cannot
    reorder candidates (ties break on doc_id); the ranking is the
    salted two-level top-k.  The oracle replays hash, uniform,
    priority and ranking bit-for-bit."""
    from osm_spark.text import webprep as _wpp

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = _wpp.weighted_sample(docs, "doc_id", "lang", "n_chars", k=20)
    return out.select(
        "lang", "rank", "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        F.col("_pq").alias("pq"),
    )


# =====================================================================
# Hopping time-window rollup (native F.window)
# =====================================================================

_WINDOW_ROLLUP_SQL = """
    WITH e AS (
      SELECT event_type, user_id,
             CAST(floor(value * 1000) AS BIGINT) AS vq,
             epoch_us(ts) AS tu
      FROM events),
    k AS (SELECT unnest([0, 1]) AS off),
    s AS (
      SELECT event_type, user_id, vq,
             (tu // 1800000000) * 1800000000
               - off * 1800000000 AS window_start_us
      FROM e, k)
    SELECT event_type, window_start_us,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(vq) AS BIGINT) AS vq_sum,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM s GROUP BY event_type, window_start_us
"""


@register("window_rollup", _WINDOW_ROLLUP_SQL)
def q_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping time-window rollup via the NATIVE Spark window
    expression (F.window, 1 h length / 30 min hop — every event lands
    in exactly two windows): per (event_type, window) event count,
    quantized value sum, distinct users.  This is the same operator a
    Structured Streaming job runs incrementally with a watermark
    (streaming/replication.py runs the engine's streams); here the
    batch form pins the window ASSIGNMENT semantics — epoch-aligned
    start times, half-open [start, end) intervals — against an oracle
    that derives both hop offsets arithmetically.  One shuffle with
    map-side partials (the window expr is a generator, |windows/event|
    = len/hop rows)."""
    ev = _t(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "1 hour", "30 minutes")
    out = (
        ev.select(
            "event_type", "user_id",
            F.floor(F.col("value") * 1000).cast("long").alias("vq"),
            w.alias("w"),
        )
        .groupBy("event_type", "w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("vq").cast("long").alias("vq_sum"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )
    return out.select(
        "event_type",
        _us(F.col("w.start")).alias("window_start_us"),
        "n", "vq_sum", "n_users",
    )


# =====================================================================
# HLL register pyramid (sketch-cube rollup along the tile hierarchy)
# =====================================================================

_HLL_PYR_SQL = f"""
    WITH h AS (
      SELECT {tiles.tile_x_sql(pages.GEO_LON_SQL, 6)} AS tx,
             {tiles.tile_y_sql(pages.GEO_LAT_SQL, 6)} AS ty,
             md5(text) AS dig
      FROM documents),
    v AS (SELECT tx, ty, {{dig_poly}} AS v FROM h),
    r AS (
      SELECT tx, ty, v >> 54 AS bucket,
             v & {(1 << 54) - 1} AS w
      FROM v),
    rho AS (
      SELECT tx, ty, bucket,
             CASE WHEN strpos(lpad(bin(w), 54, '0'), '1') = 0 THEN 55
                  ELSE strpos(lpad(bin(w), 54, '0'), '1') END AS rho
      FROM r),
    l6 AS (
      SELECT tx, ty, bucket, CAST(max(rho) AS BIGINT) AS rho
      FROM rho GROUP BY 1, 2, 3),
    l5 AS (
      SELECT tx // 2 AS tx, ty // 2 AS ty, bucket, max(rho) AS rho
      FROM l6 GROUP BY 1, 2, 3),
    l4 AS (
      SELECT tx // 2 AS tx, ty // 2 AS ty, bucket, max(rho) AS rho
      FROM l5 GROUP BY 1, 2, 3)
    SELECT 6 AS zoom, tx AS tile_x, ty AS tile_y, bucket, rho FROM l6
    UNION ALL
    SELECT 5, tx, ty, bucket, rho FROM l5
    UNION ALL
    SELECT 4, tx, ty, bucket, rho FROM l4
"""


@register("hll_pyramid", _HLL_PYR_SQL.replace("{dig_poly}", _HLL_DIG_POLY))
def q_hll_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register pyramid (the sketch-cube pattern — Druid/
    DataSketches-style pre-aggregated rollup): distinct-content
    registers build once per z6 tile, then roll to z5 and z4 by
    REGISTER-WISE MAX under the tile child->parent map (tx DIV 2) —
    merge without touching the raw data, the property that lets a
    10^12-row scan materialize every zoom level of a distinct-count
    dashboard from the finest level's sketches.  Each rollup level is
    one |tiles|x64-row groupBy, corpus-independent.  Same
    string-op rho as hll_registers (no float log2 boundary); the
    oracle replays all three levels."""
    docs = _t_spread(spark, sf_dir, "documents")
    from osm_spark.text.sketch import _hex15_to_long

    v = docs.select(
        tiles.tile_x(pages.geo_lon("doc_id"), 6).alias("tx"),
        tiles.tile_y(pages.geo_lat("doc_id"), 6).alias("ty"),
        _hex15_to_long(F.md5("text")).alias("v"),
    )
    r = v.select(
        "tx", "ty",
        F.shiftright("v", 54).alias("bucket"),
        F.col("v").bitwiseAND(F.lit((1 << 54) - 1)).alias("w"),
    )
    pos = F.instr(F.lpad(F.bin("w"), 54, "0"), "1")
    rho = r.select(
        "tx", "ty", "bucket",
        F.when(pos == 0, F.lit(55)).otherwise(pos).alias("rho"),
    )
    l6 = rho.groupBy("tx", "ty", "bucket").agg(
        F.max("rho").cast("long").alias("rho")
    )
    def up(lvl: DataFrame) -> DataFrame:
        return (
            lvl.groupBy(
                F.expr("tx DIV 2").alias("tx"),
                F.expr("ty DIV 2").alias("ty"),
                F.col("bucket"),
            )
            .agg(F.max("rho").cast("long").alias("rho"))
        )
    l5 = up(l6)
    l4 = up(l5)
    out = (
        l6.select(F.lit(6).alias("zoom"), "tx", "ty", "bucket", "rho")
        .unionAll(l5.select(F.lit(5).alias("zoom"), "tx", "ty", "bucket", "rho"))
        .unionAll(l4.select(F.lit(4).alias("zoom"), "tx", "ty", "bucket", "rho"))
    )
    return out.select(
        "zoom",
        F.col("tx").alias("tile_x"),
        F.col("ty").alias("tile_y"),
        "bucket",
        "rho",
    )


# =====================================================================
# Hot-key skew profiling (plans/skew.py)
# =====================================================================

_SKEW_PROFILE_SQL = f"""
    WITH t AS (
      SELECT {tiles.tile_x_sql(pages.GEO_LON_SQL, 8)} AS tile_x,
             {tiles.tile_y_sql(pages.GEO_LAT_SQL, 8)} AS tile_y
      FROM documents),
    counts AS (
      SELECT tile_x, tile_y, CAST(count(*) AS BIGINT) AS n
      FROM t GROUP BY 1, 2),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(n) AS BIGINT) AS total
      FROM counts),
    ranked AS (
      SELECT *, row_number() OVER (
        ORDER BY n DESC, tile_x ASC, tile_y ASC) AS rank
      FROM counts),
    top AS (SELECT * FROM ranked WHERE rank <= 10),
    hist AS (SELECT n, count(*) AS f FROM counts GROUP BY n),
    cum AS (
      SELECT n,
             sum(f) OVER (ORDER BY n ROWS UNBOUNDED PRECEDING) AS cum,
             (SELECT sum(f) FROM hist) AS tot
      FROM hist),
    p50 AS (SELECT CAST(min(n) AS BIGINT) AS p50_n FROM cum
            WHERE cum * 100 >= 50 * tot),
    p99 AS (SELECT CAST(min(n) AS BIGINT) AS p99_n FROM cum
            WHERE cum * 100 >= 99 * tot)
    SELECT CAST(rank AS BIGINT) AS rank, tile_x, tile_y, n,
           CAST((n * 1000000) // total AS BIGINT) AS share_ppm,
           n_keys, total, p50_n, p99_n,
           CAST((n * n_keys * 1000) // total AS BIGINT) AS skew_x_e3
    FROM top, stats, p50, p99
"""


@register("tile_skew_profile", _SKEW_PROFILE_SQL)
def q_tile_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key skew profile (plans/skew.py) over the z8 tile
    assignment — the diagnostic that MEASURES the skew every operator
    in this engine documents a mitigation for (the fixture's hot city
    holds 5% of all pages in one tile, and rank 1 must say so, with
    skew_x_e3 telling the operator owner what salt factor the cell
    joins need).  Per-key counts are one map-side shuffle; the top-k
    is the salted two-level ranking so no reducer sorts the key
    population; count-of-count quantiles ride the bounded histogram.
    The oracle replays counts, ranking (deterministic tie-break),
    shares, and inverted-CDF picks exactly."""
    from osm_spark.plans import skew as _sk

    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        tiles.tile_x(pages.geo_lon("doc_id"), 8).alias("tile_x"),
        tiles.tile_y(pages.geo_lat("doc_id"), 8).alias("tile_y"),
    )
    return _sk.skew_profile(t, ["tile_x", "tile_y"], k=10)


# =====================================================================
# Polygon->tile coverage fractions (geo/coverage.py)
# =====================================================================


def _tile_coverage_oracle_sql(zoom: int = 6) -> str:
    n = 1 << zoom
    q = 1 << 20
    fx = lambda e: f"floor(({tiles.fraction_x_sql(e, zoom)}) * {float(q)!r})"  # noqa: E731
    fy = lambda e: f"floor(({tiles.fraction_y_sql(e, zoom)}) * {float(q)!r})"  # noqa: E731
    return f"""
    WITH {_RECT_SQL},
    qr AS (
      SELECT poly_id,
             {fx('r.clon - r.hlon + 0.0005')} AS qx0,
             {fx('r.clon + r.hlon + 0.0005')} AS qx1,
             {fy('r.clat + r.hlat + 0.0005')} AS qy0,
             {fy('r.clat - r.hlat + 0.0005')} AS qy1
      FROM rect r),
    cells AS (
      SELECT poly_id, qx0, qx1, qy0, qy1, tx.tile_x, ty.tile_y
      FROM qr,
           LATERAL (SELECT unnest(generate_series(
             CAST(greatest(floor(qx0 / {q}), 0) AS BIGINT),
             CAST(least(floor(qx1 / {q}), {n - 1}) AS BIGINT))) AS tile_x) tx,
           LATERAL (SELECT unnest(generate_series(
             CAST(greatest(floor(qy0 / {q}), 0) AS BIGINT),
             CAST(least(floor(qy1 / {q}), {n - 1}) AS BIGINT))) AS tile_y) ty),
    ov AS (
      SELECT poly_id, tile_x, tile_y,
             greatest(least(qx1, (tile_x + 1) * {q}) -
                      greatest(qx0, tile_x * {q}), 0) AS w,
             greatest(least(qy1, (tile_y + 1) * {q}) -
                      greatest(qy0, tile_y * {q}), 0) AS h
      FROM cells)
    SELECT poly_id, tile_x, tile_y,
           CAST(floor((2.0 * w * h) / {float(1 << 41)!r}
                      * 1000000000.0) AS BIGINT) AS cov_e9
    FROM ov WHERE w > 0 AND h > 0
    """


@register("tile_coverage", _tile_coverage_oracle_sql(6))
def q_tile_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon->tile coverage fractions (geo/coverage.py): the
    anti-aliased half of raster<->vector — every covered z6 tile gets
    the exact fraction of it the zone polygon occupies (partial edge
    tiles must not count as full).  Sutherland-Hodgman clipping per
    (polygon, tile) as PURE in-row column math: vertices quantize ONCE
    through the Mercator projection to integer µtile units (the single
    guarded transcendental floor), the cover range derives from the
    same quantized bbox so cover and clip can never disagree, and each
    half-plane intersection pins the boundary axis EXACTLY — for the
    rectangle fixtures the whole chain is float-error-free, which is
    what lets the oracle check it by exact interval arithmetic
    (general polygons are pytest-covered, the engine-side kernel is
    the same four passes).  One explode, zero joins, zero Python."""
    from osm_spark.geo import coverage as _cov

    polys = _rect_polygons_df(spark, sf_dir)
    return _cov.tile_coverage(polys, 6)


# =====================================================================
# Event-stream rollups (temporal/events.py): TWA + funnel
# =====================================================================

_TWA_SQL = """
    WITH s AS (
      SELECT user_id,
             CAST(floor(value * 1000) AS BIGINT) AS vq,
             (coalesce(epoch_us(lead(ts) OVER w), epoch_us(ts))
              - epoch_us(ts)) // 1000 AS held_ms
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_obs,
           CAST(sum(held_ms) AS BIGINT) AS total_ms,
           CAST(sum(vq * held_ms) AS BIGINT) AS wsum,
           CAST(CASE WHEN sum(held_ms) = 0 THEN min(vq)
                     ELSE sum(vq * held_ms) // sum(held_ms)
                END AS BIGINT) AS twa_q
    FROM s GROUP BY user_id
"""


@register("time_weighted_avg", _TWA_SQL)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average (temporal/events.py): each event
    value holds until the user's next event, and the mean weights by
    holding duration — the honest aggregate for sampled metrics (a
    burst of samples no longer dominates the mean).  ONE user-keyed
    window shuffle + one aggregation; durations are int64 ms via
    integer DIV (a float conversion would split the engines: DuckDB
    rounds double->int casts, Spark truncates), values quantize to e3
    BEFORE the product, and the TWA emits as exact fixed point
    wsum DIV total — no float summation."""
    from osm_spark.temporal import events as _ev

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") * 1000).cast("long").alias("vq"),
    )
    return _ev.time_weighted_avg(ev, "user_id", "ts", "vq", "event_id")


_FUNNEL_SQL = """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
    s0 AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts_us END) AS t0
      FROM e GROUP BY user_id),
    s1 AS (
      SELECT e.user_id,
             min(CASE WHEN event_type = 'click' AND ts_us > t0
                      THEN ts_us END) AS t1
      FROM e JOIN s0 ON s0.user_id = e.user_id GROUP BY e.user_id),
    s2 AS (
      SELECT e.user_id,
             min(CASE WHEN event_type = 'purchase' AND ts_us > t1
                      THEN ts_us END) AS t2
      FROM e JOIN s1 ON s1.user_id = e.user_id GROUP BY e.user_id),
    j AS (
      SELECT s0.user_id, t0, t1, t2
      FROM s0 JOIN s1 ON s1.user_id = s0.user_id
              JOIN s2 ON s2.user_id = s0.user_id)
    SELECT 0 AS stage_idx, 'view' AS stage,
           CAST(count(t0) AS BIGINT) AS n_reached,
           CAST(0 AS BIGINT) AS sum_latency_us
    FROM j
    UNION ALL
    SELECT 1, 'click', CAST(count(t1) AS BIGINT),
           CAST(coalesce(sum(t1 - t0), 0) AS BIGINT)
    FROM j
    UNION ALL
    SELECT 2, 'purchase', CAST(count(t2) AS BIGINT),
           CAST(coalesce(sum(t2 - t0), 0) AS BIGINT)
    FROM j
"""


@register("event_funnel", _FUNNEL_SQL)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-stage funnel (temporal/events.py): view -> click ->
    purchase conversion where stage k only counts when its event is
    strictly AFTER the user's stage k-1 time (min over a constrained
    window, not mere type presence — a purchase before the first view
    does not convert).  All stage minima are conditional aggregates
    over the SAME user partition — one exchange total — and the rollup
    is |stages| rows with exact int64 latency sums.  The oracle chains
    the constrained minima through per-stage CTEs; null propagation
    (never reached k-1 => never reaches k) must agree exactly."""
    from osm_spark.temporal import events as _ev

    ev = _t(spark, sf_dir, "events")
    out = _ev.funnel(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )
    return out.select("stage_idx", "stage", "n_reached", "sum_latency_us")


# =====================================================================
# Snapshot-table COW merge (pipeline/table.py merge_upsert)
# =====================================================================

_TABLE_MERGE_SQL = """
    WITH base AS (
      SELECT event_id, user_id,
             CAST(floor(value * 1000) AS BIGINT) AS vq
      FROM events),
    upd AS (
      SELECT event_id, user_id, vq + 7000 AS vq
      FROM base WHERE event_id >= 2000 AND event_id < 3000
      UNION ALL
      SELECT event_id + 1000000, user_id, vq + 1 FROM base
      WHERE event_id < 100),
    merged AS (
      SELECT * FROM base
      WHERE event_id NOT IN (SELECT event_id FROM upd)
      UNION ALL SELECT * FROM upd)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(vq) AS BIGINT) AS vq_sum,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           TRUE AS carried
    FROM merged GROUP BY user_id
"""


@register("table_merge_scan", _TABLE_MERGE_SQL)
def q_table_merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-table COW MERGE (pipeline/table.py merge_upsert —
    Iceberg MERGE INTO, copy-on-write): events land range-partitioned
    across 8 files with per-file event_id bounds, then ONE merge
    commit updates a contiguous key slice and inserts brand-new keys.
    Manifest pruning is the point: only files whose key bounds overlap
    the update range rewrite; the rest carry into the new snapshot's
    manifest verbatim with zero I/O (the `carried` column asserts the
    planner really did carry parent files — at 10^12 rows this is a
    point-update rewriting one file, not the table).  The oracle
    computes the post-merge state directly from events, so the hash
    checks upsert semantics (replace + insert + untouched) through the
    storage layer."""
    from osm_spark.pipeline.table import SnapshotTable

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id",
        F.floor(F.col("value") * 1000).cast("long").alias("vq"),
    )
    t = SnapshotTable(
        spark, _table_dir("osm_spark_merge_"), stats_cols=("event_id",)
    )
    t.append(base.repartitionByRange(8, "event_id"))
    updates = (
        base.where((F.col("event_id") >= 2000) & (F.col("event_id") < 3000))
        .select("event_id", "user_id", (F.col("vq") + 7000).alias("vq"))
        .unionByName(
            base.where(F.col("event_id") < 100).select(
                (F.col("event_id") + 1000000).alias("event_id"),
                "user_id",
                (F.col("vq") + 1).alias("vq"),
            )
        )
    )
    t.merge_upsert(updates, "event_id")
    snap = t.current()
    files = t._manifest_files(snap)
    carried = any("snap-0" in fe["path"] for fe in files)
    rewrote_all = all("snap-1" in fe["path"] for fe in files)
    return (
        t.scan()
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("vq").cast("long").alias("vq_sum"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
        .withColumn("carried", F.lit(bool(carried and not rewrote_all)))
    )


# =====================================================================
# HDR-histogram quantile sketch (text/hdrhist.py)
# =====================================================================


def _hdr_oracle_sql() -> str:
    from osm_spark.text.hdrhist import bucket_lo_sql

    sub = " + ".join(
        f"CASE WHEN substr(bin(val), {i + 2}, 1) = '1'"
        f" THEN {2 ** (2 - i)} ELSE 0 END"
        for i in range(3)
    )
    return f"""
    WITH v AS (
      SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS val
      FROM events),
    b AS (
      SELECT event_type, length(bin(val)) AS o, ({sub}) AS sub FROM v),
    h AS (
      SELECT event_type, o, sub,
             {bucket_lo_sql('o', 'sub')} AS lo,
             CAST(count(*) AS BIGINT) AS n
      FROM b GROUP BY 1, 2, 3),
    c AS (
      SELECT *,
             sum(n) OVER (PARTITION BY event_type ORDER BY lo
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(n) OVER (PARTITION BY event_type) AS tot
      FROM h),
    qq AS (SELECT unnest([25, 50, 90, 99]) AS q)
    SELECT event_type, qq.q AS q,
           CAST(min(lo) AS BIGINT) AS est,
           CAST(max(tot) AS BIGINT) AS total
    FROM c, qq WHERE cum * 100 >= qq.q * tot
    GROUP BY event_type, qq.q
    """


@register("hdr_quantiles", _hdr_oracle_sql())
def q_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-histogram quantile sketch (text/hdrhist.py): per-event-type
    p25/p50/p90/p99 of the value column read off a log-bucketed
    mergeable histogram — the unbounded-domain quantile sketch the
    exact histogram (length_quantiles) can't be.  Where t-digest/KLL/GK
    are randomized or merge-order-dependent (two cluster runs
    disagree), this bucketing is a pure function of each value: binary-
    string bit extraction + pow-of-two scaling, no transcendental near
    a bucket boundary, worst-case 12.5% relative error, <=504 buckets
    per group however many rows feed it.  ONE partial-aggregated
    (group, bucket) shuffle + a bounded-histogram window; the oracle
    replays bucketing, merge sums, cumsum and the integer inverted-CDF
    pick bit-for-bit."""
    from osm_spark.text import hdrhist as _hh

    ev = _t(spark, sf_dir, "events")
    vals = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("val"),
    )
    hist = _hh.hdr_histogram(vals, "event_type", "val")
    return _hh.hdr_quantiles(hist, "event_type", (25, 50, 90, 99))


# =====================================================================
# Triangle counting / clustering coefficient (plans/triangles.py)
# =====================================================================

_TRIANGLES_SQL = """
    WITH cnt AS (SELECT count(*) AS c FROM documents),
    raw AS (
      SELECT doc_id AS src, (doc_id + 1) % (SELECT c FROM cnt) AS dst
      FROM documents
      UNION ALL
      SELECT doc_id, (doc_id + 2) % (SELECT c FROM cnt) FROM documents
      UNION ALL
      SELECT doc_id, (doc_id * 7 + 3) % (SELECT c FROM cnt) FROM documents),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
    pern AS (
      SELECT node, CAST(count(*) AS BIGINT) AS tri
      FROM (SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
      GROUP BY node),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      GROUP BY node)
    SELECT d.node AS doc_id, d.deg,
           CAST(coalesce(p.tri, 0) AS BIGINT) AS tri,
           CAST(CASE WHEN d.deg < 2 THEN 0
                     ELSE (2 * coalesce(p.tri, 0) * 1000000)
                            // (d.deg * (d.deg - 1))
                END AS BIGINT) AS cc_e6
    FROM deg d LEFT JOIN pern p ON p.node = d.node
"""


@register("link_triangles", _TRIANGLES_SQL)
def q_link_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient
    (plans/triangles.py): every page links to its two successors and a
    pseudo-random chord (extracted from the html like link_pagerank —
    an extraction defect changes the graph and reds the hash), and the
    degree-ORIENTED wedge join counts each triangle exactly once — a
    node's wedge fan-out under the (degree, id) order is O(sqrt(m)),
    so a 10^8-in-link hub enumerates ZERO wedges from its in-side and
    the all-pairs hub blowup cannot happen; total wedge volume is the
    m^1.5 optimum.  The oracle brute-forces the canonical a<b edge
    table through a 3-way join, so the hash checks the orientation
    trick against ground truth per node (degree, triangle count, exact
    fixed-point clustering coefficient)."""
    from osm_spark.plans import pagerank as _pg
    from osm_spark.plans import triangles as _tr

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    d = F.col("doc_id")
    t1 = ((d + 1) % n_docs).cast("string")
    t2 = ((d + 2) % n_docs).cast("string")
    t3 = ((d * 7 + 3) % n_docs).cast("string")
    html_pages = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><body><nav><a href="/doc/'), t1,
            F.lit('">n1</a> <a href="/doc/'), t2,
            F.lit('">n2</a> <a href="/doc/'), t3,
            F.lit('">n3</a></nav><p>'), F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )
    edges = _persist(_pg.extract_links(html_pages, "doc_id", "html"))
    out = _tr.clustering(edges)
    return out.select(
        F.col("node").alias("doc_id"), "deg", "tri", "cc_e6"
    )


# =====================================================================
# Int8 embedding quantization (similarity/quantize.py)
# =====================================================================

_EMBED_QUANTIZE_SQL = """
    WITH x AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xs
      FROM embeddings),
    m AS (
      SELECT vec_id, xs,
             list_max(list_transform(xs, v -> abs(v))) AS maxabs
      FROM x),
    q AS (
      SELECT vec_id, xs, maxabs,
             list_transform(
               xs,
               v -> CASE WHEN maxabs = 0 THEN 0
                         ELSE CAST(floor(v * 127.0 / maxabs) AS BIGINT)
                    END) AS qs
      FROM m),
    s AS (
      SELECT vec_id, maxabs,
             unnest(xs) AS xv, unnest(qs) AS qv,
             generate_subscripts(qs, 1) AS i
      FROM q)
    SELECT vec_id,
           CAST(floor(maxabs * 1e9) AS BIGINT) AS scale_e9,
           CAST(sum(qv * i) AS BIGINT) AS qsum,
           CAST(min(qv) AS BIGINT) AS qmin,
           CAST(max(qv) AS BIGINT) AS qmax,
           CAST(floor(max(abs(xv - qv * maxabs / 127.0)) * 1e9)
             AS BIGINT) AS max_err_e9
    FROM s GROUP BY vec_id, maxabs
"""


@register("embed_quantize", _EMBED_QUANTIZE_SQL)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric embedding quantization (similarity/quantize.py):
    every vector compresses to int8 codes + one scale — the 4x storage
    cut a 10^12-vector ANN corpus takes before serving — and the audit
    row pins the codes exactly (position-weighted checksum, code range,
    worst reconstruction error).  Pure in-row array HOFs: zero
    shuffles, zero Python, only *,/ double math + floor so both engines
    agree bit-for-bit.  The oracle re-derives the codes element-wise
    via unnest + generate_subscripts."""
    from osm_spark.similarity import quantize as _qz

    emb = _t(spark, sf_dir, "embeddings")
    return _qz.quantize_int8(emb, "embedding", "vec_id")


# =====================================================================
# Count-Min sketch heavy hitters (text/cms.py)
# =====================================================================


def _countmin_oracle_sql(depth: int = 4, width: int = 16,
                         threshold: int = 50) -> str:
    from osm_spark.text.cms import cms_bucket_sql

    b = cms_bucket_sql("token", "row_id", width)
    rows = ", ".join(str(i) for i in range(depth))
    return f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    tf AS (
      SELECT token, CAST(count(*) AS BIGINT) AS exact_n
      FROM toks WHERE token <> '' GROUP BY token),
    r AS (SELECT unnest([{rows}]) AS row_id),
    cells AS (
      SELECT row_id, {b} AS bucket,
             CAST(sum(exact_n) AS BIGINT) AS cnt
      FROM tf, r GROUP BY 1, 2),
    cand AS (SELECT token, exact_n FROM tf WHERE exact_n >= {threshold}),
    probes AS (
      SELECT c.token, c.exact_n, r.row_id, {b} AS bucket
      FROM cand c, r),
    est AS (
      SELECT p.token, p.exact_n,
             min(coalesce(cl.cnt, 0)) AS est_n
      FROM probes p
      LEFT JOIN cells cl
        ON cl.row_id = p.row_id AND cl.bucket = p.bucket
      GROUP BY p.token, p.exact_n)
    SELECT token, exact_n,
           CAST(est_n AS BIGINT) AS est_n,
           CAST(est_n - exact_n AS BIGINT) AS over_n
    FROM est
    """


@register("countmin_heavy", _countmin_oracle_sql())
def q_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters (text/cms.py): the corpus token stream
    folds into a 4x16 mergeable counter grid (deliberately narrow so
    collisions are REAL and the min-over-depth correction is exercised
    — est_n >= exact_n always, strictly > where buckets collide), and
    every token over the threshold reports exact vs estimated count.
    Scale shape: occurrences collapse to distinct tokens FIRST (one
    map-side-combinable shuffle), the (row, bucket) re-agg is
    |vocab| x depth, and the estimate probe joins against the
    BROADCAST parameter-sized grid.  The oracle rebuilds the identical
    grid from the same md5 bucket function, so the hash pins the
    hashing, the merge sums and the min fold."""
    from osm_spark.text import cms as _cms

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("token")
    ).where(F.col("token") != "")
    tf = _persist(
        toks.groupBy("token").agg(
            F.count(F.lit(1)).cast("long").alias("exact_n")
        )
    )
    sketch = _cms.cms_build(tf, "token", "exact_n")
    cand = tf.where(F.col("exact_n") >= 50)
    out = _cms.cms_estimate(cand, sketch, "token")
    return out.select(
        "token", "exact_n", "est_n",
        (F.col("est_n") - F.col("exact_n")).cast("long").alias("over_n"),
    )


# =====================================================================
# HITS hubs & authorities (plans/hits.py)
# =====================================================================


def _hits_oracle_sql(iters: int = 3) -> str:
    """Chained-CTE DuckDB twin of plans/hits.py hits_int: closed-form
    edges (independent of the Spark side's html link EXTRACTION), then
    ``iters`` rounds of in-sum -> max-rescale -> out-sum -> max-rescale,
    all integer (`//` == Spark's DIV for the all-positive scores)."""
    parts = ["""
    WITH n AS (SELECT doc_id FROM documents),
    cnt AS (SELECT count(*) AS c FROM documents),
    e AS (
      SELECT doc_id AS src,
             (doc_id * 7 + 3) % (SELECT c FROM cnt) AS dst FROM documents
      UNION ALL
      SELECT doc_id AS src,
             (doc_id * 13 + 5) % (SELECT c FROM cnt) AS dst FROM documents),
    h0 AS (SELECT doc_id AS node, CAST(1000000 AS BIGINT) AS h FROM n)"""]
    for k in range(iters):
        parts.append(f""",
    ar{k} AS (SELECT e.dst AS node, sum(h{k}.h) AS s
              FROM e JOIN h{k} ON e.src = h{k}.node GROUP BY 1),
    a{k + 1} AS (SELECT n.doc_id AS node,
                 CAST(coalesce(ar{k}.s, 0) * 1000000
                   // greatest(coalesce((SELECT max(s) FROM ar{k}), 1), 1)
                   AS BIGINT) AS a
                 FROM n LEFT JOIN ar{k} ON ar{k}.node = n.doc_id),
    hr{k} AS (SELECT e.src AS node, sum(a{k + 1}.a) AS s
              FROM e JOIN a{k + 1} ON e.dst = a{k + 1}.node GROUP BY 1),
    h{k + 1} AS (SELECT n.doc_id AS node,
                 CAST(coalesce(hr{k}.s, 0) * 1000000
                   // greatest(coalesce((SELECT max(s) FROM hr{k}), 1), 1)
                   AS BIGINT) AS h
                 FROM n LEFT JOIN hr{k} ON hr{k}.node = n.doc_id)""")
    parts.append(f"""
    SELECT a{iters}.node AS doc_id, a{iters}.a AS auth, h{iters}.h AS hub
    FROM a{iters} JOIN h{iters} ON a{iters}.node = h{iters}.node""")
    return "".join(parts)


@register("hits_scores", _hits_oracle_sql(3))
def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (plans/hits.py): the html link graph
    (same column-regex extraction as link_pagerank — an extraction
    defect changes the graph and reds the hash against the oracle's
    closed-form edges) runs three mutual-reinforcement rounds.  Each
    half-step is ONE edge join + ONE node-keyed sum, and the
    normalization is max-rescale in scaled integers (monotone, so the
    ranking is textbook-HITS; integer-exact, so no float-norm
    divergence) — the max is a one-row broadcast, never a collect of
    node state.  Complements PageRank's popularity with the
    hub/authority structure signal a directory-heavy crawl needs."""
    from osm_spark.plans import hits as _hits
    from osm_spark.plans import pagerank as _pg

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    d = F.col("doc_id")
    t1 = ((d * 7 + 3) % n_docs).cast("string")
    t2 = ((d * 13 + 5) % n_docs).cast("string")
    html_pages = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><body><nav><a href="/doc/'), t1,
            F.lit('">n1</a> <a href="/doc/'), t2,
            F.lit('">n2</a></nav><p>'), F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )
    edges = _persist(_pg.extract_links(html_pages, "doc_id", "html"))
    out = _hits.hits_int(
        docs, edges, "doc_id", iters=3,
        persist_fn=lambda df: df.localCheckpoint(),
    )
    return out.select(F.col("node").alias("doc_id"), "auth", "hub")


# =====================================================================
# Zonal statistics (geo/zonal.py — per-polygon point rollups)
# =====================================================================

_ZONAL_STATS_SQL = f"""
    WITH {_RECT_SQL},
    hits AS (
      SELECT d.doc_id, r.poly_id, d.n_chars
      FROM documents d, rect r
      WHERE {pages.GEO_LAT_SQL} > r.clat - r.hlat + 0.0005
        AND {pages.GEO_LAT_SQL} < r.clat + r.hlat + 0.0005
        AND {pages.GEO_LON_SQL} > r.clon - r.hlon + 0.0005
        AND {pages.GEO_LON_SQL} < r.clon + r.hlon + 0.0005)
    SELECT poly_id,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(n_chars) AS BIGINT) AS sum_val,
           CAST((sum(n_chars) * 1000) // count(*) AS BIGINT)
             AS mean_val_e3,
           CAST(min(doc_id) AS BIGINT) AS min_point,
           CAST(max(doc_id) AS BIGINT) AS max_point
    FROM hits GROUP BY poly_id
"""


@register("zonal_stats", _ZONAL_STATS_SQL)
def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics (geo/zonal.py): aggregate a per-page measure
    (n_chars — standing in for token mass) per containing zone polygon
    — the geographic-mix audit a geocoded corpus runs before training.
    The assignment is the audited cell-join PIP (z6 tiles, salt 4, AQE
    skew join) and the rollup is ONE zone-keyed groupBy with map-side
    partials — shuffle volume |zones|, never |points|; the mean is
    exact integer fixed point (sum*1000 DIV n), no float summation.
    The oracle recomputes membership with interval logic and the same
    integer rollup, so the hash checks the PIP recall AND the stats."""
    from osm_spark.geo import zonal as _zn

    docs = _t(spark, sf_dir, "documents")
    pts = docs.select(
        "doc_id",
        "n_chars",
        pages.geo_lat("doc_id").alias("lat"),
        pages.geo_lon("doc_id").alias("lon"),
    )
    polys = _rect_polygons_df(spark, sf_dir)
    return _zn.zonal_stats(pts, polys, "n_chars", zoom=6, salt=4)


# =====================================================================
# Nearest-site assignment (discrete Voronoi labelling)
# =====================================================================

_NEAREST_SITE_SQL = f"""
    WITH s AS (
      SELECT n_nationkey AS sid,
             CAST((n_nationkey * 104729 % 360000) * 1000 - 180000000
               AS BIGINT) AS sx,
             CAST((n_nationkey * 7919 % 170000) * 1000 - 85000000
               AS BIGINT) AS sy
      FROM nation WHERE n_nationkey < 12),
    p AS (
      SELECT doc_id, {_GEOCODE_LON_E6} AS px, {_GEOCODE_LAT_E6} AS py
      FROM documents),
    d AS (
      SELECT p.doc_id, s.sid,
             (s.sx - p.px) * (s.sx - p.px)
               + (s.sy - p.py) * (s.sy - p.py) AS d2,
             row_number() OVER (
               PARTITION BY p.doc_id
               ORDER BY (s.sx - p.px) * (s.sx - p.px)
                          + (s.sy - p.py) * (s.sy - p.py), s.sid) AS rn
      FROM p, s)
    SELECT doc_id, CAST(sid AS BIGINT) AS site_id, CAST(d2 AS BIGINT) AS d2
    FROM d WHERE rn = 1
"""


@register("nearest_site", _NEAREST_SITE_SQL)
def q_nearest_site(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-site assignment (geo/nearest.py): label every geocoded
    page with the closest of 12 canonical sites — the discrete-Voronoi
    primitive behind region routing, dedup-by-venue and "nearest
    datacenter" partitioning.  The 100 TB shape is the point: the site
    set is parameter-sized, so it ships as an in-row array-of-struct
    literal and the argmin is ONE ``F.aggregate`` fold — zero joins,
    zero shuffles, whole-stage codegen fused into the scan (contrast
    h3_knn, whose candidate side is data-sized and must equi-join).
    Exact int64 planar squared distance on µdeg coords, ties on the
    smaller site id; the oracle brute-forces all point x site pairs, so
    the hash checks the fold's argmin against the cross join."""
    from osm_spark.geo import nearest as _nr

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    pts = docs.select(
        "doc_id",
        F.when(d % 20 == 0, F.lit(-74006000))
        .otherwise((d * 104729 % 360000) * 1000 - 180000000)
        .cast("long").alias("px"),
        F.when(d % 20 == 0, F.lit(40712000))
        .otherwise((d * 7919 % 170000) * 1000 - 85000000)
        .cast("long").alias("py"),
    )
    sites = [
        (k, (k * 104729 % 360000) * 1000 - 180000000,
         (k * 7919 % 170000) * 1000 - 85000000)
        for k in range(12)
    ]
    out = _nr.nearest_site(pts, sites, "px", "py")
    return out.select("doc_id", "site_id", "d2")


# =====================================================================
# Trajectory analytics: OD matrix + stay points (geo/trajectory.py)
# =====================================================================
# Per-user event positions move in EPOCHS of 4 events (deterministic
# integer function of (user_id, epoch)), so consecutive events usually
# share a z5 tile — runs become stay points, epoch changes become trips.

_TRAJ_CELLS_SQL = f"""
    e AS (
      SELECT user_id, ts, event_id,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn0
      FROM events),
    p AS (
      SELECT user_id, ts, event_id,
             ((user_id * 7919 + (rn0 // 4) * 104729) % 170000) * 1000
               - 85000000 AS lat_e6,
             ((user_id * 104729 + (rn0 // 4) * 7919) % 360000) * 1000
               - 180000000 AS lon_e6
      FROM e),
    c AS (
      SELECT user_id, ts, event_id,
             {tiles.tile_x_sql('(CAST(lon_e6 AS DOUBLE) / 1000000.0)', 5)}
               AS cell_x,
             {tiles.tile_y_sql('(CAST(lat_e6 AS DOUBLE) / 1000000.0)', 5)}
               AS cell_y
      FROM p)
"""


def _traj_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    u = F.col("user_id")
    epoch = F.expr("(rn - 1) DIV 4")
    lat_e6 = ((u * 7919 + epoch * 104729) % 170000) * 1000 - 85000000
    lon_e6 = ((u * 104729 + epoch * 7919) % 360000) * 1000 - 180000000
    return (
        ev.select(
            "user_id", "ts", "event_id",
            F.row_number().over(w).alias("rn"),
        )
        .select(
            "user_id", "ts", "event_id",
            tiles.tile_x(lon_e6.cast("double") / 1000000.0, 5).alias("cell_x"),
            tiles.tile_y(lat_e6.cast("double") / 1000000.0, 5).alias("cell_y"),
        )
    )


@register(
    "od_matrix",
    f"""
    WITH {_TRAJ_CELLS_SQL},
    s AS (
      SELECT user_id,
             lag(cell_x) OVER w AS o_x, lag(cell_y) OVER w AS o_y,
             cell_x AS d_x, cell_y AS d_y
      FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT o_x, o_y, d_x, d_y,
           CAST(count(*) AS BIGINT) AS n_trips,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM s
    WHERE o_x IS NOT NULL AND (o_x <> d_x OR o_y <> d_y)
    GROUP BY o_x, o_y, d_x, d_y
    """,
)
def q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination matrix (geo/trajectory.py od_flows): per-user
    event streams tile-assign at z5, every consecutive cell CHANGE is a
    directed trip, and the matrix rolls up trips + distinct travellers
    per (origin, destination) cell pair — the mobility-flow rollup the
    reference's tile math exists to feed.  ONE user-keyed window
    shuffle + ONE map-side-combinable groupBy; shuffle volume is the
    event count once, never a self-join.  The oracle replays the
    identical windows, so the hash pins the lag/flag/agg chain."""
    from osm_spark.geo import trajectory as _tj

    cells = _traj_cells(spark, sf_dir)
    return _tj.od_flows(cells, "user_id", ["ts", "event_id"])


@register(
    "stay_points",
    f"""
    WITH {_TRAJ_CELLS_SQL},
    m AS (
      SELECT *,
             CASE WHEN lag(cell_x) OVER w IS NULL
                    OR lag(cell_x) OVER w <> cell_x
                    OR lag(cell_y) OVER w <> cell_y
                  THEN 1 ELSE 0 END AS moved
      FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    r AS (
      SELECT *, sum(moved) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS seg
      FROM m),
    g AS (
      SELECT user_id, seg,
             min(cell_x) AS cell_x, min(cell_y) AS cell_y,
             CAST(count(*) AS BIGINT) AS n_events,
             min(ts) AS ent, max(ts) AS ext
      FROM r GROUP BY user_id, seg
      HAVING count(*) >= 3)
    SELECT user_id,
           CAST(row_number() OVER (
             PARTITION BY user_id ORDER BY seg) AS BIGINT) AS stay_seq,
           cell_x, cell_y, n_events,
           epoch_us(ent) AS enter_us, epoch_us(ext) AS exit_us,
           epoch_us(ext) - epoch_us(ent) AS dwell_us
    FROM g
    """,
)
def q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point detection (geo/trajectory.py stay_points): maximal
    same-cell runs per user collapse to one dwell row (cell, enter/exit
    micros, dwell) and runs under 3 events are transient passes — the
    trajectory-segmentation primitive under visit mining and home/work
    inference.  Gaps-and-islands over ONE user-keyed window (boundary
    flag -> running-sum island id -> one groupBy); pure column math,
    zero Python.  The oracle replays the identical island construction
    bit-for-bit, unconverged nothing — both engines must agree on every
    boundary flag to hash-match."""
    from osm_spark.geo import trajectory as _tj

    cells = _traj_cells(spark, sf_dir)
    out = _tj.stay_points(
        cells, "user_id", ["ts", "event_id"], "ts", min_events=3
    )
    return out.select(
        "user_id", "stay_seq", "cell_x", "cell_y", "n_events",
        _us(F.col("enter_ts")).alias("enter_us"),
        _us(F.col("exit_ts")).alias("exit_us"),
        "dwell_us",
    )


# =====================================================================
# k-core decomposition (plans/kcore.py)
# =====================================================================


def _kcore_sql() -> str:
    from osm_spark.plans.kcore import kcore_membership_sql

    ctes, final = kcore_membership_sql("sym", k=5, rounds=4)
    return f"""
    WITH cnt AS (SELECT count(*) AS c FROM documents),
    raw AS (
      SELECT src, dst FROM (
        SELECT doc_id AS src,
               CASE WHEN doc_id < 100 THEN (doc_id + 1) % 100
                    WHEN doc_id < 200 THEN
                      CASE WHEN doc_id + 1 < 200 THEN doc_id + 1 END
                    ELSE CASE WHEN doc_id + 1 < (SELECT c FROM cnt)
                              THEN doc_id + 1 END END AS dst
        FROM documents
        UNION ALL
        SELECT doc_id,
               CASE WHEN doc_id < 100 THEN (doc_id + 2) % 100
                    WHEN doc_id < 200 THEN
                      CASE WHEN doc_id + 2 < 200 THEN doc_id + 2 END
               END
        FROM documents
        UNION ALL
        SELECT doc_id,
               CASE WHEN doc_id < 100 THEN (doc_id + 3) % 100
                    WHEN doc_id < 200 THEN doc_id - 100
                    ELSE doc_id % 200 END
        FROM documents
      ) WHERE dst IS NOT NULL),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst),
    sym AS (
      SELECT a AS src, b AS dst FROM und
      UNION ALL SELECT b, a FROM und),
    {ctes}
    SELECT node AS doc_id, core_deg FROM ({final}) t
    """


@register("kcore_filter", _kcore_sql())
def q_kcore_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (plans/kcore.py): a three-tier link graph — a
    dense 100-page circulant community (links to the next 3, mod 100),
    a 100-page path band each linking down into the community, and a
    chain tail each linking back to band/community — extracted from
    the html like link_pagerank (an extraction defect changes the
    graph and reds the hash), then peeled to its 5-core over 4 rounds.
    Degree alone is spoofable (a farm points links at doomed nodes);
    coreness is not, because each round removes sub-k nodes and
    RE-CHECKS the survivors.  The tiers force the real cascade: the
    tail dies in round 1, which strips the band's in-links, and the
    band then peels inward from its endpoints one step per round
    while the dense community (internal degree 6) survives every
    round.  Each round is ONE node-keyed degree agg + TWO semi-joins
    on a strictly-shrinking edge frame, lineage cut per round
    (localCheckpoint); membership after R rounds is a pure integer
    function of the edge set, so the chained-CTE oracle agrees
    bit-for-bit whether or not the peel has converged."""
    from osm_spark.plans import components as _cc
    from osm_spark.plans import pagerank as _pg
    from osm_spark.plans.kcore import kcore_membership

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    d = F.col("doc_id")
    dst1 = (
        F.when(d < 100, (d + 1) % 100)
        .when(d < 200, F.when(d + 1 < 200, d + 1))
        .otherwise(F.when(d + 1 < n_docs, d + 1))
    )
    dst2 = (
        F.when(d < 100, (d + 2) % 100)
        .when(d < 200, F.when(d + 2 < 200, d + 2))
    )
    dst3 = (
        F.when(d < 100, (d + 3) % 100)
        .when(d < 200, d - 100)
        .otherwise(d % 200)
    )

    def _anchor(dst):
        return F.when(
            dst.isNotNull(),
            F.concat(
                F.lit(' <a href="/doc/'), dst.cast("string"),
                F.lit('">n</a>'),
            ),
        ).otherwise(F.lit(""))

    html_pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><body><nav>"),
            _anchor(dst1), _anchor(dst2), _anchor(dst3),
            F.lit("</nav><p>"), F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )
    links = _pg.extract_links(html_pages, "doc_id", "html")
    pairs = (
        links.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    edges = _persist(_cc.symmetrize(pairs))
    out = kcore_membership(
        edges, k=5, rounds=4, persist_fn=lambda df: df.localCheckpoint()
    )
    return out.select(F.col("node").alias("doc_id"), "core_deg")


# =====================================================================
# Content-defined chunking (text/cdc.py)
# =====================================================================


def _cdc_sql() -> str:
    from osm_spark.text.cdc import window_hash_sql

    h = window_hash_sql("d.text", "t.i", w=8, base=33)
    return f"""
    WITH b AS (
      SELECT d.doc_id, t.i AS p
      FROM documents d,
           LATERAL (SELECT unnest(range(8, length(d.text) + 1)) AS i) t
      WHERE {h} % 32 = 17),
    bb AS (
      SELECT doc_id, 0 AS p FROM documents WHERE length(text) > 0
      UNION
      SELECT doc_id, p FROM b
      UNION
      SELECT doc_id, length(text) FROM documents WHERE length(text) > 0),
    c AS (
      SELECT doc_id, p AS endp,
             lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS startp
      FROM bb),
    chunks AS (
      SELECT c.doc_id,
             CAST(row_number() OVER (
               PARTITION BY c.doc_id ORDER BY c.startp) - 1
             AS BIGINT) AS chunk_idx,
             CAST(c.startp AS BIGINT) AS start,
             CAST(c.endp - c.startp AS BIGINT) AS chunk_len,
             md5(substr(d.text, c.startp + 1, c.endp - c.startp))
               AS digest
      FROM c JOIN documents d ON d.doc_id = c.doc_id
      WHERE c.startp IS NOT NULL)
    SELECT doc_id, chunk_idx, start, chunk_len, digest,
           (row_number() OVER (
              PARTITION BY digest ORDER BY doc_id, chunk_idx) = 1)
             AS is_first
    FROM chunks
    """


@register("cdc_chunk_dedup", _cdc_sql())
def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + corpus dedup (text/cdc.py): every
    document splits at positions where the trailing-8-gram polynomial
    hash hits a target residue (~32-char expected chunks), and the
    corpus keeps the first occurrence per chunk digest.  Where
    chunk_dedup's fixed blocks lose ALL downstream matches after one
    insertion, CDC boundaries are a pure function of local content —
    they re-synchronize within 8 characters of an edit, which is what
    makes chunk-level dedup survive near-duplicate page revisions
    (the rsync/LBFS/FastCDC family).  Chunking is entirely in-row as
    ONE linear aggregate fold whose accumulator carries the sliding
    w-window and the boundary list — the shape matters: HOF lambdas
    get no common-subexpression elimination and CollapseProject
    inlines single-use aliases into lambda bodies, so both the nested
    and the staged-withColumn per-position-hash formulations
    re-evaluate inner arrays per element (O(len^3)/doc, measured
    minutes vs sub-second here; text/cdc.py header).  The only
    shuffle is the digest-keyed first-occurrence window, exact
    dedup's audited shape.  The oracle replays the identical windowed
    hash per position via substr arithmetic, so the hash pins every
    boundary decision, every chunk byte-range and the retention
    choice."""
    from osm_spark.text import cdc as _cdc

    # pre-spread: the fold is O(len * w) interpreted-HOF work per row
    # and the seed parquet is ONE split — unspread, the whole chunking
    # stage runs in a single task (measured 53.8s -> 2s at sf0.1)
    docs = _t_spread(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id",
        F.posexplode(
            _cdc.cdc_chunks("text", w=8, base=33, mod=32, rem=17)
        ).alias("chunk_idx", "c"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("c.start").cast("long").alias("start"),
        F.col("c.chunk_len").cast("long").alias("chunk_len"),
        F.col("c.digest").alias("digest"),
    )
    w = Window.partitionBy("digest").orderBy("doc_id", "chunk_idx")
    return ch.withColumn(
        "is_first", F.row_number().over(w) == 1
    )


# =====================================================================
# Vocabulary coverage curve (text/vocab.py analytics side)
# =====================================================================

_VOCAB_COVERAGE_SQL = """
    WITH wf AS (
      SELECT word, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS word
            FROM documents)
      GROUP BY word),
    r AS (
      SELECT word, freq,
             row_number() OVER (ORDER BY freq DESC, word ASC) AS rk,
             sum(freq) OVER (ORDER BY freq DESC, word ASC
                             ROWS UNBOUNDED PRECEDING) AS cum,
             sum(freq) OVER () AS tot
      FROM wf),
    ks AS (SELECT unnest([5, 10, 20, 40]) AS k)
    SELECT ks.k,
           CAST(max(cum) AS BIGINT) AS covered,
           CAST(max(tot) AS BIGINT) AS total,
           CAST((max(cum) * 1000000) // max(tot) AS BIGINT)
             AS share_e6
    FROM r JOIN ks ON r.rk <= ks.k
    GROUP BY ks.k
"""


@register("vocab_coverage", _VOCAB_COVERAGE_SQL)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what fraction of corpus tokens the
    top-k word types cover, at k in {5, 10, 20, 40} — the diagnostic
    every tokenizer-vocabulary and stopword-list decision reads first
    (Zipfian corpora saturate fast; the curve's knee sizes the vocab).
    ONE word-keyed count (vocabulary-sized from then on), the salted
    two-level top-k (plans/skew.py) down to the largest k, a running
    sum over those <= 40 rows, and a 4-row k join. Deterministic
    (freq desc, word asc) total order; integer fixed-point shares; the
    oracle replays rank, running sum and the per-k max."""
    from osm_spark.plans.skew import salted_topk

    wf = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    k_values = [5, 10, 20, 40]
    top = salted_topk(
        wf, max(k_values), [F.desc("freq"), F.asc("word")],
        F.xxhash64("word"), 8,
    )
    r = top.select(
        "word", "freq",
        F.col("rank").alias("rk"),
        F.sum("freq").over(
            Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
    ).crossJoin(
        F.broadcast(wf.agg(F.sum("freq").alias("tot")))
    )
    ks = F.broadcast(
        spark.createDataFrame([(k,) for k in k_values], ["k"])
    )
    return (
        r.join(ks, r["rk"] <= ks["k"])
        .groupBy("k")
        .agg(
            F.max("cum").cast("long").alias("covered"),
            F.max("tot").cast("long").alias("total"),
        )
        .select(
            F.col("k").cast("long").alias("k"),
            "covered", "total",
            F.expr("(covered * 1000000) div total").cast("long")
            .alias("share_e6"),
        )
    )


# =====================================================================
# Link reciprocity (web-graph hygiene)
# =====================================================================

_RECIP_SQL = """
    WITH cnt AS (SELECT count(*) AS c FROM documents),
    raw AS (
      SELECT doc_id AS src, (doc_id + 1) % (SELECT c FROM cnt) AS dst
      FROM documents
      UNION ALL
      SELECT doc_id, (doc_id * 7 + 3) % (SELECT c FROM cnt)
      FROM documents),
    e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
    r AS (
      SELECT e.src, count(*) AS out_deg,
             sum(CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END)
               AS n_recip
      FROM e LEFT JOIN e b ON b.src = e.dst AND b.dst = e.src
      GROUP BY e.src)
    SELECT src AS doc_id, CAST(out_deg AS BIGINT) AS out_deg,
           CAST(n_recip AS BIGINT) AS n_recip,
           CAST((n_recip * 1000000) // out_deg AS BIGINT) AS recip_e6
    FROM r
"""


@register("link_reciprocity", _RECIP_SQL)
def q_link_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link reciprocity (web-graph hygiene): per page, the fraction
    of out-links that link BACK — organic links are largely one-way
    (reciprocity on the open web is low), so a high mutual-link rate
    flags link rings and exchange schemes; the structural complement
    of PageRank (popularity), HITS (roles) and k-core (robust
    density).  ONE self-join of the deduped directed edge list on the
    reversed pair + one src-keyed count — |E| join keys, never a
    matrix; the fixture's successor links are one-way while the
    doc_id*7+3 chord occasionally closes mutual pairs, so the rate
    column is non-trivial in both directions.  Exact integer fixed
    point; the oracle replays the reversed-pair left join."""
    from osm_spark.plans import pagerank as _pg

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    d = F.col("doc_id")
    t1 = ((d + 1) % n_docs).cast("string")
    t2 = ((d * 7 + 3) % n_docs).cast("string")
    html_pages = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><body><nav><a href="/doc/'), t1,
            F.lit('">n1</a> <a href="/doc/'), t2,
            F.lit('">n2</a></nav><p>'), F.col("text"),
            F.lit("</p></body></html>"),
        ).alias("html"),
    )
    e = (
        _pg.extract_links(html_pages, "doc_id", "html")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    b = e.select(F.col("src").alias("b_src"), F.col("dst").alias("b_dst"))
    r = (
        e.join(
            b,
            (F.col("b_src") == F.col("dst"))
            & (F.col("b_dst") == F.col("src")),
            "left",
        )
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).cast("long").alias("out_deg"),
            F.sum(
                F.when(F.col("b_src").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_recip"),
        )
    )
    return r.select(
        F.col("src").alias("doc_id"),
        "out_deg",
        "n_recip",
        F.expr("(n_recip * 1000000) div out_deg").cast("long")
        .alias("recip_e6"),
    )


# =====================================================================
# Bot-cadence detection (temporal/events.py family)
# =====================================================================

_BOT_SQL = """
    WITH g AS (
      SELECT user_id,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id))
               // 1000000 AS gap_s
      FROM events),
    s AS (
      SELECT user_id,
             count(gap_s) AS n_gaps,
             sum(gap_s) AS sg,
             sum(gap_s * gap_s) AS sg2
      FROM g WHERE gap_s IS NOT NULL GROUP BY user_id)
    SELECT user_id,
           CAST(n_gaps AS BIGINT) AS n_gaps,
           CAST(sg // n_gaps AS BIGINT) AS mean_gap_s,
           CAST(CASE WHEN sg = 0 THEN -1
                ELSE ((n_gaps * sg2 - sg * sg) * 1000) // (sg * sg)
                END AS BIGINT) AS cv2_e3,
           (n_gaps >= 5 AND sg > 0
            AND ((n_gaps * sg2 - sg * sg) * 1000) // (sg * sg) < 250)
             AS is_bot
    FROM s
"""


@register("bot_cadence", _BOT_SQL)
def q_bot_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-cadence detection: per-user inter-event gap statistics —
    scripted clients fire on timers, so a LOW squared coefficient of
    variation over enough events (cv^2 < 0.25, n >= 5) flags robotic
    regularity where human traffic is bursty.  The whole statistic is
    exact integer arithmetic: gaps floor to seconds, and
    cv^2 = (n*sum(g^2) - sum(g)^2) / sum(g)^2 cross-multiplies into
    one integer floor-division at 1e-3 scale — no float variance, no
    engine divergence, overflow headroom verified against the
    fixture's magnitudes.  ONE user-keyed window + ONE aggregation;
    the traffic-hygiene sibling of web_sessions/frontier_schedule."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        F.floor(
            (_us(F.col("ts")) - F.lag(_us(F.col("ts"))).over(w)) / 1_000_000
        ).cast("long").alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    s = g.groupBy("user_id").agg(
        F.count("gap_s").cast("long").alias("n_gaps"),
        F.sum("gap_s").cast("long").alias("sg"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("long").alias("sg2"),
    )
    return s.select(
        "user_id",
        "n_gaps",
        F.expr("sg div n_gaps").cast("long").alias("mean_gap_s"),
        F.expr(
            "CASE WHEN sg = 0 THEN -1 "
            "ELSE ((n_gaps * sg2 - sg * sg) * 1000) div (sg * sg) END"
        ).cast("long").alias("cv2_e3"),
        F.expr(
            "n_gaps >= 5 AND sg > 0 AND "
            "((n_gaps * sg2 - sg * sg) * 1000) div (sg * sg) < 250"
        ).alias("is_bot"),
    )


# =====================================================================
# Language-ID evaluation harness (text/quality.py eval side)
# =====================================================================


def _langid_eval_sql() -> str:
    return f"""
    WITH m AS (SELECT doc_id, lang, {_LANG_COUNTS} FROM documents),
    p AS (
      SELECT doc_id, lang AS true_lang,
             CASE
               WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_fr
                    AND c_en >= c_es THEN 'en'
               WHEN c_de > 0 AND c_de > c_en AND c_de >= c_fr
                    AND c_de >= c_es THEN 'de'
               WHEN c_fr > 0 AND c_fr > c_en AND c_fr > c_de
                    AND c_fr >= c_es THEN 'fr'
               WHEN c_es > 0 AND c_es > c_en AND c_es > c_de
                    AND c_es > c_fr THEN 'es'
               ELSE 'und'
             END AS pred_lang
      FROM m),
    cm AS (
      SELECT true_lang, pred_lang, count(*) AS n
      FROM p GROUP BY true_lang, pred_lang),
    tt AS (SELECT true_lang, sum(n) AS t_tot FROM cm GROUP BY true_lang),
    pt AS (SELECT pred_lang, sum(n) AS p_tot FROM cm GROUP BY pred_lang)
    SELECT cm.true_lang, cm.pred_lang, CAST(cm.n AS BIGINT) AS n,
           CAST((cm.n * 1000000) // tt.t_tot AS BIGINT) AS recall_e6,
           CAST((cm.n * 1000000) // pt.p_tot AS BIGINT) AS precision_e6
    FROM cm JOIN tt USING (true_lang) JOIN pt USING (pred_lang)
    """


@register("langid_eval", _langid_eval_sql())
def q_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation harness: the lang_id classifier scored
    against the corpus's ground-truth labels as a confusion matrix
    with per-cell recall (n / true-class total) and precision
    (n / predicted-class total) in exact integer fixed point — the
    eval loop every filter in a training pipeline needs BEFORE it
    gates data (zh pages have no marker list, so they land in 'und'
    or a false class: the matrix shows exactly where the classifier
    is blind, which is the point of shipping the harness).  One
    prediction projection + one (true, pred) count + two marginal
    roll-ups joined back — marginals are class-count-sized, so both
    joins broadcast at any corpus scale."""
    from osm_spark.text import quality as _ql

    docs = _t(spark, sf_dir, "documents")
    preds = _ql.lang_id(docs, "doc_id", "text").select(
        "doc_id", "pred_lang"
    )
    p = docs.select("doc_id", F.col("lang").alias("true_lang")).join(
        preds, "doc_id"
    )
    cm = p.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tt = cm.groupBy("true_lang").agg(F.sum("n").alias("t_tot"))
    pt = cm.groupBy("pred_lang").agg(F.sum("n").alias("p_tot"))
    return (
        cm.join(F.broadcast(tt), "true_lang")
        .join(F.broadcast(pt), "pred_lang")
        .select(
            "true_lang", "pred_lang", "n",
            F.expr("(n * 1000000) div t_tot").cast("long")
            .alias("recall_e6"),
            F.expr("(n * 1000000) div p_tot").cast("long")
            .alias("precision_e6"),
        )
    )


# =====================================================================
# SCD Type-2 dimension build (temporal/scd.py)
# =====================================================================

_SCD2_SQL = """
    WITH c AS (
      SELECT user_id AS key, epoch_us(ts) AS ts_us,
             min(CAST(floor(value * 10) AS BIGINT) % 5) AS attr
      FROM events GROUP BY user_id, epoch_us(ts)),
    f AS (
      SELECT *, CASE WHEN lag(attr) OVER w IS NULL
                       OR lag(attr) OVER w <> attr
                     THEN 1 ELSE 0 END AS chg
      FROM c WINDOW w AS (PARTITION BY key ORDER BY ts_us)),
    i AS (
      SELECT *, sum(chg) OVER (
        PARTITION BY key ORDER BY ts_us
        ROWS UNBOUNDED PRECEDING) AS isl
      FROM f),
    g AS (
      SELECT key, isl, min(attr) AS attr,
             min(ts_us) AS valid_from_us
      FROM i GROUP BY key, isl)
    SELECT key AS user_id, CAST(attr AS BIGINT) AS attr,
           CAST(valid_from_us AS BIGINT) AS valid_from_us,
           CAST(coalesce(lead(valid_from_us) OVER w2, -1) AS BIGINT)
             AS valid_to_us,
           CAST(row_number() OVER w2 AS BIGINT) AS version_seq,
           (lead(valid_from_us) OVER w2 IS NULL) AS is_current
    FROM g WINDOW w2 AS (PARTITION BY key ORDER BY valid_from_us)
"""


@register("scd2_build", _SCD2_SQL)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build (temporal/scd.py): the per-user
    attribute stream (quantized event value) becomes validity
    intervals with NO-OP COLLAPSE — a recrawl observing the same
    value extends the current interval instead of opening a version,
    so the dimension grows with the CHANGE rate, not the observation
    rate (the reference's element-version model generalized:
    FindVisible's "which version at time t" becomes a plain
    BETWEEN over [valid_from, valid_to)).  Gaps-and-islands + lead()
    over the SAME key partitioning — one exchange, zero Python, zero
    joins; half-open integer micro-second intervals, open intervals
    surfaced as is_current/-1.  The oracle replays flag, island,
    collapse and interval close bit-for-bit."""
    from osm_spark.temporal import scd as _scd

    ev = _t(spark, sf_dir, "events")
    changes = (
        ev.select(
            F.col("user_id").alias("key"),
            _us(F.col("ts")).alias("ts_us"),
            (F.floor(F.col("value") * 10).cast("long") % 5).alias("attr"),
        )
        .groupBy("key", "ts_us")
        .agg(F.min("attr").alias("attr"))
    )
    out = _scd.scd2_build(changes, "key", "ts_us", "attr")
    return out.select(
        F.col("key").alias("user_id"),
        F.col("attr").cast("long").alias("attr"),
        "valid_from_us", "valid_to_us", "version_seq", "is_current",
    )


# =====================================================================
# Exact Jaccard set-similarity join (text/setjoin.py)
# =====================================================================

_JACCARD_SQL = """
    WITH grp AS (
      SELECT d.doc_id AS sid, d.doc_id % 3 AS variant, b.text AS btext
      FROM documents d
      JOIN documents b ON b.doc_id = d.doc_id - d.doc_id % 3),
    toks AS (
      SELECT sid,
             list_sort(list_filter(
               list_distinct(string_split(btext, ' ')),
               w -> substr(md5(w), 1, 1)
                      <> CAST(variant AS VARCHAR))) AS toks
      FROM grp),
    pairs AS (
      SELECT l.sid AS a, r.sid AS b,
             len(list_intersect(l.toks, r.toks)) AS inter,
             len(l.toks) + len(r.toks)
               - len(list_intersect(l.toks, r.toks)) AS uni
      FROM toks l JOIN toks r ON l.sid < r.sid)
    SELECT a, b,
           CAST(inter AS BIGINT) AS inter,
           CAST(uni AS BIGINT) AS uni,
           CAST(floor(inter * 1000000.0 / uni) AS BIGINT) AS jacc_e6
    FROM pairs
    WHERE inter * 1000000 >= 900000 * uni
"""


@register("jaccard_exact_join", _JACCARD_SQL)
def q_jaccard_exact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join (text/setjoin.py — AllPairs/PPJoin
    prefix filter): EVERY document pair with token-set Jaccard >= 0.9,
    guaranteed recall — the compliance-grade companion to MinHash-LSH,
    whose banded recall is < 1 by construction.  Each set joins only
    on its |X| - ceil(0.9|X|) + 1 rarest tokens under a global
    (frequency, token) order: the smallest common token of any
    qualifying pair provably falls in BOTH prefixes, and frequent
    stopword-class tokens never enter one, so buckets track the rare
    tail (the editjoin skew armor, generalized to sets).  Verification
    is the integer cross-multiplied Jaccard test — no float
    thresholds.  The fixture derives per-variant perturbed copies of
    each 3-group's base document (drop words whose md5 leads with the
    variant digit, ~1/16 each), giving true positives within groups
    and true negatives across; the oracle brute-forces ALL pairs, so
    the hash checks the prefix filter's completeness."""
    from osm_spark.text import setjoin as _sj

    docs = _t(spark, sf_dir, "documents")
    d = F.col("d.doc_id")
    grp = (
        docs.alias("d")
        .join(
            docs.select(
                F.col("doc_id").alias("b_id"), F.col("text").alias("btext")
            ),
            F.col("b_id") == d - d % 3,
        )
        .select(
            d.alias("sid"), (d % 3).alias("variant"), F.col("btext")
        )
    )
    toks = grp.select(
        "sid",
        F.array_sort(
            F.filter(
                F.array_distinct(F.split("btext", " ")),
                lambda w: F.substring(F.md5(w), 1, 1)
                != F.col("variant").cast("string"),
            )
        ).alias("toks"),
    )
    return _sj.jaccard_join(toks, "sid", "toks", tau_e6=900_000)


# =====================================================================
# GIF / LZW codec (multimodal/codecs.py)
# =====================================================================

_MEDIA_GIF_SQL = """
    WITH img AS (
      SELECT doc_id AS media_id, doc_id % 20 + 5 AS w, doc_id % 14 + 4 AS h
      FROM documents WHERE doc_id % 3 = 0),
    ib AS (
      SELECT media_id, w, h, (media_id * 31 + t.x * 7) % 8 AS idx
      FROM img, LATERAL (SELECT unnest(range(0, w * h)) AS x) t)
    SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(sum(CASE WHEN idx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
           CAST(sum(CASE WHEN idx = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           CAST(sum(CASE WHEN idx = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
           CAST(sum(CASE WHEN idx = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
           CAST(sum(CASE WHEN idx = 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4,
           CAST(sum(CASE WHEN idx = 5 THEN 1 ELSE 0 END) AS BIGINT) AS c5,
           CAST(sum(CASE WHEN idx = 6 THEN 1 ELSE 0 END) AS BIGINT) AS c6,
           CAST(sum(CASE WHEN idx = 7 THEN 1 ELSE 0 END) AS BIGINT) AS c7,
           CAST(sum(idx) AS BIGINT) AS pix_sum
    FROM ib GROUP BY media_id, w, h
"""


@register("media_gif", _MEDIA_GIF_SQL)
def q_media_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF codec (multimodal/codecs.py): deterministic 8-color
    indexed images encode to genuine GIF89a blobs — header, logical
    screen descriptor, global color table, and an actual LZW stream
    (variable 4..12-bit codes LSB-first, clear/EOI, dictionary
    growth, 4096-entry reset) — travel as a binary column, then the
    decoder parses the real bytes back (sub-block reassembly, LZW
    with the KwKwK case) and histograms the recovered palette
    indices.  Arrow-batched kernels on both sides (the designated
    Python boundary for media, as with BMP/PNG/WAV/JPEG).  The oracle
    recomputes dims + index histogram + pixel sum closed-form, so any
    bit-packing, width-bump or sub-block defect shifts the hash."""
    import pandas as pd

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from osm_spark.multimodal import codecs as C

    _pal = (np.arange(8 * 3) * 9 % 256).astype(np.uint8).reshape(8, 3)

    def _mk_fn(ids):
        blobs = []
        for mid in ids:
            mid = int(mid)
            w, h = mid % 20 + 5, mid % 14 + 4
            idx = ((mid * 31 + np.arange(w * h) * 7) % 8).astype(
                np.uint8
            ).reshape(h, w)
            blobs.append(C.encode_gif(idx, _pal))
        return pd.Series(blobs)

    def _st_fn(blobs):
        rows = []
        for b in blobs:
            idx, _pal2 = C.decode_gif(bytes(b))
            h, w = idx.shape
            counts = np.bincount(idx.reshape(-1), minlength=8)
            rows.append(
                (w, h, *[int(c) for c in counts[:8]], int(idx.sum()))
            )
        return pd.DataFrame(
            rows,
            columns=["width", "height"]
            + [f"c{i}" for i in range(8)]
            + ["pix_sum"],
        )

    _mk = pandas_udf(_mk_fn, "binary")
    _st = pandas_udf(
        _st_fn,
        "width int, height int, c0 long, c1 long, c2 long, c3 long,"
        " c4 long, c5 long, c6 long, c7 long, pix_sum long",
    )

    docs = _t(spark, sf_dir, "documents")
    media = docs.where(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("media_id"), _mk("doc_id").alias("blob")
    )
    out = media.select("media_id", _st("blob").alias("s"))
    return out.select(
        "media_id",
        F.col("s.width").alias("width"),
        F.col("s.height").alias("height"),
        *[F.col(f"s.c{i}").alias(f"c{i}") for i in range(8)],
        F.col("s.pix_sum").alias("pix_sum"),
    )


# =====================================================================
# Per-file Bloom index point lookups (pipeline/bloomindex.py)
# =====================================================================

_BLOOM_PROBES = [
    "https://page.example/p7",
    "https://page.example/p123",
    "https://page.example/p999999",
]


def _bloom_scan_sql() -> str:
    parts = []
    for i, v in enumerate(_BLOOM_PROBES):
        parts.append(f"""
    SELECT {i} AS probe_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(coalesce(min(doc_id), -1) AS BIGINT) AS doc_id,
           CAST(coalesce(min(n_chars), -1) AS BIGINT) AS n_chars,
           TRUE AS pruned
    FROM u WHERE url = '{v}'""")
    return (
        "WITH u AS (SELECT doc_id, n_chars,"
        " 'https://page.example/p' || CAST(doc_id AS VARCHAR) AS url"
        " FROM documents)" + "\n    UNION ALL".join(parts)
    )


@register("table_bloom_scan", _bloom_scan_sql())
def q_table_bloom_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom point lookups (pipeline/bloomindex.py): url is
    high-cardinality and UNSORTED across the table's 16 files, so
    min/max stats keep every file and even Z-order can't help a point
    probe — the Iceberg/Parquet answer is a per-file Bloom bitmap in
    a manifest sidecar, consulted before any data I/O.  Built with
    ONE aggregation over the written files (keys -> 4 md5 bit
    positions -> (file, word) bit_or; text/bloom.py's engine-portable
    hash); planning is driver-side arithmetic, zero Spark jobs.  Two
    present urls and one absent url probe the index: no false
    negatives ever (containing files always survive — the value
    columns hash-check that), and the ``pruned`` flag attests files
    were actually skipped for every probe (the absent url prunes all
    16).  The oracle answers the same lookups straight off the
    documents table."""
    from osm_spark.pipeline import bloomindex as _bx
    from osm_spark.pipeline.table import SnapshotTable

    docs = _t(spark, sf_dir, "documents")
    data = docs.select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("https://page.example/p"), F.col("doc_id").cast("string")
        ).alias("url"),
    )
    t = SnapshotTable(spark, _table_dir("osm_spark_bloomidx_"))
    t.append(data.repartition(16, "doc_id"))
    blooms = _bx.build_file_blooms(t, "url")
    n_total = len(t.plan_files())
    out = None
    for i, v in enumerate(_BLOOM_PROBES):
        files = _bx.plan_point_lookup(t, blooms, v)
        if files:
            part = (
                spark.read.parquet(*[fe["path"] for fe in files])
                .where(F.col("url") == v)
                .agg(
                    F.count("*").cast("long").alias("n"),
                    F.coalesce(F.min("doc_id"), F.lit(-1))
                    .cast("long").alias("doc_id"),
                    F.coalesce(F.min("n_chars"), F.lit(-1))
                    .cast("long").alias("n_chars"),
                )
            )
        else:
            part = spark.range(1).select(
                F.lit(0).cast("long").alias("n"),
                F.lit(-1).cast("long").alias("doc_id"),
                F.lit(-1).cast("long").alias("n_chars"),
            )
        part = part.select(
            F.lit(i).alias("probe_id"), "n", "doc_id", "n_chars",
            F.lit(bool(len(files) < n_total)).alias("pruned"),
        )
        out = part if out is None else out.unionByName(part)
    return out


# =====================================================================
# Positional phrase search (text/index.py)
# =====================================================================

_PHRASES = ["slow hash batch", "window fast query", "part filter scan"]


def _phrase_sql() -> str:
    parts = []
    for pi, ph in enumerate(_PHRASES):
        terms = ph.split(" ")
        conds = " AND ".join(
            f"w[u.i + {j}] = '{t}'" for j, t in enumerate(terms)
        )
        parts.append(f"""
    SELECT {pi} AS phrase_id, doc_id,
           CAST(u.i - 1 AS BIGINT) AS pos
    FROM t, UNNEST(range(1, len(w) - {len(terms)} + 2)) AS u(i)
    WHERE {conds}""")
    return (
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS w"
        " FROM documents)" + "\n    UNION ALL".join(parts)
    )


@register("phrase_search", _phrase_sql())
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search (text/index.py): exact-phrase
    occurrences ("slow hash batch") located through a positional
    inverted index — term i of the phrase anchors at (doc, pos - i),
    so a |phrase|-term match is a chain of equi-joins on (doc,
    normalized position) over single-term postings slices, and
    document text is never rescanned after the one index build (the
    Lucene phrase-query shape; AND-search and BM25 already cover the
    bag-of-words side).  The oracle re-derives every occurrence from
    the raw token arrays with windowed conjunctions, so the hash
    checks index construction, position normalization and the join
    chain."""
    from osm_spark.text import index as _ix

    docs = _t(spark, sf_dir, "documents")
    post = _persist(_ix.positional_postings(docs, "doc_id", "text"))
    out = None
    for pi, ph in enumerate(_PHRASES):
        m = _ix.phrase_match(post, ph).select(
            F.lit(pi).alias("phrase_id"),
            F.col("doc").alias("doc_id"),
            F.col("pos").cast("long").alias("pos"),
        )
        out = m if out is None else out.unionByName(m)
    return out


# =====================================================================
# BPE merge application (text/vocab.py apply side)
# =====================================================================


def _bpe_apply_sql(k: int = 10) -> str:
    pat = (
        "(SELECT ' ' || substr(pair, 1, 1) || '\u00b7 ' || "
        "substr(pair, 2, 1) || '\u00b7' FROM m WHERE rk = {r})"
    )
    rep = "(SELECT ' ' || pair || '\u00b7' FROM m WHERE rk = {r})"
    expr = "e"
    for r in range(1, k + 1):
        expr = (
            f"replace({expr}, coalesce({pat.format(r=r)}, chr(1)), "
            f"coalesce({rep.format(r=r)}, chr(1)))"
        )
    return f"""
    WITH wf AS (
      SELECT word, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS word
            FROM documents)
      GROUP BY word),
    pc AS (
      SELECT substr(word, t.i, 2) AS pair, sum(freq) AS n
      FROM wf,
           LATERAL (SELECT unnest(range(1, length(word))) AS i) t
      GROUP BY pair),
    m AS (
      SELECT pair, rk FROM (
        SELECT pair,
               row_number() OVER (ORDER BY n DESC, pair ASC) AS rk
        FROM pc) WHERE rk <= {k}),
    enc AS (
      SELECT word, freq,
             regexp_replace(word, '(.)', ' \\1\u00b7', 'g') AS e
      FROM wf),
    ap AS (SELECT word, freq, {expr} AS e2 FROM enc),
    tok AS (
      SELECT replace(t.tok, '\u00b7', '') AS token, freq
      FROM ap,
           LATERAL (SELECT unnest(string_split(trim(e2), ' ')) AS tok) t
      WHERE t.tok <> '')
    SELECT token, CAST(sum(freq) AS BIGINT) AS n
    FROM tok GROUP BY token
    """


@register("bpe_apply", _bpe_apply_sql())
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge application (text/vocab.py apply side): the top-10
    trained merges (bpe_pair_counts' ranking) apply to the corpus in
    rank order — the merges.txt mechanics every BPE tokenizer ships,
    completing the induction half already registered.  The encoding
    is the operator: symbols render as ' a\u00b7 b\u00b7' (space pins
    symbol START, marker pins symbol END), which makes each merge ONE
    literal boundary-safe replace, the whole list a fixed-depth
    expression chain — zero iteration, zero Python, and left-to-right
    non-overlapping replace handles back-to-back occurrences exactly
    the same in both engines.  The apply pass runs over the DISTINCT
    word table weighted by frequency (training's two-level trick), so
    it is vocabulary-sized at any corpus scale; merges are a
    parameter-sized driver collect embedded as plan literals, the
    oracle re-derives them as scalar subqueries."""
    from osm_spark.text import vocab as _vb

    docs = _t(spark, sf_dir, "documents")
    wf = _vb.word_freq(docs, "text")
    merges = [
        r["pair"]
        for r in _vb.top_merges(_vb.pair_counts(wf), k=10)
        .orderBy("rank")
        .collect()
    ]
    return _vb.bpe_token_counts(wf, merges).select("token", "n")


# =====================================================================
# Adaptive quadtree binning (geo/quadtree.py)
# =====================================================================


def _quadtree_sql() -> str:
    from osm_spark.geo.quadtree import adaptive_bins_sql

    x = tiles.tile_x_sql(pages.GEO_LON_SQL, 6)
    y = tiles.tile_y_sql(pages.GEO_LAT_SQL, 6)
    ctes, final = adaptive_bins_sql("pts", z_min=3, z_max=6, cap=10)
    return f"""
    WITH pts AS (SELECT {x} AS x, {y} AS y FROM documents),
    {ctes}
    {final}
    """


@register("quadtree_bins", _quadtree_sql())
def q_quadtree_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quadtree binning (geo/quadtree.py): occupied z3 cells
    over 10 pages recurse toward z6, so the hot-city cell splits all
    the way down while ocean stays coarse — the equi-depth leaf
    layout a skew-aware partitioner wants (each leaf ~<= cap rows, no
    10^9-row hot tile next to empty neighbors).  Every level's counts
    come from one pyramid aggregate (two shuffles for any depth) and
    the split/leaf decision is one cell-keyed parent join — points are
    never rescanned.  Leaves tile occupied space exactly:
    sum(n) over leaves equals the corpus count (pytest-pinned
    conservation); the oracle replays counts, eligibility chain and
    leaf predicate per level."""
    from osm_spark.geo import quadtree as _qt

    docs = _t(spark, sf_dir, "documents")
    pts = docs.select(
        tiles.tile_x(pages.geo_lon("doc_id"), 6).alias("x"),
        tiles.tile_y(pages.geo_lat("doc_id"), 6).alias("y"),
    )
    return _qt.adaptive_bins(pts, z_min=3, z_max=6, cap=10)


# =====================================================================
# Johnson-Lindenstrauss projection (similarity/jl.py)
# =====================================================================


def _jl_sql() -> str:
    from osm_spark.similarity.jl import sign_matrix

    mat = sign_matrix(64, 16)
    outs = []
    for j in range(16):
        acc = "0.0"
        for i in range(64):
            s = "+" if mat[i][j] > 0 else "-"
            acc = f"({acc} {s} CAST(embedding[{i + 1}] AS DOUBLE))"
        outs.append(
            f"SELECT vec_id, CAST({j} AS BIGINT) AS out_dim,"
            f" CAST(floor({acc} * 1e6) AS BIGINT) AS y_e6"
            f" FROM embeddings"
        )
    return "\n    UNION ALL ".join(outs)


@register("embed_jl_project", _jl_sql())
def q_embed_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection (similarity/jl.py): 64-dim
    embeddings compress to 16 dims through a deterministic Rademacher
    (+-1) sign matrix — the JL lemma's distance-preserving reduction
    that halves-and-halves ANN cost before LSH/IVF/PQ ever run.  The
    sign matrix derives from md5(i|j) parity in PYTHON and embeds as
    a literal in both engines' plans (parameter-sized — 64x16 — so
    the projection is in-row zip_with+fold arithmetic: zero shuffle,
    zero Python at execution, whole-stage codegen).  Both engines sum
    in ascending-dimension order with +-1.0 multiplies (exact), so
    floor(y * 1e6) is bit-identical; the oracle writes the 64-term
    chain out longhand per output dimension."""
    from osm_spark.similarity import jl as _jl

    emb = _t(spark, sf_dir, "embeddings")
    proj = _jl.project(emb, "vec_id", "embedding", in_dims=64, out_dims=16)
    return proj.select(
        "vec_id",
        F.col("out_dim").cast("long").alias("out_dim"),
        "y_e6",
    )


# =====================================================================
# Semi-supervised label propagation (plans/labelprop.py)
# =====================================================================


def _labelprop_sql() -> str:
    from osm_spark.plans.labelprop import label_propagation_sql

    ctes, final = label_propagation_sql("nd", "sym", rounds=3)
    return f"""
    WITH cnt AS (SELECT count(*) AS c FROM documents),
    nd AS (
      SELECT doc_id AS node,
             CASE WHEN doc_id % 25 = 0 THEN doc_id END AS seed
      FROM documents),
    raw AS (
      SELECT doc_id AS src, (doc_id + 1) % (SELECT c FROM cnt) AS dst
      FROM documents
      UNION ALL
      SELECT doc_id, (doc_id + 2) % (SELECT c FROM cnt) FROM documents),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst),
    sym AS (
      SELECT a AS src, b AS dst FROM und
      UNION ALL SELECT b, a FROM und),
    {ctes}
    SELECT node AS doc_id,
           CAST(coalesce(lbl, -1) AS BIGINT) AS lbl,
           (lbl IS NOT NULL) AS labeled
    FROM ({final}) t
    """


@register("label_prop_classify", _labelprop_sql())
def q_label_prop_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation (plans/labelprop.py): every
    25th page is a curated seed (label = its own id) and three
    propagation rounds spread topic labels over the ring+chord link
    graph — unlabeled nodes adopt the MAJORITY label among labeled
    neighbors (ties -> smallest label, no votes -> keep state), seeds
    never move.  The web-scale semi-supervised classifier that turns
    a small curated set into corpus-wide topic labels.  Per round ONE
    edge join against the labeled frontier + ONE vote count with
    map-side partials + ONE node-keyed integer argmax
    (min over (-count, label) struct); node-sized state behind
    localCheckpoint.  After 3 rounds the spread is deliberately
    UNconverged (labels reach <= 3+2 hops); parity holds on the
    partial state — the chained-CTE oracle replays every vote and
    tie-break bit-for-bit."""
    from osm_spark.plans import components as _cc
    from osm_spark.plans.labelprop import label_propagation

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    d = F.col("doc_id")
    nodes = docs.select(
        d.alias("node"),
        F.when(d % 25 == 0, d).alias("seed"),
    )
    raw = docs.select(
        d.alias("src"), ((d + 1) % n_docs).alias("dst")
    ).unionByName(
        docs.select(d.alias("src"), ((d + 2) % n_docs).alias("dst"))
    )
    pairs = (
        raw.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    edges = _persist(_cc.symmetrize(pairs))
    out = label_propagation(
        nodes, edges, rounds=3,
        persist_fn=lambda df: df.localCheckpoint(),
    )
    return out.select(
        F.col("node").alias("doc_id"),
        F.coalesce("lbl", F.lit(-1)).cast("long").alias("lbl"),
        F.col("lbl").isNotNull().alias("labeled"),
    )


# =====================================================================
# Edit-distance similarity join (text/editjoin.py)
# =====================================================================

_EDITJOIN_SQL = """
    WITH s AS (
      SELECT doc_id AS sid,
             'page-' || lpad(CAST(doc_id // 5 AS VARCHAR), 4, '0')
                     || '-' || CAST(doc_id % 5 AS VARCHAR) AS s
      FROM documents)
    SELECT l.sid AS a, r.sid AS b,
           CAST(levenshtein(l.s, r.s) AS BIGINT) AS dist
    FROM s l JOIN s r ON l.sid < r.sid
    WHERE levenshtein(l.s, r.s) <= 2
"""


@register("url_editdist_join", _EDITJOIN_SQL)
def q_url_editdist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join (text/editjoin.py): every url-key
    pair within Levenshtein distance 2 — typosquat/variant detection,
    the metric MinHash can't express for short keys.  Exact recall
    without all-pairs: each key joins only on its 5 globally-RAREST
    distinct 2-grams (any pair within distance 2 provably shares one;
    the hot template grams every url carries are the most frequent,
    so they never enter a prefix and the bucket join tracks the rare
    tail, not the corpus).  One gram-frequency aggregation
    (broadcast), one per-key rank window, one bucket equi-join, exact
    JVM Levenshtein verify.  The oracle brute-forces ALL pairs with
    DuckDB's levenshtein — same classic unit-cost DP — so the hash
    checks the prefix filter's completeness, not just the verify."""
    from osm_spark.text import editjoin as _ej

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    strs = docs.select(
        d.alias("sid"),
        F.concat(
            F.lit("page-"),
            F.lpad(F.floor(d / 5).cast("string"), 4, "0"),
            F.lit("-"),
            (d % 5).cast("string"),
        ).alias("s"),
    )
    out = _ej.edit_distance_join(strs, "sid", "s", d=2, q=2)
    return out.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("dist").cast("long").alias("dist"),
    )


# =====================================================================
# Incremental tile-count maintenance (pipeline/incremental.py)
# =====================================================================


def _ivm_sql() -> str:
    z = 7
    lat = pages.GEO_LAT_SQL
    lon = pages.GEO_LON_SQL
    lat_m = lat.replace("doc_id", "(doc_id + 250000)")
    lon_m = lon.replace("doc_id", "(doc_id + 250000)")
    lat_c = lat.replace("doc_id", "(doc_id + 123)")
    lon_c = lon.replace("doc_id", "(doc_id + 123)")
    return f"""
    WITH post AS (
      SELECT doc_id,
             CASE WHEN doc_id % 17 = 0
                  THEN {tiles.tile_x_sql(lon_m, z)}
                  ELSE {tiles.tile_x_sql(lon, z)} END AS x,
             CASE WHEN doc_id % 17 = 0
                  THEN {tiles.tile_y_sql(lat_m, z)}
                  ELSE {tiles.tile_y_sql(lat, z)} END AS y
      FROM documents WHERE doc_id % 31 <> 0
      UNION ALL
      SELECT doc_id + 1000000,
             {tiles.tile_x_sql(lon_c, z)}, {tiles.tile_y_sql(lat_c, z)}
      FROM documents WHERE doc_id % 13 = 0)
    SELECT x AS tile_x, y AS tile_y,
           CAST(count(*) AS BIGINT) AS n,
           TRUE AS matches
    FROM post GROUP BY x, y
    """


@register("tile_delta_counts", _ivm_sql())
def q_tile_delta_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (pipeline/incremental.py): a
    materialized per-tile page-count view absorbs one replication
    batch — deletes (doc_id % 31), moves (% 17, new geocode), creates
    (% 13, brand-new pages) — as SIGNED DELTAS: each change emits -1
    at its old tile and/or +1 at its new tile, the delta aggregates to
    |touched tiles| rows, and one full-outer merge updates the view.
    Cost is O(|batch|) per cycle, never O(|corpus|) — the only way a
    minutely-updated tile index exists at 10^12 pages (the
    reference's replication loop feeding maptile rollups).  The
    ``matches`` column ATTESTS the IVM identity in-query: the merged
    view is recomputed from the post-change corpus and every row must
    agree (an anti-join in both directions must be empty); the oracle
    derives the post-change counts independently, so the hash checks
    delta construction, merge arithmetic, zero-row dropout and the
    attestation itself."""
    from osm_spark.pipeline import incremental as _ivm

    z = 7
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def tile(idc):
        return [
            tiles.tile_x(pages.geo_lon(idc), z).alias("tile_x"),
            tiles.tile_y(pages.geo_lat(idc), z).alias("tile_y"),
        ]

    base = docs.select(*tile(d))
    counts = base.groupBy("tile_x", "tile_y").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    deletes = docs.where(d % 31 == 0).select(
        *tile(d), F.lit(-1).alias("sign")
    )
    moved = docs.where((d % 17 == 0) & (d % 31 != 0))
    moves = moved.select(*tile(d), F.lit(-1).alias("sign")).unionByName(
        moved.select(*tile(d + 250000), F.lit(1).alias("sign"))
    )
    creates = docs.where(d % 13 == 0).select(
        *tile(d + 123), F.lit(1).alias("sign")
    )
    delta = _ivm.count_delta(
        deletes.unionByName(moves).unionByName(creates),
        ["tile_x", "tile_y"],
    )
    view = _persist(
        _ivm.apply_count_delta(counts, delta, ["tile_x", "tile_y"])
    )

    # attestation: full recompute must equal the incrementally
    # maintained view row-for-row (fixture-sized second aggregation;
    # production trusts the IVM identity this query exists to prove)
    post = (
        docs.where(d % 31 != 0)
        .select(
            F.when(d % 17 == 0, tiles.tile_x(pages.geo_lon(d + 250000), z))
            .otherwise(tiles.tile_x(pages.geo_lon(d), z)).alias("tile_x"),
            F.when(d % 17 == 0, tiles.tile_y(pages.geo_lat(d + 250000), z))
            .otherwise(tiles.tile_y(pages.geo_lat(d), z)).alias("tile_y"),
        )
        .unionByName(docs.where(d % 13 == 0).select(*tile(d + 123)))
    )
    recomp = post.groupBy("tile_x", "tile_y").agg(
        F.count(F.lit(1)).cast("long").alias("n2")
    )
    diff_a = view.join(
        recomp,
        (view["tile_x"] == recomp["tile_x"])
        & (view["tile_y"] == recomp["tile_y"])
        & (view["n"] == recomp["n2"]),
        "left_anti",
    ).count()
    diff_b = recomp.join(
        view,
        (view["tile_x"] == recomp["tile_x"])
        & (view["tile_y"] == recomp["tile_y"])
        & (view["n"] == recomp["n2"]),
        "left_anti",
    ).count()
    return view.select(
        "tile_x", "tile_y", "n",
        F.lit(bool(diff_a == 0 and diff_b == 0)).alias("matches"),
    )


# =====================================================================
# HMM map matching — Viterbi (geo/matching.py)
# =====================================================================


def _viterbi_sql() -> str:
    from osm_spark.geo.matching import viterbi_sql

    ctes, final = viterbi_sql("cand", n_steps=4)
    return f"""
    WITH pts AS (
      SELECT c_custkey AS vid, t.s AS step,
             CAST(((c_custkey % 7 + 1) * 7919 % 340000) * 1000
                  - 170000000
                  + (c_custkey * 13 % 21 - 10) * 5000
                  + t.s * (c_custkey * 29 % 160000 - 80000)
                  AS BIGINT) AS px,
             CAST(((c_custkey % 7 + 1) * 4567 % 140000) * 1000
                  - 70000000
                  + (c_custkey * 17 % 21 - 10) * 5000
                  + t.s * (c_custkey * 37 % 160000 - 80000)
                  AS BIGINT) AS py
      FROM customer,
           LATERAL (SELECT unnest(range(0, 4)) AS s) t
      WHERE c_custkey % 10 = 0),
    base AS (
      SELECT s_suppkey AS k,
             CAST((s_suppkey * 7919 % 340000) * 1000 - 170000000
                  AS BIGINT) AS x0,
             CAST((s_suppkey * 4567 % 140000) * 1000 - 70000000
                  AS BIGINT) AS y0,
             CAST(s_suppkey * 31 % 800000 - 400000 AS BIGINT) AS d1x,
             CAST(s_suppkey * 53 % 800000 - 400000 AS BIGINT) AS d1y,
             CAST(s_suppkey * 71 % 800000 - 400000 AS BIGINT) AS d2x,
             CAST(s_suppkey * 97 % 800000 - 400000 AS BIGINT) AS d2y
      FROM supplier),
    segs AS (
      SELECT k * 2 AS seg_id, x0 AS ax, y0 AS ay,
             x0 + d1x AS bx, y0 + d1y AS "by" FROM base
      UNION ALL
      SELECT k * 2 + 1, x0 + d1x, y0 + d1y,
             x0 + d1x + d2x, y0 + d1y + d2y FROM base),
    pairs AS (
      SELECT p.vid, p.step, s.seg_id,
             CAST(p.px AS DOUBLE) AS pxd, CAST(p.py AS DOUBLE) AS pyd,
             CAST(s.ax AS DOUBLE) AS axd, CAST(s.ay AS DOUBLE) AS ayd,
             CAST(s.bx AS DOUBLE) AS bxd, CAST(s."by" AS DOUBLE) AS byd
      FROM pts p CROSS JOIN segs s),
    proj AS (
      SELECT vid, step, seg_id, pxd, pyd, axd, ayd,
             bxd - axd AS dx, byd - ayd AS dy,
             (bxd - axd) * (bxd - axd) + (byd - ayd) * (byd - ayd)
               AS len2
      FROM pairs),
    tt AS (
      SELECT vid, step, seg_id, pxd, pyd, axd, ayd, dx, dy, len2,
             CASE WHEN len2 = 0.0 THEN 0.0
                  ELSE least(greatest(
                    ((pxd - axd) * dx + (pyd - ayd) * dy) / len2,
                    0.0), 1.0) END AS t
      FROM proj),
    sc AS (
      SELECT vid, step, seg_id,
             (pxd - sxx) * (pxd - sxx) + (pyd - syy) * (pyd - syy)
               AS d2,
             sxx, syy
      FROM (SELECT vid, step, seg_id, pxd, pyd,
                   CASE WHEN len2 = 0.0 THEN axd
                        ELSE axd + t * dx END AS sxx,
                   CASE WHEN len2 = 0.0 THEN ayd
                        ELSE ayd + t * dy END AS syy
            FROM tt)),
    cand AS (
      SELECT vid, step, seg_id,
             CAST(floor(sqrt(d2)) AS BIGINT) AS emis,
             CAST(floor(sxx) AS BIGINT) AS sx,
             CAST(floor(syy) AS BIGINT) AS sy
      FROM sc WHERE d2 <= 160000000000.0),
    {ctes}
    {final}
    """


@register("map_match_viterbi", _viterbi_sql())
def q_map_match_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HMM map matching (geo/matching.py — Newson–Krakauer Viterbi):
    4-point vehicle traces match onto the supplier road graph as state
    PATHS, not pointwise nearest segments — emission cost is the
    audited snap projection distance, transitions penalize jumps
    between consecutive snapped positions, and the DP picks the
    min-cost segment sequence (the OSRM/Valhalla `match` semantic over
    the reference's planar segment-project primitive).  Candidates
    come from the supercover cell index + 3x3 probe (complete for
    radius <= cell size — never points x all-segments); each DP step
    is ONE vid equi-join + one (vid, segment)-keyed argmin over
    |V| x K^2 rows, path carried forward inside the argmin struct.
    Integer-exact (emission = floor(sqrt(d2)) — linear distance,
    commensurate with L1 transitions; IEEE sqrt is correctly rounded
    so the floor is engine-exact; predecessor-id tie-breaks), so the
    chained-CTE oracle —
    which brute-forces the candidate set index-free — replays every
    DP cell bit-for-bit AND re-checks the snap index's completeness."""
    from osm_spark.geo import matching as _mm

    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    k = F.col("vid")
    st = F.col("step")
    # vehicles start near their anchor supplier's road chain (vid % 7
    # + 1) with a per-vehicle offset, then drift up to 80k µdeg/step —
    # inside the 400k snap radius for most steps, so most traces stay
    # matchable while some honestly drop out
    traj = (
        cust.where(F.col("c_custkey") % 10 == 0)
        .select(F.col("c_custkey").alias("vid"))
        .select("vid", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("step"))
        .select(
            "vid", "step",
            (((k % 7 + 1) * 7919 % 340000) * 1000 - 170000000
             + (k * 13 % 21 - 10) * 5000
             + st * (k * 29 % 160000 - 80000))
            .cast("long").alias("px"),
            (((k % 7 + 1) * 4567 % 140000) * 1000 - 70000000
             + (k * 17 % 21 - 10) * 5000
             + st * (k * 37 % 160000 - 80000))
            .cast("long").alias("py"),
        )
    )
    s = F.col("s_suppkey")
    base = supp.select(
        s.alias("k"),
        ((s * 7919 % 340000) * 1000 - 170000000).cast("long").alias("x0"),
        ((s * 4567 % 140000) * 1000 - 70000000).cast("long").alias("y0"),
        (s * 31 % 800000 - 400000).cast("long").alias("d1x"),
        (s * 53 % 800000 - 400000).cast("long").alias("d1y"),
        (s * 71 % 800000 - 400000).cast("long").alias("d2x"),
        (s * 97 % 800000 - 400000).cast("long").alias("d2y"),
    )
    x0, y0 = F.col("x0"), F.col("y0")
    d1x, d1y = F.col("d1x"), F.col("d1y")
    seg1 = base.select(
        (F.col("k") * 2).alias("seg_id"),
        x0.alias("ax"), y0.alias("ay"),
        (x0 + d1x).alias("bx"), (y0 + d1y).alias("by"),
    )
    seg2 = base.select(
        (F.col("k") * 2 + 1).alias("seg_id"),
        (x0 + d1x).alias("ax"), (y0 + d1y).alias("ay"),
        (x0 + d1x + F.col("d2x")).alias("bx"),
        (y0 + d1y + F.col("d2y")).alias("by"),
    )
    return _mm.viterbi_match(
        traj, seg1.unionAll(seg2), n_steps=4, shift=19,
        max_d2=float(400_000**2),
        persist_fn=lambda df: df.localCheckpoint(),
    )


# =====================================================================
# DSIR importance weights (text/dsir.py)
# =====================================================================


def _dsir_sql() -> str:
    from osm_spark.text.dsir import hashed_bucket_sql

    b = hashed_bucket_sql("w", n_buckets=256, salt="dsir")
    return f"""
    WITH tok AS (
      SELECT doc_id, (lang = 'en') AS is_t,
             unnest(string_split(text, ' ')) AS w
      FROM documents),
    tb AS (SELECT doc_id, is_t, {b} AS b FROM tok),
    counts AS (
      SELECT b, count(*) AS cr,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
      FROM tb GROUP BY b),
    tot AS (
      SELECT count(*) AS tr,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tt
      FROM tb),
    lam AS (
      SELECT b,
             CAST(floor(ln((ct + 1) / CAST(tt + 256 AS DOUBLE)) * 1e6)
                - floor(ln((cr + 1) / CAST(tr + 256 AS DOUBLE)) * 1e6)
              AS BIGINT) AS lam_e6
      FROM counts, tot)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(lam_e6) AS BIGINT) AS score_e6,
           (sum(lam_e6) > 0) AS selected
    FROM tb JOIN lam USING (b)
    GROUP BY doc_id
    """


@register("dsir_weights", _dsir_sql())
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (text/dsir.py — Xie et al. 2023): every
    document scored by the log-likelihood ratio of a hashed-unigram
    target model (English slice) over the raw-pool model — the
    principled "more like the target domain" selector that replaces
    binary quality classifiers in training-mix construction.  Feature
    hashing is the scale story: both models are 256-bucket tables
    REGARDLESS of corpus size, so they broadcast and the scoring pass
    is one explode + broadcast join + doc-keyed integer sum (no
    vocabulary-sized shuffle anywhere).  Per-bucket ln-probabilities
    floor-quantize to int64 at 1e-6 independently before subtraction
    and summation (house float discipline), so the hash pins the md5
    bucket assignment, both model estimates and every document's
    selection decision."""
    from osm_spark.text import dsir as _ds

    docs = _t(spark, sf_dir, "documents")
    return _ds.dsir_scores(
        docs, F.col("lang") == "en", "doc_id", "text", n_buckets=256
    )


# =====================================================================
# Z-order table clustering (pipeline/zorder.py + pipeline/table.py)
# =====================================================================

_ZORDER_BBOXES: list[tuple[int, int, int, int]] = [
    # (x0, x1, y0, y1) in z10 tile coords; B straddles the hot-city
    # cell (x=301) so the skewed 5% sits inside one probed range
    (128, 255, 384, 511),
    (288, 319, 352, 415),
    (700, 899, 200, 449),
]


def _zorder_scan_sql() -> str:
    x = tiles.tile_x_sql(pages.GEO_LON_SQL, 10)
    y = tiles.tile_y_sql(pages.GEO_LAT_SQL, 10)
    parts = []
    for i, (x0, x1, y0, y1) in enumerate(_ZORDER_BBOXES):
        parts.append(f"""
    SELECT {i} AS bbox_id,
           CAST(count(*) AS BIGINT) AS n_pages,
           CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS sum_chars,
           CAST(coalesce(min(doc_id), -1) AS BIGINT) AS min_doc,
           CAST(coalesce(max(doc_id), -1) AS BIGINT) AS max_doc,
           TRUE AS pruned
    FROM pts WHERE x >= {x0} AND x <= {x1} AND y >= {y0} AND y <= {y1}""")
    return (
        f"WITH pts AS (SELECT doc_id, n_chars, {x} AS x, {y} AS y\n"
        "       FROM documents)\n" + "\n    UNION ALL".join(parts)
    )


@register("table_zorder_scan", _zorder_scan_sql())
def q_table_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order file clustering (pipeline/zorder.py over
    pipeline/table.py): pages tile-assign at z10, the write re-clusters
    on the Morton key (reference: maptile/tile.go Quadkey — the same
    interleave the reference walks per digit, here lifted into the
    table's physical layout), and three bbox scans plan through the
    manifest's per-file tile_x/tile_y min/max stats.  Because every
    file is a contiguous Z-curve segment, BOTH 1-D stats intervals are
    tight and a 2-D bbox prunes most files before any data I/O —
    Iceberg/Delta ``ZORDER BY`` semantics from ONE range exchange plus
    an in-partition sort, no UDFs (at 10^12 rows this is the
    difference between a bbox query reading ~|bbox| bytes and reading
    the table).  The ``pruned`` column asserts the planner really
    skipped files for every bbox (files_scanned < files_total — layout
    claims must be attested, not assumed); the data columns hash
    against a direct DuckDB recompute, so the gate checks the whole
    write -> stats -> prune -> read -> filter chain end to end."""
    from osm_spark.pipeline.table import SnapshotTable
    from osm_spark.pipeline.zorder import cluster_by_zorder

    docs = _t(spark, sf_dir, "documents")
    pts = docs.select(
        "doc_id",
        "n_chars",
        tiles.tile_x(pages.geo_lon("doc_id"), 10).alias("tile_x"),
        tiles.tile_y(pages.geo_lat("doc_id"), 10).alias("tile_y"),
    )
    t = SnapshotTable(
        spark, _table_dir("osm_spark_zorder_"),
        stats_cols=("tile_x", "tile_y"),
    )
    t.append(cluster_by_zorder(pts, "tile_x", "tile_y", n_files=16))
    n_total = len(t.plan_files())
    out = None
    for i, (x0, x1, y0, y1) in enumerate(_ZORDER_BBOXES):
        preds = [
            ("tile_x", ">=", x0), ("tile_x", "<=", x1),
            ("tile_y", ">=", y0), ("tile_y", "<=", y1),
        ]
        n_hit = len(t.plan_files(preds))
        part = t.scan(preds).agg(
            F.count("*").cast("long").alias("n_pages"),
            F.coalesce(F.sum("n_chars"), F.lit(0))
            .cast("long").alias("sum_chars"),
            F.coalesce(F.min("doc_id"), F.lit(-1))
            .cast("long").alias("min_doc"),
            F.coalesce(F.max("doc_id"), F.lit(-1))
            .cast("long").alias("max_doc"),
        ).select(
            F.lit(i).alias("bbox_id"),
            "n_pages", "sum_chars", "min_doc", "max_doc",
            F.lit(bool(n_hit < n_total)).alias("pruned"),
        )
        out = part if out is None else out.unionByName(part)
    return out
