"""The ``pages`` table and the flagship geocode -> tile-assignment pipeline.

Input contract (BASELINE input_hint): an Iceberg/parquet table of
Common-Crawl-style web pages ``(url, warc_ts, html, text, lang)``. The
sandbox's driver-generated ``documents`` table stands in for it — we
derive ``pages`` deterministically from ``documents`` (url from doc_id,
html as utf-8 bytes of text) so every engine (Spark, DuckDB oracle)
computes identical rows with no external data.

Per-row invariant (north rule): ``text`` stays **byte-identical per url**
through every stage — geocoding/tiling only ever adds columns.

Geocoding is deterministic integer arithmetic on doc_id (no hashing, so
the DuckDB oracle can mirror it exactly):

    lat = (doc_id * 7919  % 170000) / 1000.0 -  85.0      in [-85, 85)
    lon = (doc_id * 104729 % 360000) / 1000.0 - 180.0     in [-180, 180)
    every 20th doc snaps to a fixed "hot city" — deliberate skew so the
    skew-handling paths (salting, AQE skew join) are exercised.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_spark.geo import tiles

HOT_LAT = 40.712
HOT_LON = -74.006
HOT_MOD = 20


DOCUMENTS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``documents`` table with its known schema, so building a
    query starts no schema-inference job; a column missing from the
    file reads as NULL."""
    return spark.read.schema(DOCUMENTS_SCHEMA).parquet(f"{sf_dir}/documents.parquet")


def geo_lat(doc_id) -> Column:
    c = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    base = (c * F.lit(7919) % F.lit(170000)).cast("double") / F.lit(1000.0) - F.lit(85.0)
    return F.when(c % HOT_MOD == 0, F.lit(HOT_LAT)).otherwise(base)


def geo_lon(doc_id) -> Column:
    c = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    base = (c * F.lit(104729) % F.lit(360000)).cast("double") / F.lit(1000.0) - F.lit(180.0)
    return F.when(c % HOT_MOD == 0, F.lit(HOT_LON)).otherwise(base)


GEO_LAT_SQL = (
    "(CASE WHEN doc_id % 20 = 0 THEN 40.712 "
    "ELSE CAST(doc_id * 7919 % 170000 AS DOUBLE) / 1000.0 - 85.0 END)"
)
GEO_LON_SQL = (
    "(CASE WHEN doc_id % 20 = 0 THEN -74.006 "
    "ELSE CAST(doc_id * 104729 % 360000 AS DOUBLE) / 1000.0 - 180.0 END)"
)


def pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> pages(url, warc_ts, html, text, lang) + point geocode.

    Column-only transform: scan stays prunable, no shuffle, no UDF.
    """
    docs = load_documents(spark, sf_dir)
    return docs.select(
        F.concat(F.lit("https://"), "source", F.lit(".example/p"), "doc_id").alias("url"),
        F.to_timestamp(
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.col("doc_id").cast("double"))
        ).alias("warc_ts"),
        F.encode("text", "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
        geo_lat("doc_id").alias("lat"),
        geo_lon("doc_id").alias("lon"),
    )


def page_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow projection for the spatial kernels (url/doc_id/lat/lon)."""
    docs = load_documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        geo_lat("doc_id").alias("lat"),
        geo_lon("doc_id").alias("lon"),
    )


def tile_counts(spark: SparkSession, sf_dir: str, z: int = 12) -> DataFrame:
    """Flagship: geocode each page, assign its z/x/y tile, count pages/tile.

    Plan shape at scale: parquet scan (2 columns) -> project (pure column
    math, codegen'd) -> partial agg -> shuffle on (x, y) -> final agg.
    One shuffle, map-side combine; survives 100 TB because the shuffle
    volume is |tiles|, not |pages|.
    """
    pts = page_points(spark, sf_dir)
    return (
        pts.select(
            tiles.tile_x("lon", z).alias("tile_x"),
            tiles.tile_y("lat", z).alias("tile_y"),
        )
        .groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n_pages"))
        .withColumn("zoom", F.lit(z))
    )


def tile_pyramid_counts(
    spark: SparkSession, sf_dir: str, z_max: int = 18, z_min: int = 0
) -> DataFrame:
    """Counts per tile for every zoom z_min..z_max.

    Strategy for scale: two shuffles, however many zooms are asked for
    (``tiles.pyramid_counts``).  Pages are scanned once and aggregated
    on one packed long key at z_max; each base tile then emits its
    ancestor keys (parent shift math) in one explode over the per-tile
    table — never pages x zooms — and one aggregate sums them.  x, y
    and zoom are unpacked once at the end.  Raises ``ValueError``
    unless 0 <= z_min <= z_max <= 28 (the key's field width).
    """
    tiles.check_pyramid_zooms(z_max, z_min)
    pts = page_points(spark, sf_dir).select(
        tiles.tile_x("lon", z_max).alias("x"),
        tiles.tile_y("lat", z_max).alias("y"),
    )
    pyr = tiles.pyramid_counts(pts, z_max, z_min, n="n_pages")
    return pyr.select(
        tiles.key_x("key").alias("tile_x"),
        tiles.key_y("key").alias("tile_y"),
        "n_pages",
        tiles.key_zoom("key").alias("zoom"),
    )


def captures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch recrawl captures of the pages table: every url gets
    ``doc_id % 3 + 1`` captures one day apart, later captures carrying a
    revised body — the multi-snapshot shape a Common-Crawl-style corpus
    has on disk.  Deterministic closed form (doc_id arithmetic) so the
    oracle derives every capture independently."""
    docs = load_documents(spark, sf_dir)
    c = docs.select(
        "doc_id", "source", "text",
        F.explode(
            F.sequence(F.lit(0), (F.col("doc_id") % 3).cast("int"))
        ).alias("rev"),
    )
    return c.select(
        F.concat(
            F.lit("https://"), "source", F.lit(".example/p"), "doc_id"
        ).alias("url"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(
                secs=(F.col("doc_id") + F.col("rev") * 86400).cast("double")
            )
        ).alias("warc_ts"),
        F.when(F.col("rev") == 0, F.col("text"))
        .otherwise(
            F.concat("text", F.lit(" rev"), F.col("rev").cast("string"))
        )
        .alias("text"),
        "rev",
    )


def snapshot_at(caps: DataFrame, t) -> DataFrame:
    """Latest capture per url at time ``t`` — the webtext twin of the
    reference's element ``At(t)`` / history-visibility lookup
    (paulmach/osm element_at semantics, reference osm/types.go history
    conventions): filter to captures visible at t, keep the
    max-warc_ts row per url.  Per-url groups are bounded by the crawl
    epoch count, so the window partition never exceeds a handful of
    rows even at 10^12 urls — no salting needed; the exchange is one
    url-keyed hash partition."""
    from pyspark.sql import Window

    upto = caps.where(F.col("warc_ts") <= t)
    w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
    wc = Window.partitionBy("url")
    return (
        upto.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_upto", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("_rn") == 1)
        .select(
            "url",
            F.unix_micros("warc_ts").alias("ts_us"),
            F.col("rev").cast("long").alias("rev"),
            "n_upto",
            F.md5(F.encode("text", "UTF-8")).alias("digest"),
        )
    )
