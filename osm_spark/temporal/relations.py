"""Relation annotation — annotate.Relations (reference
annotate/relation.go:24-129) on Spark.

Children are typed (node / way / relation member histories), keyed by
the packed FeatureID so one keyed annotation pass serves all three types
(relationDatasource.Get, annotate/datasource.go:67-98). Way children
carry a ``reverse`` flag — IsReverse between consecutive way versions
(datasource.go:155-172) — which surfaces on minor-version updates.

After the core compute, polygon relations (type in multipolygon /
boundary, polygon.go:241-244) get member ``orientation`` annotations via
Group -> Join -> shoelace orientation at the relation's commit time
(annotate/geo.go:55-100), with way geometry reconstructed by
LineStringAt (way.go:166-198).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, IntegerType, LongType, StructField, StructType, TimestampType,
)

from osm_spark.core import ids
from osm_spark.geom import assembly as A
from osm_spark.temporal.annotate import annotate_refs, fill_slots


def _signed_area(pts: list[tuple[float, float]]) -> float:
    """planar.Area sign (shoelace with wraparound closure)."""
    if len(pts) < 3:
        return 0.0
    a = 0.0
    for i in range(len(pts)):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % len(pts)]
        a += x1 * y2 - x2 * y1
    return a


def _linestring(nodes) -> list[tuple[float, float]]:
    """Way.LineString (way.go:151-162): keep nodes with the annotated
    sentinel rule (version != 0 OR lon != 0 OR lat != 0)."""
    return [
        (float(n["lon"]), float(n["lat"]))
        for n in nodes
        if n["version"] != 0 or n["lon"] != 0.0 or n["lat"] != 0.0
    ]


def is_reverse(nodes1, nodes2) -> bool:
    """IsReverse (annotate/datasource.go:155-172): ring => area sign
    flip; else endpoints swapped (by node ref)."""
    if nodes1 is None or nodes2 is None or len(nodes1) < 2 or len(nodes2) < 2:
        return False
    if nodes1[0]["ref"] == nodes1[-1]["ref"] or nodes2[0]["ref"] == nodes2[-1]["ref"]:
        return _signed_area(_linestring(nodes1)) * _signed_area(_linestring(nodes2)) < 0
    return (
        nodes1[0]["ref"] == nodes2[-1]["ref"]
        and nodes2[0]["ref"] == nodes1[-1]["ref"]
    )


_REV_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("version", IntegerType()),
        StructField("ts", TimestampType()),
        StructField("reverse", BooleanType()),
    ]
)


def way_reverse_flags(ways_annotated: DataFrame) -> DataFrame:
    """Per way version: ReverseOfPrevious (waysToChildList,
    datasource.go:130-149 — flag vs the PREVIOUS version in id+version
    order). applyInPandas per way id."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["version", "ts"]).reset_index(drop=True)
        flags = [False]
        for i in range(1, len(pdf)):
            flags.append(is_reverse(pdf["nodes"].iloc[i], pdf["nodes"].iloc[i - 1]))
        return pd.DataFrame(
            {
                "id": pdf["id"],
                "version": pdf["version"],
                "ts": pdf["ts"],
                "reverse": flags,
            }
        )

    return (
        ways_annotated.select("id", "version", "ts", "nodes")
        .groupBy("id")
        .applyInPandas(kernel, schema=_REV_SCHEMA)
    )


def annotate_relations(
    relations: DataFrame,
    node_histories: DataFrame,
    ways_annotated: DataFrame,
    relation_histories: DataFrame | None = None,
    threshold_sec: float = 30 * 60,
    ignore_inconsistency: bool = False,
) -> DataFrame:
    """annotate.Relations: fill member version/changeset/(lat,lon for
    nodes) + relation updates (with reverse flags for way members).

    relations: (id, version, visible, changeset, ts, committed, tags,
                members array<struct<type,ref,role>>)
    node_histories: (id, version, visible, changeset, ts, committed, lat, lon)
    ways_annotated: annotate_ways output (id, version, visible,
                changeset, ts, committed, nodes, updates)

    Returns relations with members rewritten as
    array<struct<type,ref,role,version,changeset,lat,lon,orientation>>
    and an ``updates`` array (idx, version, ts, changeset, lat, lon,
    reverse). Orientation is 0 here; apply :func:`annotate_orientation`
    for polygon relations.
    """
    # typed children keyed by packed feature id
    ch_nodes = node_histories.select(
        ids.feature_id("node", "id").alias("ref"),
        "version", "visible", "changeset", "ts", "committed", "lat", "lon",
        F.lit(False).alias("reverse"),
    )
    rev = way_reverse_flags(ways_annotated)
    ch_ways = (
        ways_annotated.join(rev, ["id", "version", "ts"], "left")
        .select(
            ids.feature_id("way", "id").alias("ref"),
            "version", "visible", "changeset", "ts", "committed",
            F.lit(0.0).alias("lat"), F.lit(0.0).alias("lon"),
            F.coalesce("reverse", F.lit(False)).alias("reverse"),
        )
    )
    if relation_histories is None:
        relation_histories = relations  # self-contained history set
    ch_rels = relation_histories.select(
        ids.feature_id("relation", "id").alias("ref"),
        "version", "visible", "changeset", "ts", "committed",
        F.lit(0.0).alias("lat"), F.lit(0.0).alias("lon"),
        F.lit(False).alias("reverse"),
    )
    children = ch_nodes.unionByName(ch_ways).unionByName(ch_rels)

    parents = relations.select(
        F.col("id").alias("pid"),
        "version", "visible", "changeset", "ts", "committed",
        F.transform(
            "members",
            lambda m: F.struct(
                ids.feature_id(m["type"], m["ref"]).alias("ref")
            ),
        ).alias("refs"),
    )
    ann = annotate_refs(parents, children, threshold_sec, ignore_inconsistency)
    return fill_slots(
        relations, ann, "members",
        lambda m, picked: F.struct(
            m["type"].alias("type"), m["ref"].alias("ref"),
            m["role"].alias("role"), *picked, F.lit(0).alias("orientation"),
        ),
        extra_update_fields=["reverse"],
    )


def linestring_at(nodes, updates, t) -> list[tuple[float, float]]:
    """Way.LineStringAt (way.go:166-198): start from all node points,
    apply updates in stored (index-sorted) order BREAKING at the first
    ts > t (reference behavior), then drop never-annotated zero nodes."""
    ls = [(float(n["lon"]), float(n["lat"])) for n in nodes]
    for u in updates or []:
        if u["ts"] is not None and pd.Timestamp(u["ts"]) > t:
            break
        if u["idx"] >= len(ls):
            continue
        ls[u["idx"]] = (float(u["lon"]), float(u["lat"]))
    return [
        p
        for p, n in zip(ls, nodes)
        if not (n["version"] == 0 and n["lon"] == 0.0 and n["lat"] == 0.0)
    ]


_ORIENT_SCHEMA = StructType(
    [
        StructField("pid", LongType()),
        StructField("parent_version", IntegerType()),
        StructField("parent_ts", TimestampType()),
        StructField("idx", IntegerType()),
        StructField("orientation", IntegerType()),
    ]
)


def annotate_orientation(rel_ann: DataFrame, ways_annotated: DataFrame) -> DataFrame:
    """Member orientation for polygon relations (annotate/geo.go:55-100):
    Group -> Join -> per-multisegment orientation, factor-corrected per
    segment reversal. Returns rel_ann with member.orientation filled.

    rel_ann must be annotate_relations output WITH a tags map column.
    """
    is_poly = F.element_at("tags", "type").isin("multipolygon", "boundary")
    poly = rel_ann.filter(is_poly)
    rest = rel_ann.filter(~is_poly | F.col("tags").isNull())

    mem = poly.select(
        F.col("id").alias("pid"),
        F.col("version").alias("parent_version"),
        F.col("ts").alias("parent_ts"),
        F.coalesce("committed", "ts").alias("at"),
        F.posexplode("members").alias("idx", "m"),
    )
    if "updates" not in ways_annotated.columns:
        ways_annotated = ways_annotated.withColumn(
            "updates",
            F.lit(None).cast(
                "array<struct<idx:int,version:int,ts:timestamp,"
                "changeset:bigint,lat:double,lon:double>>"
            ),
        )
    way_mem = mem.filter(F.col("m.type") == "way").join(
        ways_annotated.select(
            F.col("id").alias("wref"),
            F.col("version").alias("wver"),
            F.col("nodes").alias("wnodes"),
            F.col("updates").alias("wupdates"),
        ),
        (F.col("m.ref") == F.col("wref")) & (F.col("m.version") == F.col("wver")),
        "left",
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("idx")
        first = pdf.iloc[0]
        at = pd.Timestamp(first["at"])
        members = []
        way_lines = {}
        for r in pdf.itertuples():
            m = r.m
            members.append(
                {
                    "type": m["type"],
                    "ref": int(m["ref"]),
                    "role": m["role"],
                    "orientation": 0,
                    "_idx": int(r.idx),
                }
            )
            if r.wnodes is not None and not isinstance(r.wnodes, float):
                way_lines[int(m["ref"])] = linestring_at(
                    list(r.wnodes), list(r.wupdates) if r.wupdates is not None else [], at
                )
        # Group (mputil.go:126-185) over the way members only, but with
        # the ORIGINAL member index for annotation addressing
        outer, inner = [], []
        for mm in members:
            line = way_lines.get(mm["ref"])
            if line is None or len(line) == 0:
                continue
            seg = A.Segment(list(line), index=mm["_idx"], orientation=0)
            if mm["role"] == "outer":
                outer.append(seg)
            elif mm["role"] == "inner":
                inner.append(seg)
        rows = []
        for group, want in ((outer, A.CCW), (inner, A.CW)):
            for ms in A.join_segments(group):
                factor = 1 if A.multi_segment_orientation(ms) == want else -1
                for seg in ms:
                    o = (-1 if seg.reversed else 1) * factor * want
                    rows.append(
                        (
                            int(first["pid"]),
                            int(first["parent_version"]),
                            pd.Timestamp(first["parent_ts"]),
                            seg.index,
                            int(o),
                        )
                    )
        return pd.DataFrame(
            rows,
            columns=["pid", "parent_version", "parent_ts", "idx", "orientation"],
        )

    orient = way_mem.groupBy("pid", "parent_version", "parent_ts").applyInPandas(
        kernel, schema=_ORIENT_SCHEMA
    )

    slots = poly.select(
        F.col("id").alias("pid"),
        F.col("version").alias("parent_version"),
        F.col("ts").alias("parent_ts"),
        F.posexplode("members").alias("idx", "m"),
    )
    rebuilt = (
        slots.join(orient, ["pid", "parent_version", "parent_ts", "idx"], "left")
        .select(
            "pid", "parent_version", "parent_ts", "idx",
            F.struct(
                F.col("m.type").alias("type"),
                F.col("m.ref").alias("ref"),
                F.col("m.role").alias("role"),
                F.col("m.version").alias("version"),
                F.col("m.changeset").alias("changeset"),
                F.col("m.lat").alias("lat"),
                F.col("m.lon").alias("lon"),
                F.coalesce("orientation", F.lit(0)).alias("orientation"),
            ).alias("m"),
        )
        .groupBy("pid", "parent_version", "parent_ts")
        .agg(F.array_sort(F.collect_list(F.struct("idx", "m"))).alias("_s"))
        .select(
            "pid", "parent_version", "parent_ts",
            F.transform("_s", lambda s: s["m"]).alias("members"),
        )
        .withColumnRenamed("pid", "id")
        .withColumnRenamed("parent_version", "version")
        .withColumnRenamed("parent_ts", "ts")
    )
    poly_out = poly.drop("members").join(rebuilt, ["id", "version", "ts"], "left")
    return rest.unionByName(poly_out)
