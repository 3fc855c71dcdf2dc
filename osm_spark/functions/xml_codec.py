"""OSM XML codec (reference osmxml/scanner.go:34-125 scan shape and the
element writers osm.go:205-282) on Spark's native to_xml/from_xml.

The reference's wire format is attribute-heavy:

    <node id=".." lat=".." lon=".." version=".." changeset=".."
          timestamp="..">
      <tag k=".." v=".."/>
    </node>

Spark XML maps attributes through the ``_`` attribute prefix, so the
element renders byte-compatible with the reference writer (attribute
order follows struct field order) and parses back losslessly. All JVM —
no Python in the codec path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_NODE_SCHEMA = (
    "struct<_id:bigint,_lat:double,_lon:double,_version:int,"
    "_changeset:bigint,tag:array<struct<_k:string,_v:string>>>"
)


def node_struct(id, lat, lon, version, changeset, tags: Column) -> Column:
    """tags: array<struct<k,v>> (the reference's ordered Tag list,
    tag.go:25-31 — arrays keep order where maps would not)."""

    def c(x):
        return F.col(x) if isinstance(x, str) else x

    return F.struct(
        c(id).alias("_id"),
        c(lat).alias("_lat"),
        c(lon).alias("_lon"),
        c(version).alias("_version"),
        c(changeset).alias("_changeset"),
        F.transform(
            tags,
            lambda t: F.struct(t["k"].alias("_k"), t["v"].alias("_v")),
        ).alias("tag"),
    )


def node_to_xml(node: Column) -> Column:
    return F.to_xml(node, {"rowTag": "node"})


def xml_to_node(xml: Column) -> Column:
    return F.from_xml(xml, _NODE_SCHEMA, {"rowTag": "node"})


# Way / relation element shapes (osm.go:205-282 writers): ways carry
# ordered <nd ref=".."/> children, relations ordered <member type=".."
# ref=".." role=".."/> children, both plus <tag k v/> lists.

_WAY_SCHEMA = (
    "struct<_id:bigint,_version:int,_changeset:bigint,"
    "nd:array<struct<_ref:bigint>>,"
    "tag:array<struct<_k:string,_v:string>>>"
)

_REL_SCHEMA = (
    "struct<_id:bigint,_version:int,_changeset:bigint,"
    "member:array<struct<_type:string,_ref:bigint,_role:string>>,"
    "tag:array<struct<_k:string,_v:string>>>"
)


def way_struct(id, version, changeset, refs: Column, tags: Column) -> Column:
    """refs: array<long> (ordered WayNodes, way.go:60-68)."""

    def c(x):
        return F.col(x) if isinstance(x, str) else x

    return F.struct(
        c(id).alias("_id"),
        c(version).alias("_version"),
        c(changeset).alias("_changeset"),
        F.transform(refs, lambda r: F.struct(r.alias("_ref"))).alias("nd"),
        F.transform(
            tags, lambda t: F.struct(t["k"].alias("_k"), t["v"].alias("_v"))
        ).alias("tag"),
    )


def relation_struct(id, version, changeset, members: Column, tags: Column) -> Column:
    """members: array<struct<type,ref,role>> (ordered, relation.go:61-82)."""

    def c(x):
        return F.col(x) if isinstance(x, str) else x

    return F.struct(
        c(id).alias("_id"),
        c(version).alias("_version"),
        c(changeset).alias("_changeset"),
        F.transform(
            members,
            lambda m: F.struct(
                m["type"].alias("_type"),
                m["ref"].alias("_ref"),
                m["role"].alias("_role"),
            ),
        ).alias("member"),
        F.transform(
            tags, lambda t: F.struct(t["k"].alias("_k"), t["v"].alias("_v"))
        ).alias("tag"),
    )


def way_to_xml(way: Column) -> Column:
    return F.to_xml(way, {"rowTag": "way"})


def relation_to_xml(rel: Column) -> Column:
    return F.to_xml(rel, {"rowTag": "relation"})
