"""Segment joining / ring assembly / multipolygon construction.

The greedy endpoint-matching algorithm is inherently sequential per
relation, so it lives in plain Python kernels (relations are small —
SURVEY §7 "hard parts"). The Spark layer collects each relation's
members and way geometries in the JVM (one aggregate, sorted by member
index and capped there) and runs the kernels in one ``mapInArrow``
pass, relation by relation over each Arrow batch, writing the output
rings as flat Arrow arrays. Semantics are ported branch-exactly from
the reference:

- join_segments        internal/mputil/join.go:4-80 (incl. the
                       first-half shift-up / second-half shift-down
                       removal and the take-from-END start segment)
- compact              join.go:82-94 (drop <=1-point segments)
- Segment.Reverse      mputil.go:19-23
- MultiSegment.Ring    mputil.go:64-101 (member-orientation logic)
- MultiSegment.Orientation  mputil.go:104-124 (origin-offset shoelace,
                       sequential summation)
- group outer/inner    mputil.go:126-185 (orientation-based reversal)
- build_polygon        osmgeojson/build_polygon.go:12-179 (old-style
                       single-outer path and multi-outer PIP assignment)
- addToMultiPolygon    build_polygon.go:181-216
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from osm_spark.geo.pip import polygon_contains_ring, ring_orientation

CCW, CW = 1, -1


@dataclass
class Segment:
    line: list[tuple[float, float]]
    index: int = 0
    orientation: int = 0  # 1 CCW, -1 CW, 0 unknown
    reversed: bool = False

    def reverse(self):
        self.reversed = not self.reversed
        self.line = self.line[::-1]

    def first(self):
        return self.line[0]

    def last(self):
        return self.line[-1]

    def copy(self):
        return Segment(list(self.line), self.index, self.orientation, self.reversed)


def compact(segments: list[Segment]) -> list[Segment]:
    """join.go:82-94: single-point/empty segments are dropped."""
    return [s for s in segments if len(s.line) > 1]


def join_segments(segments: list[Segment]) -> list[list[Segment]]:
    """join.go:4-80, order-exact: start from the LAST segment, extend the
    current multisegment at either end (reversing candidates as needed),
    bail to a new group on dangling ends."""
    segments = [s.copy() for s in compact(segments)]
    lists: list[list[Segment]] = []
    while segments:
        current = [segments.pop()]
        while segments and current[0].line[0] != current[-1].line[-1]:
            first = current[0].line[0]
            last = current[-1].line[-1]
            found_at = -1
            for i, seg in enumerate(segments):
                if last == seg.first():
                    seg = seg.copy()
                    seg.line = seg.line[1:]
                    current.append(seg)
                    found_at = i
                    break
                elif last == seg.last():
                    seg = seg.copy()
                    seg.reverse()
                    seg.line = seg.line[1:]
                    current.append(seg)
                    found_at = i
                    break
                elif first == seg.last():
                    seg = seg.copy()
                    seg.line = seg.line[:-1]
                    current.insert(0, seg)
                    found_at = i
                    break
                elif first == seg.first():
                    seg = seg.copy()
                    seg.reverse()
                    seg.line = seg.line[:-1]
                    current.insert(0, seg)
                    found_at = i
                    break
            if found_at == -1:
                break  # dangling way / unclosed ring
            segments.pop(found_at)
        lists.append(current)
    return lists


def multi_segment_linestring(ms: list[Segment]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for s in ms:
        out.extend(s.line)
    return out


def multi_segment_orientation(ms: list[Segment]) -> int:
    """mputil.go:104-124 via the shared origin-offset kernel."""
    pts = multi_segment_linestring(ms)
    xs = np.asarray([p[0] for p in pts])
    ys = np.asarray([p[1] for p in pts])
    return ring_orientation(xs, ys)


def multi_segment_ring(ms: list[Segment], want: int) -> list[tuple[float, float]]:
    """mputil.go:64-101: prefer member orientation annotations; fall back
    to computed orientation; reverse to the wanted winding."""
    ring = multi_segment_linestring(ms)
    have_orient = False
    reversed_flag = False
    for s in ms:
        if s.orientation != 0:
            have_orient = True
            if (s.orientation == want) == s.reversed:
                reversed_flag = True
    if (have_orient and reversed_flag) or (
        not have_orient and _ring_orientation_pts(ring) != want
    ):
        ring = ring[::-1]
    return ring


def _ring_orientation_pts(pts: list[tuple[float, float]]) -> int:
    if not pts:
        return CW
    xs = np.asarray([p[0] for p in pts])
    ys = np.asarray([p[1] for p in pts])
    return ring_orientation(xs, ys)


def _closed(ring: list[tuple[float, float]]) -> bool:
    return len(ring) > 0 and ring[0] == ring[-1]


def add_to_multipolygon(mp: list[list[list]], ring, include_invalid: bool):
    """build_polygon.go:181-216: assign an inner ring to the first outer
    that ray-cast-contains any of its vertices."""
    rx = np.asarray([p[0] for p in ring])
    ry = np.asarray([p[1] for p in ring])
    for poly in mp:
        outer = poly[0]
        if outer and polygon_contains_ring(
            [p[0] for p in outer], [p[1] for p in outer], rx, ry
        ):
            poly.append(ring)
            return mp
    if not include_invalid:
        return mp
    if mp:
        fr = mp[0][0]
        if fr and fr[0] != fr[-1]:
            mp[0].append(ring)
            return mp
        for poly in mp:
            if not poly[0]:
                poly.append(ring)
                return mp
    mp.append([[], ring])
    return mp


def build_multipolygon(
    members: list[dict],
    way_lines: dict[int, list[tuple[float, float]]],
    include_invalid: bool = False,
) -> dict | None:
    """build_polygon.go:12-179 geometry core (tags/feature-id handling is
    the caller's concern). Returns
    {polygons: [[ring, ...]], tainted: bool, old_style: bool} or None.
    """
    outer: list[Segment] = []
    inner: list[Segment] = []
    tainted = False
    outer_count = 0
    for i, m in enumerate(members):
        if m.get("type") != "way" or m.get("role") not in ("inner", "outer"):
            continue
        if m["role"] == "outer":
            outer_count += 1
        line = way_lines.get(m["ref"])
        if line is None:
            tainted = True
            continue
        if len(line) == 0:
            continue
        seg = Segment(list(line), index=i, orientation=int(m.get("orientation") or 0))
        if m["role"] == "outer":
            if seg.orientation == CW:
                seg.reverse()
            outer.append(seg)
        else:
            if seg.orientation == CCW:
                seg.reverse()
            inner.append(seg)

    if len(outer) == 0 and not include_invalid:
        return None
    if len(outer) == 1 and outer_count == 1:
        # old-style multipolygon: single outer way carries the tags
        outer_ring = multi_segment_ring(outer, CCW)
        if len(outer_ring) < 4 or not _closed(outer_ring):
            return None
        polygon = [outer_ring]
        for isec in join_segments(inner):
            polygon.append(multi_segment_ring(isec, CW))
        return {"polygons": [polygon], "tainted": tainted, "old_style": True}

    mp: list[list[list]] = []
    for osec in join_segments(outer):
        ring = multi_segment_ring(osec, CCW)
        if not include_invalid and (len(ring) < 4 or not _closed(ring)):
            continue
        mp.append([ring])
    if not mp and not include_invalid:
        return None
    for isec in join_segments(inner):
        ring = multi_segment_ring(isec, CW)
        mp = add_to_multipolygon(mp, ring, include_invalid)
    if not mp:
        return None
    return {"polygons": mp, "tainted": tainted, "old_style": False}


def build_route_linestrings(
    members: list[dict], way_lines: dict[int, list[tuple[float, float]]]
) -> dict:
    """convert.go:233-301 (buildRouteLineString): member ways joined into
    LineString/MultiLineString via the same greedy segment join."""
    segs: list[Segment] = []
    tainted = False
    for i, m in enumerate(members):
        if m.get("type") != "way":
            continue
        line = way_lines.get(m["ref"])
        if line is None:
            tainted = True
            continue
        if len(line) == 0:
            continue
        segs.append(Segment(list(line), index=i))
    joined = join_segments(segs)
    return {
        "lines": [multi_segment_linestring(ms) for ms in joined],
        "tainted": tainted,
    }


# ---------------------------------------------------------------- Spark layer
_LINE = "array<struct<lon:double,lat:double>>"


def _assemble_per_relation(relations, way_geoms, fields, max_members, out_schema, build):
    """Shared Spark layer of the assemblies: explode members -> left
    join way geometries on ref -> one member list per relation, sorted
    by member index and capped at ``max_members`` in the JVM -> one
    mapInArrow pass whose kernel calls ``build(members, way_lines,
    capped)`` per relation. ``build`` returns the relation's output rows
    without ``rel_id``; the one array column of ``out_schema`` carries
    (lon, lat) tuples and is written as flat Arrow arrays.

    The cap is the mega-relation scale guard: the greedy ring join is
    a sequential per-relation kernel, so a coastline-sized relation
    (10^4-10^5 members) would pin one task for minutes; ``capped`` lets
    ``build`` surface the truncation through the reference's own taint
    channel (mputil.go Group's tainted flag covers exactly "geometry
    incomplete")."""
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import ArrayType

    exploded = relations.select(
        "rel_id", F.posexplode("members").alias("midx", "m")
    ).select("rel_id", "midx", *[F.col(f"m.{f}").alias(f) for f in fields])
    member_lists = (
        exploded.join(way_geoms, "ref", "left")
        .groupBy("rel_id")
        .agg(F.collect_list(F.struct("midx", *fields, "line")).alias("ms"))
        .select(
            "rel_id",
            (F.size("ms") > max_members).alias("capped"),
            F.slice(F.array_sort("ms"), 1, max_members).alias("ms"),
        )
    )
    arrow_schema = to_arrow_schema(out_schema)
    line_at = next(
        i for i, f in enumerate(out_schema.fields) if isinstance(f.dataType, ArrayType)
    )

    def to_batch(rows):
        cols = list(zip(*rows))
        arrays = []
        for i, col in enumerate(cols):
            typ = arrow_schema.field(i).type
            if i != line_at:
                arrays.append(pa.array(col, type=typ))
                continue
            offsets = np.zeros(len(col) + 1, dtype=np.int32)
            np.cumsum([len(line) for line in col], out=offsets[1:])
            pts = np.asarray(
                [p for line in col for p in line], dtype=np.float64
            ).reshape(-1, 2)
            arrays.append(
                pa.ListArray.from_arrays(
                    pa.array(offsets),
                    pa.StructArray.from_arrays(
                        [pa.array(pts[:, 0]), pa.array(pts[:, 1])],
                        fields=list(typ.value_type),
                    ),
                    type=typ,
                )
            )
        return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    def kernel(batches):
        for batch in batches:
            rel_ids = batch.column(0).to_pylist()
            capped = batch.column(1).to_pylist()
            ms = batch.column(2)
            moff = ms.offsets.to_numpy()
            st = ms.values
            vals = {f: st.field(f).to_pylist() for f in fields}
            refs = vals["ref"]
            lines = st.field("line")
            has_line = lines.is_valid().to_numpy(zero_copy_only=False)
            loff = lines.offsets.to_numpy()
            lons = lines.values.field("lon").to_numpy(zero_copy_only=False).tolist()
            lats = lines.values.field("lat").to_numpy(zero_copy_only=False).tolist()
            rows = []
            for i, rel_id in enumerate(rel_ids):
                members, way_lines = [], {}
                for j in range(moff[i], moff[i + 1]):
                    members.append({f: vals[f][j] for f in fields})
                    if has_line[j]:
                        a, b = loff[j], loff[j + 1]
                        way_lines[refs[j]] = list(zip(lons[a:b], lats[a:b]))
                rows.extend(
                    (rel_id, *row) for row in build(members, way_lines, capped[i])
                )
            if rows:
                yield to_batch(rows)

    return member_lists.mapInArrow(kernel, schema=out_schema)


def assemble_multipolygons_df(relations, way_geoms, max_members: int = 20000):
    """Distributed multipolygon assembly (SURVEY §3.3 Spark shape).

    relations: (rel_id long, members array<struct<type:string, ref:long,
               role:string, orientation:int>>)
    way_geoms: (ref long, line array<struct<lon:double, lat:double>>)

    Plan: explode members -> shuffle join way geometries on ref ->
    collect each relation's members in one aggregate (all JVM) -> one
    mapInArrow pass running the sequential greedy assembly
    (``build_multipolygon``) relation by relation. Relations past
    ``max_members`` members keep their first ``max_members`` and come
    out tainted. Returns one row per ring:
    (rel_id, poly_idx, ring_idx, ring array<struct<lon,lat>>,
     tainted, old_style).
    """
    from pyspark.sql.types import _parse_datatype_string

    out_schema = _parse_datatype_string(
        f"rel_id long, poly_idx int, ring_idx int, ring {_LINE}, "
        "tainted boolean, old_style boolean"
    )

    def build(members, way_lines, capped):
        res = build_multipolygon(members, way_lines)
        if res is None:
            return []
        tainted = res["tainted"] or capped
        return [
            (pi, ri, ring, tainted, res["old_style"])
            for pi, poly in enumerate(res["polygons"])
            for ri, ring in enumerate(poly)
        ]

    return _assemble_per_relation(
        relations, way_geoms, ("type", "ref", "role", "orientation"),
        max_members, out_schema, build,
    )


def assemble_routes_df(relations, way_geoms, max_members: int = 20000):
    """Distributed route-linestring assembly (convert.go:233-301 via the
    same explode -> join -> collect -> mapInArrow shape as
    multipolygons).

    relations: (rel_id long, members array<struct<type:string, ref:long,
               ...>>)
    way_geoms: (ref long, line array<struct<lon:double, lat:double>>)

    Returns one row per joined line:
    (rel_id, line_idx, line array<struct<lon,lat>>, tainted).
    """
    from pyspark.sql.types import _parse_datatype_string

    out_schema = _parse_datatype_string(
        f"rel_id long, line_idx int, line {_LINE}, tainted boolean"
    )

    def build(members, way_lines, capped):
        res = build_route_linestrings(members, way_lines)
        tainted = res["tainted"] or capped
        return [(li, line, tainted) for li, line in enumerate(res["lines"])]

    return _assemble_per_relation(
        relations, way_geoms, ("type", "ref"), max_members, out_schema, build
    )
