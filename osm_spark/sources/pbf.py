"""OSM PBF wire format — dependency-free encoder/decoder + Spark scan.

The reference's primary bulk format (osmpbf/decode.go, decode_data.go):
a length-framed stream of protobuf blobs —

    [4-byte BigEndian size][BlobHeader][Blob] ...   (decode.go:301-330)

with BlobHeader{type=1 string, datasize=3 varint}, Blob{raw=1 |
zlib_data=3, raw_size=2} (fileformat.pb.go:37-46,122-124), and each
OSMData blob holding one PrimitiveBlock{stringtable=1,
primitivegroup=2, granularity=17 (def 100), lat_offset=19,
lon_offset=20, date_granularity=18 (def 1000)} whose groups carry
DenseNodes{id=1 sint64 packed DELTA, denseinfo=5, lat=8, lon=9 sint64
packed DELTA, keys_vals=10} / Way{id=1, keys=2, vals=3, refs=8 sint64
packed DELTA} / Relation{id=1, keys=2, vals=3, roles_sid=8, memids=9
DELTA, types=10} (osmformat.pb.go:288-296,387-390, DenseNodes/Way/
Relation structs). Coordinates decode as
1e-9 * (offset + granularity * v) (decode_data.go:595-607).

This module implements the protobuf wire layer by hand (varint,
zigzag, packed repeated fields, length-delimited messages — all public
spec) so the engine genuinely reads and writes the reference's wire
format with zero dependencies beyond stdlib zlib + numpy. Delta
decoding of the packed columns is numpy ``cumsum`` — the wire format
is ALREADY columnar, which is exactly why it maps onto the DataFrame
engine without a row-object detour (SURVEY §1: DenseNodes are
delta-coded parallel arrays).

Spark scan shape: the driver walks the file's framing (cheap — seeks
only) and splits its blobs into contiguous runs, one task each; every
task preads its own blobs and decodes them into Arrow columns inside
``mapInArrow``, one reader per element kind — the distributed analog
of the reference's worker fan-out (decode.go:113-160, one goroutine per
data blob). ``decode_primitive_block`` is the row-wise decoder: the
fallback for plain-Node blocks and the reference the tests compare the
Arrow decoders against.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ------------------------------------------------------------ wire layer
_VARINT, _I64, _LEN, _I32 = 0, 1, 2, 5


def _uvarint(v: int) -> bytes:
    out = bytearray()
    v &= (1 << 64) - 1
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zig(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1


def _unzig(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _tag(field: int, wt: int) -> bytes:
    return _uvarint((field << 3) | wt)


def _len_field(field: int, payload: bytes) -> bytes:
    return _tag(field, _LEN) + _uvarint(len(payload)) + payload


def _packed(field: int, values, zigzag: bool) -> bytes:
    if len(values) == 0:
        return b""
    body = b"".join(
        _uvarint(_zig(int(v)) if zigzag else int(v)) for v in values
    )
    return _len_field(field, body)


def _varint_field(field: int, v: int) -> bytes:
    return _tag(field, _VARINT) + _uvarint(int(v))


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def uvarint(self) -> int:
        v = 0
        shift = 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            v |= (b & 0x7F) << shift
            if not b & 0x80:
                return v
            shift += 7

    def fields(self):
        """Yield (field, wiretype, value) over one message; LEN values
        are byte slices, varints ints (i32/i64 raw ints)."""
        while self.pos < len(self.buf):
            key = self.uvarint()
            field, wt = key >> 3, key & 7
            if wt == _VARINT:
                yield field, wt, self.uvarint()
            elif wt == _LEN:
                ln = self.uvarint()
                yield field, wt, self.buf[self.pos : self.pos + ln]
                self.pos += ln
            elif wt == _I64:
                yield field, wt, struct.unpack_from("<q", self.buf, self.pos)[0]
                self.pos += 8
            elif wt == _I32:
                yield field, wt, struct.unpack_from("<i", self.buf, self.pos)[0]
                self.pos += 4
            else:
                raise ValueError(f"unsupported wire type {wt}")


def _unpack_varints_scalar(buf: bytes, zigzag: bool) -> np.ndarray:
    r = _Reader(buf)
    out = []
    while r.pos < len(buf):
        v = r.uvarint()
        out.append(_unzig(v) if zigzag else v)
    return np.array(out, dtype=np.int64)


def _unpack_varints(buf: bytes, zigzag: bool) -> np.ndarray:
    """Vectorized packed-varint decode — the dense-node hot path.

    A packed field is back-to-back varints: continuation bit 0x80,
    7 payload bits per byte, little-endian groups of <=10 bytes
    (sint64). Instead of a per-byte Python loop (~2M varints/s), build
    every value with numpy segment math (~50x):

      payload[i]  = byte[i] & 0x7f
      group_of[i] = how many terminator bytes precede i (cumsum)
      pos_in_group= i - first_index(group_of[i])
      value[g]    = OR over its bytes of payload << (7 * pos)

    The OR is an add (bit ranges are disjoint) via np.add.reduceat on
    uint64; bytes 9/10 of a 10-byte varint shift past bit 63 and wrap,
    but protobuf guarantees those bits only sign-extend, and the final
    cast to int64 reproduces the two's-complement value exactly (the
    scalar path's `(v & MASK64)` equivalence — property-tested against
    _unpack_varints_scalar including 10-byte negatives)."""
    n = len(buf)
    if n == 0:
        return np.array([], dtype=np.int64)
    a = np.frombuffer(buf, dtype=np.uint8)
    is_end = (a & 0x80) == 0
    ends = np.flatnonzero(is_end)
    if len(ends) == n:  # all single-byte (versions, flags, small deltas)
        vals = a.astype(np.int64)
        if zigzag:
            return (vals >> 1) ^ -(vals & 1)
        return vals
    # first byte of each group = previous end + 1
    starts = np.empty(len(ends), dtype=np.int64)
    starts[0] = 0
    np.add(ends[:-1], 1, out=starts[1:])
    grp = np.zeros(n, dtype=np.int64)
    if n > 1:
        grp[1:] = np.cumsum(is_end[:-1])
    pos = np.arange(n, dtype=np.int64) - starts[grp]
    contrib = (a & 0x7F).astype(np.uint64) << (7 * pos).astype(np.uint64)
    vals = np.add.reduceat(contrib, starts)
    if zigzag:
        u = vals
        out = (u >> np.uint64(1)).astype(np.int64) ^ -(
            (u & np.uint64(1)).astype(np.int64)
        )
        return out
    return vals.astype(np.int64)


# ---------------------------------------------------------------- encode
GRANULARITY = 100
DATE_GRANULARITY = 1000
NANO = 1_000_000_000


class _StringTable:
    """Index 0 is reserved blank (osmformat.proto: '0 is used as a
    delimiter' in keys_vals)."""

    def __init__(self):
        self.idx: dict[str, int] = {"": 0}
        self.items: list[str] = [""]

    def add(self, s: str) -> int:
        i = self.idx.get(s)
        if i is None:
            i = len(self.items)
            self.idx[s] = i
            self.items.append(s)
        return i

    def encode(self) -> bytes:
        return b"".join(
            _len_field(1, s.encode("utf-8")) for s in self.items
        )


def _delta(values) -> list[int]:
    out = []
    prev = 0
    for v in values:
        out.append(int(v) - prev)
        prev = int(v)
    return out


def _chunked(items, k):
    """Split items into k contiguous runs (ceil-sized); nothing for
    empty input."""
    if not items:
        return
    k = max(1, min(int(k), len(items)))
    step = -(-len(items) // k)
    for i in range(0, len(items), step):
        yield items[i : i + step]


def _coord(deg: float) -> int:
    # nearest granularity unit of nano-degrees; floor(x + 0.5) instead
    # of round() so the oracle can reproduce the grid exactly (banker's
    # rounding differs between numpy/python and SQL engines)
    import math

    return int(math.floor(deg * NANO / GRANULARITY + 0.5))


def encode_primitive_block(
    nodes: list[dict] | None = None,
    ways: list[dict] | None = None,
    relations: list[dict] | None = None,
    dense_chunks: int = 1,
    plain_nodes: list[dict] | None = None,
) -> bytes:
    """One PrimitiveBlock: nodes as DenseNodes group(s) (with DenseInfo
    when any node carries meta), ways/relations as their own group.

    nodes: {id, lat, lon, tags?, version?, timestamp?(unix s),
            changeset?, uid?, user?, visible?}
    ways: {id, refs, tags?}; relations: {id, members: [(type, ref,
    role)], tags?} with type in node/way/relation.

    dense_chunks > 1 splits the dense nodes across that many DenseNodes
    groups (legal — the format allows several groups per block; delta
    chains restart per group).  plain_nodes emits a non-dense
    PrimitiveGroup of repeated Node messages (field 1), which the
    format equally allows (reference decodes both,
    decode_data.go)."""
    st = _StringTable()
    groups = []

    for pn in plain_nodes or []:
        body = _tag(1, 0) + _uvarint(_zig(int(pn["id"])))
        tags = pn.get("tags") or {}
        if tags:
            body += _packed(2, [st.add(k) for k in tags], zigzag=False)
            body += _packed(3, [st.add(v) for v in tags.values()], zigzag=False)
        if "version" in pn:
            info = _varint_field(1, pn.get("version", 0))
            info += _varint_field(
                2, int(pn.get("timestamp", 0)) * 1000 // DATE_GRANULARITY
            )
            info += _varint_field(3, pn.get("changeset", 0))
            info += _varint_field(4, pn.get("uid", 0))
            info += _varint_field(5, st.add(pn.get("user", "")))
            info += _varint_field(6, 1 if pn.get("visible", True) else 0)
            body += _len_field(4, info)
        body += _tag(8, 0) + _uvarint(_zig(_coord(pn["lat"])))
        body += _tag(9, 0) + _uvarint(_zig(_coord(pn["lon"])))
        groups.append(_len_field(1, body))

    for nodes in _chunked(nodes, dense_chunks):
        ids = _packed(1, _delta([n["id"] for n in nodes]), zigzag=True)
        lats = _packed(
            8, _delta([_coord(n["lat"]) for n in nodes]), zigzag=True
        )
        lons = _packed(
            9, _delta([_coord(n["lon"]) for n in nodes]), zigzag=True
        )
        kv: list[int] = []
        for n in nodes:
            for k, v in (n.get("tags") or {}).items():
                kv.append(st.add(k))
                kv.append(st.add(v))
            kv.append(0)
        kvs = _packed(10, kv, zigzag=False) if any(kv) else b""
        dense = ids
        if any("version" in n for n in nodes):
            info = (
                _packed(1, [n.get("version", 0) for n in nodes], zigzag=False)
                + _packed(
                    2,
                    _delta(
                        [
                            int(n.get("timestamp", 0)) * 1000 // DATE_GRANULARITY
                            for n in nodes
                        ]
                    ),
                    zigzag=True,
                )
                + _packed(
                    3, _delta([n.get("changeset", 0) for n in nodes]), zigzag=True
                )
                + _packed(4, _delta([n.get("uid", 0) for n in nodes]), zigzag=True)
                + _packed(
                    5,
                    _delta([st.add(n.get("user", "")) for n in nodes]),
                    zigzag=True,
                )
                + _packed(
                    6, [1 if n.get("visible", True) else 0 for n in nodes],
                    zigzag=False,
                )
            )
            dense += _len_field(5, info)
        dense += lats + lons + kvs
        groups.append(_len_field(2, dense))

    def _info_field(el: dict) -> bytes:
        """Optional Info submessage (field 4) for ways/relations —
        same layout the reference parses in scanWays/scanRelations
        (osmpbf/decode_data.go:534-586)."""
        if "version" not in el:
            return b""
        info = _varint_field(1, el.get("version", 0))
        info += _varint_field(
            2, int(el.get("timestamp", 0)) * 1000 // DATE_GRANULARITY
        )
        info += _varint_field(3, el.get("changeset", 0))
        info += _varint_field(4, el.get("uid", 0))
        info += _varint_field(5, st.add(el.get("user", "")))
        info += _varint_field(6, 1 if el.get("visible", True) else 0)
        return _len_field(4, info)

    # one PrimitiveGroup holding ALL the block's ways (the real planet
    # layout — a group contains repeated messages of one element type),
    # not one group per way
    way_group = bytearray()
    for w in ways or []:
        body = _varint_field(1, w["id"])
        tags = w.get("tags") or {}
        body += _packed(2, [st.add(k) for k in tags], zigzag=False)
        body += _packed(3, [st.add(v) for v in tags.values()], zigzag=False)
        body += _info_field(w)
        body += _packed(8, _delta(w["refs"]), zigzag=True)
        if "lats" in w:
            # locations-on-ways (osmium add-locations-to-ways; the
            # reference loads these automatically, decode_data.go:607-647
            # Way fields 9/10): per-node coordinates as zigzag delta
            # chains in block granularity, parallel to refs
            body += _packed(
                9, _delta([_coord(x) for x in w["lats"]]), zigzag=True
            )
            body += _packed(
                10, _delta([_coord(x) for x in w["lons"]]), zigzag=True
            )
        way_group += _len_field(3, body)
    if way_group:
        groups.append(bytes(way_group))

    _MTYPE = {"node": 0, "way": 1, "relation": 2}
    rel_group = bytearray()
    for r in relations or []:
        body = _varint_field(1, r["id"])
        tags = r.get("tags") or {}
        body += _packed(2, [st.add(k) for k in tags], zigzag=False)
        body += _packed(3, [st.add(v) for v in tags.values()], zigzag=False)
        body += _info_field(r)
        mem = r.get("members") or []
        body += _packed(8, [st.add(m[2]) for m in mem], zigzag=False)
        body += _packed(9, _delta([m[1] for m in mem]), zigzag=True)
        body += _packed(10, [_MTYPE[m[0]] for m in mem], zigzag=False)
        rel_group += _len_field(4, body)
    if rel_group:
        groups.append(bytes(rel_group))

    block = _len_field(1, st.encode())
    for g in groups:
        block = block[:] + _len_field(2, g)
    block += _varint_field(17, GRANULARITY)
    block += _varint_field(18, DATE_GRANULARITY)
    return block


def _blob(payload: bytes, compress: bool = True) -> bytes:
    if compress:
        z = zlib.compress(payload)
        return _varint_field(2, len(payload)) + _len_field(3, z)
    return _len_field(1, payload)


def _framed(btype: str, blob: bytes) -> bytes:
    header = _len_field(1, btype.encode()) + _varint_field(3, len(blob))
    return struct.pack(">I", len(header)) + header + blob


def encode_pbf(blocks: list[bytes], with_history: bool = False) -> bytes:
    """Frame PrimitiveBlocks into a full .osm.pbf byte stream with an
    OSMHeader declaring the features the reference requires
    (decode.go:33-34, scanner feature checks)."""
    feats = ["OsmSchema-V0.6", "DenseNodes"]
    if with_history:
        feats.append("HistoricalInformation")
    header = b"".join(_len_field(4, f.encode()) for f in feats)
    out = bytearray(_framed("OSMHeader", _blob(header)))
    for blk in blocks:
        out += _framed("OSMData", _blob(blk))
    return bytes(out)


# ---------------------------------------------------------------- decode
def split_blobs(buf: bytes) -> list[tuple[str, bytes]]:
    """Framing walk (decode.go:301-330): -> [(type, blob_bytes)]."""
    out = []
    pos = 0
    while pos < len(buf):
        (hsize,) = struct.unpack_from(">I", buf, pos)
        pos += 4
        hdr = _Reader(buf[pos : pos + hsize])
        btype = ""
        datasize = 0
        for f, wt, v in hdr.fields():
            if f == 1:
                btype = v.decode()
            elif f == 3:
                datasize = v
        pos += hsize
        out.append((btype, buf[pos : pos + datasize]))
        pos += datasize
    return out


def decompress_blob(blob: bytes) -> bytes:
    raw = None
    for f, wt, v in _Reader(blob).fields():
        if f == 1:
            raw = v
        elif f == 3:
            raw = zlib.decompress(v)
    if raw is None:
        raise ValueError("Blob holds neither raw nor zlib_data")
    return raw


def decode_header(payload: bytes) -> dict:
    feats = []
    bbox = None
    for f, wt, v in _Reader(payload).fields():
        if f == 4:
            feats.append(v.decode())
        elif f == 1:
            b = {}
            for ff, _, vv in _Reader(v).fields():
                b[ff] = _unzig(vv) * 1e-9
            bbox = (b.get(1), b.get(2), b.get(3), b.get(4))
    return {"required_features": feats, "bbox": bbox}


def decode_primitive_block(
    payload: bytes, want_tags: bool = True, want_info: bool = True
) -> dict:
    """-> {"nodes": {col: np.ndarray/list}, "ways": [...],
    "relations": [...]}; coordinates decoded per decode_data.go:595-607.

    ``want_tags``/``want_info`` prune the keys_vals and DenseInfo
    decode — the column-projection twin of the reference scanner's
    Skip*/Filter* flags (osmpbf scanner options): a scan that only
    needs id/lat/lon skips the per-node dict building entirely."""
    strings: list[str] = []
    groups: list[bytes] = []
    gran, lat_off, lon_off, dgran = GRANULARITY, 0, 0, DATE_GRANULARITY
    for f, wt, v in _Reader(payload).fields():
        if f == 1:
            for ff, _, vv in _Reader(v).fields():
                if ff == 1:
                    strings.append(vv.decode("utf-8"))
        elif f == 2:
            groups.append(v)
        elif f == 17:
            gran = v
        elif f == 18:
            dgran = v
        elif f == 19:
            lat_off = v
        elif f == 20:
            lon_off = v

    node_chunks: list[dict] = []
    ways: list[dict] = []
    relations: list[dict] = []
    _MTYPE = {0: "node", 1: "way", 2: "relation"}
    for g in groups:
        # plain (non-dense) Node messages in this group — the format
        # allows both shapes and the reference decodes both
        # (decode_data.go); round-3 silently dropped these (ADVICE r03)
        plain: dict[str, list] = {
            "id": [], "lat": [], "lon": [], "tags": [],
        }
        plain_info: dict[str, list] = {}
        for f, wt, v in _Reader(g).fields():
            if f == 1:  # Node (plain)
                nid = lat_u = lon_u = 0
                tags: dict[str, str] = {}
                keys = vals = None
                info_msg: dict[int, int] = {}
                for ff, _, vv in _Reader(v).fields():
                    if ff == 1:
                        nid = _unzig(vv)
                    elif ff == 2:
                        keys = _unpack_varints(vv, False)
                    elif ff == 3:
                        vals = _unpack_varints(vv, False)
                    elif ff == 4:
                        for f3, _, v3 in _Reader(vv).fields():
                            info_msg[f3] = v3
                    elif ff == 8:
                        lat_u = _unzig(vv)
                    elif ff == 9:
                        lon_u = _unzig(vv)
                if keys is not None and want_tags:
                    tags = {strings[k]: strings[x] for k, x in zip(keys, vals)}
                plain["id"].append(nid)
                plain["lat"].append(1e-9 * (lat_off + gran * lat_u))
                plain["lon"].append(1e-9 * (lon_off + gran * lon_u))
                plain["tags"].append(tags)
                if info_msg and want_info:
                    n_seen = len(plain["id"]) - 1
                    for col, default in _NODE_INFO_DEFAULTS.items():
                        plain_info.setdefault(col, [default] * n_seen)
                    plain_info["version"].append(info_msg.get(1, 0))
                    plain_info["timestamp"].append(
                        info_msg.get(2, 0) * dgran // 1000
                    )
                    plain_info["changeset"].append(info_msg.get(3, 0))
                    plain_info["uid"].append(info_msg.get(4, 0))
                    plain_info["user"].append(strings[info_msg.get(5, 0)])
                    plain_info["visible"].append(info_msg.get(6, 1) != 0)
                elif plain_info:
                    for col, default in _NODE_INFO_DEFAULTS.items():
                        plain_info[col].append(default)
            elif f == 2:  # DenseNodes
                chunk: dict = {}
                cols: dict[int, bytes] = {}
                info: dict[int, bytes] = {}
                for ff, _, vv in _Reader(v).fields():
                    if ff == 5:
                        for f3, _, v3 in _Reader(vv).fields():
                            info[f3] = v3
                    else:
                        cols[ff] = vv
                ids = np.cumsum(_unpack_varints(cols[1], True))
                lat = np.cumsum(_unpack_varints(cols[8], True))
                lon = np.cumsum(_unpack_varints(cols[9], True))
                chunk["id"] = ids
                chunk["lat"] = 1e-9 * (lat_off + gran * lat)
                chunk["lon"] = 1e-9 * (lon_off + gran * lon)
                if 10 in cols and want_tags:
                    # keys_vals: 0-delimited (k,v) index runs, one run
                    # per node — segment on the zeros instead of a
                    # per-entry Python walk (the node-decode hot path)
                    kv = _unpack_varints(cols[10], False)
                    zeros = np.flatnonzero(kv == 0)
                    seg_starts = np.empty(len(zeros), dtype=np.int64)
                    seg_starts[0] = 0
                    np.add(zeros[:-1], 1, out=seg_starts[1:])
                    kvl = kv.tolist()
                    tags = [
                        {
                            strings[kvl[j]]: strings[kvl[j + 1]]
                            for j in range(s, e, 2)
                        }
                        if e > s
                        else {}
                        for s, e in zip(seg_starts.tolist(), zeros.tolist())
                    ]
                    chunk["tags"] = tags
                else:
                    chunk["tags"] = [{} for _ in ids]
                if info and want_info:
                    chunk["version"] = _unpack_varints(info[1], False)
                    chunk["timestamp"] = (
                        np.cumsum(_unpack_varints(info[2], True)) * dgran // 1000
                    )
                    chunk["changeset"] = np.cumsum(_unpack_varints(info[3], True))
                    chunk["uid"] = np.cumsum(_unpack_varints(info[4], True))
                    sids = np.cumsum(_unpack_varints(info[5], True))
                    chunk["user"] = np.asarray(strings, dtype=object)[
                        sids
                    ].tolist()
                    if 6 in info:
                        chunk["visible"] = _unpack_varints(info[6], False) != 0
                node_chunks.append(chunk)
            elif f == 3:  # Way
                w: dict = {"tags": {}}
                keys = vals = None
                w_info: dict[int, int] = {}
                for ff, _, vv in _Reader(v).fields():
                    if ff == 1:
                        w["id"] = vv
                    elif ff == 2:
                        keys = _unpack_varints(vv, False)
                    elif ff == 3:
                        vals = _unpack_varints(vv, False)
                    elif ff == 4 and want_info:
                        for f3, _, v3 in _Reader(vv).fields():
                            w_info[f3] = v3
                    elif ff == 8:
                        w["refs"] = np.cumsum(
                            _unpack_varints(vv, True)
                        ).tolist()
                    elif ff == 9:  # locations-on-ways lat deltas
                        w["lats"] = (
                            1e-9 * (
                                lat_off
                                + gran
                                * np.cumsum(_unpack_varints(vv, True))
                            )
                        ).tolist()
                    elif ff == 10:  # locations-on-ways lon deltas
                        w["lons"] = (
                            1e-9 * (
                                lon_off
                                + gran
                                * np.cumsum(_unpack_varints(vv, True))
                            )
                        ).tolist()
                if keys is not None and want_tags:
                    w["tags"] = {
                        strings[k]: strings[x] for k, x in zip(keys, vals)
                    }
                if w_info:
                    _apply_info(w, w_info, strings, dgran)
                ways.append(w)
            elif f == 4:  # Relation
                r: dict = {"tags": {}, "members": []}
                keys = vals = roles = mems = types = None
                r_info: dict[int, int] = {}
                for ff, _, vv in _Reader(v).fields():
                    if ff == 1:
                        r["id"] = vv
                    elif ff == 2:
                        keys = _unpack_varints(vv, False)
                    elif ff == 3:
                        vals = _unpack_varints(vv, False)
                    elif ff == 4 and want_info:
                        for f3, _, v3 in _Reader(vv).fields():
                            r_info[f3] = v3
                    elif ff == 8:
                        roles = _unpack_varints(vv, False)
                    elif ff == 9:
                        mems = np.cumsum(_unpack_varints(vv, True))
                    elif ff == 10:
                        types = _unpack_varints(vv, False)
                if keys is not None and want_tags:
                    r["tags"] = {
                        strings[k]: strings[x] for k, x in zip(keys, vals)
                    }
                if r_info:
                    _apply_info(r, r_info, strings, dgran)
                if mems is not None:
                    r["members"] = [
                        (_MTYPE[int(t)], int(m), strings[s])
                        for t, m, s in zip(types, mems, roles)
                    ]
                relations.append(r)
        if plain["id"]:
            chunk = {
                "id": np.asarray(plain["id"], dtype=np.int64),
                "lat": np.asarray(plain["lat"], dtype=np.float64),
                "lon": np.asarray(plain["lon"], dtype=np.float64),
                "tags": plain["tags"],
            }
            if plain_info:
                chunk.update(plain_info)
            node_chunks.append(chunk)
    return {
        "nodes": _merge_node_chunks(node_chunks),
        "ways": ways,
        "relations": relations,
    }


_NODE_INFO_DEFAULTS = {
    "version": 0,
    "timestamp": 0,
    "changeset": 0,
    "uid": 0,
    "user": "",
    "visible": True,
}


def _apply_info(el: dict, info: dict[int, int], strings, dgran: int) -> None:
    """Fill an element dict from a parsed Info submessage — the same
    field map the reference walks for ways/relations
    (osmpbf/decode_data.go:534-586)."""
    el["version"] = info.get(1, 0)
    el["timestamp"] = info.get(2, 0) * dgran // 1000
    el["changeset"] = info.get(3, 0)
    el["uid"] = info.get(4, 0)
    el["user"] = strings[info.get(5, 0)]
    el["visible"] = info.get(6, 1) != 0


def _merge_node_chunks(chunks: list[dict]) -> dict:
    """Concatenate per-group node chunks in block order (a block may
    legally carry several DenseNodes groups and/or plain-Node groups;
    round-3 overwrote on the second group — ADVICE r03).  Info columns
    are filled with reference defaults for chunks that lack them."""
    if not chunks:
        return {}
    if len(chunks) == 1:
        return chunks[0]
    out: dict = {
        "id": np.concatenate([np.asarray(c["id"], dtype=np.int64) for c in chunks]),
        "lat": np.concatenate(
            [np.asarray(c["lat"], dtype=np.float64) for c in chunks]
        ),
        "lon": np.concatenate(
            [np.asarray(c["lon"], dtype=np.float64) for c in chunks]
        ),
        "tags": [t for c in chunks for t in c["tags"]],
    }
    info_cols = [
        col
        for col in _NODE_INFO_DEFAULTS
        if any(col in c for c in chunks)
    ]
    for col in info_cols:
        default = _NODE_INFO_DEFAULTS[col]
        parts = [
            list(c[col]) if col in c else [default] * len(c["id"])
            for c in chunks
        ]
        flat = [x for p in parts for x in p]
        if col == "user":
            out[col] = flat
        elif col == "visible":
            out[col] = np.asarray(flat, dtype=bool)
        else:
            out[col] = np.asarray(flat, dtype=np.int64)
    return out


# ------------------------------------------------------------ Spark scan
SUPPORTED_FEATURES = frozenset(
    {"OsmSchema-V0.6", "DenseNodes", "HistoricalInformation"}
)


def _check_header(payload: bytes) -> None:
    """The reference scanner's header feature check (decode.go:
    unsupported required_features abort the scan): raise on a header
    that requires a feature this decoder does not implement."""
    hdr = decode_header(payload)
    unsupported = [
        f for f in hdr["required_features"] if f not in SUPPORTED_FEATURES
    ]
    if unsupported:
        raise ValueError(f"PBF header requires unsupported features: {unsupported}")


def split_count(
    total_bytes: int, max_partition_bytes: int, open_cost: int, min_partitions: int
) -> int:
    """Partitions Spark's file source gives ONE file of ``total_bytes``:
    FilePartition.maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, (bytes + openCostInBytes) / minPartitionNum)),
    then one partition per split of that size. The open cost is paid
    once per file, not once per blob."""
    per_core = (total_bytes + open_cost) // max(1, min_partitions)
    max_split = min(max_partition_bytes, max(open_cost, per_core))
    return max(1, -(-total_bytes // max_split))


def _file_partitions(spark, path: str):
    """Driver side of every .osm.pbf file scan: walk the framing by
    seeks, run the header feature check, and split the OSMData blobs
    into contiguous runs, as many as Spark would split a file of the
    same blob bytes into (``split_count`` over the session's
    ``spark.sql.files.maxPartitionBytes`` / ``openCostInBytes`` /
    ``minPartitionNum`` confs, the last defaulting to the leaf-node
    parallelism). A small file is one task, not one per core.

    Returns ``(df, blobs)``: ``df`` is ``spark.range`` with one row and
    one partition per run (building it starts no job), and
    ``blobs(run_ids)`` yields the inflated payloads of those runs in
    file order; executors pread their own blobs, so nothing but frame
    coordinates crosses the driver."""
    datas = []
    with open(path, "rb") as f:
        for btype, off, ln in walk_frames(path):
            if btype == "OSMHeader":
                f.seek(off)
                _check_header(decompress_blob(f.read(ln)))
            elif btype == "OSMData":
                datas.append((off, ln))
    conf = spark._jsparkSession.sessionState().conf()
    min_parts = conf.filesMinPartitionNum()
    total = sum(ln for _, ln in datas)
    n = min(
        max(1, len(datas)),
        split_count(
            total,
            conf.filesMaxPartitionBytes(),
            conf.filesOpenCostInBytes(),
            min_parts.get() if min_parts.isDefined()
            else spark._jsparkSession.leafNodeDefaultParallelism(),
        ),
    )
    runs: list[list[tuple[int, int]]] = [[] for _ in range(n)]
    start = 0
    for off, ln in datas:  # a blob joins the run its first byte falls in
        runs[min(n - 1, start * n // max(1, total))].append((off, ln))
        start += ln

    def blobs(run_ids):
        with open(path, "rb") as f:
            for r in run_ids:
                for off, ln in runs[r]:
                    f.seek(off)
                    yield decompress_blob(f.read(ln))

    return spark.range(0, n, 1, n), blobs


_NODE_COL_TYPES = {
    "id": "long", "lat": "double", "lon": "double",
    "tags": "map<string,string>", "version": "int", "timestamp": "long",
    "changeset": "long", "uid": "long", "user": "string",
    "visible": "boolean",
}


def _string_table_arrow(payload: bytes):
    """Decode the block's StringTable straight into a pyarrow
    StringArray with ZERO Python string objects: walk the len-prefixed
    fields collecting (offset, length) spans, concatenate the raw
    utf-8 spans once, and assemble the array from buffers. The Arrow
    take() kernel then materializes tag/user columns C++-side."""
    import pyarrow as pa

    spans: list[tuple[int, int]] = []
    r = _Reader(payload)
    st_payload = None
    while r.pos < len(payload):
        key = r.uvarint()
        f, wt = key >> 3, key & 7
        if wt == _LEN:
            ln = r.uvarint()
            if f == 1 and st_payload is None:
                st_payload = payload[r.pos : r.pos + ln]
            r.pos += ln
        elif wt == _VARINT:
            r.uvarint()
        elif wt == _I64:
            r.pos += 8
        elif wt == _I32:
            r.pos += 4
    if st_payload is None:
        return pa.array([], type=pa.utf8())
    # inline walk (the StringTable is all single-byte-key LEN fields;
    # _Reader method calls cost ~2x the loop body at planet string
    # counts); falls back to the generic reader on any other shape
    pos = 0
    L = len(st_payload)
    try:
        while pos < L:
            key = st_payload[pos]
            pos += 1
            if key & 0x80 or (key & 7) != 2:
                raise ValueError("not a LEN-only string table")
            ln = st_payload[pos]
            pos += 1
            if ln & 0x80:
                ln &= 0x7F
                shift = 7
                while True:
                    b = st_payload[pos]
                    pos += 1
                    ln |= (b & 0x7F) << shift
                    if not b & 0x80:
                        break
                    shift += 7
            if key == 0x0A:  # field 1: s
                spans.append((pos, ln))
            pos += ln
    except (ValueError, IndexError):
        spans = []
        rr = _Reader(st_payload)
        while rr.pos < len(st_payload):
            k2 = rr.uvarint()
            ln = rr.uvarint()
            if k2 >> 3 == 1:
                spans.append((rr.pos, ln))
            rr.pos += ln
    data = b"".join(st_payload[s : s + ln] for s, ln in spans)
    lens = np.fromiter((ln for _, ln in spans), dtype=np.int32,
                       count=len(spans))
    offsets = np.zeros(len(spans) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    return pa.StringArray.from_buffers(
        len(spans), pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)
    )


def decode_block_nodes_arrow(
    payload: bytes, want_tags: bool = True, want_info: bool = True
):
    """Arrow-native DenseNodes decode: -> dict of column -> pyarrow
    array/numpy (None when the block has no dense nodes). The
    all-vectorized twin of decode_primitive_block's node path — no
    per-node Python objects anywhere: delta chains are numpy cumsums,
    tags become a MapArray built from keys_vals zero-delimiter offsets
    + take() on the zero-copy string table, users are a take() too.
    Feeds mapInArrow (read_pbf_file_nodes_arrow). A block with any
    plain-Node group decodes whole through ``_row_block_nodes_arrow``."""
    import pyarrow as pa

    strings = _string_table_arrow(payload) if (want_tags or want_info) else None
    gran, lat_off, lon_off, dgran = GRANULARITY, 0, 0, DATE_GRANULARITY
    groups = []
    for f, wt, v in _Reader(payload).fields():
        if f == 2:
            groups.append(v)
        elif f == 17:
            gran = v
        elif f == 18:
            dgran = v
        elif f == 19:
            lat_off = v
        elif f == 20:
            lon_off = v

    chunks = []
    for g in groups:
        for ff, _, vv in _Reader(g).fields():
            if ff == 1:
                return _row_block_nodes_arrow(payload, want_tags, want_info)
            if ff != 2:
                continue
            cols: dict[int, bytes] = {}
            info: dict[int, bytes] = {}
            for f2, _, v2 in _Reader(vv).fields():
                if f2 == 5:
                    for f3, _, v3 in _Reader(v2).fields():
                        info[f3] = v3
                else:
                    cols[f2] = v2
            ids = np.cumsum(_unpack_varints(cols[1], True))
            n = len(ids)
            chunk = {
                "id": ids,
                "lat": 1e-9 * (
                    lat_off + gran * np.cumsum(_unpack_varints(cols[8], True))
                ),
                "lon": 1e-9 * (
                    lon_off + gran * np.cumsum(_unpack_varints(cols[9], True))
                ),
            }
            if want_tags:
                if 10 in cols:
                    kv = _unpack_varints(cols[10], False)
                    zeros = np.flatnonzero(kv == 0)
                    # pairs before each delimiter -> map offsets
                    offsets = np.zeros(n + 1, dtype=np.int32)
                    pair_pos = np.cumsum(
                        np.diff(np.concatenate(([np.int64(-1)], zeros))) - 1
                    ) // 2
                    offsets[1:] = pair_pos[:n]
                    mask = np.ones(len(kv), dtype=bool)
                    mask[zeros] = False
                    kvnz = kv[mask]
                    keys = strings.take(pa.array(kvnz[0::2]))
                    vals = strings.take(pa.array(kvnz[1::2]))
                    chunk["tags"] = pa.MapArray.from_arrays(
                        pa.array(offsets, type=pa.int32()), keys, vals
                    )
                else:
                    offsets = np.zeros(n + 1, dtype=np.int32)
                    chunk["tags"] = pa.MapArray.from_arrays(
                        pa.array(offsets, type=pa.int32()),
                        pa.array([], type=pa.utf8()),
                        pa.array([], type=pa.utf8()),
                    )
            if want_info:
                if info:
                    chunk["version"] = _unpack_varints(
                        info[1], False
                    ).astype(np.int32)
                    chunk["timestamp"] = (
                        np.cumsum(_unpack_varints(info[2], True)) * dgran // 1000
                    )
                    chunk["changeset"] = np.cumsum(
                        _unpack_varints(info[3], True)
                    )
                    chunk["uid"] = np.cumsum(_unpack_varints(info[4], True))
                    chunk["user"] = strings.take(
                        pa.array(np.cumsum(_unpack_varints(info[5], True)))
                    )
                    if 6 in info:
                        chunk["visible"] = (
                            _unpack_varints(info[6], False) != 0
                        )
                    else:
                        chunk["visible"] = np.ones(n, dtype=bool)
                else:
                    chunk["version"] = np.full(
                        n, _NODE_INFO_DEFAULTS["version"], dtype=np.int32
                    )
                    chunk["timestamp"] = np.full(
                        n, _NODE_INFO_DEFAULTS["timestamp"], dtype=np.int64
                    )
                    chunk["changeset"] = np.full(
                        n, _NODE_INFO_DEFAULTS["changeset"], dtype=np.int64
                    )
                    chunk["uid"] = np.full(
                        n, _NODE_INFO_DEFAULTS["uid"], dtype=np.int64
                    )
                    empty = pa.array([""], type=pa.utf8())
                    chunk["user"] = empty.take(
                        pa.array(np.zeros(n, dtype=np.int64))
                    )
                    chunk["visible"] = np.ones(n, dtype=bool)
            chunks.append(chunk)
    if not chunks:
        return None
    if len(chunks) == 1:
        return chunks[0]
    import pyarrow as pa  # noqa: F811

    merged = {}
    for c in chunks[0]:
        vals = [ch[c] for ch in chunks]
        if isinstance(vals[0], pa.Array):
            merged[c] = pa.concat_arrays(vals)
        else:
            merged[c] = np.concatenate(vals)
    return merged


def _row_block_nodes_arrow(payload: bytes, want_tags: bool, want_info: bool):
    """Node columns of a block that carries plain-Node groups (rare:
    writers emit DenseNodes), decoded row-wise by decode_primitive_block
    and typed as ``_NODE_COL_TYPES`` so they concatenate with the
    DenseNodes chunks of decode_block_nodes_arrow."""
    import pyarrow as pa

    blk = decode_primitive_block(payload, want_tags=want_tags, want_info=want_info)
    n = blk["nodes"]
    if not n:
        return None
    cnt = len(n["id"])
    chunk = {
        "id": np.asarray(n["id"], dtype=np.int64),
        "lat": np.asarray(n["lat"], dtype=np.float64),
        "lon": np.asarray(n["lon"], dtype=np.float64),
    }
    if want_tags:
        chunk["tags"] = pa.array(
            [list(t.items()) for t in n["tags"]],
            type=pa.map_(pa.utf8(), pa.utf8()),
        )
    if want_info:
        dtypes = {"version": np.int32, "visible": bool}
        for col, default in _NODE_INFO_DEFAULTS.items():
            vals = n[col] if col in n else [default] * cnt
            chunk[col] = (
                pa.array(list(vals), type=pa.utf8()) if col == "user"
                else np.asarray(vals, dtype=dtypes.get(col, np.int64))
            )
    return chunk


def read_pbf_file_nodes_arrow(
    spark, path: str, columns=("id", "lat", "lon")
):
    """Node scan over a .osm.pbf FILE: the driver walks the framing by
    seeks, checks the OSMHeader features and splits the blobs into
    Spark-file-split-sized runs (``_file_partitions``); every task
    preads its own blobs and yields pyarrow RecordBatches from
    decode_block_nodes_arrow (mapInArrow) — no pandas, no per-node
    Python objects on DenseNodes blocks. Blocks with plain-Node groups
    take the row-decoded fallback, with the same column types.

    ``columns`` projects the output AND prunes the decode (the
    reference scanner's skip-flag semantics): tags/DenseInfo only
    parse when a column needs them."""
    info_cols = ("version", "timestamp", "changeset", "uid", "user", "visible")
    want_tags = "tags" in columns
    want_info = any(c in columns for c in info_cols)

    def decode(payload, columns):
        return decode_block_nodes_arrow(
            payload, want_tags=want_tags, want_info=want_info
        )

    # 128k rows per batch amortizes per-batch overhead downstream
    return _read_pbf_file_arrow_kind(
        spark, path, columns, _NODE_COL_TYPES, decode, coalesce_rows=128_000
    )


_WAY_COL_TYPES = {
    "id": "long", "refs": "array<long>", "tags": "map<string,string>",
    "lats": "array<double>", "lons": "array<double>",
    "version": "int", "timestamp": "long", "changeset": "long",
    "uid": "long", "user": "string", "visible": "boolean",
}
_REL_COL_TYPES = {
    "id": "long",
    "members": "array<struct<type:string,ref:long,role:string>>",
    "tags": "map<string,string>",
    "version": "int", "timestamp": "long", "changeset": "long",
    "uid": "long", "user": "string", "visible": "boolean",
}


def _segmented_varints(
    parts: list[bytes], zigzag: bool, delta: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Decode a list of packed-varint chunks (one per element, b'' for
    absent fields) in ONE vectorized pass -> (values, counts).

    This is what makes the way/relation Arrow decode fast: per-way
    refs/keys/vals fields are ~10-30 bytes, and a per-way
    _unpack_varints call pays ~10 numpy-dispatch overheads for 10
    values (measured ~180 µs/way block-wide). Concatenating the block's
    chunks and decoding once amortizes that to ~nothing; per-chunk
    varint counts come from the terminator-bit cumsum sampled at chunk
    byte boundaries, and per-chunk delta chains (way refs, relation
    memids — they restart per element) become a segmented cumsum:
    global cumsum minus the previous segment's closing total."""
    n = len(parts)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    buf = b"".join(parts)
    if not buf:
        return np.empty(0, dtype=np.int64), np.zeros(n, dtype=np.int64)
    blens = np.fromiter((len(p) for p in parts), dtype=np.int64, count=n)
    bends = np.cumsum(blens)
    a = np.frombuffer(buf, dtype=np.uint8)
    cum_end = np.concatenate(
        ([0], np.cumsum((a & 0x80) == 0, dtype=np.int64))
    )
    counts = cum_end[bends] - cum_end[bends - blens]
    vals = _unpack_varints(buf, zigzag)
    if delta:
        total = np.cumsum(vals)
        starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
        # previous segment's closing total; starts==0 rows discard the
        # (valid-index) total[-1] via the where mask
        base = np.where(starts > 0, total[starts - 1], 0)
        vals = total - np.repeat(base, counts)
    return vals, counts


def _len_slices(buf: bytes, field: int) -> list[bytes]:
    """All payload slices of one LEN field from a message whose fields
    are all single-byte-key LEN fields (the PrimitiveGroup shape:
    repeated element messages only). ~3x the generic _Reader.fields()
    generator on the way/relation hot path; any other shape falls back
    to the generic reader."""
    out: list[bytes] = []
    pos = 0
    L = len(buf)
    want_key = (field << 3) | 2
    try:
        while pos < L:
            key = buf[pos]
            pos += 1
            if key & 0x80 or (key & 7) != 2:
                raise ValueError("not a LEN-only message")
            ln = buf[pos]
            pos += 1
            if ln & 0x80:
                ln &= 0x7F
                shift = 7
                while True:
                    b = buf[pos]
                    pos += 1
                    ln |= (b & 0x7F) << shift
                    if not b & 0x80:
                        break
                    shift += 7
            if key == want_key:
                out.append(buf[pos:pos + ln])
            pos += ln
    except (ValueError, IndexError):
        out = [
            v for f, wt, v in _Reader(buf).fields()
            if f == field and wt == _LEN
        ]
    return out


def _info_columns_from_parts(
    parts: list[bytes], dgran: int, strings, columns, chunk: dict
) -> None:
    """Vectorized Info decode for ways/relations: parts[i] is element
    i's raw Info submessage (b'' when absent). Every Info field is a
    varint (version/timestamp/changeset/uid/user-sid/visible,
    osmformat.proto Info), so the concatenated parts decode as ONE
    varint stream — tag varints sit at even in-message positions,
    values at odd — and each proto field scatters into its column with
    one boolean mask. Falls back to a per-message walk if a message
    carries a non-varint wiretype or an odd varint count (never in
    real files)."""
    import pyarrow as pa

    n = len(parts)
    vals, counts = _segmented_varints(parts, False, False)
    cols: dict[int, np.ndarray] = {
        1: np.zeros(n, dtype=np.int64),
        2: np.zeros(n, dtype=np.int64),
        3: np.zeros(n, dtype=np.int64),
        4: np.zeros(n, dtype=np.int64),
        5: np.zeros(n, dtype=np.int64),
        6: np.ones(n, dtype=np.int64),
    }
    if len(vals):
        starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
        pos = np.arange(len(vals), dtype=np.int64) - np.repeat(starts, counts)
        is_tag = (pos & 1) == 0
        tags_raw = vals[is_tag]
        if np.any(counts & 1) or np.any(tags_raw & 7):
            # non-varint wiretype / odd stream: per-message fallback
            for i, p in enumerate(parts):
                if not p:
                    continue
                for f3, _, v3 in _Reader(p).fields():
                    if 1 <= f3 <= 6:
                        cols[f3][i] = v3
        else:
            v = vals[~is_tag]
            fnum = tags_raw >> 3
            row = np.repeat(np.arange(n, dtype=np.int64), counts >> 1)
            for k in range(1, 7):
                m = fnum == k
                cols[k][row[m]] = v[m]
    if "version" in columns:
        chunk["version"] = cols[1].astype(np.int32)
    if "timestamp" in columns:
        chunk["timestamp"] = cols[2] * dgran // 1000
    if "changeset" in columns:
        chunk["changeset"] = cols[3]
    if "uid" in columns:
        chunk["uid"] = cols[4]
    if "user" in columns:
        chunk["user"] = strings.take(pa.array(cols[5]))
    if "visible" in columns:
        chunk["visible"] = cols[6] != 0


def _tags_map_array(key_parts, val_parts, n, strings):
    """MapArray from per-element packed key/val index chunks: ONE
    segmented varint decode + ONE Arrow take per block, no per-tag
    Python."""
    import pyarrow as pa

    kflat, tag_counts = _segmented_varints(key_parts, False, delta=False)
    vflat, _ = _segmented_varints(val_parts, False, delta=False)
    offsets = np.zeros(n + 1, dtype=np.int32)
    if len(tag_counts):
        offsets[1:] = np.cumsum(tag_counts)
    if len(kflat):
        keys = strings.take(pa.array(kflat))
        vals = strings.take(pa.array(vflat))
    else:
        keys = pa.array([], type=pa.utf8())
        vals = pa.array([], type=pa.utf8())
    return pa.MapArray.from_arrays(
        pa.array(offsets, type=pa.int32()), keys, vals
    )


def decode_block_ways_arrow(
    payload: bytes, columns=("id", "refs", "tags")
):
    """Arrow-native Way decode -> dict of column -> pyarrow/numpy array
    (None when the block has no ways). The way-shaped twin of
    decode_block_nodes_arrow: ways are variable-shaped messages (unlike
    DenseNodes) so the per-message protobuf header walk stays in
    Python, but every payload column is vectorized — each way's refs
    delta chain is one packed-varint kernel + cumsum, the block's refs
    become ONE concatenate into a ListArray, tags ONE concatenate +
    Arrow take on the zero-copy string table, Info scalars one numpy
    cast each. Groups of other element types are skipped without
    decoding (the reference scanner's SkipNodes/SkipRelations flags,
    osmpbf scanner options). Decode semantics per
    osmpbf/decode_data.go:505-668 (scanWays)."""
    import pyarrow as pa

    want_tags = "tags" in columns
    want_refs = "refs" in columns
    want_locs = "lats" in columns or "lons" in columns
    want_info = any(
        c in columns
        for c in ("version", "timestamp", "changeset", "uid", "user",
                  "visible")
    )
    groups = []
    gran, lat_off, lon_off, dgran = GRANULARITY, 0, 0, DATE_GRANULARITY
    for f, wt, v in _Reader(payload).fields():
        if f == 2:
            groups.append(v)
        elif f == 17:
            gran = v
        elif f == 18:
            dgran = v
        elif f == 19:
            lat_off = v
        elif f == 20:
            lon_off = v

    ids: list[int] = []
    ref_parts: list[bytes] = []
    lat_parts: list[bytes] = []
    lon_parts: list[bytes] = []
    key_parts: list[bytes] = []
    val_parts: list[bytes] = []
    info_parts: list[bytes] = []
    for g in groups:
        # skip-flag twin: only Way messages (field 3) are even sliced
        for vv in _len_slices(g, 3):
            wid = 0
            keys = vals = refs = info_b = wlats = wlons = b""
            pos = 0
            L = len(vv)
            # inline single-byte-key field walk (way fields are 1-8);
            # any other shape punts this message to the generic reader
            try:
                while pos < L:
                    key = vv[pos]
                    pos += 1
                    if key & 0x80:
                        raise ValueError("multi-byte key")
                    wt = key & 7
                    if wt == 0:
                        v = vv[pos]
                        pos += 1
                        if v & 0x80:
                            v &= 0x7F
                            shift = 7
                            while True:
                                b = vv[pos]
                                pos += 1
                                v |= (b & 0x7F) << shift
                                if not b & 0x80:
                                    break
                                shift += 7
                        if key == 0x08:  # field 1: id
                            wid = v
                    elif wt == 2:
                        ln = vv[pos]
                        pos += 1
                        if ln & 0x80:
                            ln &= 0x7F
                            shift = 7
                            while True:
                                b = vv[pos]
                                pos += 1
                                ln |= (b & 0x7F) << shift
                                if not b & 0x80:
                                    break
                                shift += 7
                        if key == 0x12:  # field 2: keys
                            keys = vv[pos:pos + ln]
                        elif key == 0x1A:  # field 3: vals
                            vals = vv[pos:pos + ln]
                        elif key == 0x22:  # field 4: info
                            info_b = vv[pos:pos + ln]
                        elif key == 0x42:  # field 8: refs
                            refs = vv[pos:pos + ln]
                        elif key == 0x4A:  # field 9: way-node lats
                            wlats = vv[pos:pos + ln]
                        elif key == 0x52:  # field 10: way-node lons
                            wlons = vv[pos:pos + ln]
                        pos += ln
                    else:
                        raise ValueError(f"wiretype {wt}")
            except (ValueError, IndexError):
                wid = 0
                keys = vals = refs = info_b = wlats = wlons = b""
                for f2, wt2, v2 in _Reader(vv).fields():
                    if f2 == 1:
                        wid = v2
                    elif f2 == 2:
                        keys = v2
                    elif f2 == 3:
                        vals = v2
                    elif f2 == 4:
                        info_b = v2
                    elif f2 == 8:
                        refs = v2
                    elif f2 == 9:
                        wlats = v2
                    elif f2 == 10:
                        wlons = v2
            ids.append(wid)
            if want_refs:
                ref_parts.append(refs)
            if want_locs:
                lat_parts.append(wlats)
                lon_parts.append(wlons)
            if want_tags:
                key_parts.append(keys)
                val_parts.append(vals)
            if want_info:
                info_parts.append(info_b)
    if not ids:
        return None
    n = len(ids)
    strings = (
        _string_table_arrow(payload) if (want_tags or want_info) else None
    )
    chunk: dict = {}
    if "id" in columns:
        chunk["id"] = np.asarray(ids, dtype=np.int64)
    if want_refs:
        flat, ref_counts = _segmented_varints(ref_parts, True, delta=True)
        offsets = np.zeros(n + 1, dtype=np.int32)
        offsets[1:] = np.cumsum(ref_counts)
        chunk["refs"] = pa.ListArray.from_arrays(
            pa.array(offsets, type=pa.int32()),
            pa.array(flat, type=pa.int64()),
        )
    if want_locs:
        # locations-on-ways (decode_data.go:607-647): per-way zigzag
        # delta chains in block granularity, same segmented decode as
        # refs then ONE vectorized scale per block
        for col, parts, off0 in (
            ("lats", lat_parts, lat_off), ("lons", lon_parts, lon_off),
        ):
            if col not in columns:
                continue
            raw, cnts = _segmented_varints(parts, True, delta=True)
            offs = np.zeros(n + 1, dtype=np.int32)
            offs[1:] = np.cumsum(cnts)
            chunk[col] = pa.ListArray.from_arrays(
                pa.array(offs, type=pa.int32()),
                pa.array(1e-9 * (off0 + gran * raw), type=pa.float64()),
            )
    if want_tags:
        chunk["tags"] = _tags_map_array(
            key_parts, val_parts, n, strings
        )
    if want_info:
        _info_columns_from_parts(info_parts, dgran, strings, columns, chunk)
    return chunk


_ARROW_MTYPE_TABLE = ("node", "way", "relation")


def decode_block_relations_arrow(
    payload: bytes, columns=("id", "members", "tags")
):
    """Arrow-native Relation decode -> dict of column -> pyarrow/numpy
    array (None when the block has no relations). Members become ONE
    ListArray<struct<type,ref,role>> per block: per-relation memids
    delta chains vectorize like way refs, roles/types concatenate into
    single index arrays resolved by Arrow take (roles against the
    string table, types against the 3-row member-type table —
    osmpbf/decode_data.go:670-712 extractMembers)."""
    import pyarrow as pa

    want_tags = "tags" in columns
    want_members = "members" in columns
    want_info = any(
        c in columns
        for c in ("version", "timestamp", "changeset", "uid", "user",
                  "visible")
    )
    groups = []
    dgran = DATE_GRANULARITY
    for f, wt, v in _Reader(payload).fields():
        if f == 2:
            groups.append(v)
        elif f == 18:
            dgran = v

    ids: list[int] = []
    mem_ref_parts: list[bytes] = []
    mem_role_parts: list[bytes] = []
    mem_type_parts: list[bytes] = []
    key_parts: list[bytes] = []
    val_parts: list[bytes] = []
    info_parts: list[bytes] = []
    for g in groups:
        # skip-flag twin: only Relation messages (field 4) are sliced
        for vv in _len_slices(g, 4):
            rid = 0
            keys = vals = roles = mems = types = info_b = b""
            pos = 0
            L = len(vv)
            # inline single-byte-key walk (relation fields are 1-10)
            try:
                while pos < L:
                    key = vv[pos]
                    pos += 1
                    if key & 0x80:
                        raise ValueError("multi-byte key")
                    wt = key & 7
                    if wt == 0:
                        v = vv[pos]
                        pos += 1
                        if v & 0x80:
                            v &= 0x7F
                            shift = 7
                            while True:
                                b = vv[pos]
                                pos += 1
                                v |= (b & 0x7F) << shift
                                if not b & 0x80:
                                    break
                                shift += 7
                        if key == 0x08:  # field 1: id
                            rid = v
                    elif wt == 2:
                        ln = vv[pos]
                        pos += 1
                        if ln & 0x80:
                            ln &= 0x7F
                            shift = 7
                            while True:
                                b = vv[pos]
                                pos += 1
                                ln |= (b & 0x7F) << shift
                                if not b & 0x80:
                                    break
                                shift += 7
                        if key == 0x12:  # field 2: keys
                            keys = vv[pos:pos + ln]
                        elif key == 0x1A:  # field 3: vals
                            vals = vv[pos:pos + ln]
                        elif key == 0x22:  # field 4: info
                            info_b = vv[pos:pos + ln]
                        elif key == 0x42:  # field 8: roles_sid
                            roles = vv[pos:pos + ln]
                        elif key == 0x4A:  # field 9: memids
                            mems = vv[pos:pos + ln]
                        elif key == 0x52:  # field 10: types
                            types = vv[pos:pos + ln]
                        pos += ln
                    else:
                        raise ValueError(f"wiretype {wt}")
            except (ValueError, IndexError):
                rid = 0
                keys = vals = roles = mems = types = info_b = b""
                for f2, wt2, v2 in _Reader(vv).fields():
                    if f2 == 1:
                        rid = v2
                    elif f2 == 2:
                        keys = v2
                    elif f2 == 3:
                        vals = v2
                    elif f2 == 4:
                        info_b = v2
                    elif f2 == 8:
                        roles = v2
                    elif f2 == 9:
                        mems = v2
                    elif f2 == 10:
                        types = v2
            ids.append(rid)
            if want_members:
                mem_ref_parts.append(mems)
                mem_role_parts.append(roles)
                mem_type_parts.append(types)
            if want_tags:
                key_parts.append(keys)
                val_parts.append(vals)
            if want_info:
                info_parts.append(info_b)
    if not ids:
        return None
    n = len(ids)
    strings = (
        _string_table_arrow(payload) if (want_tags or want_members
                                         or want_info) else None
    )
    chunk: dict = {}
    if "id" in columns:
        chunk["id"] = np.asarray(ids, dtype=np.int64)
    if want_members:
        refs_flat, mem_counts = _segmented_varints(
            mem_ref_parts, True, delta=True
        )
        roles_flat, _ = _segmented_varints(mem_role_parts, False, False)
        types_flat, _ = _segmented_varints(mem_type_parts, False, False)
        offsets = np.zeros(n + 1, dtype=np.int32)
        offsets[1:] = np.cumsum(mem_counts)
        type_table = pa.array(_ARROW_MTYPE_TABLE, type=pa.utf8())
        member_struct = pa.StructArray.from_arrays(
            [
                type_table.take(pa.array(types_flat)),
                pa.array(refs_flat, type=pa.int64()),
                strings.take(pa.array(roles_flat)),
            ],
            names=["type", "ref", "role"],
        )
        chunk["members"] = pa.ListArray.from_arrays(
            pa.array(offsets, type=pa.int32()), member_struct
        )
    if want_tags:
        chunk["tags"] = _tags_map_array(
            key_parts, val_parts, n, strings
        )
    if want_info:
        _info_columns_from_parts(info_parts, dgran, strings, columns, chunk)
    return chunk


def _read_pbf_file_arrow_kind(
    spark, path: str, columns, col_types: dict, decode_fn,
    coalesce_rows: int = 64_000,
):
    """Shared mapInArrow scaffolding for the Arrow file scans: the
    driver splits the file (``_file_partitions``), executors pread +
    inflate their own blobs, decode them with ``decode_fn`` and yield
    RecordBatches coalesced to ``coalesce_rows``."""
    import pyarrow as pa
    from pyspark.sql.types import _parse_datatype_string

    bad = [c for c in columns if c not in col_types]
    if bad:
        raise ValueError(f"unknown columns {bad}")
    df, blobs = _file_partitions(spark, path)
    out_schema = _parse_datatype_string(
        "struct<" + ",".join(f"{c}:{col_types[c]}" for c in columns) + ">"
    )
    cols = tuple(columns)

    def gen(batches):
        pending: list[dict] = []
        pending_rows = 0

        def flush():
            arrays = []
            for c in cols:
                vals = [
                    ch[c] if isinstance(ch[c], pa.Array) else pa.array(ch[c])
                    for ch in pending
                ]
                arrays.append(
                    vals[0] if len(vals) == 1 else pa.concat_arrays(vals)
                )
            return pa.RecordBatch.from_arrays(arrays, names=list(cols))

        for batch in batches:
            for payload in blobs(batch.column(0).to_pylist()):
                chunk = decode_fn(payload, columns=cols)
                if chunk is None:
                    continue
                pending.append(chunk)
                pending_rows += len(chunk[cols[0]])
                if pending_rows >= coalesce_rows:
                    yield flush()
                    pending, pending_rows = [], 0
        if pending:
            yield flush()

    return df.mapInArrow(gen, schema=out_schema)


def read_pbf_file_ways_arrow(spark, path: str, columns=("id", "refs", "tags")):
    """Arrow-native way scan over a .osm.pbf file — the ways twin of
    read_pbf_file_nodes_arrow. Blocks holding only other element types
    cost one inflate each and are skipped undecoded, matching the
    reference's SkipNodes/SkipRelations scan shape
    (osmpbf/scanner_test.go:523-555 BenchmarkLondon_ways)."""
    return _read_pbf_file_arrow_kind(
        spark, path, columns, _WAY_COL_TYPES, decode_block_ways_arrow
    )


def read_pbf_file_relations_arrow(
    spark, path: str, columns=("id", "members", "tags")
):
    """Arrow-native relation scan over a .osm.pbf file
    (osmpbf/scanner_test.go:556-588 BenchmarkLondon_relations)."""
    return _read_pbf_file_arrow_kind(
        spark, path, columns, _REL_COL_TYPES, decode_block_relations_arrow
    )


def walk_frames(path: str) -> list[tuple[str, int, int]]:
    """Framing walk over a .osm.pbf FILE by header reads + seeks only
    (never touches blob payloads) -> [(btype, offset, length)] spans.
    This is the driver-side step of the file scan: O(#blocks) tiny
    reads, no data ships through the driver."""
    frames = []
    with open(path, "rb") as f:
        while True:
            hdr4 = f.read(4)
            if len(hdr4) < 4:
                break
            (hsize,) = struct.unpack(">I", hdr4)
            hdr = _Reader(f.read(hsize))
            btype = ""
            datasize = 0
            for fld, _, v in hdr.fields():
                if fld == 1:
                    btype = v.decode()
                elif fld == 3:
                    datasize = v
            off = f.tell()
            frames.append((btype, off, datasize))
            f.seek(datasize, 1)
    return frames
