"""Seeded input generators, each returning its inputs' exact answers.

Every generator is a pure function of ``(seed, size)``: it writes its
files under ``out_dir`` and returns an :class:`Inputs` whose ``expect``
holds what the program must compute from them.  The program under test
only ever sees the written files.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class Inputs:
    paths: dict[str, str]
    rows: dict[str, int]
    expect: dict = field(default_factory=dict)

    @property
    def n_rows(self) -> int:
        return sum(self.rows.values())

    def digest(self) -> str:
        """sha256 over every input file's bytes, in name order."""
        h = hashlib.sha256()
        for name in sorted(self.paths):
            root = self.paths[name]
            files = (
                sorted(
                    os.path.join(d, f)
                    for d, _, fs in os.walk(root)
                    for f in fs
                )
                if os.path.isdir(root)
                else [root]
            )
            for fn in files:
                h.update(os.path.relpath(fn, root).encode())
                with open(fn, "rb") as f:
                    h.update(f.read())
        return h.hexdigest()


# --------------------------------------------------------------- documents
def documents(seed: int, n: int, out_dir: str) -> Inputs:
    """``documents.parquet`` of ``n`` distinct seeded doc_ids drawn from
    ``[0, 10n)``.  The pages pipeline geocodes doc_id arithmetically and
    snaps every doc_id divisible by 20 to one hot city, so random ids
    keep that ~5% skew."""
    rng = np.random.default_rng([seed, 1])
    ids = np.sort(rng.choice(10 * n, size=n, replace=False)).astype(np.int64)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(pa.table({"doc_id": ids}), path, row_group_size=1 << 18)
    return Inputs({"documents": path}, {"documents": n}, {"n": n, "zooms": 13})


# ------------------------------------------------------------- OSM planet
MARGIN = 1e-3  # points keep this far (degrees) from every ring edge
BLOCK_NODES = 8000  # nodes per PBF primitive block


def _rect_ring(rng, x0, y0, x1, y1, per_side):
    """Closed CCW rectangle with 1..per_side extra vertices on each side."""
    pts = []
    corners = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    for i in range(4):
        (ax, ay), (bx, by) = corners[i], corners[(i + 1) % 4]
        k = int(rng.integers(1, per_side + 1))
        ts = np.sort(rng.uniform(0.05, 0.95, k))
        pts.append((ax, ay))
        pts.extend((ax + t * (bx - ax), ay + t * (by - ay)) for t in ts)
    return pts  # open: the closing vertex is the first node again


def _split_ring(rng, node_ids, k):
    """Cut a closed ring (open id list) into k ways sharing end nodes,
    each stored in a random direction."""
    n = len(node_ids)
    cuts = np.sort(rng.choice(np.arange(1, n), size=k - 1, replace=False))
    bounds = [0, *cuts.tolist(), n]
    ring = node_ids + node_ids[:1]
    ways = []
    for a, b in zip(bounds[:-1], bounds[1:]):
        refs = ring[a : b + 1]
        ways.append(refs[::-1] if rng.random() < 0.5 else refs)
    return ways


def _in_rect(px, py, r, pad):
    x0, y0, x1, y1 = r
    return (px > x0 - pad) & (px < x1 + pad) & (py > y0 - pad) & (py < y1 + pad)


def osm_planet(
    seed: int,
    n_rel: int,
    n_filler: int,
    n_points: int,
    out_dir: str,
) -> Inputs:
    """A self-consistent ``planet.osm.pbf`` plus ``points.parquet``.

    Each relation is a multipolygon in its own grid cell: an outer
    rectangle cut into 1-4 ways (1 way takes the old-style path) and,
    for half of them, a rectangular hole of 1-2 ways.  Every way ref
    resolves to a node; ~3% of relations also name a way that does not
    exist, which taints them without opening a ring.  Filler nodes
    belong to no way.  Points fall inside a polygon, inside its hole or
    in the gap around it, never within ``MARGIN`` of an edge, so the
    per-relation point-in-polygon count is exact.
    """
    from osm_spark.sources.pbf import encode_pbf, encode_primitive_block

    rng = np.random.default_rng([seed, 2])
    cols = int(np.ceil(np.sqrt(n_rel * 2.2)))
    rows = int(np.ceil(n_rel / cols))
    dx, dy = 340.0 / cols, 150.0 / rows
    cells = rng.permutation(cols * rows)[:n_rel]

    coords: list[tuple[float, float]] = []
    way_refs: list[list[int]] = []
    relations = []
    outers, holes, cell_boxes = [], [], []
    exp_rings, tainted = {}, {}
    for r, cell in enumerate(cells.tolist()):
        rel_id = r + 1
        cx0 = -170.0 + (cell % cols) * dx
        cy0 = -75.0 + (cell // cols) * dy
        cell_boxes.append((cx0, cy0, cx0 + dx, cy0 + dy))
        fx = rng.uniform(0.05, 0.25, 2)
        fy = rng.uniform(0.05, 0.25, 2)
        outer = (cx0 + fx[0] * dx, cy0 + fy[0] * dy,
                 cx0 + (1 - fx[1]) * dx, cy0 + (1 - fy[1]) * dy)
        outers.append(outer)
        members = []
        rings = [(outer, int(rng.integers(1, 5)), "outer")]
        hole = None
        if rng.random() < 0.5:
            w, h = outer[2] - outer[0], outer[3] - outer[1]
            hx = rng.uniform(0.2, 0.4, 2)
            hy = rng.uniform(0.2, 0.4, 2)
            hole = (outer[0] + hx[0] * w, outer[1] + hy[0] * h,
                    outer[2] - hx[1] * w, outer[3] - hy[1] * h)
            rings.append((hole, int(rng.integers(1, 3)), "inner"))
        holes.append(hole)
        for box, k, role in rings:
            pts = _rect_ring(rng, *box, per_side=6)
            ids = list(range(len(coords) + 1, len(coords) + len(pts) + 1))
            coords.extend(pts)
            for refs in _split_ring(rng, ids, k):
                way_refs.append(refs)
                members.append(("way", len(way_refs), role))
        is_tainted = rng.random() < 0.03
        if is_tainted:
            members.append(("way", 10**9 + rel_id, "inner"))
        relations.append({"id": rel_id, "members": members,
                          "tags": {"type": "multipolygon"}})
        exp_rings[rel_id] = len(rings)
        tainted[rel_id] = is_tainted

    # filler nodes, then shuffle ids so way nodes scatter over all blocks
    n_way_nodes = len(coords)
    fill = np.column_stack(
        [rng.uniform(-180, 180, n_filler), rng.uniform(-85, 85, n_filler)]
    )
    n_nodes = n_way_nodes + n_filler
    perm = rng.permutation(n_nodes) + 1  # perm[i] = new id of old id i+1
    lon = np.concatenate([np.array([c[0] for c in coords]), fill[:, 0]])
    lat = np.concatenate([np.array([c[1] for c in coords]), fill[:, 1]])
    order = np.argsort(perm)
    node_lon, node_lat = lon[order], lat[order]
    ways = [
        {"id": i + 1, "refs": perm[np.asarray(refs) - 1].tolist()}
        for i, refs in enumerate(way_refs)
    ]

    blocks = []
    for a in range(0, n_nodes, BLOCK_NODES):
        b = min(a + BLOCK_NODES, n_nodes)
        blocks.append(encode_primitive_block(nodes=[
            {"id": i + 1, "lat": float(node_lat[i]), "lon": float(node_lon[i])}
            for i in range(a, b)
        ]))
    for a in range(0, len(ways), 8000):
        blocks.append(encode_primitive_block(ways=ways[a : a + 8000]))
    for a in range(0, len(relations), 8000):
        blocks.append(encode_primitive_block(relations=relations[a : a + 8000]))

    px, py, exp_count = _points(rng, n_points, outers, holes, cell_boxes)

    os.makedirs(out_dir, exist_ok=True)
    pbf = os.path.join(out_dir, "planet.osm.pbf")
    with open(pbf, "wb") as f:
        f.write(encode_pbf(blocks))
    pts = os.path.join(out_dir, "points.parquet")
    pq.write_table(
        pa.table({"doc_id": np.arange(n_points, dtype=np.int64),
                  "lon": px, "lat": py}),
        pts,
        row_group_size=1 << 16,
    )
    return Inputs(
        {"pbf": pbf, "points": pts},
        {"nodes": n_nodes, "ways": len(ways), "relations": n_rel,
         "points": n_points},
        {
            "nodes": n_nodes,
            "ways": len(ways),
            "relations": n_rel,
            "rings": exp_rings,
            "tainted": tainted,
            "points_in": exp_count,
        },
    )


def _points(rng, n, outers, holes, cell_boxes):
    """n points: 55% inside a polygon (outside its hole), 15% inside a
    hole where there is one, the rest in the gap between the outer ring
    and the grid cell.  -> (lon, lat, {rel_id: points inside})."""
    n_rel = len(outers)
    rel = rng.integers(0, n_rel, n)
    kind = rng.choice(3, size=n, p=[0.55, 0.15, 0.30])
    has_hole = np.array([h is not None for h in holes])
    kind[(kind == 1) & ~has_hole[rel]] = 0
    o = np.array(outers)
    hb = np.array([h if h is not None else (0, 0, 0, 0) for h in holes])
    cb = np.array(cell_boxes)

    def sample(boxes, idx):
        x0, y0, x1, y1 = (boxes[idx, j] for j in range(4))
        return (rng.uniform(x0 + MARGIN, x1 - MARGIN),
                rng.uniform(y0 + MARGIN, y1 - MARGIN))

    px = np.empty(n)
    py = np.empty(n)
    todo = np.arange(n)
    while todo.size:
        k = kind[todo]
        r = rel[todo]
        x = np.empty(todo.size)
        y = np.empty(todo.size)
        for kk, boxes in ((0, o), (1, hb), (2, cb)):
            m = k == kk
            x[m], y[m] = sample(boxes, r[m])
        in_hole = has_hole[r] & _in_rect(x, y, hb[r].T, MARGIN)
        in_outer = _in_rect(x, y, o[r].T, MARGIN)
        ok = ~(((k == 0) & in_hole) | ((k == 2) & in_outer))
        px[todo[ok]], py[todo[ok]] = x[ok], y[ok]
        todo = todo[~ok]
    inside = np.bincount(rel[kind == 0], minlength=n_rel)
    return px, py, {i + 1: int(c) for i, c in enumerate(inside)}


# ------------------------------------------------------ element histories
MODERN_T0 = datetime(2014, 1, 1)
LEGACY_T0 = datetime(2009, 1, 1)
LEGACY_SHARE = 0.02  # share of elements that live before 2012-09-12

HIST_SCHEMA_NODES = pa.schema([
    ("id", pa.int64()), ("version", pa.int32()), ("visible", pa.bool_()),
    ("changeset", pa.int64()), ("ts", pa.timestamp("us")),
    ("committed", pa.timestamp("us")), ("lat", pa.float64()),
    ("lon", pa.float64()),
])
HIST_SCHEMA_WAYS = pa.schema([
    ("id", pa.int64()), ("version", pa.int32()), ("visible", pa.bool_()),
    ("changeset", pa.int64()), ("ts", pa.timestamp("us")),
    ("committed", pa.timestamp("us")),
    ("nodes", pa.list_(pa.struct([("ref", pa.int64())]))),
])
CHANGE_SCHEMA = pa.schema([
    ("seq", pa.int64()), ("action", pa.string()), ("type", pa.string()),
    ("id", pa.int64()), ("version", pa.int32()), ("visible", pa.bool_()),
    ("changeset", pa.int64()), ("ts", pa.timestamp("us")),
    ("lat", pa.float64()), ("lon", pa.float64()),
])


def histories(
    seed: int,
    n_nodes: int,
    n_ways: int,
    n_batches: int,
    batch_rows: int,
    out_dir: str,
) -> Inputs:
    """Node and way histories plus ``n_batches`` replication change files.

    Times sit on an hour grid (node versions on even hours, way versions
    on odd ones), so no child version falls inside the reference's
    30-minute threshold of a parent version and the as-of answer is
    unambiguous: a slot holds the last node version at or before the way
    version, and the node versions before the next way version (all
    later ones, for the last way version) are its minor updates.  A
    ``LEGACY_SHARE`` of elements live before 2012-09-12, which routes
    their refs through the annotator's Python kernel; the rest take the
    JVM fast path.  Commit times equal element timestamps.
    """
    rng = np.random.default_rng([seed, 3])
    h = timedelta(hours=1)
    n_legacy = int(n_nodes * LEGACY_SHARE)
    # node histories: node ids 1..n_nodes, the first n_legacy are legacy
    nv = rng.integers(1, 5, n_nodes)
    node_times: list[list[datetime]] = []
    node_rows = []
    for i in range(n_nodes):
        t0 = LEGACY_T0 if i < n_legacy else MODERN_T0
        steps = np.cumsum(rng.integers(1, 200, nv[i])) * 2
        times = [t0 + int(s) * h for s in steps]
        node_times.append(times)
        for v, t in enumerate(times, 1):
            node_rows.append((i + 1, v, True, 1000 + i, t, t,
                              float(rng.uniform(-80, 80)),
                              float(rng.uniform(-170, 170))))
    # way histories: legacy ways reference legacy nodes only
    n_legacy_ways = int(n_ways * LEGACY_SHARE)
    way_rows = []
    slot_expect: dict[tuple[int, int], list[int]] = {}
    upd_expect: dict[tuple[int, int], int] = {}
    for w in range(n_ways):
        legacy = w < n_legacy_ways
        lo, hi = (0, n_legacy) if legacy else (0, n_nodes)
        refs = rng.integers(lo, hi, int(rng.integers(2, 7))) + 1
        start = max(node_times[r - 1][0] for r in refs)
        steps = np.cumsum(rng.integers(1, 300, int(rng.integers(1, 4)))) * 2 - 1
        times = [start + int(s) * h for s in steps]
        for k, t in enumerate(times):
            t_next = times[k + 1] if k + 1 < len(times) else None
            slots, n_upd = [], 0
            for r in refs:
                ts = node_times[r - 1]
                slots.append(sum(1 for x in ts if x <= t))
                n_upd += sum(
                    1 for x in ts if x > t and (t_next is None or x < t_next)
                )
            slot_expect[(w + 1, k + 1)] = slots
            upd_expect[(w + 1, k + 1)] = n_upd
            way_rows.append((w + 1, k + 1, True, 5000 + w, t, t,
                             [{"ref": int(r)} for r in refs]))

    # replication: creates of fresh ids, modifies and deletes of known ones
    latest = {i + 1: len(node_times[i]) for i in range(n_nodes)}
    alive = {i: True for i in latest}
    next_id = n_nodes + 1
    t = MODERN_T0 + timedelta(days=3000)
    counts = {"create": 0, "modify": 0, "delete": 0}
    batches = []
    seq = 0
    for b in range(n_batches):
        seq += 1
        rows = []
        for _ in range(batch_rows):
            t += timedelta(seconds=int(rng.integers(1, 30)))
            u = rng.random()
            live = None
            if u >= 0.25:
                live = int(rng.integers(1, next_id))
                if not alive[live]:
                    live = None
            if live is None:  # create
                eid, ver, act = next_id, 1, "create"
                next_id += 1
                alive[eid] = True
            else:
                eid, ver = live, latest[live] + 1
                act = "delete" if u >= 0.9 else "modify"
                alive[eid] = act != "delete"
            latest[eid] = ver
            counts[act] += 1
            rows.append((seq, act, "node", eid, ver, act != "delete",
                         90000 + seq, t, float(rng.uniform(-80, 80)),
                         float(rng.uniform(-170, 170))))
        batches.append(rows)
    final_state = sorted(latest.items())

    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "nodes": os.path.join(out_dir, "node_history.parquet"),
        "ways": os.path.join(out_dir, "way_history.parquet"),
        "changes": os.path.join(out_dir, "changes"),
    }
    pq.write_table(_table(node_rows, HIST_SCHEMA_NODES), paths["nodes"])
    pq.write_table(_table(way_rows, HIST_SCHEMA_WAYS), paths["ways"])
    os.makedirs(paths["changes"], exist_ok=True)
    for b, rows in enumerate(batches):
        fn = os.path.join(paths["changes"], f"batch-{b:04d}.parquet")
        pq.write_table(_table(rows, CHANGE_SCHEMA), fn)
        # A file stream takes files in modification-time order, and files
        # written a millisecond apart can tie.  Date each batch file at
        # its last change, as a replication feed publishes it, so the
        # stream sees the batches in sequence.
        published = (rows[-1][7] - datetime(1970, 1, 1)).total_seconds()
        os.utime(fn, (published, published))
    refs_all = {r["ref"] for row in way_rows for r in row[6]}
    return Inputs(
        paths,
        {"node_versions": len(node_rows), "way_versions": len(way_rows),
         "changes": n_batches * batch_rows},
        {
            "slots": slot_expect,
            "updates": upd_expect,
            "actions": counts,
            "final_state": final_state,
            "batches": n_batches,
            "legacy_ref_frac": sum(1 for r in refs_all if r <= n_legacy)
            / len(refs_all),
        },
    )


def _table(rows, schema: pa.Schema) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    return pa.table(
        {f.name: pa.array(list(c), type=f.type) for f, c in zip(schema, cols)},
        schema=schema,
    )
