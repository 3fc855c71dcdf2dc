"""Cell indexing + k-nearest-neighbor search.

Two cell schemes back the same join/kNN plans:

- the Z/X/Y tile grid (quadkey prefix = hierarchical containment),
  reproducing the reference's maptile semantics exactly;
- the aperture-7 hex index (geo/hex.py) — the engine's H3 surface,
  dependency-free, with true hex k-rings (uniform 6-neighborhoods).

kNN = two-phase expand-then-verify over the cell grid (the EXACT form
of SURVEY §7 step 6's k-ring expand-and-prune):

1. index corpus points by tile cell (one narrow map, no shuffle);
2. ESTIMATE: per query, find the smallest Chebyshev ring radius whose
   cumulative corpus count reaches k, from a per-(query, ring)
   aggregation of the cell histogram (the histogram itself never
   leaves the executors — only |queries| x |rings| count rows do);
3. probe ring r*+1 via a broadcast cell equi-join, rank candidates,
   and take d_k = the k-th candidate's haversine distance;
4. VERIFY: the true k nearest all lie within the great-circle bbox of
   radius d_k around the query; probe exactly that bbox's cell
   rectangle (coarsened adaptively so the probe list stays bounded)
   and take the final top-k with a salted two-level window.

Every driver-side structure is parameter-sized (|queries| x small);
probe lists are capped by ``probe_limit`` via hierarchical coarsening
(parent-shift on the cell key), so any zoom works at any corpus size.
"""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_spark.geo import distance, tiles
from osm_spark.plans.skew import salted_topk

EARTH_R_M = 6_371_000.0  # matches geo/distance.py haversine radius


def k_ring_cells(x: int, y: int, zoom: int, r: int) -> list[tuple[int, int]]:
    """Square k-ring of tile (x, y): all tiles with chebyshev distance
    <= r, clamped to the zoom's valid range (x wraps, y clamps)."""
    n = 1 << zoom
    out = []
    for dx in range(-r, r + 1):
        for dy in range(-r, r + 1):
            ny = y + dy
            if 0 <= ny < n:
                out.append(((x + dx) % n, ny))
    return out


def _tile_xy(lat: float, lon: float, zoom: int) -> tuple[int, int]:
    n = 1 << zoom
    xf = (lon + 180.0) / 360.0 * n
    yf = (
        (1.0 - math.log(math.tan(lat * math.pi / 360.0 + math.pi / 4.0)) / math.pi)
        / 2.0 * n
    )
    return (
        min(max(int(math.floor(xf)), 0), n - 1),
        min(max(int(math.floor(yf)), 0), n - 1),
    )


def _bbox_cells(
    qlat: float, qlon: float, d_m: float, zoom: int, probe_limit: int
) -> tuple[int, list[tuple[int, int]]]:
    """(zoom', cells) covering every point within great-circle distance
    ``d_m`` of the query, coarsened until |cells| <= probe_limit.
    One-cell safety margin absorbs float slop in the bound math."""
    delta = d_m / EARTH_R_M  # radians
    if delta >= math.pi / 2:
        return 0, [(0, 0)]
    lat_lo = max(qlat - math.degrees(delta), -89.9999)
    lat_hi = min(qlat + math.degrees(delta), 89.9999)
    phi = math.radians(abs(qlat))
    full_lon = phi + delta >= math.pi / 2 - 1e-12
    if not full_lon:
        s = math.sin(delta) / math.cos(phi)
        full_lon = s >= 1.0
    z = zoom
    if full_lon:
        x0, x1 = 0, (1 << z) - 1
    else:
        dlon = math.degrees(math.asin(math.sin(delta) / math.cos(phi)))
        if 2 * dlon >= 360.0:
            x0, x1 = 0, (1 << z) - 1
        else:
            # wrap into [-180, 180) BEFORE tiling (antimeridian queries);
            # x0 > x1 then encodes the wrapped interval
            wrap = lambda l: ((l + 180.0) % 360.0) - 180.0
            x0, _ = _tile_xy(qlat, wrap(qlon - dlon), z)
            x1, _ = _tile_xy(qlat, wrap(qlon + dlon), z)
    _, y0 = _tile_xy(lat_hi, qlon, z)
    _, y1 = _tile_xy(lat_lo, qlon, z)
    # margin for float slop
    x0, x1, y0, y1 = x0 - 1, x1 + 1, y0 - 1, y1 + 1

    def count(z_, x0_, x1_, y0_, y1_) -> int:
        n_ = 1 << z_
        w = (x1_ - x0_ + 1) if x1_ >= x0_ else (x1_ + n_ - x0_ + 1)
        return min(w, n_) * (min(y1_, n_ - 1) - max(y0_, 0) + 1)

    while z > 0 and count(z, x0, x1, y0, y1) > probe_limit:
        z -= 1
        x0, x1, y0, y1 = x0 >> 1, x1 >> 1, y0 >> 1, y1 >> 1
    n_ = 1 << z
    width = (x1 - x0) % n_ + 1  # modular width handles wrapped intervals
    if width >= n_ or x1 - x0 + 1 >= n_:
        xs = list(range(n_))
    else:
        xs = [((x0 + i) % n_) for i in range(width)]
    cells = []
    for y in range(max(y0, 0), min(y1, n_ - 1) + 1):
        for x in xs:
            cells.append((x, y))
    return z, cells


def _probe_join(pts: DataFrame, probes: list[tuple[int, int, int, int]], zoom: int) -> DataFrame:
    """Equi-join corpus cells against (qid, z', px, py) probe rows,
    grouped by probe zoom (parent-shift on the corpus cell key)."""
    spark = pts.sparkSession
    by_z: dict[int, list[tuple[int, int, int]]] = defaultdict(list)
    for qid, z, px, py in probes:
        by_z[z].append((qid, px, py))
    parts = []
    for z, rows in by_z.items():
        d = zoom - z
        pdf = spark.createDataFrame(rows, "qid long, px long, py long").distinct()
        proj = pts.select(
            "*",
            F.shiftright("cx", d).alias("px"),
            F.shiftright("cy", d).alias("py"),
        )
        parts.append(proj.join(F.broadcast(pdf), ["px", "py"]).drop("px", "py"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def knn_kring(
    corpus: DataFrame,
    queries: list[tuple[int, float, float]],
    k: int = 5,
    zoom: int = 7,
    id_col: str = "doc_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    probe_limit: int = 4096,
) -> DataFrame:
    """EXACT k nearest corpus points per query by haversine distance,
    at any zoom / corpus density (two-phase expand-then-verify; see
    module docstring). ``queries``: [(qid, lat, lon)]."""
    spark = corpus.sparkSession
    pts = corpus.select(
        F.col(id_col),
        F.col(lat_col).alias("lat"),
        F.col(lon_col).alias("lon"),
        tiles.tile_x(lon_col, zoom).alias("cx"),
        tiles.tile_y(lat_col, zoom).alias("cy"),
    )

    # ---- estimate phase: ring histogram at a capped histogram zoom
    zh = min(zoom, 10)
    sh = zoom - zh
    nh = 1 << zh
    hist = pts.groupBy(
        F.shiftright("cx", sh).alias("hx"), F.shiftright("cy", sh).alias("hy")
    ).agg(F.count("*").alias("n"))
    qcells = {qid: _tile_xy(qlat, qlon, zh) for qid, qlat, qlon in queries}
    qdf = spark.createDataFrame(
        [(qid, x, y) for qid, (x, y) in qcells.items()],
        "qid long, qhx long, qhy long",
    )
    dxr = F.abs(F.col("hx") - F.col("qhx"))
    ring = F.greatest(
        F.least(dxr, F.lit(nh) - dxr), F.abs(F.col("hy") - F.col("qhy"))
    )
    rc = (
        hist.crossJoin(F.broadcast(qdf))
        .groupBy("qid", ring.alias("ring"))
        .agg(F.sum("n").alias("rn"))
        .collect()
    )
    per_q: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for row in rc:
        per_q[row["qid"]].append((row["ring"], row["rn"]))
    r_probe: dict[int, int] = {}
    for qid, _, _ in queries:
        rings = sorted(per_q.get(qid, []))
        cum, rstar = 0, (rings[-1][0] if rings else 0)
        for r, n_ in rings:
            cum += n_
            if cum >= k:
                rstar = r
                break
        r_probe[qid] = rstar + 1

    # ---- phase 1: probe ring r*+1, find the k-th candidate distance
    probes1 = []
    for qid, (qx, qy) in qcells.items():
        z_q, x_q, y_q, r_q = zh, qx, qy, r_probe[qid]
        while (2 * r_q + 1) ** 2 > probe_limit and z_q > 0:
            z_q -= 1
            x_q >>= 1
            y_q >>= 1
            r_q = (r_q >> 1) + 1  # sound covering bound under parent-shift
        for cx_, cy_ in k_ring_cells(x_q, y_q, z_q, r_q):
            probes1.append((qid, z_q, cx_, cy_))
    qloc = spark.createDataFrame(
        [(qid, float(a), float(b)) for qid, a, b in queries],
        "qid long, qlat double, qlon double",
    )
    cand1 = _probe_join(pts, probes1, zoom).join(F.broadcast(qloc), "qid")
    scored1 = cand1.select(
        "qid",
        distance.haversine_m("qlat", "qlon", "lat", "lon").alias("dist_m"),
    )
    wk = Window.partitionBy("qid").orderBy(F.col("dist_m").asc())
    dk_rows = (
        scored1.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= k)
        .groupBy("qid")
        .agg(F.max("dist_m").alias("dk"), F.count("*").alias("m"))
        .collect()
    )
    dks = {row["qid"]: (row["dk"], row["m"]) for row in dk_rows}

    # ---- phase 2: exact bbox probe at radius d_k
    probes2 = []
    for qid, qlat, qlon in queries:
        dk, m = dks.get(qid, (None, 0))
        if m < k or dk is None:
            # corpus smaller than k inside any ring -> search everything
            z2, cells = 0, [(0, 0)]
        else:
            z2, cells = _bbox_cells(qlat, qlon, dk * (1.0 + 1e-9) + 1e-6, zoom, probe_limit)
        for cx_, cy_ in cells:
            probes2.append((qid, z2, cx_, cy_))
    cand2 = _probe_join(pts, probes2, zoom).join(F.broadcast(qloc), "qid")
    scored = cand2.select(
        F.col("qid").alias("q"),
        F.col(id_col).alias("neighbor"),
        distance.haversine_m("qlat", "qlon", "lat", "lon").alias("dist_m"),
    )
    ranked = salted_topk(
        scored, k, [F.col("dist_m").asc(), F.col("neighbor")],
        F.col("neighbor"), 32, ["q"],
    )
    return ranked.select(
        F.col("q").alias("qid"), F.col("rank").cast("int").alias("rank"),
        "neighbor", "dist_m",
    )


# ---------------------------------------------------------- hex-cell kNN
def _hex_rect_cells(
    lat_lo: float, lat_hi: float, lon_lo: float, lon_hi: float,
    res: int, limit: int,
) -> tuple[int, list[tuple[int, int]]]:
    """Hex cells (axial) covering a lat/lon rectangle, coarsening the
    resolution until the cell count fits ``limit``. The affine axial map
    sends the rect to a parallelogram whose hull is bounded by the four
    corners; +/-1 absorbs the hexround displacement."""
    import numpy as np

    from osm_spark.geo import hex as H

    res_e = res
    while True:
        qs, rs = [], []
        for la in (lat_lo, lat_hi):
            for lo in (lon_lo, lon_hi):
                qf, rf = H.frac_axial(np.array([la]), np.array([lo]), res_e)
                qs.append(float(qf[0]))
                rs.append(float(rf[0]))
        q0, q1 = int(math.floor(min(qs))) - 1, int(math.ceil(max(qs))) + 1
        r0, r1 = int(math.floor(min(rs))) - 1, int(math.ceil(max(rs))) + 1
        if (q1 - q0 + 1) * (r1 - r0 + 1) <= limit or res_e == 0:
            return res_e, [
                (q, r) for q in range(q0, q1 + 1) for r in range(r0, r1 + 1)
            ]
        res_e -= 1


def _hex_probe_join(pts: DataFrame, probes: list[tuple[int, int, int, int]], res: int) -> DataFrame:
    """Equi-join corpus hex cells against (qid, res', q, r) probe rows;
    corpus coords at coarser res' come from the pure-column parent chain
    (JVM math, no Python)."""
    from osm_spark.geo import hex_spark as HS

    spark = pts.sparkSession
    by_res: dict[int, list[tuple[int, int, int]]] = defaultdict(list)
    for qid, rz, pq, pr in probes:
        by_res[rz].append((qid, pq, pr))
    parts = []
    for rz, rows in by_res.items():
        pdf = spark.createDataFrame(rows, "qid long, pq long, pr long").distinct()
        steps = res - rz
        if steps == 0:
            proj = pts.select(
                "*", F.col("hq").alias("pq"), F.col("hr").alias("pr")
            )
        else:
            # multi-step parent walk as ONE Arrow UDF: composing
            # parent_axial_cols inline multiplies the expression tree
            # ~6x per level (hexround references its input six times),
            # and CollapseProject re-inlines intermediate projections —
            # measured as a janino InternalCompilerException (generated
            # method too large) at 4 levels. One vectorized numpy walk
            # is linear and plan-size-constant.
            import pandas as pd
            from pyspark.sql.functions import pandas_udf

            from osm_spark.geo import hex as H

            def _walk_fn(qs, rs):
                q, r = qs.to_numpy(), rs.to_numpy()
                for _ in range(steps):
                    q, r = H._parent_axial(q, r)
                return pd.DataFrame({"pq": q, "pr": r})

            # no type hints: hint inference rejects the 2-Series->DataFrame
            # shape under `from __future__ import annotations`; the
            # unannotated form defaults to a scalar pandas UDF
            _walk = pandas_udf(_walk_fn, "struct<pq:long, pr:long>")

            proj = pts.select("*", _walk("hq", "hr").alias("_p")).select(
                *pts.columns, F.col("_p.pq").alias("pq"), F.col("_p.pr").alias("pr")
            )
        parts.append(proj.join(F.broadcast(pdf), ["pq", "pr"]).drop("pq", "pr"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def knn_hex(
    corpus: DataFrame,
    queries: list[tuple[int, float, float]],
    k: int = 5,
    res: int = 4,
    id_col: str = "doc_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    probe_limit: int = 4096,
) -> DataFrame:
    """EXACT kNN over the aperture-7 hex index — the H3 k-ring
    expand-and-prune (north star): hex-ring histogram picks the probe
    radius, a filled k-ring equi-join yields candidates and the k-th
    distance d_k, then the exact verify pass probes every hex cell
    intersecting the great-circle d_k-rect (split across the
    antimeridian, where the planar hex grid does not wrap but the
    haversine metric does). Same driver-side bounds as knn_kring:
    everything collected is |queries| x small."""
    import numpy as np

    from osm_spark.geo import hex as H
    from osm_spark.geo import hex_spark as HS

    spark = corpus.sparkSession
    hq, hr = HS.axial_cols(lat_col, lon_col, res)
    pts = corpus.select(
        F.col(id_col),
        F.col(lat_col).alias("lat"),
        F.col(lon_col).alias("lon"),
        hq.alias("hq"),
        hr.alias("hr"),
    )
    hist = pts.groupBy("hq", "hr").agg(F.count("*").alias("n"))

    qax = {}
    for qid, qlat, qlon in queries:
        q_, r_ = H.latlon_to_axial(np.array([qlat]), np.array([qlon]), res)
        qax[qid] = (int(q_[0]), int(r_[0]))
    qdf = spark.createDataFrame(
        [(qid, a, b) for qid, (a, b) in qax.items()], "qid long, qq long, qr long"
    )
    dq = F.col("hq") - F.col("qq")
    dr = F.col("hr") - F.col("qr")
    ring = ((F.abs(dq) + F.abs(dr) + F.abs(dq + dr)) / F.lit(2)).cast("long")
    rc = (
        hist.crossJoin(F.broadcast(qdf))
        .groupBy("qid", ring.alias("ring"))
        .agg(F.sum("n").alias("rn"))
        .collect()
    )
    per_q: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for row in rc:
        per_q[row["qid"]].append((row["ring"], row["rn"]))
    r_probe: dict[int, int] = {}
    for qid, _, _ in queries:
        rings = sorted(per_q.get(qid, []))
        cum, rstar = 0, (rings[-1][0] if rings else 0)
        for r, n_ in rings:
            cum += n_
            if cum >= k:
                rstar = r
                break
        r_probe[qid] = rstar + 1

    probes1 = []
    for qid, _, _ in queries:
        rz, (x_q, y_q), r_q = res, qax[qid], r_probe[qid]
        while 1 + 3 * r_q * (r_q + 1) > probe_limit and rz > 0:
            rz -= 1
            pq_, pr_ = H._parent_axial(np.array([x_q]), np.array([y_q]))
            x_q, y_q = int(pq_[0]), int(pr_[0])
            r_q = r_q // 2 + 2  # sound covering bound under aperture-7 parent
        for dq_, dr_ in H.ring_offsets(r_q):
            probes1.append((qid, rz, x_q + dq_, y_q + dr_))
    qloc = spark.createDataFrame(
        [(qid, float(a), float(b)) for qid, a, b in queries],
        "qid long, qlat double, qlon double",
    )
    cand1 = _hex_probe_join(pts, probes1, res).join(F.broadcast(qloc), "qid")
    wk = Window.partitionBy("qid").orderBy(
        distance.haversine_m("qlat", "qlon", "lat", "lon").asc()
    )
    dk_rows = (
        cand1.select(
            "qid",
            distance.haversine_m("qlat", "qlon", "lat", "lon").alias("dist_m"),
        )
        .withColumn("rk", F.row_number().over(Window.partitionBy("qid").orderBy(F.col("dist_m").asc())))
        .filter(F.col("rk") <= k)
        .groupBy("qid")
        .agg(F.max("dist_m").alias("dk"), F.count("*").alias("m"))
        .collect()
    )
    dks = {row["qid"]: (row["dk"], row["m"]) for row in dk_rows}

    probes2 = []
    for qid, qlat, qlon in queries:
        dk, m = dks.get(qid, (None, 0))
        if m < k or dk is None:
            rects = [(-90.0, 90.0, -180.0, 180.0)]
        else:
            d = dk * (1.0 + 1e-9) + 1e-6
            delta = d / EARTH_R_M
            lat_lo = max(qlat - math.degrees(delta), -90.0)
            lat_hi = min(qlat + math.degrees(delta), 90.0)
            phi = math.radians(abs(qlat))
            if phi + delta >= math.pi / 2 - 1e-12 or math.sin(delta) / math.cos(phi) >= 1.0:
                rects = [(lat_lo, lat_hi, -180.0, 180.0)]
            else:
                dlon = math.degrees(math.asin(math.sin(delta) / math.cos(phi)))
                lon_lo, lon_hi = qlon - dlon, qlon + dlon
                rects = [(lat_lo, lat_hi, max(lon_lo, -180.0), min(lon_hi, 180.0))]
                if lon_lo < -180.0:
                    rects.append((lat_lo, lat_hi, lon_lo + 360.0, 180.0))
                if lon_hi > 180.0:
                    rects.append((lat_lo, lat_hi, -180.0, lon_hi - 360.0))
        for la0, la1, lo0, lo1 in rects:
            rz, cells = _hex_rect_cells(
                la0, la1, lo0, lo1, res, probe_limit // len(rects)
            )
            for cq_, cr_ in cells:
                probes2.append((qid, rz, cq_, cr_))
    cand2 = _hex_probe_join(pts, probes2, res).join(F.broadcast(qloc), "qid")
    scored = cand2.select(
        F.col("qid").alias("q"),
        F.col(id_col).alias("neighbor"),
        distance.haversine_m("qlat", "qlon", "lat", "lon").alias("dist_m"),
    )
    ranked = salted_topk(
        scored, k, [F.col("dist_m").asc(), F.col("neighbor")],
        F.col("neighbor"), 32, ["q"],
    )
    return ranked.select(
        F.col("q").alias("qid"), F.col("rank").cast("int").alias("rank"),
        "neighbor", "dist_m",
    )
