"""HMM map matching (Viterbi) — trajectories onto the road graph.

snap_roads answers "which segment is THIS point nearest?"; real GPS
traces need the Newson–Krakauer question: "which segment SEQUENCE
best explains the whole trajectory?" — a point near an intersection
should match the road its neighbors travel, not its pointwise
nearest.  That is a hidden Markov model: states = candidate segments
per point (emission cost = snapped squared distance), transitions
penalize implausible jumps between consecutive snapped positions,
and Viterbi dynamic programming picks the min-cost state path.
Reference parity: this composes the reference's planar
segment-project primitive (orb/planar DistanceFromSegment — the
`geo/snap.py` kernel, cited there) into the standard OSM
map-matching stack (OSRM/Valhalla `match` services).

Spark-first shape:

- Candidate generation is the audited snap index: supercover cell
  index + 3x3 probe, provably complete for radius <= cell size
  (`snap_candidates`) — never points x all-segments.
- The DP unrolls over the FIXED trajectory length T: step t is ONE
  equi-join on vehicle id between the dp frame (|V| x K rows) and
  step-t candidates, then one (vehicle, segment)-keyed min — K is
  radius-bounded, so the join is |V| x K^2 rows, shuffled on vid.
  No per-trajectory collect, no Python; trajectories of one vehicle
  never co-shuffle with another's except through the vid key.
- Integer-exact parity: emission = floor(sqrt(d2)) — linear snap
  distance, commensurate with the L1 transition penalty (IEEE sqrt
  is correctly rounded, so the floor is engine-exact); transition =
  L1 distance between floor-quantized snapped coordinates, costs
  are int64 sums; the argmin tie-breaks on the predecessor segment
  id, so a chained-CTE SQL oracle replays every DP cell bit-for-bit.
- The path backtrack is carried FORWARD as an array column inside
  the argmin struct (path length T, parameter-sized), which trades
  the classical store-backpointers-then-walk for one pass — the
  right trade when T is a per-query constant and vehicles are many.

Vehicles missing candidates at any step drop out of the inner-join
chain (an honest no-match — the caller widens the radius or splits
the trace); both engines agree exactly on which vehicles those are.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.geo.snap import snap_candidates


def viterbi_match(
    traj: DataFrame,
    segs: DataFrame,
    n_steps: int,
    shift: int = 19,
    max_d2: float = float(400_000**2),
    persist_fn=None,
) -> DataFrame:
    """-> (vid, step, seg_id, total_cost) optimal matched path.

    ``traj``: (vid, step, px, py) with step dense in [0, n_steps);
    ``segs``: (seg_id, ax, ay, bx, by).  ``total_cost`` (identical on
    every step row of a vehicle) = sum of emission floor(sqrt(d2)) plus L1
    transition costs along the optimal path."""
    pts = traj.select(
        (F.col("vid") * n_steps + F.col("step")).alias("pid"),
        "vid", "step", "px", "py",
    )
    cand = snap_candidates(
        pts.select("pid", "px", "py"), segs, shift, max_d2, "pid"
    )
    cand = cand.join(pts.select("pid", "vid", "step"), "pid").select(
        "vid", "step", "seg_id",
        # LINEAR distance so emissions are commensurate with the L1
        # transition costs (squared emissions drown any plausible
        # transition penalty); IEEE-754 sqrt is correctly rounded, so
        # floor(sqrt(d2)) is engine-exact like the +,-,*,/ chain
        F.floor(F.sqrt(F.col("d2"))).cast("long").alias("emis"),
        "sx", "sy",
    )
    if persist_fn is not None:
        cand = persist_fn(cand)

    dp = cand.where(F.col("step") == 0).select(
        "vid", "seg_id", "sx", "sy",
        F.col("emis").alias("cost"),
        F.array(F.col("seg_id")).alias("path"),
    )
    for t in range(1, n_steps):
        ct = cand.where(F.col("step") == t).select(
            F.col("vid").alias("t_vid"),
            F.col("seg_id").alias("t_seg"),
            F.col("emis").alias("t_emis"),
            F.col("sx").alias("t_sx"),
            F.col("sy").alias("t_sy"),
        )
        j = dp.join(ct, dp["vid"] == ct["t_vid"]).select(
            "vid",
            F.col("t_seg").alias("seg_id"),
            F.col("t_sx").alias("sx"),
            F.col("t_sy").alias("sy"),
            (
                F.col("cost")
                + F.abs(F.col("sx") - F.col("t_sx"))
                + F.abs(F.col("sy") - F.col("t_sy"))
                + F.col("t_emis")
            ).alias("cand_cost"),
            F.col("path").getItem(t - 1).alias("prev_seg"),
            F.concat(F.col("path"), F.array(F.col("t_seg"))).alias(
                "cand_path"
            ),
        )
        # predecessor seg ids are unique within a (vid, seg_id) group,
        # so (cost, prev_seg) is a deterministic argmin order
        dp = (
            j.groupBy("vid", "seg_id")
            .agg(
                F.min(
                    F.struct(
                        F.col("cand_cost").alias("cost"),
                        F.col("prev_seg").alias("prev_seg"),
                        F.col("sx").alias("sx"),
                        F.col("sy").alias("sy"),
                        F.col("cand_path").alias("path"),
                    )
                ).alias("b")
            )
            .select(
                "vid", "seg_id",
                F.col("b.sx").alias("sx"), F.col("b.sy").alias("sy"),
                F.col("b.cost").alias("cost"),
                F.col("b.path").alias("path"),
            )
        )
        if persist_fn is not None:
            dp = persist_fn(dp)

    best = dp.groupBy("vid").agg(
        F.min(
            F.struct(
                F.col("cost").alias("cost"),
                F.col("seg_id").alias("seg_id"),
                F.col("path").alias("path"),
            )
        ).alias("b")
    )
    return best.select(
        "vid",
        F.col("b.cost").alias("total_cost"),
        F.posexplode(F.col("b.path")).alias("step", "seg_id"),
    ).select(
        "vid",
        F.col("step").cast("long").alias("step"),
        F.col("seg_id").cast("long").alias("seg_id"),
        F.col("total_cost").cast("long").alias("total_cost"),
    )


def viterbi_sql(
    cand_cte: str, n_steps: int
) -> tuple[str, str]:
    """DuckDB twin: chained CTEs replaying the DP over a candidate CTE
    ``cand_cte`` with columns (vid, step, seg_id, emis, sx, sy).
    Returns (extra_ctes, final_select) producing
    (vid, step, seg_id, total_cost)."""
    parts = [
        f"dp0 AS (SELECT vid, seg_id, sx, sy, emis AS cost,"
        f" [seg_id] AS path FROM {cand_cte} WHERE step = 0)"
    ]
    for t in range(1, n_steps):
        parts.append(
            f"""j{t} AS (
      SELECT dp.vid, c.seg_id, c.sx, c.sy,
             dp.cost + abs(dp.sx - c.sx) + abs(dp.sy - c.sy) + c.emis
               AS cand_cost,
             dp.path[{t}] AS prev_seg,
             list_append(dp.path, c.seg_id) AS cand_path,
             row_number() OVER (
               PARTITION BY dp.vid, c.seg_id
               ORDER BY dp.cost + abs(dp.sx - c.sx)
                          + abs(dp.sy - c.sy) + c.emis,
                        dp.path[{t}]) AS rn
      FROM dp{t - 1} dp
      JOIN {cand_cte} c ON c.vid = dp.vid AND c.step = {t})"""
        )
        parts.append(
            f"dp{t} AS (SELECT vid, seg_id, sx, sy, cand_cost AS cost,"
            f" cand_path AS path FROM j{t} WHERE rn = 1)"
        )
    parts.append(
        f"""bst AS (
      SELECT vid, cost, path,
             row_number() OVER (
               PARTITION BY vid ORDER BY cost, seg_id) AS rn
      FROM dp{n_steps - 1})"""
    )
    final = f"""
    SELECT b.vid,
           CAST(u.i - 1 AS BIGINT) AS step,
           CAST(b.path[u.i] AS BIGINT) AS seg_id,
           CAST(b.cost AS BIGINT) AS total_cost
    FROM (SELECT * FROM bst WHERE rn = 1) b,
         LATERAL (SELECT unnest(range(1, {n_steps} + 1)) AS i) u"""
    return ",\n    ".join(parts), final
