"""HMM map matching (geo/matching.py): path beats pointwise snap."""

from pyspark.sql import functions as F

from osm_spark.geo.matching import viterbi_match
from osm_spark.geo.snap import snap_points


def _segs(spark, rows):
    return spark.createDataFrame(rows, ["seg_id", "ax", "ay", "bx", "by"])


def _traj(spark, rows):
    return spark.createDataFrame(rows, ["vid", "step", "px", "py"])


def test_viterbi_overrides_pointwise_nearest(spark):
    """Two parallel roads 60k µdeg apart; the trace hugs road 0 except
    one noisy middle point 4k nearer road 1.  Pointwise snap flips to
    road 1 there; Viterbi's transition cost keeps the whole path on
    road 0."""
    segs = _segs(
        spark,
        [
            (0, 0, 0, 400_000, 0),          # road 0 along y=0
            (1, 0, 60_000, 400_000, 60_000),  # road 1 along y=60k
        ],
    )
    traj = _traj(
        spark,
        [
            (7, 0, 50_000, 2_000),
            (7, 1, 150_000, 34_000),   # 34k from road 0, 26k from road 1
            (7, 2, 250_000, 2_000),
            (7, 3, 350_000, 2_000),
        ],
    )
    out = viterbi_match(traj, segs, n_steps=4).collect()
    path = {r["step"]: r["seg_id"] for r in out}
    assert path == {0: 0, 1: 0, 2: 0, 3: 0}

    # the pointwise counterfactual really does flip at step 1
    pts = traj.select(
        (F.col("vid") * 4 + F.col("step")).alias("pid"), "px", "py"
    )
    snapped = {
        r["pid"]: r["seg_id"] for r in snap_points(pts, segs).collect()
    }
    assert snapped[7 * 4 + 1] == 1


def test_vehicle_without_candidates_drops_out(spark):
    segs = _segs(spark, [(0, 0, 0, 100_000, 0)])
    traj = _traj(
        spark,
        [(1, s, 10_000 + s, 1_000) for s in range(4)]
        + [(2, s, 10_000 + s, 9_000_000) for s in range(4)],  # far away
    )
    out = viterbi_match(traj, segs, n_steps=4).collect()
    assert sorted({r["vid"] for r in out}) == [1]


def test_total_cost_is_emission_plus_transitions(spark):
    segs = _segs(spark, [(0, 0, 0, 1_000_000, 0)])
    traj = _traj(
        spark,
        [(3, 0, 100, 300), (3, 1, 200, 400),
         (3, 2, 300, 500), (3, 3, 400, 600)],
    )
    out = viterbi_match(traj, segs, n_steps=4).collect()
    # emission: floor(sqrt(d2)) = |y| per point (exact squares);
    # transition: |dx| between snapped positions
    emis = 300 + 400 + 500 + 600
    trans = 100 * 3
    assert out[0]["total_cost"] == emis + trans
