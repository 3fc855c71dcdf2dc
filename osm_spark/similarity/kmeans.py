"""Integer-quantized Lloyd's k-means — an exactly-reproducible
training loop for the IVF coarse quantizer.

Float k-means is not cross-engine reproducible (unordered double sums
in the centroid update). Quantizing coordinates to integers first
(floor(x * 1000)) makes EVERY step exact integer math:

- distances: integer squared L2 (sums of int64 products, order-free);
- assignment: argmin with (dist, cid) tie-break;
- update: per-dimension floor(sum / count) — int64 sums are exact and
  order-independent, the one float op (the division) is a single
  exact-input double division both engines round identically.

So the whole iterative algorithm — not just one pass — is oracle-
checkable bit-for-bit (the ``kmeans_iterate`` driver query), and the
centroids feed ivf_assign/ivf_search as a REAL trained quantizer
instead of a fixed corpus subset.

Scale shape per iteration: one broadcast-literal assignment pass (the
centroid table is k x dim integers on the driver — parameter-sized)
+ one (cell, dim)-keyed aggregation; k*dim rows return to the driver.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_spark.plans.skew import salted_topk

QUANT = 1000


def quantize_vec(vec) -> Column:
    vec = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * QUANT).cast("long")
    )


def _sq_dist(qv: Column, centroid: list[int]) -> Column:
    c = F.array(*[F.lit(int(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(qv, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# Above this many centroids the literal-expression argmin is replaced
# by ONE Arrow UDF over a closure-captured centroid matrix: the literal
# plan is O(k*dim) expression nodes, which breaks janino codegen at
# production IVF k (10^4-10^5 cells; the generated-method-too-large
# failure mode documented in geo/cells.py). The Arrow path's plan size
# is CONSTANT in k (asserted by tests/test_plans.py) and its integer
# math is exact, so both paths produce bit-identical assignments.
LITERAL_K_MAX = 16


def _assign_cells_arrow(
    qdf: DataFrame, centroids: list[tuple[int, list[int]]]
) -> DataFrame:
    """Vectorized argmin over a k x dim int64 centroid matrix, exact:
    d2 = |x|^2 - 2 x.C^T + |c|^2 entirely in int64 (coords are
    quantized to ~1e3, so every term is far below 2^63). Tie-break
    (dist, cid): rows of C are sorted by cid and argmin returns the
    FIRST minimum, i.e. the smallest cid — identical to the literal
    F.least(struct(d, cid)) path."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    order = sorted(range(len(centroids)), key=lambda i: centroids[i][0])
    cid_arr = np.array([int(centroids[i][0]) for i in order], dtype=np.int64)
    C = np.array([centroids[i][1] for i in order], dtype=np.int64)
    c_sq = (C * C).sum(axis=1)

    def _argmin_fn(batch):
        X = np.array(batch.tolist(), dtype=np.int64)
        x_sq = (X * X).sum(axis=1)
        d2 = x_sq[:, None] - 2 * (X @ C.T) + c_sq[None, :]
        return pd.Series(cid_arr[d2.argmin(axis=1)])

    _argmin = pandas_udf(_argmin_fn, "long")
    return qdf.withColumn("cell", _argmin("qv"))


def assign_cells(qdf: DataFrame, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """(id, qv) + centroid list -> (id, qv, cell); argmin squared L2
    with (dist, cid) tie-break. Pure column math up to LITERAL_K_MAX
    centroids; one Arrow UDF over a broadcast-closure centroid matrix
    beyond that (bit-identical integer math, constant plan size)."""
    if len(centroids) > LITERAL_K_MAX:
        return _assign_cells_arrow(qdf, centroids)
    cands = [
        F.struct(_sq_dist(F.col("qv"), vec).alias("d"), F.lit(int(cid)).alias("cid"))
        for cid, vec in centroids
    ]
    best = F.least(*cands) if len(cands) > 1 else cands[0]
    return qdf.withColumn("cell", best["cid"])


def kmeans_quantized(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_mod: int = 137,
) -> tuple[list[tuple[int, list[int]]], DataFrame]:
    """Run ``iters`` Lloyd iterations; returns (centroids, assignment).

    Seeds: the first k vectors with id % seed_mod == 0 in id order
    (deterministic, mirrored by the oracle).
    """
    qdf = df.select(F.col(id_col).alias("_id"), quantize_vec(vec_col).alias("qv"))
    seeds = (
        qdf.where(F.col("_id") % seed_mod == 0)
        .orderBy("_id")
        .limit(k)
        .collect()
    )
    centroids = [(i, [int(v) for v in r["qv"]]) for i, r in enumerate(seeds)]

    assign = None
    for _ in range(iters):
        assign = assign_cells(qdf, centroids)
        sums = (
            assign.select("cell", F.posexplode("qv").alias("dim", "v"))
            .groupBy("cell", "dim")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        per_cell: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            per_cell.setdefault(r["cell"], {})[r["dim"]] = (r["s"], r["n"])
        new_centroids = []
        for cid, old in centroids:
            dims = per_cell.get(cid)
            if dims is None:
                # empty cell: keep the previous centroid (oracle-visible:
                # the member counts would expose any divergence loudly)
                new_centroids.append((cid, old))
                continue
            vec = [
                int(math.floor(dims[d][0] / dims[d][1]))
                for d in range(len(old))
            ]
            new_centroids.append((cid, vec))
        centroids = new_centroids

    return centroids, assign_cells(qdf, centroids)


def trained_ivf_topk(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 4,
    iters: int = 2,
    nprobe: int = 2,
    topk: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_mod: int = 137,
) -> DataFrame:
    """The full ANN stack, exactly reproducible end-to-end: TRAIN the
    quantizer (kmeans_quantized), ASSIGN the corpus, then per query
    probe the ``nprobe`` nearest trained cells and rank candidates by
    integer squared L2 (ties -> smaller neighbor id). Every step is
    integer math, so the driver oracle replays training AND search.

    Returns (q, rank, neighbor)."""
    centroids, assign = kmeans_quantized(
        df, k=k, iters=iters, id_col=id_col, vec_col=vec_col, seed_mod=seed_mod
    )

    def qquant(vec: list[float]) -> list[int]:
        return [int(math.floor(float(x) * QUANT)) for x in vec]

    import numpy as np

    cid_arr = np.array([c for c, _ in centroids], dtype=np.int64)
    cmat = np.array([v for _, v in centroids], dtype=np.int64)

    def cell_rank(qv: list[int]) -> list[int]:
        # integer L2 is exact in int64, so the numpy vectorization is
        # bit-identical to the per-centroid loop; lexsort keys mirror
        # the (dist, cid) ascending tie-break
        d2 = ((np.asarray(qv, dtype=np.int64) - cmat) ** 2).sum(axis=1)
        order = np.lexsort((cid_arr, d2))
        return [int(cid_arr[i]) for i in order[:nprobe]]

    spark = df.sparkSession
    probe_rows = []
    qv_rows = []
    for qid, vec in queries:
        qv = qquant(vec)
        qv_rows.append((int(qid), qv))
        for cell in cell_rank(qv):
            probe_rows.append((int(qid), int(cell)))
    probes = spark.createDataFrame(probe_rows, "q long, cell long")
    qdf = spark.createDataFrame(qv_rows, "q long, qqv array<long>")

    cand = (
        probes.join(assign.withColumn("cell", F.col("cell").cast("long")), "cell")
        .join(F.broadcast(qdf), "q")
        .where(F.col("_id") != F.col("q"))
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qqv"), F.col("qv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = cand.select("q", F.col("_id").alias("neighbor"), d2.alias("d2"))
    ranked = salted_topk(
        scored, topk, [F.col("d2").asc(), F.col("neighbor")],
        F.col("neighbor"), 32, ["q"],
    )
    return ranked.select("q", F.col("rank").cast("int").alias("rank"), "neighbor")
