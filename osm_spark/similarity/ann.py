"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k. Plan: broadcast the (small)
  query set, one narrow pass over the corpus with numpy matmul per
  Arrow batch (mapInPandas) with an exact per-batch partial top-k
  (argpartition + boundary-tie sort), so the shuffle carries at most
  k x |queries| rows PER BATCH — never |corpus| x |queries|. The final
  ranking runs as a salted two-level window so it is never funneled
  into |queries| reducer tasks.
- random_hyperplane_bucket: sign-LSH bucketing (column HOFs only) — the
  scale path: equi-join on bucket replaces the all-pairs score.
- topk_sql: DuckDB twin for the correctness gate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from osm_spark.plans.skew import salted_topk


def cosine_expr(a, b) -> Column:
    """Cosine via zip_with + sequential aggregate (deterministic l-to-r
    summation). Pure column HOF — used when both sides are columns."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(bd, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    return dot / (na * nb)


def _batch_topk(ids: np.ndarray, cos: np.ndarray, qid: int, k: int):
    """Exact top-k of one query's scores within a batch: argpartition to
    the k-th cosine, then include ALL boundary ties and order the (small)
    survivor set by (-cos, neighbor) so no global-top-k row can be
    dropped. O(n) per batch instead of O(n log n)."""
    n = len(ids)
    mask = ids != qid
    ids, cos = ids[mask], cos[mask]
    n = len(ids)
    if n == 0:
        return ids, cos
    if n > k:
        part = np.argpartition(-cos, k - 1)
        thresh = cos[part[k - 1]]
        keep = cos >= thresh  # includes boundary ties
        ids, cos = ids[keep], cos[keep]
    order = np.lexsort((ids, -cos))[:k]
    return ids[order], cos[order]


def brute_force_topk(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (queries broadcast, numpy matmul
    per Arrow batch). Returns (q, rank, neighbor) with rank 1..k, ties
    broken by neighbor id.

    Scale shape: the mapInPandas stage emits at most k rows per (query,
    batch) — exact partial top-k with boundary-tie handling — so the
    shuffle is k x |queries| x n_batches rows, not |corpus| x |queries|.
    The final ranking is a salted two-level window (plans/skew.py
    salted_topk)."""
    spark = corpus.sparkSession
    qids = [int(q) for q, _ in queries]
    qmat = np.asarray([v for _, v in queries], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    bq = spark.sparkContext.broadcast((qids, qmat, qnorm))

    schema = StructType(
        [
            StructField("q", LongType()),
            StructField("neighbor", LongType()),
            StructField("cos", DoubleType()),
        ]
    )

    def score(batches):
        qids_, qmat_, qnorm_ = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            emb = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            dots = emb @ qmat_.T  # (n, q)
            norms = np.linalg.norm(emb, axis=1)
            cos = dots / (norms[:, None] * qnorm_[None, :])
            outs = {"q": [], "neighbor": [], "cos": []}
            for qi, qid in enumerate(qids_):
                tid, tcos = _batch_topk(ids, cos[:, qi], qid, k)
                outs["q"].append(np.full(len(tid), qid, dtype=np.int64))
                outs["neighbor"].append(tid)
                outs["cos"].append(tcos)
            yield pd.DataFrame(
                {c: np.concatenate(v) for c, v in outs.items()}
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(score, schema=schema)
    ranked = salted_topk(
        scored, k, [F.col("cos").desc(), F.col("neighbor")],
        F.col("neighbor"), 32, ["q"],
    )
    return ranked.select("q", F.col("rank").cast("int").alias("rank"), "neighbor")


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random integer hyperplanes: h[p][j] =
    ((p*37 + j*101) % 19) - 9. Reproducible in any engine."""
    return [
        [float((p * 37 + j * 101) % 19 - 9) for j in range(dim)]
        for p in range(n_planes)
    ]


def random_hyperplane_bucket(
    corpus: DataFrame,
    dim: int,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-LSH bucket id per vector, pure column HOFs (no Python)."""
    planes = hyperplanes(n_planes, dim)
    ad = F.transform(vec_col, lambda x: x.cast("double"))
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        pl = F.array(*[F.lit(v) for v in plane])
        dot = F.aggregate(
            F.zip_with(ad, pl, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return corpus.select(F.col(id_col), bucket.alias("bucket"))


def ivf_assign(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer: assign each vector to the centroid with the
    max dot product (ties -> larger centroid id, deterministic via
    struct max). Pure column HOFs — the sequential double fold is
    bit-identical across engines, so cell ids are exactly reproducible.

    At scale: centroids are a trained broadcast list (here: a
    deterministic subset of the corpus standing in for k-means);
    assignment is one narrow codegen stage; the cell id becomes the
    partitioning/bucketing key for probe-limited search.

    Above LITERAL_K_MAX centroids the per-centroid literal expressions
    (O(k*dim) plan nodes — janino generated-method-too-large at
    production k) are replaced by ONE Arrow UDF whose per-dimension
    fold order is IDENTICAL to the column fold, so assignments stay
    bit-exact while plan size is constant in k."""
    from osm_spark.similarity.kmeans import LITERAL_K_MAX

    if len(centroids) > LITERAL_K_MAX:
        return _ivf_assign_arrow(corpus, centroids, id_col, vec_col)
    ad = F.transform(vec_col, lambda x: x.cast("double"))
    cands = []
    for cid, vec in centroids:
        pl = F.array(*[F.lit(float(v)) for v in vec])
        dot = F.aggregate(
            F.zip_with(ad, pl, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cands.append(F.struct(dot.alias("dot"), F.lit(int(cid)).alias("cid")))
    best = F.greatest(*cands) if len(cands) > 1 else cands[0]
    return corpus.select(
        F.col(id_col), best["cid"].cast("long").alias("cell")
    )


def _ivf_assign_arrow(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Arrow twin of the literal ivf_assign path, bit-exact: the dot
    product accumulates dimension-by-dimension in float64 (vectorized
    over ROWS, sequential over DIMS — the same left-to-right fold order
    as F.aggregate/zip_with), and ties keep the LARGER cid by iterating
    cids ascending with a >= replace — identical to F.greatest over
    (dot, cid) structs. No BLAS matmul here on purpose: multi-
    accumulator sums would re-order the float additions and a near-tie
    between centroid dots could rank differently than the oracle."""
    from pyspark.sql.functions import pandas_udf

    cents = sorted(
        ((int(cid), [float(v) for v in vec]) for cid, vec in centroids),
    )

    def _best_fn(batch):
        X = np.array(batch.tolist(), dtype=np.float64)
        best_dot = None
        best_cid = None
        for cid, vec in cents:
            acc = np.zeros(len(X), dtype=np.float64)
            for d, v in enumerate(vec):
                acc = acc + X[:, d] * v
            if best_dot is None:
                best_dot = acc
                best_cid = np.full(len(X), cid, dtype=np.int64)
            else:
                take = acc >= best_dot
                best_dot = np.where(take, acc, best_dot)
                best_cid = np.where(take, cid, best_cid)
        return pd.Series(best_cid)

    _best = pandas_udf(_best_fn, "long")
    ad = F.transform(vec_col, lambda x: x.cast("double"))
    return corpus.select(
        F.col(id_col), _best(ad).alias("cell")
    )


def ivf_search(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    centroids: list[tuple[int, list[float]]],
    nprobe: int = 2,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe search: per query take the ``nprobe`` best cells (by
    centroid dot), brute-force cosine only within those cells, emit
    rank-only top-k (ties -> smaller neighbor id). The scale path: the
    probed fraction of the corpus is nprobe/n_cells, reached via a cell
    equi-join instead of an all-pairs cross."""
    def seq_dot(a, b):
        # plain left-to-right fold: bit-identical to F.aggregate / DuckDB
        # list folds (BLAS multi-accumulator sums are NOT — a near-tie in
        # centroid dots must rank the same in every engine)
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    def query_cells(vec):
        scored = sorted(
            ((seq_dot(vec, c), cid) for cid, c in centroids),
            key=lambda t: (-t[0], -t[1]),
        )
        return [cid for _, cid in scored[:nprobe]]

    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    corpus_cells = corpus.join(assigned, id_col)

    spark = corpus.sparkSession
    probe_rows = [
        (int(qid), int(cell)) for qid, vec in queries for cell in query_cells(vec)
    ]
    probes = spark.createDataFrame(probe_rows, "q long, cell long")
    qdf = spark.createDataFrame(
        [(int(qid), [float(x) for x in vec]) for qid, vec in queries],
        f"q long, qvec array<double>",
    )
    cand = (
        probes.join(corpus_cells, "cell")
        .join(F.broadcast(qdf), "q")
        .where(F.col(id_col) != F.col("q"))
    )
    cos = cosine_expr(F.col("qvec"), F.col(vec_col))
    scored = cand.select(
        "q", F.col(id_col).alias("neighbor"), cos.alias("cos")
    )
    ranked = salted_topk(
        scored, k, [F.col("cos").desc(), F.col("neighbor")],
        F.col("neighbor"), 32, ["q"],
    )
    return ranked.withColumn("rank", F.col("rank").cast("int")).select(
        "q", "rank", "neighbor"
    )
