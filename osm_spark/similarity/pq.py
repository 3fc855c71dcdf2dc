"""Product quantization (PQ) ANN: train, encode, ADC search.

The memory-bounded scale path past IVF (similarity/kmeans.py): split
the D-dim embedding into m subspaces, train a small k-centroid codebook
per subspace (the same integer-quantized Lloyd's loop the IVF coarse
quantizer uses), and store each vector as m small codes.  Query-time
ranking is Asymmetric Distance Computation: ONE (m × k) distance table
per query — parameter-sized, computed driver-side — and each
candidate's score is m table lookups, no vector math at all.  At 10^12
vectors the encoded corpus is m bytes/vector instead of 4D, and the
scan is a lookup-sum inside whole-stage codegen.

Everything is exact int64 arithmetic over coordinates quantized at 1e3
(kmeans.quantize_vec), so Spark and the SQL oracle replay training,
encoding, and ADC ranking bit-for-bit — the same discipline as
kmeans_iterate / ann_trained_topk.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.plans.skew import salted_topk
from osm_spark.similarity.kmeans import QUANT, kmeans_quantized


def train_pq(
    emb: DataFrame,
    m: int = 4,
    subdim: int = 16,
    k: int = 4,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_mod: int = 137,
) -> tuple[list[list[tuple[int, list[int]]]], DataFrame]:
    """-> (codebooks, codes): codebooks[s] is subspace s's centroid
    list [(cid, qvec)]; codes is (id, code0..code{m-1}) — each vector's
    m-byte PQ encoding.  Each subspace trains independently on the
    sliced subvector (slice-then-quantize == quantize-then-slice, both
    elementwise)."""
    codebooks: list[list[tuple[int, list[int]]]] = []
    codes: DataFrame | None = None
    for s in range(m):
        sub = emb.select(
            F.col(id_col),
            F.slice(vec_col, s * subdim + 1, subdim).alias(vec_col),
        )
        cents, assign = kmeans_quantized(
            sub, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
            seed_mod=seed_mod,
        )
        codebooks.append(cents)
        cf = assign.select(
            F.col("_id").alias(id_col), F.col("cell").alias(f"code{s}")
        )
        codes = cf if codes is None else codes.join(cf, id_col)
    return codebooks, codes


def quantize_query(vec: list[float]) -> list[int]:
    """Python twin of kmeans.quantize_vec for a driver-side query."""
    return [int(math.floor(float(v) * QUANT)) for v in vec]


def adc_table(
    codebooks: list[list[tuple[int, list[int]]]],
    query_qv: list[int],
    subdim: int,
) -> list[list[int]]:
    """dtab[s][cid] = exact int64 squared L2 between the query's s-th
    subvector and subspace s's centroid cid (parameter-sized: m × k)."""
    dtab: list[list[int]] = []
    for s, cents in enumerate(codebooks):
        qs = query_qv[s * subdim : (s + 1) * subdim]
        row = [0] * len(cents)
        for cid, cvec in cents:
            row[cid] = sum((a - b) * (a - b) for a, b in zip(qs, cvec))
        dtab.append(row)
    return dtab


def adc_topk(
    codes: DataFrame,
    dtab: list[list[int]],
    id_col: str = "vec_id",
    k: int = 10,
    salt: int = 16,
) -> DataFrame:
    """-> (id, rank, adc): candidates scored by m in-row table lookups
    (element_at over an m×k literal array — no vector math, no Python),
    ranked by the (adc ASC, id ASC) total order through the salted
    two-level top-k window."""
    score = None
    for s, row in enumerate(dtab):
        lut = F.array(*[F.lit(int(d)) for d in row])
        term = F.element_at(lut, F.col(f"code{s}").cast("int") + 1)
        score = term if score is None else score + term
    scored = codes.withColumn("adc", score.cast("long")).select(id_col, "adc")
    order = [F.col("adc").asc(), F.col(id_col).asc()]
    return salted_topk(scored, k, order, F.col(id_col), salt).select(
        id_col, "rank", "adc"
    )
