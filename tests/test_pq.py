"""Product quantization: encode determinism, ADC exactness, ranking."""

from __future__ import annotations

from osm_spark.similarity import pq


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _vec(*blocks):
    # build a dim-8 vector from two dim-4 blocks
    out = []
    for b in blocks:
        out.extend(b)
    return [float(x) for x in out]


def test_train_encodes_every_vector_with_m_codes(spark):
    rows = [(i, _vec([i % 3, 0, 0, 0], [0, i % 2, 0, 0])) for i in range(12)]
    books, codes = pq.train_pq(
        _emb(spark, rows), m=2, subdim=4, k=2, iters=1, seed_mod=5
    )
    got = codes.collect()
    assert len(got) == 12
    assert set(codes.columns) == {"vec_id", "code0", "code1"}
    assert len(books) == 2 and all(len(b) == 2 for b in books)
    # codes are valid centroid ids
    for r in got:
        assert r.code0 in (0, 1) and r.code1 in (0, 1)


def test_adc_table_is_exact_int_squared_l2(spark):
    books = [
        [(0, [0, 0]), (1, [1000, 0])],
        [(0, [0, 2000]), (1, [0, 0])],
    ]
    q = [500, 0, 0, 1000]  # already quantized, subdim=2
    dtab = pq.adc_table(books, q, subdim=2)
    assert dtab[0] == [500 * 500, 500 * 500]
    assert dtab[1] == [1000 * 1000, 1000 * 1000 + 0]


def test_adc_topk_orders_by_lookup_sum_then_id(spark):
    codes = spark.createDataFrame(
        [(1, 0, 0), (2, 1, 0), (3, 0, 1), (4, 1, 1)],
        "vec_id long, code0 int, code1 int",
    )
    dtab = [[10, 20], [1, 2]]
    out = pq.adc_topk(codes, dtab, k=4).collect()
    ranked = [(r.rank, r.vec_id, r.adc) for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [(1, 1, 11), (2, 3, 12), (3, 2, 21), (4, 4, 22)]


def test_adc_tie_breaks_by_vec_id_and_salt_invisible(spark):
    codes = spark.createDataFrame(
        [(i, i % 2, 0) for i in range(30)], "vec_id long, code0 int, code1 int"
    )
    dtab = [[5, 5], [0, 0]]  # every vector scores 5 -> pure id order
    a = [(r.rank, r.vec_id) for r in sorted(
        pq.adc_topk(codes, dtab, k=6, salt=1).collect(), key=lambda r: r.rank)]
    b = [(r.rank, r.vec_id) for r in sorted(
        pq.adc_topk(codes, dtab, k=6, salt=64).collect(), key=lambda r: r.rank)]
    assert a == b == [(i + 1, i) for i in range(6)]


def test_quantize_query_matches_column_quantization(spark):
    vals = [0.0541, -0.0385, 1.0, -1.0]
    df = _emb(spark, [(0, vals)])
    from osm_spark.similarity.kmeans import quantize_vec

    col = df.select(quantize_vec("embedding").alias("qv")).first()["qv"]
    assert list(col) == pq.quantize_query(vals)
