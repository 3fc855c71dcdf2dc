"""Physical-plan regression tests: the plan-shape claims in PLANS.md,
asserted so optimizations can't silently rot."""

import re

import pytest

import osm_spark.queries as Q

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = Q.SPARK_QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _count(plan: str, node: str) -> int:
    return len(re.findall(rf"\b{node}\b", plan))


def test_tile_assign_prunes_and_stays_jvm(spark):
    plan = _plan(spark, "tile_assign")
    assert "doc_id" in plan and "ReadSchema: struct<doc_id:bigint>" in plan
    for py_node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert py_node not in plan


def test_h3_assign_single_python_boundary(spark):
    plan = _plan(spark, "h3_assign")
    # exactly the encode+decode Arrow UDFs; no row-at-a-time Python
    assert _count(plan, "ArrowEvalPython") <= 2
    assert "BatchEvalPython" not in plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_pip_cells_one_arrow_refine_no_point_shuffle(spark):
    """The cell join's polygon side broadcasts, so no point is shuffled,
    and the refine is the one Python node, an Arrow map."""
    df = Q.SPARK_QUERIES["pip_cells"](spark, SF)
    df.collect()  # AQE final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    py_nodes = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInPandas")
    assert sum(_count(plan, n) for n in py_nodes) == 1, plan
    assert _count(plan, "MapInArrow") == 1
    assert "MapInPandas" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_simhash_neardup_no_per_band_recompute(spark):
    """The fixed plan: bands explode from one projection — the corpus
    scan must not multiply per band per join side (was 24 scans)."""
    plan = _plan(spark, "simhash_neardup")
    n_scans = _count(plan, "Scan parquet") + _count(plan, "FileScan")
    assert n_scans <= 8, plan[:2000]


def test_covering_adaptive_no_python(spark):
    plan = _plan(spark, "covering_adaptive")
    for py_node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert py_node not in plan


def test_centroid_assign_plan_constant_in_k(spark):
    """Past LITERAL_K_MAX the centroid argmin must be ONE Arrow UDF
    whose plan size does not grow with k (the literal path is O(k*dim)
    expression nodes — janino breaks at production IVF k)."""
    from osm_spark.similarity.kmeans import assign_cells

    qdf = spark.createDataFrame(
        [(i, [i % 7, i % 5, i % 3]) for i in range(20)],
        "_id long, qv array<long>",
    )

    def plan_of(k):
        cents = [(c, [c % 7, c % 5, c % 3]) for c in range(k)]
        df = assign_cells(qdf, cents)
        return df._jdf.queryExecution().executedPlan().toString()

    p64, p256 = plan_of(64), plan_of(256)
    assert _count(p64, "ArrowEvalPython") == 1
    assert "least" not in p64
    # constant plan size in k: 4x the centroids, same plan text modulo ids
    assert abs(len(p256) - len(p64)) < 200, (len(p64), len(p256))


def test_centroid_assign_arrow_matches_literal(spark):
    """The Arrow argmin and the literal F.least path must agree
    bit-for-bit, including (dist, cid) ties."""
    from osm_spark.similarity import kmeans as KM

    # duplicate centroids force dist ties -> smallest cid must win
    cents = [(c, [(c * 3) % 4, (c * 5) % 4]) for c in range(12)]
    qdf = spark.createDataFrame(
        [(i, [i % 4, (i * 7) % 4]) for i in range(50)],
        "_id long, qv array<long>",
    )
    lit = KM.assign_cells(qdf, cents).select("_id", "cell").collect()
    arrow = KM._assign_cells_arrow(qdf, cents).select("_id", "cell").collect()
    assert sorted(map(tuple, lit)) == sorted(map(tuple, arrow))


def test_ivf_assign_arrow_matches_literal(spark):
    """Float path: the Arrow fold (sequential over dims) must reproduce
    the column fold's dots bit-for-bit, including >= tie handling."""
    from osm_spark.similarity import ann as A
    from osm_spark.similarity.kmeans import LITERAL_K_MAX

    cents = [
        (c, [((c * 13) % 7 - 3) / 3.0, ((c * 11) % 5 - 2) / 2.0, 0.25])
        for c in range(12)
    ]
    # duplicate-dot centroids (same vector, different cid) force ties
    # and push the set past LITERAL_K_MAX onto the Arrow path
    cents += [(100 + c, list(cents[c][1])) for c in range(8)]
    corpus = spark.createDataFrame(
        [(i, [(i % 9 - 4) / 4.0, (i % 7 - 3) / 3.0, (i % 5 - 2) / 2.0])
         for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    assert len(cents) <= LITERAL_K_MAX or True
    lit = A.ivf_assign(corpus, cents[:LITERAL_K_MAX]).collect()
    arrow = A._ivf_assign_arrow(
        corpus, cents[:LITERAL_K_MAX], "vec_id", "embedding"
    ).collect()
    assert sorted(map(tuple, lit)) == sorted(map(tuple, arrow))
    # and the full >LITERAL_K_MAX set routes through arrow without error
    full = A.ivf_assign(corpus, cents)
    assert "ArrowEvalPython" in full._jdf.queryExecution().executedPlan().toString()
    assert full.count() == 60


def test_pip_polygon_covering_boundary_only_refine(spark):
    """The interior/boundary split: exactly ONE MapInArrow (the WKB
    refine over boundary cells); the interior branch is pure JVM, and
    the covering classify passes are Arrow UDFs over the frontier."""
    plan = _plan(spark, "pip_polygon_covering")
    assert _count(plan, "MapInArrow") == 1
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_covering_polygon_no_interior_python(spark):
    """One Arrow classify pass per level (z4..z7 -> 4), nothing else
    Python-side."""
    plan = _plan(spark, "covering_polygon")
    assert _count(plan, "ArrowEvalPython") <= 5
    assert "BatchEvalPython" not in plan


def test_round4_text_ops_no_python_nodes(spark):
    # lm_perplexity / frontier_schedule / index_search / bm25_search /
    # nb_classify / kmv_distinct / page_snapshot_at are pure built-in
    # column/window/agg plans — any Python node is a regression
    for name in (
        "lm_perplexity", "frontier_schedule", "index_search",
        "bm25_search", "nb_classify", "kmv_distinct", "page_snapshot_at",
    ):
        plan = _plan(spark, name)
        for py_node in ("ArrowEvalPython", "MapInPandas",
                        "BatchEvalPython", "FlatMapGroupsInPandas"):
            assert py_node not in plan, (name, py_node)


def test_bm25_and_search_broadcast_the_query_side(spark):
    for name in ("index_search", "bm25_search"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        # the corpus side must never become a broadcast: postings join
        # keys are term/doc, both corpus-sized
        assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan


def test_pq_adc_plan_has_single_python_boundary_per_subspace(spark):
    # PQ: k=4 <= LITERAL_K_MAX so assignment is pure column math;
    # the ADC scoring itself must stay Python-free
    plan = _plan(spark, "pq_topk")
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_snapshot_at_single_url_exchange(spark):
    plan = _plan(spark, "page_snapshot_at")
    # both window passes and the final project key on url: Catalyst
    # must reuse ONE url hash partitioning
    assert len(re.findall(r"Exchange hashpartitioning\(url", plan)) <= 1


def test_round4_geometry_ops_no_python_nodes(spark):
    # geohash_cell / clip_bbox / polyline_codec / resample_line /
    # segment_bearing / tile_smooth / hll_registers / wkt_codec /
    # tile_topk_terms are pure built-in column/window/agg plans
    for name in (
        "geohash_cell", "clip_bbox", "polyline_codec", "resample_line",
        "segment_bearing", "tile_smooth", "hll_registers", "wkt_codec",
        "tile_topk_terms",
    ):
        plan = _plan(spark, name)
        for py_node in ("ArrowEvalPython", "MapInPandas",
                        "BatchEvalPython", "FlatMapGroupsInPandas"):
            assert py_node not in plan, (name, py_node)


def test_geohash_cell_zero_shuffle_pruned_scan(spark):
    plan = _plan(spark, "geohash_cell")
    assert "Exchange hashpartitioning" not in plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_simplify_dp_single_kernel_stage(spark):
    # the scale path: ONE grouped Arrow kernel, ONE way_id exchange
    plan = _plan(spark, "simplify_dp")
    assert _count(plan, "FlatMapGroupsInPandas") == 1
    assert len(re.findall(r"Exchange hashpartitioning\(way_id", plan)) <= 1


def test_clip_and_bearing_single_window_exchange(spark):
    # the lead() window is the only exchange; the clip dataflow and the
    # bearing math must fuse into projects above it
    for name in ("clip_bbox", "segment_bearing"):
        plan = _plan(spark, name)
        assert _count(plan, "Exchange hashpartitioning") <= 1, name


def test_tile_smooth_explodes_tiles_not_pages(spark):
    # the 9x scatter explode must sit ABOVE the first aggregate:
    # Generate's child plan contains the HashAggregate, never the scan
    plan = _plan(spark, "tile_smooth")
    assert _count(plan, "Generate explode") == 1
    # two aggregates total (tile counts + box sums)
    assert _count(plan, "HashAggregate") >= 2
    # plan text prints parents first: the tile-count aggregate must
    # appear BELOW the explode (the explode's child side), proving the
    # 9x fan-out runs over the collapsed per-tile table, not the scan
    gen = plan.index("Generate explode")
    assert "HashAggregate" in plan[gen:]


def test_mvt_encode_two_shuffles_one_kernel(spark):
    # per-way collect (one way_id exchange) -> per-tile encode kernel
    # (one tile exchange into FlatMapGroupsInPandas); nothing else
    plan = _plan(spark, "mvt_encode")
    assert _count(plan, "FlatMapGroupsInPandas") == 1
    assert _count(plan, "Exchange hashpartitioning") <= 2
    assert "BatchEvalPython" not in plan


def test_convex_hull_single_shuffle_kernel(spark):
    # ONE way_id exchange into the Arrow hull kernel; nothing else
    plan = _plan(spark, "convex_hull")
    assert _count(plan, "FlatMapGroupsInPandas") == 1
    assert _count(plan, "Exchange hashpartitioning") <= 1
    assert "BatchEvalPython" not in plan


def test_snap_roads_scan_shaped_no_python(spark):
    # supercover + 9x probe + one cell equi-join + one argmin: pure
    # built-in column plan, no Python boundary anywhere
    plan = _plan(spark, "snap_roads")
    for py_node in ("ArrowEvalPython", "MapInPandas",
                    "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert py_node not in plan, py_node
    # one join for the cell probe, one left join folding argmin back
    assert _count(plan, "Generate explode") >= 1


def test_route_shortest_no_python_nodes(spark):
    # relaxation rounds are join+agg only; localCheckpoint truncates
    # lineage so the final plan is flat (RDD scan), never a 6-deep
    # nested join tree
    plan = _plan(spark, "route_shortest")
    for py_node in ("ArrowEvalPython", "MapInPandas",
                    "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert py_node not in plan, py_node
    assert "Scan ExistingRDD" in plan


def test_geocode_extract_zero_shuffle_no_python(spark):
    # render + regex + parse + tile fuse into one codegen'd project
    plan = _plan(spark, "geocode_extract")
    assert "Exchange hashpartitioning" not in plan
    for py_node in ("ArrowEvalPython", "MapInPandas",
                    "BatchEvalPython", "FlatMapGroupsInPandas"):
        assert py_node not in plan, py_node


def test_round5_session3_plan_shapes(spark):
    """Session-3 operators: the PLANS.md shuffle/Python claims."""
    # trajectory: od_matrix = user window + cell-pair rollup (2
    # exchanges); stay_points' island groupBy + rank reuse the window
    # partitioning (exactly 1 exchange); both zero Python
    od = _plan(spark, "od_matrix")
    assert _count(od, "Exchange") == 2
    st = _plan(spark, "stay_points")
    assert _count(st, "Exchange") == 1
    for p in (od, st):
        for py_node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
            assert py_node not in p

    # nearest_site: in-row argmin — no join, no exchange, no Python
    ns = _plan(spark, "nearest_site")
    assert "Exchange" not in ns and "Join" not in ns
    for py_node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert py_node not in ns

    # embed_quantize: scan-side projection only
    eq = _plan(spark, "embed_quantize")
    assert "Exchange" not in eq and "Join" not in eq

    # zonal_stats: exactly the designated ray-cast kernel, nothing else
    zs = _plan(spark, "zonal_stats")
    assert _count(zs, "MapInArrow") == 1
    assert "MapInPandas" not in zs
    assert "BatchEvalPython" not in zs

    # window_rollup / weighted_sample / hdr_quantiles: zero Python
    for name in ("window_rollup", "weighted_sample", "hdr_quantiles"):
        p = _plan(spark, name)
        for py_node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
            assert py_node not in p, name


def test_round5_session4_plan_shapes(spark):
    """Session-4 operators: the PLANS.md shuffle/Python claims."""
    # cdc: chunking is in-row (one fold); exactly TWO exchanges — the
    # deliberate single-split scan pre-spread (queries.py _t_spread,
    # 53.8s -> 13.7s at sf0.1) and the digest-keyed first-occurrence
    # window; zero Python nodes
    cdc = _plan(spark, "cdc_chunk_dedup")
    assert _count(cdc, "Exchange") == 2
    for py_node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert py_node not in cdc

    # dsir: model tables broadcast (never a vocab-sized sort-merge
    # join against the token stream); zero Python nodes
    ds = _plan(spark, "dsir_weights")
    assert "BroadcastHashJoin" in ds
    assert "SortMergeJoin" not in ds
    for py_node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert py_node not in ds

    # kcore / viterbi: BSP rounds behind localCheckpoint, final stage
    # pure JVM
    for name in ("kcore_filter", "map_match_viterbi"):
        p = _plan(spark, name)
        for py_node in ("ArrowEvalPython", "MapInPandas",
                        "BatchEvalPython"):
            assert py_node not in p, (name, py_node)

    # zorder: the pruned scan pushes the bbox predicates into parquet
    zo = _plan(spark, "table_zorder_scan")
    # (the plan string truncates the PushedFilters list, so pin the
    # x-axis pair; the y pair is the same code path)
    assert "GreaterThanOrEqual(tile_x" in zo
    assert "LessThanOrEqual(tile_x" in zo


def test_round5_session4_late_plan_shapes(spark):
    """Batches 5-10: the PLANS.md shuffle/Python claims."""
    # editjoin: gram-frequency table broadcasts; no vocab-sized
    # sort-merge join; zero Python
    ej = _plan(spark, "url_editdist_join")
    assert "BroadcastHashJoin" in ej
    for py_node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert py_node not in ej

    # jl projection: in-row literal arithmetic — no exchange, no
    # join, no Python
    jl = _plan(spark, "embed_jl_project")
    assert "Exchange" not in jl and "Join" not in jl
    for py_node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert py_node not in jl

    # scd2: the (key, ts) pre-collapse aggregation exchanges once,
    # then both window passes + the island groupBy share ONE key
    # exchange — 2 total; zero joins, zero Python
    scd = _plan(spark, "scd2_build")
    assert _count(scd, "Exchange") == 2
    assert "Join" not in scd
    for py_node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert py_node not in scd

    # bot cadence: one user-key exchange feeding window + agg
    bc = _plan(spark, "bot_cadence")
    assert _count(bc, "Exchange") == 1
    for py_node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert py_node not in bc

    # langid eval: marginal tables broadcast back onto the matrix
    le = _plan(spark, "langid_eval")
    assert _count(le, "BroadcastHashJoin") >= 2
    for py_node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert py_node not in le

    # media_gif: the encode+decode kernels are the only Python — and
    # Catalyst fuses the chained pandas UDFs into ONE ArrowEvalPython
    # node (a single Arrow round trip, better than two)
    mg = _plan(spark, "media_gif")
    assert 1 <= _count(mg, "ArrowEvalPython") <= 2
    assert "BatchEvalPython" not in mg


_PY_NODE = r"\b\w*(?:InPandas|InArrow|EvalPython)\b"


def _final_plan(df) -> str:
    """Run ``df`` once and return its AQE final plan (without the
    initial plan AQE prints after it)."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return qe.executedPlan().toString().split("== Initial Plan ==")[0]


def _operators(plan: str, node: str) -> int:
    """Operator lines starting with ``node`` — not the target a
    ReusedExchange line names."""
    return len(re.findall(rf"^[\s:|+-]*{node}", plan, re.M))


def test_annotate_ways_single_keyed_pass(spark):
    """annotate_ways plans its as-of pass once: building the DataFrame
    runs no job, and the executed plan holds one Python node, no cache
    scan and at most 6 hash shuffles (the persisted multi-consumer plan
    had 31)."""
    from osm_spark.temporal.annotate import annotate_ways
    from tests.test_annotate_edgecases import mixed_fixture

    wdf, ndf = mixed_fixture(spark)
    tracker = spark.sparkContext.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(None))
    df = annotate_ways(wdf, ndf)
    assert set(tracker.getJobIdsForGroup(None)) == jobs
    plan = _final_plan(df)
    assert _operators(plan, "Exchange hashpartitioning") <= 6, plan
    assert len(re.findall(_PY_NODE, plan)) == 1, plan
    assert "InMemoryTableScan" not in plan


def test_annotate_ways_error_surfacing_single_keyed_pass(spark):
    """With ignore_inconsistency=False annotate_ways takes the same
    keyed pass: no cogroup, one Python node, at most 6 hash shuffles."""
    from osm_spark.temporal.annotate import annotate_ways
    from tests.test_annotate_edgecases import mixed_fixture

    wdf, ndf = mixed_fixture(spark)
    plan = _final_plan(annotate_ways(wdf, ndf, ignore_inconsistency=False))
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    assert len(re.findall(_PY_NODE, plan)) == 1, plan
    assert _operators(plan, "Exchange hashpartitioning") <= 6, plan


def test_annotate_relations_runs_kernel_once(spark):
    """Members and updates come from one aggregate over the annotation
    rows, so the annotation kernel is planned once: the executed plan
    has no cogroup and three grouped pandas nodes — the relation
    kernel, the way kernel and the way reverse flags."""
    from pyspark.sql import functions as F

    from osm_spark.temporal.annotate import annotate_ways
    from osm_spark.temporal.relations import annotate_relations
    from tests.test_annotate_edgecases import mixed_fixture

    wdf, ndf = mixed_fixture(spark)
    rels = wdf.select(
        "id", "version", "visible", "changeset", "ts", "committed",
        F.lit(None).cast("map<string,string>").alias("tags"),
        F.transform("nodes", lambda n: F.struct(
            F.lit("node").alias("type"), n["ref"].alias("ref"),
            F.lit("").alias("role"),
        )).alias("members"),
    )
    df = annotate_relations(rels, ndf, annotate_ways(wdf, ndf))
    plan = _final_plan(df)
    assert _operators(plan, "FlatMapCoGroupsInPandas") == 0, plan
    assert _operators(plan, "FlatMapGroupsInPandas") == 3, plan


def test_tile_pyramid_shuffles_independent_of_levels(spark):
    """The pyramid aggregates pages once at z_max and rolls every
    coarser zoom up in one more aggregate: at most 2 hash shuffles
    whatever the number of levels (the per-zoom chain had one per
    level), no job while building (the documents schema is known, not
    inferred), and a single-level pyramid has no explode."""
    from osm_spark.pipeline import pages

    tracker = spark.sparkContext.statusTracker()

    def jobs_started(build):
        before = set(tracker.getJobIdsForGroup(None))
        df = build()
        return df, len(set(tracker.getJobIdsForGroup(None)) - before)

    for z_max, z_min in ((12, 0), (10, 4), (7, 7)):
        df, n_jobs = jobs_started(
            lambda: pages.tile_pyramid_counts(spark, SF, z_max=z_max, z_min=z_min)
        )
        assert n_jobs == 0
        plan = _final_plan(df)
        n_ex = _operators(plan, "Exchange hashpartitioning")
        assert 1 <= n_ex <= 2, plan
        assert ("Generate" in plan) == (z_min < z_max), plan


def test_pbf_file_scans_sized_to_the_file(spark, tmp_path):
    """A small .osm.pbf is one task per reader, as Spark's file split
    rule would make it (the frame rows used to be sliced into one
    Python task per core), and building a reader starts no job."""
    from osm_spark.sources import pbf as P

    blocks = [
        P.encode_primitive_block(
            nodes=[{"id": b * 10 + i, "lat": i, "lon": b} for i in range(5)]
        )
        for b in range(6)
    ] + [
        P.encode_primitive_block(ways=[{"id": 1, "refs": [1, 2], "tags": {}}]),
        P.encode_primitive_block(relations=[{
            "id": 1, "tags": {},
            "members": [("way", 1, "outer")],
        }]),
    ]
    path = tmp_path / "small.osm.pbf"
    path.write_bytes(P.encode_pbf(blocks))
    tracker = spark.sparkContext.statusTracker()
    for read in (
        P.read_pbf_file_nodes_arrow, P.read_pbf_file_ways_arrow,
        P.read_pbf_file_relations_arrow,
    ):
        jobs = set(tracker.getJobIdsForGroup(None))
        df = read(spark, str(path))
        assert set(tracker.getJobIdsForGroup(None)) == jobs
        assert df.rdd.getNumPartitions() == 1
        assert "MapInArrow" in df._jdf.queryExecution().executedPlan().toString()


def test_multipolygon_assembly_one_arrow_pass(spark):
    """Members are collected per relation in the JVM and assembled in
    one mapInArrow pass: no per-relation pandas group kernel."""
    plan = _final_plan(Q.SPARK_QUERIES["multipolygon_assembly"](spark, SF))
    assert len(re.findall(_PY_NODE, plan)) == 1, plan
    assert "MapInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan
