"""The three workloads: input size, one timed repetition, and its check.

A repetition calls the program's public functions, forces each layer's
result with one action, and compares the outcome with the generator's
exact answer.  It returns the list of mismatches (empty when correct).
The same code runs traced and untraced; tracing only adds spans and a
walk of each action's executed plan (see ``Ctx``).  Measurements that
need extra Spark actions live in a workload's ``extras`` and run after
each traced repetition, outside its timing.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench import gen
from perfbench.probe import (
    MB, PlanNode, Tracer, cached_mb, count, mmax, msum, python_ms, walk_plan,
)

PIP_ZOOM = 7
BASE_ZOOM = 12  # as in __spark_entry__.entry
STREAM_TIMEOUT_S = 120


@dataclass
class Ctx:
    """Per-run measurement context handed to every repetition."""

    spark: object
    tracer: Tracer
    work_dir: str
    nodes: dict[str, list[PlanNode]] = field(default_factory=dict)
    progress: list[dict] = field(default_factory=list)
    values: dict[str, float] = field(default_factory=dict)
    _seen: set[int] = field(default_factory=set)

    @property
    def trace(self) -> bool:
        return self.tracer.enabled

    def begin_rep(self, rep: int) -> None:
        self.tracer.rep = rep
        self.nodes = {}
        self.progress = []
        self.values = {}
        self._seen = set()

    def span(self, name: str):
        return self.tracer.span(name)

    def collect(self, df, layer: str):
        """Run ``df`` and, when tracing, keep its executed plan's
        operators under ``layer``.  Operators that built a cache are
        credited to the first action that ran them."""
        rows = df.collect()
        if self.trace:
            plan = df._jdf.queryExecution().executedPlan()
            jvm = self.spark.sparkContext._jvm
            self.nodes.setdefault(layer, []).extend(walk_plan(plan, self._seen, jvm))
        return rows


# ------------------------------------------------------------ tile_pyramid
def tile_pyramid_inputs(seed: int, out_dir: str, scale: float) -> gen.Inputs:
    return gen.documents(seed, int(1_000_000 * scale), out_dir)


def tile_pyramid(ctx: Ctx, inp: gen.Inputs) -> list[str]:
    from osm_spark.pipeline import pages

    sf_dir = os.path.dirname(inp.paths["documents"])
    with ctx.span("pipeline.pages"):
        pyr = pages.tile_pyramid_counts(ctx.spark, sf_dir, z_max=BASE_ZOOM, z_min=0)
        rows = ctx.collect(
            pyr.groupBy("zoom").agg(
                F.sum("n_pages").alias("pages"), F.count("*").alias("tiles")
            ),
            "pipeline.pages",
        )
    n = inp.expect["n"]
    by_zoom = {r["zoom"]: r for r in rows}
    problems = []
    if sorted(by_zoom) != list(range(inp.expect["zooms"])):
        problems.append(f"zooms {sorted(by_zoom)}")
    problems += [
        f"zoom {z}: {r['pages']} pages != {n}"
        for z, r in by_zoom.items() if r["pages"] != n
    ]
    if 0 in by_zoom and by_zoom[0]["tiles"] != 1:
        problems.append(f"zoom 0 has {by_zoom[0]['tiles']} tiles")
    return problems


def tile_pyramid_extras(ctx: Ctx, inp: gen.Inputs, layers: dict) -> dict[str, float]:
    """Base-zoom assignment forced alone, so the roll-up's share of the
    repetition's pyramid span (in ``layers``) shows."""
    from osm_spark.pipeline import pages

    sf_dir = os.path.dirname(inp.paths["documents"])
    t0 = time.perf_counter()
    base_tiles = pages.tile_counts(ctx.spark, sf_dir, BASE_ZOOM).count()
    assign_s = time.perf_counter() - t0
    return {"geo.tiles.assign_s": assign_s,
            "geo.tiles.rollup_s": layers["pipeline.pages.s"] - assign_s,
            "geo.tiles.base_tiles": float(base_tiles)}


def tile_pyramid_layers(ctx: Ctx) -> dict[str, float]:
    nodes = ctx.nodes.get("pipeline.pages", [])
    return {
        "pipeline.pages.scan_ms": msum(nodes, "FileSourceScanExec", "scanTime")
        + msum(nodes, "FileSourceScanExec", "metadataTime"),
        "pipeline.pages.scan_mb": msum(nodes, "FileSourceScanExec", "filesSize") / MB,
        "geo.tiles.codegen_ms": float(msum(nodes, "WholeStageCodegenExec", "pipelineTime")),
        "geo.tiles.agg_ms": float(msum(nodes, "HashAggregateExec", "aggTime")),
        "geo.tiles.agg_peak_mb": mmax(nodes, "HashAggregateExec", "peakMemory") / MB,
        "geo.tiles.spill_mb": msum(nodes, "HashAggregateExec", "spillSize") / MB,
        "geo.tiles.exchanges": float(count(nodes, "ShuffleExchangeExec")),
        "geo.tiles.reused_exchanges": float(count(nodes, "ReusedExchangeExec")),
    }


# -------------------------------------------------------- osm_polygon_join
def osm_polygon_join_inputs(seed: int, out_dir: str, scale: float) -> gen.Inputs:
    return gen.osm_planet(
        seed,
        n_rel=max(20, int(300 * scale)),
        n_filler=int(50_000 * scale),
        n_points=int(50_000 * scale),
        out_dir=out_dir,
    )


def _way_geometry(nodes, ways):
    """Ordered (lon, lat) line per way: way refs joined to node coords."""
    refs = ways.select(F.col("id").alias("ref"), F.posexplode("refs").alias("pos", "nid"))
    pts = refs.join(nodes.select(F.col("id").alias("nid"), "lon", "lat"), "nid")
    return pts.groupBy("ref").agg(
        F.array_sort(F.collect_list(F.struct("pos", "lon", "lat"))).alias("pts")
    ).select(
        "ref",
        F.transform(
            "pts", lambda p: F.struct(p["lon"].alias("lon"), p["lat"].alias("lat"))
        ).alias("line"),
    )


def osm_polygon_join(ctx: Ctx, inp: gen.Inputs) -> list[str]:
    from osm_spark.geo import pip
    from osm_spark.geom import assembly
    from osm_spark.sources import pbf

    spark, path, e = ctx.spark, inp.paths["pbf"], inp.expect
    cached = []
    try:
        with ctx.span("sources.pbf"):
            nodes = pbf.read_pbf_file_nodes_arrow(spark, path, ("id", "lat", "lon"))
            ways = pbf.read_pbf_file_ways_arrow(spark, path, ("id", "refs"))
            rels = pbf.read_pbf_file_relations_arrow(spark, path, ("id", "members"))
            cached += [nodes.persist(), ways.persist(), rels.persist()]
            # one action builds all three caches
            kinds = ("nodes", "ways", "relations")
            tagged = [df.select(F.lit(k).alias("kind"))
                      for k, df in zip(kinds, (nodes, ways, rels))]
            counts = tagged[0].unionByName(tagged[1]).unionByName(tagged[2])
            n = dict(ctx.collect(counts.groupBy("kind").count(), "sources.pbf"))
            got = [n.get(k, 0) for k in kinds]
        with ctx.span("geom.assembly"):
            members = F.transform(
                "members",
                lambda m: F.struct(
                    m["type"].alias("type"), m["ref"].alias("ref"),
                    m["role"].alias("role"), F.lit(0).alias("orientation"),
                ),
            )
            rings = assembly.assemble_multipolygons_df(
                rels.select(F.col("id").alias("rel_id"), members.alias("members")),
                _way_geometry(nodes, ways),
            )
            cached.append(rings.persist())
            ring_rows = ctx.collect(
                rings.groupBy("rel_id").agg(
                    F.count("*").alias("rings"), F.max("tainted").alias("tainted")
                ),
                "geom.assembly",
            )
        with ctx.span("geo.pip"):
            xs = F.transform("ring", lambda p: p["lon"])
            ys = F.transform("ring", lambda p: p["lat"])
            polys = rings.select(
                (F.col("rel_id") * 1000 + F.col("poly_idx") * 10 + F.col("ring_idx"))
                .alias("poly_id"),
                "rel_id", "ring_idx",
                xs.alias("xs"), ys.alias("ys"),
                F.array_min(xs).alias("xmin"), F.array_max(xs).alias("xmax"),
                F.array_min(ys).alias("ymin"), F.array_max(ys).alias("ymax"),
            )
            points = spark.read.parquet(inp.paths["points"])
            hits = pip.pip_join_cells(points, polys, zoom=PIP_ZOOM)
            pip_rows = ctx.collect(
                hits.groupBy("rel_id").agg(
                    F.sum(F.when(F.col("ring_idx") == 0, 1).otherwise(-1)).alias("n"),
                    F.count("*").alias("matches"),
                ),
                "geo.pip",
            )
    finally:
        for df in cached:
            df.unpersist(blocking=True)

    problems = [
        f"decoded {k}: {g} != {e[k]}" for k, g in zip(kinds, got) if g != e[k]
    ]
    ring_got = {r["rel_id"]: (r["rings"], r["tainted"]) for r in ring_rows}
    ring_exp = {k: (e["rings"][k], e["tainted"][k]) for k in e["rings"]}
    if ring_got != ring_exp:
        bad = sorted(k for k in ring_exp if ring_got.get(k) != ring_exp[k])[:5]
        problems.append(f"rings differ for relations {bad}")
    pip_got = {r["rel_id"]: r["n"] for r in pip_rows if r["n"]}
    pip_exp = {k: v for k, v in e["points_in"].items() if v}
    if pip_got != pip_exp:
        bad = sorted(k for k in pip_exp.keys() | pip_got.keys()
                     if pip_got.get(k) != pip_exp.get(k))[:5]
        problems.append(f"point counts differ for relations {bad}")
    ctx.values.update({
        "sources.pbf.elements": float(sum(got)),
        "geom.assembly.rings": float(sum(r["rings"] for r in ring_rows)),
        "geom.assembly.valid_ratio": sum(
            r["rings"] for r in ring_rows if not r["tainted"]
        ) / e["relations"],
        "geo.pip.matches": float(sum(r["matches"] for r in pip_rows)),
    })
    return problems


def osm_polygon_join_layers(ctx: Ctx) -> dict[str, float]:
    dec = ctx.nodes.get("sources.pbf", [])
    asm = ctx.nodes.get("geom.assembly", [])
    pj = ctx.nodes.get("geo.pip", [])
    py_dec, py_asm, py_pip = python_ms(dec), python_ms(asm), python_ms(pj)
    candidates = sum(
        n.metrics.get("numOutputRows", 0) for n in pj if n.cls.endswith("JoinExec")
    )
    # the second of the two explodes in polygon_covering_tiles emits
    # one row per (ring, covering cell)
    cell_rows = mmax(pj, "GenerateExec", "numOutputRows")
    out = {
        "sources.pbf.py_boot_ms": py_dec["boot"],
        "sources.pbf.py_init_ms": py_dec["init"],
        "sources.pbf.py_exec_ms": py_dec["exec"],
        "sources.pbf.arrow_mb": py_dec["received_mb"],
        "geom.assembly.py_exec_ms": py_asm["exec"],
        "geom.assembly.shuffle_mb": msum(asm, "ShuffleExchangeExec", "dataSize") / MB,
        "geo.pip.cell_rows": float(cell_rows),
        "geo.pip.candidates": float(candidates),
        "geo.pip.shuffle_mb": msum(pj, "ShuffleExchangeExec", "dataSize") / MB,
        "geo.pip.broadcast_mb": msum(pj, "BroadcastExchangeExec", "dataSize") / MB,
        "geo.pip.py_exec_ms": py_pip["exec"],
    }
    out["geo.pip.hit_ratio"] = (
        ctx.values.get("geo.pip.matches", 0.0) / candidates if candidates else 0.0
    )
    return out


# ----------------------------------------------------- history_replication
def history_replication_inputs(seed: int, out_dir: str, scale: float) -> gen.Inputs:
    return gen.histories(
        seed,
        n_nodes=int(5_000 * scale),
        n_ways=int(1_500 * scale),
        n_batches=2,
        batch_rows=int(500 * scale),
        out_dir=out_dir,
    )


def history_replication(ctx: Ctx, inp: gen.Inputs) -> list[str]:
    from osm_spark.streaming import replication
    from osm_spark.streaming.replication import CHANGE_SCHEMA
    from osm_spark.temporal import annotate

    spark, e = ctx.spark, inp.expect
    out_dir = os.path.join(ctx.work_dir, f"replication-{ctx.tracer.rep}")
    nodes = spark.read.parquet(inp.paths["nodes"])
    try:
        with ctx.span("temporal.annotate"):
            ann = annotate.annotate_ways(spark.read.parquet(inp.paths["ways"]), nodes)
            rows = ctx.collect(
                ann.select(
                    "id", "version",
                    F.transform("nodes", lambda n: n["version"]).alias("slots"),
                    F.when(F.col("updates").isNull(), 0)
                    .otherwise(F.size("updates")).alias("updates"),
                ),
                "temporal.annotate",
            )
            if ctx.trace:
                ctx.values["temporal.annotate.cache_mb"] = cached_mb(spark)
        annotate.release_caches()
        with ctx.span("streaming.replication"):
            state0 = replication.latest_state(
                nodes.select(F.lit("node").alias("type"), "id", "version",
                             "visible", "changeset", "ts", "lat", "lon")
            )
            source = (
                spark.readStream.schema(CHANGE_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(inp.paths["changes"])
            )
            q = replication.stream_changes(
                spark, source, state0, os.path.join(out_dir, "checkpoint"), out_dir
            ).start()
            try:
                finished = q.awaitTermination(STREAM_TIMEOUT_S)
            finally:
                if q.isActive:
                    q.stop()
            ctx.progress = [
                {"durationMs": dict(p.durationMs), "rows": p.numInputRows}
                for p in q.recentProgress if p.numInputRows
            ]
            actions = ctx.collect(
                spark.read.parquet(os.path.join(out_dir, "actions"))
                .groupBy("action").count(),
                "streaming.replication",
            )
            state = ctx.collect(
                replication.read_state(spark, out_dir).select("id", "version"),
                "streaming.replication",
            )
        problems = [] if finished else ["replication stream timed out"]
        slots = {(r["id"], r["version"]): list(r["slots"]) for r in rows}
        if slots != e["slots"]:
            bad = sorted(k for k in e["slots"] if slots.get(k) != e["slots"][k])[:5]
            problems.append(f"slot versions differ for ways {bad}")
        upd = {(r["id"], r["version"]): r["updates"] for r in rows}
        if upd != e["updates"]:
            bad = sorted(k for k in e["updates"] if upd.get(k) != e["updates"][k])[:5]
            problems.append(f"update counts differ for ways {bad}")
        got_actions = {r["action"]: r["count"] for r in actions}
        if got_actions != {k: v for k, v in e["actions"].items() if v}:
            problems.append(f"actions {got_actions} != {e['actions']}")
        if sorted((r["id"], r["version"]) for r in state) != e["final_state"]:
            problems.append("final state differs")
        if len(ctx.progress) != e["batches"]:
            problems.append(f"{len(ctx.progress)} micro-batches != {e['batches']}")
        ctx.values["streaming.replication.actions"] = float(sum(got_actions.values()))
        if ctx.trace:
            ctx.values.update(_state_store_stats(out_dir, inp))
        return problems
    finally:
        annotate.release_caches()
        shutil.rmtree(out_dir, ignore_errors=True)


def _state_store_stats(out_dir: str, inp: gen.Inputs) -> dict[str, float]:
    """What the stream's bucketed state store wrote after its initial
    epoch: bytes, files, share of buckets each batch touched, and state
    rows rewritten per changed row."""
    import json

    import pyarrow.parquet as pq

    root = os.path.join(out_dir, "_state")
    size = files = rows = 0
    for d, _, fs in os.walk(root):
        if os.path.relpath(d, root).split(os.sep)[0] in ("epoch=0", "."):
            continue
        for f in fs:
            if f.endswith(".parquet"):
                fn = os.path.join(d, f)
                size += os.path.getsize(fn)
                files += 1
                rows += pq.ParquetFile(fn).metadata.num_rows
    with open(os.path.join(root, "STATE.json")) as f:
        hist = json.load(f)["history"]
    touched = [
        sum(1 for b, p in h["buckets"].items() if prev["buckets"].get(b) != p)
        / max(len(h["buckets"]), 1)
        for prev, h in zip(hist, hist[1:])
    ]
    return {
        "streaming.state_store.written_mb": size / MB,
        "streaming.state_store.files_written": float(files),
        "streaming.state_store.bucket_touch_ratio":
            sum(touched) / len(touched) if touched else 0.0,
        "streaming.state_store.write_amp": rows / inp.rows["changes"],
    }


def history_replication_layers(ctx: Ctx) -> dict[str, float]:
    nodes = ctx.nodes.get("temporal.annotate", [])
    py = python_ms(nodes)
    dur = [p["durationMs"] for p in ctx.progress]
    return {
        "batch_s": statistics.median(d["triggerExecution"] for d in dur) / 1000
        if dur else 0.0,
        "temporal.annotate.py_init_ms": py["init"],
        "temporal.annotate.py_exec_ms": py["exec"],
        "temporal.annotate.shuffle_mb": msum(nodes, "ShuffleExchangeExec", "dataSize") / MB,
        "temporal.annotate.exchanges": float(count(nodes, "ShuffleExchangeExec")),
        "streaming.replication.add_batch_ms":
            sum(d.get("addBatch", 0) for d in dur) / max(len(dur), 1),
        "streaming.replication.planning_ms":
            sum(d.get("queryPlanning", 0) for d in dur) / max(len(dur), 1),
    }


@dataclass(frozen=True)
class Workload:
    name: str
    inputs: object
    run: object
    layers: object
    extras: object = None


WORKLOADS = {
    w.name: w
    for w in (
        Workload("tile_pyramid", tile_pyramid_inputs, tile_pyramid,
                 tile_pyramid_layers, tile_pyramid_extras),
        Workload("osm_polygon_join", osm_polygon_join_inputs, osm_polygon_join,
                 osm_polygon_join_layers),
        Workload("history_replication", history_replication_inputs,
                 history_replication, history_replication_layers),
    )
}
