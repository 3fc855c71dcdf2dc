"""SnapshotTable: snapshot log + file-stats pruning + time travel +
schema evolution + expiry (the Iceberg-shaped storage layer)."""

import time

import pyspark.sql.functions as F


def _mk(spark, tmp_path, stats=("k",)):
    from osm_spark.pipeline.table import SnapshotTable

    return SnapshotTable(spark, str(tmp_path / "tbl"), stats_cols=stats)


def _df(spark, lo, hi, files=4):
    return (
        spark.range(lo, hi)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartitionByRange(files, "k")
    )


def test_append_scan_prune_roundtrip(spark, tmp_path):
    t = _mk(spark, tmp_path)
    s0 = t.append(_df(spark, 0, 400))
    assert (s0["id"], s0["parent"], s0["operation"]) == (0, None, "append")

    all_files = t.plan_files()
    assert len(all_files) == 4
    assert sum(f["rows"] for f in all_files) == 400

    # range-partitioned files carry disjoint k bounds -> a point/range
    # predicate must PRUNE, not just filter
    pruned = t.plan_files([("k", "<", 100)])
    assert 1 <= len(pruned) < len(all_files)
    got = sorted(r.k for r in t.scan([("k", "<", 100)]).collect())
    assert got == list(range(100))

    # unknown-bounds column survives pruning (v has no stats) but still
    # filters row-level
    assert t.scan([("v", "=", 20)]).collect()[0].k == 10


def test_snapshot_lineage_and_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 100))
    ts_between = time.time()
    time.sleep(0.01)
    s1 = t.append(_df(spark, 100, 200))
    s2 = t.overwrite(_df(spark, 500, 510))

    assert [s["id"] for s in t.log()] == [0, 1, 2]
    assert s1["parent"] == 0 and s2["parent"] == 1
    assert len(s1["manifests"]) == 2  # append accumulates
    assert len(s2["manifests"]) == 1  # overwrite resets

    assert t.scan().count() == 10  # head = overwrite
    assert t.scan(snapshot_id=1).count() == 200
    assert t.snapshot_at(ts_between).count() == 100


def test_schema_evolution_add_only(spark, tmp_path):
    import pytest

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 50))
    wide = _df(spark, 50, 100).withColumn("lang", F.lit("en"))
    t.append(wide)

    head = t.scan()
    assert head.columns == ["k", "v", "lang"]
    rows = {r.k: r.lang for r in head.collect()}
    assert rows[10] is None and rows[60] == "en"
    # pruned scan touching only pre-evolution files still projects the
    # evolved schema
    assert t.scan([("k", "<", 20)]).columns == ["k", "v", "lang"]

    # old snapshot keeps its narrow schema
    assert t.scan(snapshot_id=0).columns == ["k", "v"]

    with pytest.raises(ValueError, match="ADDING columns only"):
        t.append(_df(spark, 100, 110).drop("v"))


def test_expire_and_gc(spark, tmp_path):
    import os

    t = _mk(spark, tmp_path)
    t.overwrite(_df(spark, 0, 10))
    t.overwrite(_df(spark, 10, 20))
    t.overwrite(_df(spark, 20, 30))
    assert t.expire_snapshots(keep_last=1) == [0, 1]
    removed = t.gc()
    assert any("manifest-0" in m for m in removed)
    assert sorted(os.listdir(os.path.join(t.root, "data"))) == ["snap-2"]
    assert t.scan().count() == 10
    assert sorted(r.k for r in t.scan().collect())[0] == 20


def test_merge_upsert_replaces_inserts_and_carries_files(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 400))
    # update a narrow key slice + insert beyond the max key
    upd = spark.createDataFrame(
        [(10, 999), (11, 998), (1000, 5)], "k long, v long"
    )
    s1 = t.merge_upsert(upd, "k")
    assert s1["operation"] == "merge" and s1["id"] == 1

    got = {r.k: r.v for r in t.scan().collect()}
    assert len(got) == 401                      # 400 originals + 1 insert
    assert got[10] == 999 and got[11] == 998    # replaced
    assert got[1000] == 5                       # inserted
    assert got[12] == 24                        # untouched row intact

    # pruning: only the file(s) whose k-bounds overlap [10, 1000]
    # rewrote; at least one parent file carried forward verbatim
    files = t._manifest_files(t.current())
    assert any("snap-0" in fe["path"] for fe in files)
    assert any("snap-1" in fe["path"] for fe in files)

    # time travel still sees the pre-merge state
    assert {r.k: r.v for r in t.scan(snapshot_id=0).collect()}[10] == 20


def test_merge_upsert_guards(spark, tmp_path):
    import pytest

    t = _mk(spark, tmp_path)
    t.append(_df(spark, 0, 40))
    # schema mismatch raises
    bad = spark.createDataFrame([(1, 2, 3)], "k long, v long, extra long")
    with pytest.raises(ValueError, match="schema"):
        t.merge_upsert(bad, "k")
    # empty update set commits nothing
    empty = spark.createDataFrame([], "k long, v long")
    assert t.merge_upsert(empty, "k")["id"] == t.current()["id"]
    assert len(t.log()) == 1


def test_merge_upsert_on_empty_table_is_append(spark, tmp_path):
    t = _mk(spark, tmp_path)
    s = t.merge_upsert(
        spark.createDataFrame([(1, 2)], "k long, v long"), "k"
    )
    assert s["id"] == 0 and s["operation"] == "merge"
    assert t.scan().count() == 1


def test_bloom_index_no_false_negatives_and_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    from osm_spark.pipeline import bloomindex as bx
    from osm_spark.pipeline.table import SnapshotTable

    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
    )
    t = SnapshotTable(spark, str(tmp_path / "bloomtab"))
    t.append(df.repartition(8, "k"))
    blooms = bx.build_file_blooms(t, "url")
    total = len(t.plan_files())
    assert total == 8

    # membership: every present key's true file must survive planning
    rows = spark.read.parquet(
        *[fe["path"] for fe in t.plan_files()]
    ).select("url", F.input_file_name().alias("f")).collect()
    truth = {r["url"]: r["f"].removeprefix("file://") for r in rows}
    for k in (0, 17, 399, 123):
        url = f"u{k}"
        planned = {fe["path"] for fe in bx.plan_point_lookup(t, blooms, url)}
        assert truth[url] in planned           # no false negative
        assert len(planned) < total            # and real pruning
    # absent keys prune everything (w.h.p. at this fill factor —
    # deterministic given the md5 hash, so stable across runs)
    assert bx.plan_point_lookup(t, blooms, "u999999") == []


def test_snapshot_queries_leave_one_table_dir(spark, sf_dir, tmp_path,
                                             monkeypatch):
    """A snapshot-table query builds a fresh table on every call, and the
    next query invocation removes it: calling one query twice gives the
    same rows and leaves one directory, and another query removes that."""
    import tempfile

    import osm_spark.queries as Q

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in ("table_zorder_scan", "table_merge_scan"):
        runs = [
            sorted(map(tuple, Q.SPARK_QUERIES[name](spark, sf_dir).collect()))
            for _ in range(2)
        ]
        assert runs[0] == runs[1]
        assert len(list(tmp_path.iterdir())) == 1
    Q.SPARK_QUERIES["tile_assign"](spark, sf_dir)
    assert list(tmp_path.iterdir()) == []
