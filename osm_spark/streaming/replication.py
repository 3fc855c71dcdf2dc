"""Replication streaming — the reference's minutely/hourly/daily change
feed (replication/interval.go) re-expressed as Structured Streaming.

Model: a ``changes`` stream of rows (seq, action, type, id, version,
visible, changeset, ts, lat, lon) where ``seq`` is the replication
sequence number (the stream offset; interval.go:33-39 State.SeqNum).
Semantics ported:

- Change merge order create/modify/delete with forced visible
  true/true/false (change.go:54-62) -> the ``visible`` column.
- annotate.Change (annotate/change.go:15-185): join each incoming batch
  against the element-state table, emit osm.Diff-style actions with
  (old, new) pairs; state = latest version per element id.
- 30-minute threshold (annotate/options.go:13-25) -> watermark on ts.

Two surfaces:
- ``apply_change_batch``: the deterministic batch kernel (state x batch
  -> actions + new state). Pure DataFrame ops; used by foreachBatch and
  directly testable.
- ``stream_changes``: wires a streaming source through
  ``foreachBatch(apply_change_batch)`` with checkpointing — resume is
  Spark's own offset log + our manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CHANGE_SCHEMA = (
    "seq long, action string, type string, id long, version int, "
    "visible boolean, changeset long, ts timestamp, lat double, lon double"
)

STATE_COLS = ["type", "id", "version", "visible", "changeset", "ts", "lat", "lon"]


def latest_state(elements: DataFrame) -> DataFrame:
    """State table: latest version per (type, id) — max_by on version
    with ts tie-break (HistoryDatasource 'latest' semantics)."""
    w = Window.partitionBy("type", "id").orderBy(
        F.col("version").desc(), F.col("ts").desc()
    )
    return (
        elements.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_change_batch(state: DataFrame, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One replication batch against the current state.

    Returns (actions, new_state):
    - actions: (seq, action, type, id, new_version, old_version) —
      osm.Diff action rows (diff.go:6-26): create has no old, modify
      carries the previous version, delete carries old + invisible new.
      A 'modify' with no prior state degrades to create-like (old null,
      annotate/change.go:97-104).
    - new_state: state with the batch applied (latest version wins).
    """
    # batches may contain several versions of one element: keep order by
    # (seq, version) and act on the LAST, but emit one action per row
    # paired with its predecessor (state or earlier-in-batch).
    prev = state.select(
        "type", "id", F.col("version").alias("old_version"),
        F.col("visible").alias("old_visible"),
    )
    w = Window.partitionBy("type", "id").orderBy("seq", "version")
    b = batch.withColumn("_prev_in_batch", F.lag("version").over(w))
    actions = (
        b.join(prev, ["type", "id"], "left")
        .select(
            "seq",
            "action",
            "type",
            "id",
            F.col("version").alias("new_version"),
            F.coalesce("_prev_in_batch", "old_version").alias("old_version"),
            "visible",
        )
        .withColumn(
            "action",
            F.when(F.col("action") == "delete", F.lit("delete"))
            .when(F.col("old_version").isNull(), F.lit("create"))
            .otherwise(F.lit("modify")),
        )
    )
    incoming_latest = latest_state(batch.select(*STATE_COLS, "seq")).drop("seq")
    new_state = latest_state(
        state.unionByName(incoming_latest)
    )
    return actions, new_state


def stream_changes(
    spark,
    source_df: DataFrame,
    state_init: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
):
    """Wire a streaming changes source through the batch kernel.

    ``source_df`` must be a streaming DataFrame with CHANGE_SCHEMA.
    State lives in a hash-BUCKETED store (state_store.py): a batch
    rewrites whole every bucket its keys hash into and commits via one
    atomic pointer rename — O(|batch| + |state| * touched / n_buckets)
    per batch, about O(|state|) once the batch has more distinct keys
    than buckets, and no half-overwritten window (a crash before
    the rename leaves the previous committed state intact; Spark's
    checkpoint replays the batch, so actions are at-least-once — dedupe
    downstream on (batch_id, seq, type, id, new_version) if exactly-
    once is needed). Watermark = the reference's 30-minute threshold.
    """
    from osm_spark.streaming.state_store import BucketedStateStore

    store = BucketedStateStore(spark, f"{out_dir}/_state")
    store.init(state_init)

    def process(batch_df: DataFrame, batch_id: int):
        sp = batch_df.sparkSession
        st = BucketedStateStore(sp, f"{out_dir}/_state")
        touched = sorted(
            r["_b"]
            for r in batch_df.select(st.bucket_col().alias("_b")).distinct().collect()
        )
        if not touched:
            return
        ptr = st.pointer()
        have = [b for b in touched if str(b) in ptr["buckets"]]
        state_touched = (
            st.read(have)
            if have
            else sp.createDataFrame([], batch_df.select(*STATE_COLS).schema)
        )
        # actions only need the prior version of keys PRESENT IN THE
        # BATCH -> the touched buckets are a sufficient state slice
        actions, _ = apply_change_batch(state_touched, batch_df)
        actions.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            f"{out_dir}/actions"
        )
        st.apply(
            latest_state(batch_df.select(*STATE_COLS, "seq")).drop("seq"),
            latest_state,
        )

    return (
        source_df.withWatermark("ts", "30 minutes")
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def read_state(spark, out_dir: str) -> DataFrame:
    """Committed state of a stream_changes run (bucketed-store read)."""
    from osm_spark.streaming.state_store import BucketedStateStore

    return BucketedStateStore(spark, f"{out_dir}/_state").read()


# ------------------------------------------------------ changeset stream
# The reference's SECOND replication feed: changesets.go:147-205 serves
# per-sequence changeset lists; consumers maintain a per-changeset
# rollup. Modeled as an associatively-mergeable aggregate so micro-batch
# merge == full recompute (exactly the property the oracle checks).

CHANGESET_SCHEMA = "cs_seq long, cs_id long, ts timestamp, n_changes int"
CS_STATE_COLS = ["cs_id", "n_updates", "n_changes", "first_us", "last_us"]


def changeset_rollup_batch(batch: DataFrame) -> DataFrame:
    """Per-changeset rollup of one replication batch."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return batch.groupBy("cs_id").agg(
        F.count("*").alias("n_updates"),
        F.sum("n_changes").cast("long").alias("n_changes"),
        F.min(us).alias("first_us"),
        F.max(us).alias("last_us"),
    )


def apply_changeset_batch(state: DataFrame, batch: DataFrame) -> DataFrame:
    """Merge a changeset batch into the rollup state (associative:
    sum/sum/min/max) — usable directly in foreachBatch with the
    bucketed store keyed on cs_id."""
    b = changeset_rollup_batch(batch)
    return (
        state.unionByName(b)
        .groupBy("cs_id")
        .agg(
            F.sum("n_updates").cast("long").alias("n_updates"),
            F.sum("n_changes").cast("long").alias("n_changes"),
            F.min("first_us").alias("first_us"),
            F.max("last_us").alias("last_us"),
        )
    )
