"""Hash-bucketed streaming state store with atomic pointer commits.

The scale-safe replacement for rewrite-the-whole-state-per-batch: state
rows hash into ``n_buckets`` by key, each bucket lives in versioned
parquet directories, and a single JSON pointer file (STATE.json) maps
bucket -> committed version directory. One micro-batch:

1. bucket the batch, find the TOUCHED bucket set (<= n_buckets) — the
   only buckets that rewrite; untouched buckets carry their committed
   pointer forward. A touched bucket is read and rewritten whole, so
   batch cost is O(|batch| + |state| * touched / n_buckets). Keys hash
   uniformly, so a batch with many more distinct keys than buckets
   touches nearly all of them and rewrites about the whole state (500
   random keys over the default 16 buckets touch all 16); only batches
   of few keys, or keys clustered in few buckets, stay below O(|state|);
2. merge old-touched-buckets UNION batch through the key-wise merge in
   ONE Spark job, written ``partitionBy(bucket)`` into a fresh epoch
   directory (never overwriting committed data);
3. commit by atomically replacing STATE.json (write sidecar + rename —
   the same contract as pipeline/manifest.py). A crash before the
   rename leaves the previous pointer fully intact; a crash after is a
   committed batch. There is no intermediate state, unlike the old
   two-step overwrite which could be caught half-overwritten.

At 100 TB state the pointer swap is the Iceberg-snapshot analog (the
production target would commit the same epoch as an Iceberg snapshot);
``gc()`` drops epoch directories no pointer references.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class BucketedStateStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: tuple[str, ...] = ("type", "id"),
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.root = root
        self.key_cols = list(key_cols)
        self.n_buckets = n_buckets

    # ---------------------------------------------------------- pointer
    @property
    def _pointer_path(self) -> str:
        return os.path.join(self.root, "STATE.json")

    def pointer(self) -> dict:
        if not os.path.exists(self._pointer_path):
            return {"epoch": -1, "buckets": {}}
        with open(self._pointer_path) as f:
            return json.load(f)

    def _commit_pointer(self, ptr: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._pointer_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(ptr, f, indent=2, sort_keys=True)
        os.replace(tmp, self._pointer_path)

    # ------------------------------------------------------------ bucket
    def bucket_col(self) -> F.Column:
        return F.pmod(F.xxhash64(*self.key_cols), F.lit(self.n_buckets)).cast("int")

    def _epoch_dir(self, epoch: int) -> str:
        return os.path.join(self.root, f"epoch={epoch}")

    # -------------------------------------------------------------- API
    def init(self, state_df: DataFrame) -> None:
        """Write the initial full state as epoch 0 (all buckets)."""
        path = self._epoch_dir(0)
        (
            state_df.withColumn("_bkt", self.bucket_col())
            .write.mode("overwrite")
            .partitionBy("_bkt")
            .parquet(path)
        )
        buckets = {}
        for d in os.listdir(path):
            if d.startswith("_bkt="):
                buckets[d.split("=")[1]] = os.path.join(path, d)
        self._commit_pointer(
            {
                "epoch": 0,
                "buckets": buckets,
                "history": [{"epoch": 0, "buckets": buckets}],
            }
        )

    def read(
        self, bucket_ids: list[int] | None = None, epoch: int | None = None
    ) -> DataFrame:
        """Committed state (optionally only some buckets).

        ``epoch`` time-travels to any earlier committed epoch — the
        At(t) surface of the reference's osmapi options (SURVEY §2.1)
        realized over the pointer history: every commit appends its
        full bucket map to STATE.json's ``history``, and old epoch
        directories stay on disk until gc(), so reads at epoch N see
        exactly the state committed then.
        """
        ptr = self.pointer()
        if epoch is not None:
            for h in ptr.get("history", []):
                if h["epoch"] == epoch:
                    ptr = h
                    break
            else:
                raise ValueError(f"epoch {epoch} not in committed history")
        paths = [
            p
            for b, p in sorted(ptr["buckets"].items(), key=lambda kv: int(kv[0]))
            if bucket_ids is None or int(b) in bucket_ids
        ]
        if not paths:
            raise ValueError("state store empty (no committed buckets)")
        return self.spark.read.parquet(*paths)

    def apply(self, batch_df: DataFrame, merge_fn) -> None:
        """Merge one batch and commit.

        ``merge_fn(df) -> df`` must be KEY-WISE (latest-per-key style):
        it receives old-touched-state UNION batch and returns the new
        rows for those keys. Runs as one Spark job; commit is the
        pointer rename.
        """
        ptr = self.pointer()
        batch_df = batch_df.withColumn("_bkt", self.bucket_col())
        touched = sorted(
            r["_bkt"] for r in batch_df.select("_bkt").distinct().collect()
        )
        if not touched:
            return
        epoch = ptr["epoch"] + 1
        have = [b for b in touched if str(b) in ptr["buckets"]]
        old = (
            self.read(have).withColumn("_bkt", self.bucket_col())
            if have
            else None
        )
        merged_in = batch_df if old is None else old.unionByName(batch_df)
        new_rows = merge_fn(merged_in.drop("_bkt")).withColumn(
            "_bkt", self.bucket_col()
        )
        path = self._epoch_dir(epoch)
        new_rows.write.mode("overwrite").partitionBy("_bkt").parquet(path)
        new_buckets = dict(ptr["buckets"])
        written = {
            d.split("=")[1]
            for d in os.listdir(path)
            if d.startswith("_bkt=")
        }
        for b in written:
            new_buckets[b] = os.path.join(path, f"_bkt={b}")
        # a touched bucket with NO rows in the epoch output means the
        # merge deleted every key in it — drop its pointer instead of
        # inheriting the previous epoch's (which would resurrect the
        # deleted keys on the next read)
        for b in touched:
            if str(b) not in written:
                new_buckets.pop(str(b), None)
        # ATOMIC commit: single rename flips every touched bucket at
        # once; history retains each epoch's bucket map for time travel
        history = ptr.get("history", []) + [
            {"epoch": epoch, "buckets": new_buckets}
        ]
        self._commit_pointer(
            {"epoch": epoch, "buckets": new_buckets, "history": history}
        )

    def gc(self, expire_history: bool = False) -> list[str]:
        """Delete epoch directories nothing references. By default the
        time-travel history keeps its epochs alive (Iceberg
        expire-snapshots semantics: pass ``expire_history=True`` to
        collapse history to the current epoch first). Safe any time:
        only the pointer defines visibility."""
        ptr = self.pointer()
        if expire_history and ptr.get("history"):
            ptr["history"] = [h for h in ptr["history"] if h["epoch"] == ptr["epoch"]]
            self._commit_pointer(ptr)
        live = {os.path.dirname(p) for p in ptr["buckets"].values()}
        for h in ptr.get("history", []):
            live |= {os.path.dirname(p) for p in h["buckets"].values()}
        removed = []
        if not os.path.isdir(self.root):
            return removed
        for d in os.listdir(self.root):
            full = os.path.join(self.root, d)
            if d.startswith("epoch=") and os.path.isdir(full) and full not in live:
                shutil.rmtree(full)
                removed.append(full)
        return removed


# ---------------------------------------------------------------------
# SQL time-travel surface (Iceberg `VERSION AS OF` analog)
# ---------------------------------------------------------------------

import re as _re

_VAO = _re.compile(
    r"\b([A-Za-z_][A-Za-z0-9_]*)\s+VERSION\s+AS\s+OF\s+(\d+)",
    _re.IGNORECASE,
)


def time_travel_sql(
    spark: SparkSession, sql: str, stores: dict[str, "BucketedStateStore"]
) -> DataFrame:
    """Run SQL with Iceberg-style ``<table> VERSION AS OF <epoch>``
    clauses resolved against BucketedStateStore epoch history.

    Spark only honors VERSION AS OF for DataSourceV2 catalogs (real
    Iceberg/Delta); a PySpark-only store can't register one. This shim
    provides the SAME query surface over the store's snapshot history:
    each ``name VERSION AS OF n`` (and each bare ``name``) in ``sql``
    is bound to a temp view of ``stores[name]`` read at that epoch /
    at the committed head. In production the store's epochs commit as
    Iceberg snapshots and this function becomes ``spark.sql`` verbatim
    — the query text is already the Iceberg dialect.

        time_travel_sql(spark,
            "SELECT count(*) FROM state VERSION AS OF 2", {"state": st})
    """
    views: dict[tuple[str, int | None], str] = {}

    def bind(name: str, epoch: int | None) -> str:
        key = (name, epoch)
        if key not in views:
            store = stores[name]
            tag = "head" if epoch is None else str(epoch)
            vname = f"_tt_{name}_{tag}"
            store.read(epoch=epoch).createOrReplaceTempView(vname)
            views[key] = vname
        return views[key]

    def sub(m: "_re.Match[str]") -> str:
        name, epoch = m.group(1), int(m.group(2))
        if name not in stores:
            return m.group(0)
        return bind(name, epoch)

    rewritten = _VAO.sub(sub, sql)
    # Bare references resolve to the committed head — but ONLY in table
    # position (immediately after FROM or JOIN), so a string literal or
    # a column that happens to share the store's name is never
    # rewritten (round-3 ADVICE: the unanchored substitution corrupted
    # such queries silently).  Known limitation: a store named in a
    # comma-separated FROM-list (`FROM a, state`) is NOT resolved —
    # spell it as a JOIN.
    for name in stores:
        pat = _re.compile(
            rf"(\b(?:FROM|JOIN)\s+){name}(?![A-Za-z0-9_])",
            _re.IGNORECASE,
        )
        rewritten = pat.sub(
            lambda m, n=name: m.group(1) + bind(n, None), rewritten
        )
    return spark.sql(rewritten)
