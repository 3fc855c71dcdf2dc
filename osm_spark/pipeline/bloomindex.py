"""Per-file Bloom indexes for the snapshot table — point-lookup
file skipping.

Min/max manifest stats (pipeline/table.py) prune RANGE predicates,
and Z-order (pipeline/zorder.py) makes them 2-D-tight — but a point
lookup on a high-cardinality unsorted column (url, content digest)
defeats both: every file's [min, max] url interval spans the
alphabet, so stats keep everything.  Iceberg/Parquet solve this with
per-file Bloom filters; this module is that contract over the
SnapshotTable: a sidecar manifest carries one small Bloom bitmap per
data file, and a point-scan consults the bitmaps BEFORE any data
I/O — no false negatives ever (a file containing the key always
survives), deterministic false positives only.

Shapes: the build is ONE aggregation over the just-written files —
keys explode into k md5-derived bit positions (text/bloom.py's
engine-portable hash), (file, word) bit_or folds into m/32-row
bitmaps per file, collected manifest-sized (a production writer
emits them task-side into the manifest; the contract is identical).
Planning is driver-side pure arithmetic on the manifest — k hashes
of the probe key against each file's bitmap, zero Spark jobs.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from osm_spark.pipeline.table import SnapshotTable, _atomic_write_json
from osm_spark.text.bloom import bit_position

M_BITS = 1 << 16
K_HASHES = 4
WORD_BITS = 32


def _positions_py(value: str, k: int = K_HASHES,
                  m_bits: int = M_BITS) -> list[int]:
    """Driver-side twin of text/bloom.bit_position: md5(j|key) first
    5 hex chars mod m — byte-identical to the Spark build."""
    return [
        int(hashlib.md5(f"{j}|{value}".encode()).hexdigest()[:5], 16)
        % m_bits
        for j in range(k)
    ]


def _sidecar_path(table: SnapshotTable, snap_id: int) -> str:
    return os.path.join(
        table.root, "metadata", f"bloom-{snap_id}.json"
    )


def build_file_blooms(
    table: SnapshotTable,
    key_col: str,
    snap_id: int | None = None,
    m_bits: int = M_BITS,
    k: int = K_HASHES,
) -> dict:
    """Build + persist per-file Bloom bitmaps for ``key_col`` over the
    snapshot's data files.  Returns {file_path: {word_idx: word}}."""
    snap = table._resolve(snap_id, None)
    files = table._manifest_files(snap)
    df = table.spark.read.parquet(*[fe["path"] for fe in files])
    pos = F.explode(
        F.array(
            *[bit_position(F.col(key_col), j, m_bits) for j in range(k)]
        )
    ).alias("bit")
    words = (
        df.select(F.input_file_name().alias("f"), pos)
        .select(
            "f",
            (F.col("bit") / WORD_BITS).cast("long").alias("w"),
            # python F.shiftleft takes a literal shift; the SQL form
            # accepts a column amount
            F.expr(
                f"CAST(shiftleft(1L, CAST(bit % {WORD_BITS} AS INT))"
                " AS BIGINT)"
            ).alias("m"),
        )
        .groupBy("f", "w")
        .agg(F.bit_or("m").alias("word"))
        .collect()
    )
    blooms: dict = {}
    for r in words:
        blooms.setdefault(r["f"].removeprefix("file://"), {})[
            str(r["w"])
        ] = r["word"]
    out = {"m_bits": m_bits, "k": k, "key_col": key_col,
           "files": blooms}
    _atomic_write_json(_sidecar_path(table, snap["id"]), out)
    return out


def plan_point_lookup(
    table: SnapshotTable,
    blooms: dict,
    value: str,
    snap_id: int | None = None,
) -> list[dict]:
    """Files that MAY contain ``value`` per the Bloom sidecar — the
    no-false-negative superset of the files that do.  Pure driver
    arithmetic; zero Spark jobs."""
    snap = table._resolve(snap_id, None)
    files = table._manifest_files(snap)
    pos = _positions_py(value, blooms["k"], blooms["m_bits"])
    keep = []
    for fe in files:
        words = blooms["files"].get(fe["path"])
        if words is None:  # unknown = keep (stats-pruning contract)
            keep.append(fe)
            continue
        ok = True
        for p in pos:
            w = int(words.get(str(p // WORD_BITS), 0))
            if not (w >> (p % WORD_BITS)) & 1:
                ok = False
                break
        if ok:
            keep.append(fe)
    return keep
