"""Temporal as-of annotation join — the reference's ``annotate`` core.

Semantics ported branch-exactly from the reference (all file:line refs
are into /root/reference):

- FindVisible          annotate/internal/core/types.go:39-110
- VersionBefore        types.go:113-125
- timeThreshold(+Parent) types.go:127-141
- Compute update loop  annotate/internal/core/compute.go:38-143
- nextVersionIndex     compute.go:145-197
- update timestamp     annotate/shared/child.go:105-111
- CommitInfoStart      update.go:9-12

Spark shape (SURVEY §3.2): posexplode parent refs, attach next-parent
metadata with a window ``lead`` over (pid, version), then join the
slots with the child versions on ``ref`` once. Distribution is by child
ref — exactly the reference's ``mapChildLocs`` inverted index
(compute.go:200-218) realized as a shuffle key. Each ref is routed in
that one partitioning: modern refs by window aggregates in the JVM, the
pre-2012 tail (and, with error surfacing, the refs that can produce an
'error' row) by the branchy kernel per ref with its full version
history and every (parent, slot) referencing it. Groups are tiny (one
element's history), so the per-group Python is bounded.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# update.go:9-12
COMMIT_INFO_START = pd.Timestamp("2012-09-12 09:30:03")
DEFAULT_THRESHOLD_SEC = 30 * 60  # annotate/options.go:13

_ZERO = pd.Timestamp(0)


def _tt(ts, committed):
    """timeThreshold (types.go:127-133) with esp=0: committed if it is
    on/after CommitInfoStart else the element timestamp."""
    if committed is None or pd.isna(committed) or committed < COMMIT_INFO_START:
        return ts
    return committed


class _Child:
    __slots__ = ("vidx", "version", "changeset", "ts", "committed", "visible",
                 "lat", "lon", "reverse")

    def __init__(self, vidx, version, changeset, ts, committed, visible, lat, lon,
                 reverse=False):
        self.vidx = vidx
        self.version = version
        self.changeset = changeset
        self.ts = ts
        self.committed = committed if committed is not None and not pd.isna(committed) else _ZERO
        self.visible = visible
        self.lat = lat
        self.lon = lon
        self.reverse = reverse

    def update_ts(self):
        """shared/child.go:105-111."""
        if self.ts < COMMIT_INFO_START or self.committed == _ZERO:
            return self.ts
        return self.committed


def find_visible(children, cid, at, eps):
    """types.go:39-110, branch-exact. children sorted by version index;
    eps is a pd.Timedelta; returns _Child or None."""
    diff = None  # None == Go's -1 sentinel
    nearest = None
    start = at - eps
    for c in children:
        if c.committed < COMMIT_INFO_START:
            offset = c.ts - start
            visible = c.visible
            if offset > 2 * eps:
                break
            if offset < pd.Timedelta(0):
                nearest = c if visible else None
                continue
            d = abs(offset - eps)
            if diff is None or d <= diff:
                if diff is None and not visible and offset == pd.Timedelta(0):
                    nearest = None
                if visible:
                    if offset <= eps:
                        nearest = c
                    elif c.changeset == cid:
                        nearest = c
                    else:
                        continue
                diff = d
        else:
            if c.committed > at:
                break
            nearest = c if c.visible else None
    return nearest


def version_before(children, end):
    """types.go:113-125: last child with timeThreshold strictly before end."""
    latest = None
    for c in children:
        if not _tt(c.ts, c.committed) < end:
            break
        latest = c
    return latest


def next_version_index(current, children, next_parent, eps):
    """compute.go:145-197 branch-exact. next_parent is a dict or None."""
    if next_parent is None:
        return children[-1].vidx + 1 if children else 0
    np_at = _parent_threshold(next_parent, pd.Timedelta(0))
    nxt = find_visible(children, next_parent["changeset"], np_at, eps)
    if nxt is not None:
        if _tt(nxt.ts, nxt.committed) < _parent_threshold(next_parent, -eps):
            return nxt.vidx + 1
        return nxt.vidx
    ts = _parent_threshold(next_parent, -eps)
    if current is not None and not ts > _tt(current.ts, current.committed):
        return 0
    nxt = version_before(children, ts)
    if nxt is None:
        return 0
    return nxt.vidx + 1


def _parent_threshold(p, esp):
    """timeThresholdParent (types.go:135-141): committed if known else
    ts + esp (esp only applies on the pre-commit-info branch)."""
    committed = p["committed"]
    if committed is None or pd.isna(committed) or committed < COMMIT_INFO_START:
        return p["ts"] + esp
    return committed


_OUT_SCHEMA = StructType(
    [
        StructField("pid", LongType()),
        StructField("parent_version", IntegerType()),
        StructField("parent_ts", TimestampType()),
        StructField("idx", IntegerType()),
        StructField("kind", StringType()),  # 'set' | 'update' | 'error'
        StructField("child_version", IntegerType()),
        StructField("child_changeset", LongType()),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),
        StructField("uts", TimestampType()),
        StructField("reverse", BooleanType()),
    ]
)


def _make_kernel(threshold_sec: float, ignore_inconsistency: bool):
    eps = pd.Timedelta(seconds=threshold_sec)

    def kernel(refs_pdf: pd.DataFrame, child_pdf: pd.DataFrame):
        out = []
        # Build the sorted ChildList (datasource.go:114-149: sort by
        # version, assign 0-based VersionIndex).
        child_pdf = child_pdf.sort_values("version").reset_index(drop=True)
        has_rev = "reverse" in child_pdf.columns
        children = [
            _Child(
                i,
                int(r.version),
                int(r.changeset) if pd.notna(r.changeset) else 0,
                r.ts,
                r.committed,
                bool(r.visible),
                float(r.lat) if pd.notna(r.lat) else 0.0,
                float(r.lon) if pd.notna(r.lon) else 0.0,
                bool(r.reverse) if has_rev and pd.notna(r.reverse) else False,
            )
            for i, r in enumerate(child_pdf.itertuples())
        ]

        # parents are ordered by (version, ts) — the reference relies on
        # caller list order; duplicate versions exist in real data
        # (edgecases_test.go "2 nodes": same id+version, different ts).
        refs_pdf = refs_pdf.sort_values(["pid", "parent_version", "parent_ts", "idx"])
        for (pid, pver, pts), grp in refs_pdf.groupby(
            ["pid", "parent_version", "parent_ts"], sort=True
        ):
            first = grp.iloc[0]
            if not bool(first["parent_visible"]):
                continue
            if not children:
                # NoHistoryError path (compute.go:50-60) with
                # IgnoreMissingChildren: leave unannotated.
                continue
            parent = {
                "changeset": int(first["parent_changeset"]),
                "ts": first["parent_ts"],
                "committed": first["parent_committed"],
            }
            next_parent = None
            if pd.notna(first["next_ts"]):
                next_parent = {
                    "changeset": int(first["next_changeset"]),
                    "ts": first["next_ts"],
                    "committed": first["next_committed"],
                }
            at = _parent_threshold(parent, pd.Timedelta(0))
            c = find_visible(children, parent["changeset"], at, eps)
            if c is None and not ignore_inconsistency:
                out.append((int(pid), int(pver), pts, int(first["idx"]), "error",
                            None, None, None, None, None, None))
                continue

            idxs = [int(i) for i in grp["idx"]]
            if c is not None:
                for i in idxs:
                    out.append((int(pid), int(pver), pts, i, "set", c.version,
                                c.changeset, c.lat, c.lon, None, None))

            nv = next_version_index(c, children, next_parent, eps)
            if c is not None:
                start = c.vidx + 1
            else:
                nxt = version_before(children, at)
                start = 0 if nxt is None else nxt.vidx + 1
            for k in range(start, nv):
                ck = children[k]
                if ck.visible:
                    for i in idxs:
                        out.append((int(pid), int(pver), pts, i, "update", ck.version,
                                    ck.changeset, ck.lat, ck.lon, ck.update_ts(),
                                    ck.reverse))
                elif not ignore_inconsistency:
                    out.append((int(pid), int(pver), pts, int(first["idx"]), "error",
                                ck.version, None, None, None, None, None))

        return pd.DataFrame(
            out,
            columns=["pid", "parent_version", "parent_ts", "idx", "kind",
                     "child_version", "child_changeset", "lat", "lon", "uts",
                     "reverse"],
        )

    return kernel


_SLOT_COLS = ["pid", "parent_version", "parent_visible", "parent_changeset",
              "parent_ts", "parent_committed", "next_ts", "next_committed",
              "next_changeset", "idx", "ref"]
_CHILD_COLS = ["version", "visible", "changeset", "ts", "committed", "lat",
               "lon", "reverse"]


def release_caches() -> None:
    """No-op: annotation persists nothing (every input is consumed by
    one keyed pass). Kept so long-lived callers may still call it."""


def _slots(parents: DataFrame, child_filter=None) -> DataFrame:
    """One row per (parent version, ref slot) carrying the next parent
    version's metadata — the kernel's ``refs_pdf`` (_SLOT_COLS)."""
    w = Window.partitionBy("pid").orderBy("version", "ts")
    p = (
        parents.withColumn("next_ts", F.lead("ts").over(w))
        .withColumn("next_committed", F.lead("committed").over(w))
        .withColumn("next_changeset", F.lead("changeset").over(w))
        .select(
            "pid",
            F.col("version").alias("parent_version"),
            F.col("visible").alias("parent_visible"),
            F.col("changeset").alias("parent_changeset"),
            F.col("ts").alias("parent_ts"),
            F.col("committed").alias("parent_committed"),
            "next_ts",
            "next_committed",
            "next_changeset",
            F.posexplode("refs").alias("idx", "_r"),
        )
        .withColumn("ref", F.col("_r.ref"))
    )
    ref_fields = parents.schema["refs"].dataType.elementType.fieldNames()
    if child_filter is not None and "annotated" in ref_fields:
        # mapChildLocs (compute.go:205-207): skip slots that are both
        # already-annotated AND rejected by the filter
        p = p.filter(
            ~(
                F.coalesce(F.col("_r.annotated"), F.lit(False))
                & ~child_filter(F.col("ref"))
            )
        )
    return p.select(*_SLOT_COLS)


def _fast_rows(j: DataFrame) -> DataFrame:
    """The post-CommitInfoStart path of FindVisible/nextVersionIndex
    (types.go:101-104, compute.go:145-197) over the joined (slot, child)
    rows, equal to the kernel's on the refs it is given:

    - ``pick`` = last child committed <= the parent's commit (window
      aggregate per slot); a visible pick is the slot's 'set' row
    - ``nxt``  = last child committed <= the next parent's commit
    - 'update' rows = visible children in [start, nv)

    Valid only for refs where every relevant commit timestamp is known,
    >= CommitInfoStart, and nondecreasing in version order. Then the
    children committed at or before a time are a prefix of ``vidx``,
    so the kernel's version scans reduce to row comparisons: ``start``
    is the first child committed after the parent (at it too when the
    pick is not visible), and ``nv`` the first committed at or after
    the next parent, or ``nxt`` if that is later and visible. Emits no
    'error' rows, so with error surfacing it is given only refs that
    cannot produce one."""
    cis = F.lit(COMMIT_INFO_START.to_pydatetime())
    C, PC, NC = F.col("committed"), F.col("parent_committed"), F.col("next_committed")
    vidx = F.col("vidx")
    ws = Window.partitionBy(*_SLOT_COLS)
    crow = F.struct("vidx", "visible")
    j = j.select(
        "*",
        F.max(F.when(C <= PC, crow)).over(ws).alias("pick"),
        F.max(F.when(C <= NC, crow)).over(ws).alias("nxt"),
    )
    pick_ok = F.col("pick").isNotNull() & F.col("pick.visible")
    nxt_ok = F.col("nxt").isNotNull() & F.col("nxt.visible")
    is_set = pick_ok & (vidx == F.col("pick.vidx"))
    after_start = (C > PC) | (~pick_ok & (C == PC))
    before_end = (
        F.col("next_ts").isNull() | (C < NC) | (nxt_ok & (vidx < F.col("nxt.vidx")))
    )
    is_upd = F.col("visible") & after_start & before_end
    return j.where(F.col("parent_visible") & (is_set | is_upd)).select(
        "pid", "parent_version", "parent_ts", "idx",
        F.when(is_set, "set").otherwise("update").alias("kind"),
        F.col("version").cast("int").alias("child_version"),
        F.col("changeset").alias("child_changeset"),
        "lat", "lon",
        # shared/child.go:105-111
        F.when(is_set, None)
        .when(F.col("ts") < cis, F.col("ts"))
        .otherwise(C)
        .alias("uts"),
        F.when(~is_set, F.coalesce("reverse", F.lit(False))).alias("reverse"),
    )


def _routed_kernel(kernel):
    """Adapts the ``(refs_pdf, child_pdf)`` kernel to one ref's joined
    (slot, child) rows: the slot x child product is split back into its
    two sides."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        refs = pdf[_SLOT_COLS].drop_duplicates(
            ["pid", "parent_version", "parent_ts", "idx"]
        )
        child = pdf.drop_duplicates("vidx")[["ref"] + _CHILD_COLS]
        return kernel(refs, child)

    return run


def annotate_refs(
    parents: DataFrame,
    children: DataFrame,
    threshold_sec: float = DEFAULT_THRESHOLD_SEC,
    ignore_inconsistency: bool = True,
    child_filter=None,
) -> DataFrame:
    """Core as-of annotation (compute.go:38-143).

    parents:  (pid, version, visible, changeset, ts, committed,
               refs array<struct<ref:long[, annotated:boolean]>> —
               positional)
    children: (ref, version, visible, changeset, ts, committed, lat,
               lon[, reverse])

    ``child_filter`` (annotate ChildFilter, options.go:58-67): a
    function Column -> boolean Column over the ref id. Ref slots that
    are ALREADY annotated (``annotated`` struct field true) and fail
    the filter are skipped — compute.go:200-218 mapChildLocs semantics:
    unannotated slots are processed regardless of the filter, so a
    batch update can restrict work to its own children without losing
    anyone never annotated before.

    Returns rows (pid, parent_version, parent_ts, idx, kind,
    child_version, child_changeset, lat, lon, uts, reverse) where
    kind='set' is the major-version assignment (SetChild,
    way.go:111-120) and kind='update' the minor versions between parent
    versions.

    ``ignore_inconsistency=False`` adds kind='error' rows: a visible
    parent with no visible child as of its commit, or an invisible
    child version between two parent versions.

    Plan: one keyed pass for both settings. Slots and child versions
    are joined on ``ref`` once; a window over each ref flags it slow
    when any of its commit metadata is pre-CommitInfoStart, unknown or
    non-monotone, and, with error surfacing, when it can produce an
    'error' row. Modern refs are answered in the JVM
    (:func:`_fast_rows`); slow refs — the pre-2012 eps-threshold tail
    and the refs with errors — run the branch-exact Python kernel per
    ref over the same partitioning, so the plan has one Python node and
    no extra shuffle.
    """
    p = _slots(parents, child_filter)
    kernel = _make_kernel(threshold_sec, ignore_inconsistency)
    # a ref is slow when its versions are not ordered by commit time as
    # FindVisible's post-CommitInfoStart branch needs: a child or (next)
    # parent commit time unknown or before CommitInfoStart, or child
    # commit times decreasing in version order
    cis = F.lit(COMMIT_INFO_START.to_pydatetime())
    wc = Window.partitionBy("ref").orderBy("version")
    C = F.col("committed")
    if "reverse" not in children.columns:
        children = children.withColumn("reverse", F.lit(None).cast("boolean"))
    ch = children.select(
        "ref", *_CHILD_COLS,
        (F.row_number().over(wc) - 1).alias("vidx"),
        (C.isNull() | (C < cis) | F.coalesce(C < F.lag(C).over(wc), F.lit(False)))
        .alias("_bad"),
    )
    PC, NC = F.col("parent_committed"), F.col("next_committed")
    slot_bad = (
        PC.isNull() | (PC < cis)
        | (F.col("next_ts").isNotNull() & (NC.isNull() | (NC < cis)))
    )
    wr = Window.partitionBy("ref")
    is_slow = F.max(F.col("_bad") | slot_bad).over(wr)
    if not ignore_inconsistency:
        # the only sources of 'error' rows: an invisible (or NULL)
        # version, or a visible parent committed before every version
        first_pc = F.min(F.when(F.col("parent_visible"), PC)).over(wr)
        no_pick = first_pc < F.min(C).over(wr)
        all_visible = F.min(F.coalesce("visible", F.lit(False))).over(wr)
        is_slow = is_slow | ~all_visible | F.coalesce(no_pick, F.lit(False))
    j = p.join(ch, "ref").withColumn("_slow", is_slow)
    slow = (
        j.where("_slow")
        .select(*_SLOT_COLS, *_CHILD_COLS, "vidx")
        .groupBy("ref")
        .applyInPandas(_routed_kernel(kernel), schema=_OUT_SCHEMA)
    )
    return _fast_rows(j.where(~F.col("_slow"))).unionByName(slow)


# the picked child's fields and their value in an unannotated slot
_UNANNOTATED = {"version": 0, "changeset": 0, "lat": 0.0, "lon": 0.0}


def fill_slots(rows: DataFrame, ann: DataFrame, slots: str, make_slot,
               extra_update_fields=()) -> DataFrame:
    """Write :func:`annotate_refs` output back onto its parent ``rows``
    (keyed id, version, ts) in one aggregate and one left join.

    ``rows[slots]`` is rewritten by ``make_slot(elem, picked)``, where
    ``picked`` is a list of the set child's version, changeset, lat and
    lon (0 for an unannotated slot); it is NULL for a row without slots.
    ``updates`` becomes the array of update structs with fields idx,
    version, ts, changeset, lat, lon plus ``extra_update_fields``, in
    (idx, version) order (update.go:63-85 SortByIndex); it is NULL, not
    empty, for a row without updates. Rows duplicating an (id, version,
    ts) key each get the annotation of one such row."""
    kind = F.col("kind")
    upd = {"idx": "idx", "version": "child_version", "ts": "uts",
           "changeset": "child_changeset", "lat": "lat", "lon": "lon",
           **{f: f for f in extra_update_fields}}
    per = ann.groupBy(
        F.col("pid").alias("id"),
        F.col("parent_version").alias("version"),
        F.col("parent_ts").alias("ts"),
    ).agg(
        F.map_from_entries(F.collect_set(F.when(kind == "set", F.struct(
            "idx", F.struct(*[F.col(upd[f]).alias(f) for f in _UNANNOTATED])
        )))).alias("_sets"),
        # field order = sort key: (idx, version) — SortByIndex is stable
        # and generation order per slot is ascending version index
        F.array_sort(F.collect_set(F.when(kind == "update", F.struct(
            *[F.col(c).alias(f) for f, c in upd.items()]
        )))).alias("_upds"),
    )
    keys = ["id", "version", "ts"]
    rest = [c for c in rows.columns if c not in keys and c != slots]

    def fill(elem, i):
        s = F.col("_sets")[i]
        return make_slot(elem, [
            F.coalesce(s[f], F.lit(z)).alias(f) for f, z in _UNANNOTATED.items()
        ])

    return rows.join(per, keys, "left").select(
        *keys, *rest,
        F.when(F.size(slots) > 0, F.transform(slots, fill)).alias(slots),
        F.when(F.size("_upds") > 0, F.col("_upds")).alias("updates"),
    )


def annotate_ways(
    ways: DataFrame,
    node_histories: DataFrame,
    threshold_sec: float = DEFAULT_THRESHOLD_SEC,
    ignore_inconsistency: bool = True,
) -> DataFrame:
    """annotate.Ways (annotate/way.go:30-63): fill each way-node slot with
    the node version visible as-of the way's commit time, and attach the
    minor-version ``updates`` array.

    ways: (id, version, visible, changeset, ts, committed, tags,
           nodes array<struct<ref:long, ...>>)
    node_histories: (id, version, visible, changeset, ts, committed,
           lat, lon)

    Returns the ways DataFrame with ``nodes`` rewritten as
    array<struct<ref, version, changeset, lat, lon>> and ``updates`` as
    array<struct<idx, version, ts, changeset, lat, lon>>, both in slot /
    (index, ts) order (update.go:63-85 SortByIndex).
    """
    parents = ways.select(
        F.col("id").alias("pid"),
        "version",
        "visible",
        "changeset",
        "ts",
        "committed",
        F.transform("nodes", lambda n: F.struct(n["ref"].alias("ref"))).alias("refs"),
    )
    children = node_histories.select(
        F.col("id").alias("ref"), "version", "visible", "changeset", "ts",
        "committed", "lat", "lon",
    )
    ann = annotate_refs(parents, children, threshold_sec, ignore_inconsistency)
    return fill_slots(
        ways, ann, "nodes",
        lambda n, picked: F.struct(n["ref"].alias("ref"), *picked),
    )
