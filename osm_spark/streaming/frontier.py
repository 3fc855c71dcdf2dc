"""Crawl-frontier politeness scheduling.

The acquisition-side counterpart of the recrawl diff (text/crawldiff.py):
given a frontier of candidate URLs with priorities, emit the next crawl
epoch's fetch schedule under the standard politeness contract — at most
``budget`` fetches per host per epoch, one fetch per host per slot, the
host's best-priority URLs first.  This is the webtext analogue of the
reference's replication sequence scheduling (paulmach/osm
replication/replication.go: the minutely/hourly feed is fetched one
sequence per interval per endpoint — a fixed per-origin request budget
over an ordered stream); here the "origin" is a web host and the order
is a priority score instead of a sequence number.

Spark-first shape, sized for a 10^12-row frontier:

- **Per-host top-B is a salted two-level window** (plans/skew.py
  `salted_topk`, shared by every top-k here): rank within (host,
  salt-of-url) first, which caps every partition's sort at B rows per
  (host, salt) bucket, then rank the <= salt*B survivors per host.  A hot host with
  10^9 frontier URLs never funnels them into one reducer task — the
  exact failure a naive `row_number() OVER (PARTITION BY host)` hits
  at scale.  The two-level result is exact (slot = true per-host rank)
  because level 1 only discards rows that can never reach the top B of
  their host: every kept row's bucket-local rank bounds its host-global
  rank from below, and the salt NEVER appears in the output — salting
  is an execution detail, asserted by the salt-invariance test.
- **Slot = per-host rank**: the r-th best URL of each host is fetched
  in slot r, so no host sees two concurrent fetches and every slot is
  maximally parallel across hosts (the frontier's natural parallel
  unit).  ``fetch_at_s`` materializes the per-host crawl delay
  (robots-style, derived deterministically here): slot k of a host with
  delay d starts at (k-1)*d seconds into the epoch.
- Everything is built-in window/column expressions — no Python in the
  path, and the plan is two exchanges (host+salt, then host), both on
  short string keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.plans.skew import salted_topk


def schedule(
    frontier: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
    prio_col: str = "prio",
    budget: int = 8,
    salt: int = 16,
) -> DataFrame:
    """-> (host, url, prio, slot, fetch_at_s): the epoch's fetch plan.

    Keeps each host's top-``budget`` URLs by (prio DESC, url ASC — a
    total order, so both engines agree exactly), assigns slot = per-host
    rank, and schedules slot k at (k-1) * delay(host) seconds where
    delay(host) = 1 + length(host) % 3 stands in for the host's
    robots crawl-delay directive.
    """
    kept = salted_topk(
        frontier.select(host_col, url_col, prio_col),
        budget,
        [F.col(prio_col).desc(), F.col(url_col).asc()],
        F.xxhash64(F.col(url_col)),
        salt,
        [host_col],
    )
    delay = (F.lit(1) + F.pmod(F.length(host_col), F.lit(3))).cast("long")
    return kept.select(
        host_col,
        url_col,
        F.col(prio_col).cast("long").alias("prio"),
        F.col("rank").alias("slot"),
        ((F.col("rank") - 1) * delay).alias("fetch_at_s"),
    )
