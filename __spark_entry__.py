"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship geocode->tile-assignment pipeline at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL for each query; the driver
compares row-count + schema + order-insensitive value-hash at sf0.01.

Column names are aliased identically on both sides; float-producing
aggregations are quantized identically (floor(x * 1e6) style) so IEEE
summation order can't break the value-hash.

The driver's correctness gate compares only the first 50 entries of
``queries()``. Their order comes from the attestation ledger next to
this file (``CORRECTNESS_r<round>.json``, one per driver round) through
``attestation_order``: queries never attested go first, then the least
recently attested.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable, Mapping
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from osm_spark import queries as Q

_LEDGER_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from osm_spark.pipeline import pages

    return pages.tile_pyramid_counts(spark, "/root/testdata/sf0.001", z_max=12, z_min=0)


def _attested(row: Mapping) -> bool:
    return (
        row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
        and row.get("err") is None
    )


def attestation_order(
    names: Iterable[str], ledger: Mapping[int, Mapping[str, Mapping]]
) -> list[str]:
    """``names`` (registration order) reordered by ``ledger`` (round ->
    {query: driver result row}): queries with no green row in any round
    first, then the rest by the last round that attested them, oldest
    first. A row is green when rows, schema and hash all match and it
    carries no error. Ties keep registration order."""
    last: dict[str, int] = {}
    for rnd, rows in ledger.items():
        for name, row in rows.items():
            if _attested(row):
                last[name] = max(last.get(name, 0), rnd)
    return sorted(names, key=lambda n: last.get(n, 0))  # stable


def read_ledger(root: Path = Path(__file__).parent) -> dict[int, dict]:
    """The ``CORRECTNESS_r<round>.json`` files under ``root``, keyed by
    round number."""
    ledger = {}
    for path in root.iterdir():
        m = _LEDGER_FILE.fullmatch(path.name)
        if m:
            ledger[int(m.group(1))] = json.loads(path.read_text())
    return ledger


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    ``attestation_order`` over the ledger."""
    order = attestation_order(Q.SPARK_QUERIES, read_ledger())
    return {name: Q.SPARK_QUERIES[name] for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query key (omitted => rows-only check)."""
    return Q.ORACLE_SQL
