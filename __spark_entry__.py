"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``map_reduce_for_dbpl_dataset_spark``; this
module only adapts it to the driver contract.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

LEDGER_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, LEDGER_DIR)

from map_reduce_for_dbpl_dataset_spark import queries as _registry
from map_reduce_for_dbpl_dataset_spark.queries.tpch import q_revenue_by_nation

SMOKE_SF_DIR = "/root/testdata/sf0.001"

_LEDGER_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")
_GREEN = ("rows_match", "schema_match", "hash_match")


def _recheck_order(names: Iterable[str]) -> list[str]:
    """``names`` stalest-green first: each round's differential check
    covers only the first 50 entries, so the queries whose last green
    check is oldest must come first.

    A query's key is the round of its latest row in the committed
    ``CORRECTNESS_r{N}.json`` files if that row is green, else 0 (a red
    latest row, or no row at all, is the weakest signal); ties break
    by name.  With no ledger files every query ties at 0."""
    latest: dict[str, tuple[int, int]] = {}  # name -> (round, key)
    for fname in os.listdir(LEDGER_DIR):
        m = _LEDGER_FILE.fullmatch(fname)
        if m is None:
            continue
        rnd = int(m.group(1))
        with open(os.path.join(LEDGER_DIR, fname)) as f:
            for name, row in json.load(f).items():
                if rnd > latest.get(name, (0, 0))[0]:
                    green = all(row.get(k) for k in _GREEN)
                    latest[name] = (rnd, rnd if green else 0)
    return sorted(names, key=lambda n: (latest.get(n, (0, 0))[1], n))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Revenue by (region, nation): a five-table join pipeline with
    broadcast dimensions and a decimal-exact aggregate — exercises
    scan, pushdown, broadcast join, shuffle join, hash agg, sort.
    """
    return q_revenue_by_nation(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    ``_recheck_order``.

    Each callable takes (spark, sf_dir) and returns a DataFrame.
    Every computed/aggregate column is aliased to match ``oracle_sql``.
    """
    qs = _registry.all_queries()
    return {n: qs[n] for n in _recheck_order(qs)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each entry in ``queries()``,
    in the same order.

    Views pre-registered by the driver: region nation customer
    supplier part orders lineitem events documents embeddings. The
    DBLP-family oracles read the deterministic publications fixture
    (fixtures/publications.parquet) via read_parquet() — the six
    reference queries need the DBLP-shaped table (FIXTURES.md §A),
    which is not part of the sf dirs. Entries without SQL get the
    driver's weaker rows-only check.
    """
    sql = _registry.all_oracle_sql()
    return {n: sql[n] for n in _recheck_order(sql)}
