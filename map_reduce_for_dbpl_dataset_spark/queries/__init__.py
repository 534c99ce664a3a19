"""Named query registry.

Merges every query family into the flat name-ordered dicts that
``__spark_entry__.queries()`` / ``oracle_sql()`` expose to the driver.

Imports are UNCONDITIONAL and fail loudly: a broken family module must
crash ``queries()`` rather than silently shrink the registry (a blanket
``except ImportError: pass`` would let a typo in llm.py drop ~30
queries with no signal). Genuinely optional dependencies are gated
inside the individual query functions (e.g.
streaming/transform_state.py), never at import time.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import bpe, dblp, llm, pipeline, sinks_queries, streaming_queries, tpch

_FAMILIES = (dblp, tpch, llm, pipeline, bpe, streaming_queries, sinks_queries)


def _merged(attr: str) -> dict:
    merged: dict = {}
    for fam in _FAMILIES:
        merged.update(getattr(fam, attr))
    return dict(sorted(merged.items()))


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _merged("QUERIES")


def all_oracle_sql() -> dict[str, str]:
    return _merged("ORACLE_SQL")
