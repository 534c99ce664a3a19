"""A query run a second time in a session compiles no generated code.

Spark keeps compiled whole-stage and expression classes in an LRU cache
sized by the static conf ``spark.sql.codegen.cache.maxEntries``.
``session.get_spark`` sizes it to the registry's working set
(``CODEGEN_CACHE_ENTRIES``); at Spark's default of 100, one pass of the
seven llm_dedup benchmark queries cycles through about 260 classes, so
every lookup missed and every rerun recompiled all of them with Janino.
It also keeps AQE's stage ids out of generated class names, which
otherwise differ from run to run.

Compiles are counted with Spark's ``CodegenMetrics`` compilation-time
histogram, which records one sample per Janino compile (cache hits
record none).

Data: perfbench/data/sf0.01, the committed copy of the sf0.01 test
tables.
"""

from __future__ import annotations

import time
from pathlib import Path

import pytest

import __spark_entry__ as entrymod
from map_reduce_for_dbpl_dataset_spark.session import CODEGEN_CACHE_ENTRIES

SF_DIR = str(Path(__file__).resolve().parents[1] / "perfbench" / "data" / "sf0.01")

# The llm_dedup benchmark workload (perfbench/run.py WORKLOADS).
LLM_DEDUP = [
    "llm_dedup_minhash_lsh",
    "llm_ngram_jaccard_prefix",
    "llm_winnow_pairs",
    "llm_substring_spans",
    "llm_semdedup_trained_k32",
    "llm_semdedup_scaled",
    "llm_bigram_lm_score",
]

# AQE re-plans a query each time one of its stages finishes, so which
# join it builds or which stages it fuses can depend on which input
# finished first. A rerun can then take a plan variant, and compile
# code, that earlier runs did not; once every variant has been seen,
# reruns compile nothing.
_AQE_VARIANT = "AQE picks between plan variants by stage finishing order"

# Registry queries that may compile on a rerun, with the reason. Each
# was seen to compile on some rerun in one session at sf0.01.
RERUN_COMPILES: dict[str, str] = {
    "dblp_coauthor_components_star": _AQE_VARIANT,
    "llm_dedup_simhash": _AQE_VARIANT,
    "llm_trimmed_mean_grouped_agg": _AQE_VARIANT,
    "tpch_hll_incremental": _AQE_VARIANT,
    "tpch_null_semantics": _AQE_VARIANT,
}

# Queries that compiled on a rerun even with a cache that holds the
# whole registry: AQE stage ids in the generated class names (fixed in
# session.get_spark) or a global counter in the name of a limit's state
# (stream_late_drop_parity's carrier is now a top-1 sort, no limit
# state). They must now compile nothing on a rerun.
RERUN_FIXED = [
    "dblp_pagerank",
    "llm_ann_pq",
    "llm_dedup_clusters",
    "llm_ngram_jaccard",
    "stream_late_drop_parity",
    "tpch_market_share",
    "tpch_set_ops_nations",
]


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run(spark, names: list[str]) -> dict[str, int]:
    """Run each query into the noop sink; Janino compiles per query."""
    queries = entrymod.queries()
    counts = {}
    for name in names:
        before = _compiles(spark)
        queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        counts[name] = _compiles(spark) - before
    return counts


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_compile_counter_counts(spark):
    # an integer literal is inlined into the generated code, so a new
    # one is a source no earlier query compiled
    before = _compiles(spark)
    spark.range(3).selectExpr(f"id * {time.time_ns()}").collect()
    assert _compiles(spark) > before


def test_llm_dedup_rerun_compiles_nothing(spark):
    _run(spark, LLM_DEDUP)
    assert _run(spark, LLM_DEDUP) == dict.fromkeys(LLM_DEDUP, 0)


def test_rerun_exceptions_are_registry_queries():
    registry = entrymod.queries()
    assert set(RERUN_COMPILES) <= set(registry)
    assert set(RERUN_FIXED) <= set(registry)
    assert not set(RERUN_COMPILES) & (set(RERUN_FIXED) | set(LLM_DEDUP))


@pytest.mark.parametrize("name", RERUN_FIXED)
def test_rerun_compiles_nothing(spark, name):
    _run(spark, [name])
    assert _run(spark, [name]) == {name: 0}
