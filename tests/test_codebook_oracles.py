"""Oracle differential for the codebook family at sf0.01.

Every IVF, PQ and SemDeDup query builds its codebook with
operators/kmeans.py kmeans_train (a seeded query is its trained
sibling at zero Lloyd iterations), and every oracle builds it with the
one k-means CTE prelude in queries/pipeline.py. This runs each query
against its DuckDB oracle with the same row-count, column and
value-hash comparison as tools/check.py, so a wrong merge of either
side fails tier-1. The suite session has a different shuffle-partition
count from tools/check.py, so the hashes are also checked on a second
plan shape.

Data: perfbench/data/sf0.01, the committed copy of the sf0.01 test
tables.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.check import FIXTURE_TABLES, canon_pandas, digest_pandas

SF_DIR = str(Path(__file__).resolve().parents[1] / "perfbench" / "data" / "sf0.01")

CODEBOOK_QUERIES = [
    "llm_ann_ivf",
    "llm_ann_ivf_trained",
    "llm_ann_pq",
    "llm_ann_pq_trained",
    "llm_semdedup",
    "llm_semdedup_trained",
    "llm_semdedup_trained_k32",
    "llm_semdedup_scaled",
    "llm_kmeans",
    "llm_cluster_top_terms",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", CODEBOOK_QUERIES)
def test_codebook_query_matches_oracle(spark, duck, name):
    spdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    opdf = duck.sql(entrymod.oracle_sql()[name]).df()
    assert len(spdf) == len(opdf)
    assert sorted(spdf.columns) == sorted(opdf.columns)
    assert digest_pandas(canon_pandas(spdf)) == digest_pandas(canon_pandas(opdf))
