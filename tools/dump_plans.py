"""Dump `.explain("formatted")` for named registry queries (and a few
pre-checkpoint subtrees) into plans/<dir>/<name>_<tag>.txt — the
before/after evidence files the optimization rounds commit.

Usage: python tools/dump_plans.py <outdir> <tag> <query> [<query> ...]
  e.g. python tools/dump_plans.py plans/r22 before llm_winnow_pairs
Special names: jaccard_prefix_operator, semdedup_pairstage
(operator-level dumps outside the registry).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def _jaccard_prefix_operator(spark, sf_dir):
    """The whole ngram_jaccard_pairs_prefix operator (candidate join
    plus tier-1/tier-2 verification) over the shingled documents."""
    from map_reduce_for_dbpl_dataset_spark.operators import dedup as D
    from map_reduce_for_dbpl_dataset_spark.queries.llm import _docs_shingled

    sh = _docs_shingled(spark, sf_dir)
    return D.ngram_jaccard_pairs_prefix(sh, "doc_id", "shingles", threshold=0.8)


def _semdedup_pairstage(spark, sf_dir):
    """The whole semdedup operator (salted within-cluster pair join
    plus labeling) on the K=4 seeded demonstrator codebook."""
    from map_reduce_for_dbpl_dataset_spark.operators.kmeans import seed_centroids
    from map_reduce_for_dbpl_dataset_spark.operators.similarity import semdedup
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cents = seed_centroids(e, "vec_id", "embedding", [30, 31, 32, 33])
    return semdedup(e, "vec_id", "embedding", cents)


SPECIAL = {
    "jaccard_prefix_operator": _jaccard_prefix_operator,
    "semdedup_pairstage": _semdedup_pairstage,
}


def main() -> None:
    outdir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    from map_reduce_for_dbpl_dataset_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("dump-plans", cpus=8)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    qs = entrymod.queries()

    def explain(df) -> str:
        return spark._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )

    for name in names:
        df = SPECIAL[name](spark, sf_dir) if name in SPECIAL else qs[name](spark, sf_dir)
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(explain(df))
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
