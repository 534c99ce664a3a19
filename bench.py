"""Headline benchmark: time the HEADLINE queries and print one JSON line.

Each query runs on local[$SPARK_GRAFT_CPUS] into the noop sink (full
execution, no driver-side collect) $SPARK_GRAFT_BENCH_RUNS times (default
2), each time on a fresh DataFrame; its slot is the best run in seconds.
A warm-up pass first pays JVM start, codegen and parquet footer reads.
The suite runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and
again at the ~10x key-shift-replicated set in $SPARK_GRAFT_SCALE_DIR
(default fixtures/sf1, built by tools/make_scale_fixtures.py on first
use). $SPARK_GRAFT_SKIP_SCALE=1 skips the build and the second pass.

JSON keys:
  metric, value, unit    "headline_total", the sum of `queries`, "sec"
  queries                {name: best seconds} at $SPARK_GRAFT_SF_DIR
  sf                     scale factor parsed from the directory name
  calibration_sec        a fixed synthetic shuffle + aggregate (50M rows,
                         10k keys) that reads no input and no repo code
  value_per_calibration  value / calibration_sec
  bigram_floor_sec       bare tokenize + bigram explode + count over
                         documents: the text-scan floor under
                         llm_bigram_lm_score (that query is scan-bound
                         once it sits within ~2x of this floor)
  calibration_scan_sec   a fixed projection + aggregate over lineitem,
                         timed after the suite
  bench_runs             runs per slot
  queries_sf1, value_sf1, bigram_floor_sec_sf1, calibration_scan_sec_sf1,
  sf1_lineitem_rows, bench_runs_scale
                         the same at the scale point; all present or none
                         (a failure there keeps the primary keys only)

Comparing runs: the calibration slots run code that never changes, so
they measure the machine. Divide shuffle-, join- and aggregate-shaped
slots (and the total) by calibration_sec, and scan-shaped slots
(llm_text_stats, llm_bigram_lm_score and its floor) by
calibration_scan_sec. Never compare absolute times across machines.
Sub-second slots move by tens of percent between runs of the same code,
and a co-tenant burst can lift a contiguous block of slots: compare
medians over several runs, not one run against another.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "dblp_q1_top_authors_per_venue",
    "dblp_q2_consecutive_years",
    "dblp_q5_top_coauthor_volume",
    "tpch_revenue_by_nation",
    "tpch_pricing_summary",
    "tpch_top3_orders_per_cust",
    "tpch_window_running_total",
    "tpch_asof_latest_order",
    "tpch_events_session",
    "llm_dedup_minhash_lsh",
    # the prefix-filtered PPJoin plan, the one that runs at 100 TB; its
    # quadratic exact twin (llm_ngram_jaccard) stays registered as the
    # oracle proof but is not timed
    "llm_ngram_jaccard_prefix",
    "llm_ann_brute_topk",
    "llm_text_stats",
    # the iterative and global-rank plans: timed so their scale-safe
    # formulations stay honest
    "dblp_coauthor_components_star",
    "tpch_window_ntile",
    # train-then-assign SemDeDup at a corpus-sized K (frozen K=4 makes
    # sum-cluster^2 pair work the wrong operating point to time at sf1;
    # queries/pipeline.py SEMDEDUP_K32_IDS)
    "llm_semdedup_trained_k32",
    "llm_bigram_lm_score",
    # tokenizer apply: trained merge rules broadcast, corpus never shuffles
    "llm_bpe_encode",
    # SemDeDup with K = isqrt(N) computed from the corpus
    "llm_semdedup_scaled",
    # the spread_for_pair_join pair stages: without a slot, a spread
    # regression would surface only as a pytest timeout
    "llm_winnow_pairs",
    "llm_substring_spans",
]


def best_of(n_runs: int, action: Callable[[], object]) -> float:
    """Best wall time of ``n_runs`` calls of ``action``, in seconds."""
    best = float("inf")
    for _ in range(n_runs):
        t0 = time.time()
        action()
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # a renamed query must fail the run, not drop its slot and read as a
    # smaller headline total
    missing = [n for n in HEADLINE if n not in qs]
    if missing:
        raise SystemExit(f"HEADLINE names not in the registry: {missing}")

    from map_reduce_for_dbpl_dataset_spark.session import get_spark

    spark = get_spark("bench")

    # warm the session (JVM/codegen), the parquet datasource, and the
    # window/explode/aggregate execution paths so the first timed query
    # doesn't absorb one-time initialization costs
    from pyspark.sql import DataFrame, Window
    from pyspark.sql import functions as F

    spark.range(1000).count()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    # first scan of the string-heavy table pays file listing + footer +
    # scan codegen; that's session init, not query cost
    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import PUBLICATIONS_PATH

    spark.read.parquet(PUBLICATIONS_PATH).count()
    # codegen-warm the regex/split/higher-order-function expression
    # paths on synthetic strings (NOT the real shingle table — its
    # build cost stays charged to the first dedup query)
    spark.range(1000).select(
        F.zip_with(
            F.split(F.regexp_replace(F.lit("a b  c d e"), r"\s+", " "), " "),
            F.array(F.lit("x"), F.lit("y")),
            lambda a, b: F.concat_ws(" ", a, b),
        ).alias("z")
    ).selectExpr("sum(size(z))").collect()
    warm = spark.range(1000).select(
        (F.col("id") % 10).alias("k"), F.array(F.lit("a"), F.lit("b")).alias("arr")
    )
    (
        warm.select("k", F.explode("arr").alias("x"))
        .groupBy("k", "x")
        .count()
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("k").orderBy(F.desc("count"))),
        )
        .filter(F.col("rn") <= 3)
        .count()
    )

    # Best of N per slot: the min measures the plan, not scheduler noise
    # on a contended machine. Only deliberately persisted intermediates
    # (the shared shingle table) carry over between runs, exactly as
    # they do across queries in steady state.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))

    def noop(df: DataFrame) -> None:
        df.write.format("noop").mode("overwrite").save()

    def calibration() -> None:
        noop(
            spark.range(50_000_000)
            .select((F.col("id") % 10_000).alias("k"), F.col("id").alias("v"))
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        )

    def bigram_floor(sf_path: str) -> None:
        from map_reduce_for_dbpl_dataset_spark.functions.text import (
            tokens,
            word_shingles,
        )

        noop(
            spark.read.parquet(os.path.join(sf_path, "documents.parquet"))
            .select(
                "doc_id",
                F.explode(word_shingles(tokens(F.col("text")), 2)).alias("bg"),
            )
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def scan_calibration(sf_path: str) -> None:
        noop(
            spark.read.parquet(os.path.join(sf_path, "lineitem.parquet"))
            .select(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("v"),
                "l_returnflag",
            )
            .groupBy("l_returnflag")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        )

    def time_suite(sf_path: str) -> dict[str, float]:
        return {
            name: best_of(runs, lambda: noop(qs[name](spark, sf_path)))
            for name in HEADLINE
        }

    calibration_sec = best_of(runs, calibration)
    times = time_suite(sf_dir)

    sf = sf_dir.rstrip("/").split("sf")[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    total = round(sum(times.values()), 3)
    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf_val,
        "calibration_sec": calibration_sec,
        "value_per_calibration": (
            round(total / calibration_sec, 3) if calibration_sec else None
        ),
        # timed after the suite so the first-scan init cost of documents
        # and lineitem stays charged to the same slots
        "bigram_floor_sec": best_of(runs, lambda: bigram_floor(sf_dir)),
        "calibration_scan_sec": best_of(runs, lambda: scan_calibration(sf_dir)),
        "bench_runs": runs,
    }

    scale_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf1"),
    )
    if not os.path.isdir(scale_dir) and os.environ.get("SPARK_GRAFT_SKIP_SCALE") != "1":
        import shutil
        import subprocess

        print(f"building scale fixtures at {scale_dir} ...", file=sys.stderr)
        # Build into a sibling temp dir and rename into place only on
        # success: a failed build must not leave a partial scale_dir
        # that this and every later run mistakes for a complete one.
        tmp_dir = scale_dir.rstrip("/") + ".building"
        shutil.rmtree(tmp_dir, ignore_errors=True)
        r = subprocess.run(
            [sys.executable,
             os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools",
                          "make_scale_fixtures.py"),
             "--out", tmp_dir],
            capture_output=True,
        )
        if r.returncode == 0:
            os.rename(tmp_dir, scale_dir)
        else:  # keep the primary bench result usable
            print(r.stderr.decode()[-2000:], file=sys.stderr)
            shutil.rmtree(tmp_dir, ignore_errors=True)
    if os.path.isdir(scale_dir) and os.environ.get("SPARK_GRAFT_SKIP_SCALE") != "1":
        # Stage every sf1 key in a local dict and merge into the output
        # only after ALL of them computed: a failure partway (e.g. in
        # the lineitem row count) then cannot emit partial sf1 data
        # that looks complete.
        try:
            times_sf1 = time_suite(scale_dir)
            sf1_out = {
                "queries_sf1": times_sf1,
                "value_sf1": round(sum(times_sf1.values()), 3),
                "bigram_floor_sec_sf1": best_of(runs, lambda: bigram_floor(scale_dir)),
                "calibration_scan_sec_sf1": best_of(
                    runs, lambda: scan_calibration(scale_dir)
                ),
                "sf1_lineitem_rows": spark.read.parquet(
                    os.path.join(scale_dir, "lineitem.parquet")
                ).count(),
                "bench_runs_scale": runs,
            }
            out.update(sf1_out)
        except Exception as exc:  # degrade to the primary-only JSON line
            print(f"scale point failed, primary result kept: {exc!r}",
                  file=sys.stderr)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
