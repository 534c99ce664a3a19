"""SparkSession factory tuned for this engine.

Used by the tests, bench.py, perfbench/run.py and the tools (check.py,
plan_audit.py, dump_plans.py, scale_probe.py); the driver supplies its
own session to ``__spark_entry__.entry``/``queries`` so query code never
builds one.

Scale notes (100 TB design target):
- AQE on: runtime coalescing of small shuffle partitions, skew-join
  splitting for Zipfian keys (DBLP venues/authors, TPC-H custkeys).
- shuffle.partitions sized to cores locally; on a real cluster this
  is a starting hint only — AQE re-plans from map output statistics.
- Arrow enabled for the (few) Pandas-UDF paths (multimodal decode).
- Generated-code cache sized to the registry's working set
  (``CODEGEN_CACHE_ENTRIES``). Spark's LRU cache of compiled classes
  holds 100 by default. One warm pass of the relational benchmark
  workload uses 171 classes and one of llm_dedup 262, so at 100 each
  class is evicted before its next use, every lookup misses, and every
  rerun of a query compiled all of its code again with Janino. The
  whole registry (149 queries at sf0.01) is 1,601 distinct classes, so
  at 4096 a rerun finds every class it compiled before
  (tests/test_codegen_cache.py).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()

# Entries in Spark's LRU cache of compiled generated classes (default
# 100). Measured: one session running all 149 registry queries at
# sf0.01 compiles 1,601 distinct classes (1,915 with stage ids in class
# names). This is the next power of two above twice that.
CODEGEN_CACHE_ENTRIES = 4096


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Pandas-UDF closures reference module functions, which cloudpickle
    serializes by reference — workers must be able to import the
    package. On a real cluster that's ``spark-submit --py-files``;
    here we zip the package once per application and register it, so
    queries work under any driver cwd/session (the grading driver
    builds its own SparkSession).
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zpath = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fname in files:
                    if fname.endswith(".py"):
                        full = os.path.join(root, fname)
                        rel = os.path.join(
                            pkg_name, os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED.add(app_id)


def get_spark(
    app_name: str = "mrdbpl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash join when its size guards
        # hold: no sort of either shuffled side.  The actual guards
        # (SparkStrategies.canBuildLocalHashMap + muchSmaller): the
        # build side's STATS ESTIMATE must be under
        # autoBroadcastJoinThreshold * shuffle partitions (64 MB * P
        # here) AND 3x smaller than the other side — estimate-based,
        # so a bad post-filter underestimate can pick SHJ where a
        # build partition OOMs a task that SMJ would have spilled;
        # acceptable here because the estimates at play are plain
        # parquet scans.  Plan-verified effect of the flip:
        # dblp_coauthor_components_star's labeling join plans
        # ShuffledHashJoin (tools/plan_audit.py).  tpch_revenue_by_
        # nation's lineitem ⋈ orders still plans SortMergeJoin at the
        # bench SFs (the muchSmaller guard fails there), so no SHJ
        # speedup is claimed for it.  Bucketed joins unaffected (still
        # SMJ over bucketed scans, no exchange).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # AQE numbers whole-stage codegen stages as it creates query
        # stages, in the order their inputs finish, so the numbers of
        # one plan vary from run to run.  With the number in the class
        # name, a rerun's stage is a new source and a cache miss.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .getOrCreate()
    )
