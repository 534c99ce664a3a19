"""The repo benchmark: one workload per run, one client thread, closed loop.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Each run is a fresh process. It builds the workload's inputs from the seed
(``inputs.py``), starts a session with ``session.get_spark`` on every core
the process may use, and runs the workload's queries one at a time: each
query is called through the registry (``__spark_entry__.queries()``) or,
for ingest, through the public ``sources`` functions, and is materialised
into the noop sink (ingest writes parquet). The first pass is the cold
pass; warm passes repeat for ``--seconds``. A last pass hashes every
result and compares it with its DuckDB oracle (``outputs.py``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is a separate
run that tags every call with a Spark job group, records spans, runs the
layer probes, reads the event log and prints the per-layer metrics; spans,
stage metrics and per-query detail go to ``perfbench/.cache/traces/``.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

import inputs
from outputs import oracle_results, repoint, result_of, sql_result
from procfs import (
    become_subreaper,
    peak_rss_mb,
    reap_descendants,
    steal_seconds,
    tree_cpu_seconds,
)
from spans import (
    Tracer,
    aggregate,
    jobs_by_group,
    read_event_log,
    self_times,
    stages_from_events,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# What the benchmark runs against; without these it is not in a checkout.
REQUIRED = (
    "__spark_entry__.py",
    "map_reduce_for_dbpl_dataset_spark/session.py",
    "tools/make_scale_fixtures.py",
    "tools/check.py",
    "fixtures/make_publications_xml.py",
    "fixtures/publications.parquet",
)

DBLP = [
    "dblp_q1_top_authors_per_venue",
    "dblp_q2_consecutive_years",
    "dblp_q3_solo_titles_per_venue",
    "dblp_q4_max_authors_per_venue",
    "dblp_q5_top_coauthor_volume",
    "dblp_q6_solo_only_authors",
]
TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events",
)

# factor: key-shifted copies of the sf0.01 source tables (inputs.py).
WORKLOADS = {
    # The reference pipeline, then relational operators: the publications
    # are parsed from seeded DBLP line-record XML and written as partitioned
    # parquet; the six reference queries read what was written and the
    # TPC-H-style queries read parquet. Scan, exchange, join, aggregate and
    # window work; no Python workers; cheap registry calls.
    "relational": {
        "factor": 5,
        "tables": TPCH_TABLES + ("publications",),
        "ingest": True,
        "queries": DBLP + [
            "tpch_revenue_by_nation",
            "tpch_pricing_summary",
            "tpch_top3_orders_per_cust",
            "tpch_window_running_total",
            "tpch_asof_latest_order",
            "tpch_events_session",
            "tpch_window_ntile",
        ],
    },
    # tokenize/shingle/hash/quantize chains, salted pair joins, the
    # mapInPandas assign stage and the shingle cache
    "llm_dedup": {
        "factor": 3,
        "tables": ("documents", "embeddings"),
        "queries": [
            "llm_dedup_minhash_lsh",
            "llm_ngram_jaccard_prefix",
            "llm_winnow_pairs",
            "llm_substring_spans",
            "llm_semdedup_trained_k32",
            "llm_semdedup_scaled",
            "llm_bigram_lm_score",
        ],
    },
    # driver control: fixpoint rounds, convergence checks, many small jobs.
    # Runnable, but not in BENCHMARK.json (perfbench/README.md says why).
    "iterative": {
        "factor": 1,
        "tables": ("publications", "documents", "embeddings"),
        "queries": [
            "dblp_coauthor_components_star",
            "dblp_coauthor_components",
            "dblp_pagerank",
            "llm_bpe_encode",
            "llm_bpe_train",
            "llm_kmeans",
        ],
    },
}

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "sources.scan_s": "s",
    "sources.input_rows": "count",
    "sources.input_mb": "MB",
    "sources.xml_parse_s": "s",
    "sources.write_s": "s",
    "sources.output_mb": "MB",
    "functions.derive_s": "s",
    "operators.executor_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_records": "count",
    "operators.spill_mb": "MB",
    "operators.task_skew": "ratio",
    "operators.python_worker_s": "s",
    "queries.build_s": "s",
    "queries.execute_s": "s",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.driver_gap_s": "s",
    "queries.cached_mb": "MB",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}

# The JIT is still warming during the first warm passes, so one pass alone
# reads high.
MIN_PASSES = 3
SETUP_SAMPLES = 2  # session start-ups per untraced run; setup_s is their median
PROBE_REPEATS = 3  # each layer probe is timed this often; the median is kept
# Fixed heap and young generation: with no heap resizing, peak RSS tracks
# the old generation's high-water mark (data held in memory) instead of
# when the collector chose to grow the heap.
DRIVER_MEM = "3g"
YOUNG_GEN = "768m"
INGEST = "ingest"  # step name of the XML-to-parquet write


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure(run_dir: str, event_log: str | None) -> None:
    """Environment for this process and the Spark JVM it starts: all
    scratch space inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    conf = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -Xmn{YOUNG_GEN}",
    ]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": shlex.join([*conf, "pyspark-shell"]),
    })


def start_session():
    """Session start-up as a user pays it: import, JVM launch, package
    ship, first job. Returns the session and its set-up seconds."""
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    from map_reduce_for_dbpl_dataset_spark.session import get_spark, ship_package

    spark = get_spark("perfbench")
    ship_package(spark)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark=None) -> None:
    """Stop the session, if there is one, and the JVM, if one was launched,
    and wait for the JVM to exit. The JVM exits when its stdin closes,
    which otherwise happens only as this process exits, so the JVM would
    outlive it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def setup_probe() -> int:
    """Child-process mode: one more set-up sample."""
    spark, seconds = start_session()
    stop_session(spark)
    print(json.dumps({"setup_s": seconds}))
    return 0


def child_setup_seconds() -> float:
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-probe"],
        capture_output=True, text=True, timeout=120, check=True,
    )
    return json.loads(r.stdout.strip().splitlines()[-1])["setup_s"]


class Step:
    """One query call. ``build`` is the registry call and returns a
    DataFrame; ``act`` materialises it. A checked pass materialises it
    with ``collect`` instead and hashes that with ``digest``, after the
    clock stops."""

    def __init__(self, name, build, act, collect=None, digest=None):
        self.name, self.build, self.act = name, build, act
        self.collect = collect or (lambda df: df.toPandas())
        self.digest = digest or result_of


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def make_steps(spark, wl: dict, sf_dir: str, run_dir: str) -> list[Step]:
    import __spark_entry__ as entry

    registry = entry.queries()
    steps = []
    query_dir = sf_dir
    if wl.get("ingest"):
        from map_reduce_for_dbpl_dataset_spark.sources.sinks import write_partitioned_parquet
        from map_reduce_for_dbpl_dataset_spark.sources.xml import publications_from_xml

        # the queries read the seeded tables, except publications, which
        # they read from what the ingest step wrote
        query_dir = os.path.join(run_dir, "inputs")
        os.makedirs(query_dir)
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet") and f != "publications.parquet":
                os.symlink(os.path.join(sf_dir, f), os.path.join(query_dir, f))
        out = os.path.join(query_dir, "publications.parquet")

        def write(df):
            write_partitioned_parquet(df, out, "kind")

        xml = os.path.join(sf_dir, "publications.xml")
        steps.append(Step(
            INGEST, lambda: publications_from_xml(spark, xml), write, write,
            lambda _: sql_result(ingest_sql(
                f"read_parquet('{out}/**/*.parquet', hive_partitioning = true)")),
        ))
    for q in wl["queries"]:
        steps.append(Step(q, lambda q=q: registry[q](spark, query_dir), noop))
    return steps


class Runner:
    def __init__(self, spark, steps: list[Step], expected: dict[str, dict], tracer=None):
        self.spark, self.steps, self.expected, self.tracer = spark, steps, expected, tracer
        self.attempted = 0
        self.failures: list[dict] = []  # one per failed execution or check
        self.jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def _fail(self, phase: str, step: str, why: str) -> None:
        self.failures.append({"phase": phase, "step": step, "why": why[:300]})

    def run_pass(self, pass_id: str | None = None, check: bool = False) -> dict:
        """One pass over every step. ``check`` compares each output with
        its oracle. With ``pass_id`` each step is traced and the blocks left
        cached at the end of the pass are recorded. ``wall`` sums the
        timed calls only."""

        def span(name, parent=None):
            if pass_id is None:
                return nullcontext()
            return self.tracer.span(pass_id, name, parent)

        cpu0 = tree_cpu_seconds(self.jvm)
        steps = {}
        with span("pass") as root:
            for st in self.steps:
                self.attempted += 1
                try:
                    a = time.perf_counter()
                    with span(f"{st.name}/build", root):
                        df = st.build()
                    b = time.perf_counter()
                    with span(f"{st.name}/execute", root):
                        out = st.collect(df) if check else st.act(df)
                    steps[st.name] = {"build_s": b - a, "execute_s": time.perf_counter() - b}
                    if check:
                        got, want = st.digest(out), self.expected[st.name]
                        if got != want:
                            self._fail("check", st.name, f"got {got}, want {want}")
                except Exception as exc:  # a failed query is counted, not fatal
                    self._fail(pass_id or "pass", st.name, repr(exc))
        out = {
            "wall": sum(sum(v.values()) for v in steps.values()),
            "cpu": tree_cpu_seconds(self.jvm) - cpu0,
            "steps": steps,
        }
        if pass_id is not None:
            infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            out["cached_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
        return out


def ingest_sql(table: str) -> str:
    """The repo's XML-ingest projection over ``table``: absent XML fields
    and empty strings both read as NULL, arrays joined to strings."""
    from map_reduce_for_dbpl_dataset_spark.queries.dblp import XML_INGEST_SQL
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import PUBLICATIONS_PATH

    return XML_INGEST_SQL.replace(f"read_parquet('{PUBLICATIONS_PATH}')", table)


def expected_results(wl: dict, sf_dir: str, stats: dict) -> dict[str, dict]:
    """Oracle results for every step; the ingest step's is its source
    table under the same projection."""
    import __spark_entry__ as entry

    pubs = os.path.join(sf_dir, "publications.parquet")
    oracles = entry.oracle_sql()
    sqls = {q: repoint(oracles[q], pubs) for q in wl["queries"]}
    if wl.get("ingest"):
        sqls[INGEST] = ingest_sql(f"read_parquet('{pubs}')")
    return oracle_results(sqls, sf_dir, stats)


def warm_passes(runner: Runner, seconds: float, traced: bool,
                min_passes: int = MIN_PASSES) -> tuple[list, list]:
    """Closed loop for ``seconds`` and at least ``min_passes``. Traced:
    untraced and traced passes alternate in ABBA order, at least
    ``min_passes`` of each, so neither side always runs the warmer pass."""
    plain, tagged = [], []
    t0 = time.perf_counter()
    i = 0
    while True:
        enough = len(plain) >= min_passes and (len(tagged) >= min_passes or not traced)
        if enough and time.perf_counter() - t0 >= seconds:
            return plain, tagged
        if traced and i % 4 in (1, 2):
            tagged.append((f"p{i}", runner.run_pass(f"p{i}")))
        else:
            plain.append(runner.run_pass())
        i += 1


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 1e6


def _identity(batches):
    yield from batches


def layer_probes(spark, tracer, wl: dict, sf_dir: str, run_dir: str,
                 ingest_s: float | None) -> dict:
    """Time each layer on the workload's own tables, outside the passes."""
    from pyspark.sql import functions as F

    from map_reduce_for_dbpl_dataset_spark.functions.text import tokens, word_shingles
    from map_reduce_for_dbpl_dataset_spark.functions.vectors import quantize
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import load_table, publications
    from map_reduce_for_dbpl_dataset_spark.sources.sinks import write_partitioned_parquet
    from map_reduce_for_dbpl_dataset_spark.sources.xml import publications_from_xml

    def timed(name, fn) -> float:
        ts = []
        for r in range(PROBE_REPEATS):
            t0 = time.perf_counter()
            with tracer.span("probe", f"{name}/{r}"):
                fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)

    def read(name, d=sf_dir):
        if name == "publications":
            return publications(spark, sf_dir=d)
        return load_table(spark, d, name)

    def scan():
        for t in wl["tables"]:
            noop(read(t))

    # the functions and Python-worker probes need documents and embeddings;
    # workloads that read neither take them from the unscaled source tables
    fdir = sf_dir if "documents" in wl["tables"] else inputs.SOURCE_DIR

    def docs():
        return read("documents", fdir).select("text")

    def vecs():
        return read("embeddings", fdir).select("embedding")

    def derive():
        noop(docs().select(word_shingles(tokens(F.col("text")))))
        noop(vecs().select(quantize(F.col("embedding"))))

    xml = os.path.join(sf_dir, "publications.xml") if wl.get("ingest") else None
    write_dir = os.path.join(run_dir, "probe-write")

    def parse():
        noop(publications_from_xml(spark, xml))

    def parse_write():
        write_partitioned_parquet(publications_from_xml(spark, xml), write_dir, "kind")

    docs_s = timed("docs_scan", lambda: noop(docs()))
    vecs_s = timed("vecs_scan", lambda: noop(vecs()))
    out = {
        "sources.scan_s": timed("scan", scan),
        "functions.derive_s": timed("derive", derive) - docs_s - vecs_s,
        "operators.python_worker_s": timed(
            "python", lambda: noop(docs().mapInPandas(_identity, "text string"))
        ) - docs_s,
        "sources.xml_parse_s": timed("xml_parse", parse),
    }
    if ingest_s is None:  # no ingest in the passes: parse and write the fixture XML
        ingest_s = timed("xml_write", parse_write)
        out["sources.output_mb"] = _dir_mb(write_dir)
    else:
        out["sources.output_mb"] = _dir_mb(os.path.join(run_dir, "inputs", "publications.parquet"))
    out["sources.write_s"] = ingest_s - out["sources.xml_parse_s"]
    return out


def per_layer_metrics(events: list[dict], tracer, tagged: list,
                      plain: list) -> tuple[dict, dict]:
    """Median over traced passes of each per-pass layer metric, plus the
    per-query detail for the trace file."""
    stages = stages_from_events(events)
    jobs = jobs_by_group(events)
    roots = {s.trace: s for s in tracer.spans if s.name == "pass"}
    per_pass, detail = [], {}
    for pid, rec in tagged:
        root = roots[pid]
        mine = [s for s in stages if s["group"] and s["group"].startswith(f"{pid}/")]
        njobs = sum(n for g, n in jobs.items() if g.startswith(f"{pid}/"))
        m = aggregate(mine, njobs, root.start, root.end)
        m["queries.build_s"] = sum(v["build_s"] for v in rec["steps"].values())
        m["queries.execute_s"] = sum(v["execute_s"] for v in rec["steps"].values())
        m["queries.cached_mb"] = rec["cached_mb"]
        m["trace.pass_s"] = rec["wall"]
        per_pass.append(m)
        for name, times in rec["steps"].items():
            spans = [s for s in tracer.spans if s.trace == pid and s.name.startswith(f"{name}/")]
            q_stages = [s for s in mine if s["group"].startswith(f"{pid}/{name}/")]
            q_jobs = sum(n for g, n in jobs.items() if g.startswith(f"{pid}/{name}/"))
            detail.setdefault(name, []).append({
                "pass": pid, **times,
                **aggregate(q_stages, q_jobs, min(s.start for s in spans), max(s.end for s in spans)),
            })
    metrics = {k: _median([p[k] for p in per_pass]) for k in per_pass[0]}
    metrics["trace.overhead_s"] = metrics["trace.pass_s"] - _median([r["wall"] for r in plain])
    return metrics, {"per_pass": per_pass, "per_query": detail, "stages": stages}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="unscaled inputs and one warm pass: checks that the "
                    "workload runs and prints every metric, measures nothing")
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the repo; missing {missing}",
              file=sys.stderr)
        return 2
    # every process this run starts, and every one they start, ends before
    # it does, also when it is stopped with SIGTERM
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if args.setup_probe:
        try:
            return setup_probe()
        finally:
            reap_descendants(timeout=30)
    if not args.workload:
        ap.error("--workload is required")

    wl = WORKLOADS[args.workload]
    if args.smoke:
        wl = {**wl, "factor": 1}
    traced = bool(args.trace)
    steal0 = steal_seconds()
    run_dir = os.path.join(inputs.CACHE_DIR, f"run-{os.getpid()}")
    spark = None
    try:
        configure(run_dir, os.path.join(run_dir, "eventlog") if traced else None)
        sf_dir = inputs.prepare(wl["factor"], wl["tables"], args.seed, wl.get("ingest", False))
        with open(os.path.join(sf_dir, "STATS.json")) as fh:
            stats = json.load(fh)
        print(json.dumps({"workload": args.workload, "seed": args.seed, "inputs": stats}))

        setups = [] if traced else [child_setup_seconds() for _ in range(SETUP_SAMPLES - 1)]
        spark, seconds = start_session()
        setups.append(seconds)
        expected = expected_results(wl, sf_dir, stats)

        tracer = Tracer(spark.sparkContext) if traced else None
        runner = Runner(spark, make_steps(spark, wl, sf_dir, run_dir), expected, tracer)
        cold = runner.run_pass("cold" if traced else None, check=True)
        plain, tagged = warm_passes(runner, args.seconds, traced, 1 if args.smoke else MIN_PASSES)
        probes = {}
        if traced:
            ingest_s = None
            if wl.get("ingest"):
                ingest_s = _median([sum(r["steps"][INGEST].values())
                                    for _, r in tagged if INGEST in r["steps"]])
            probes = layer_probes(spark, tracer, wl, sf_dir, run_dir, ingest_s)
        peak = peak_rss_mb(runner.jvm)
        stop_session(spark)
        spark = None

        failed = len(runner.failures)
        report = {
            "workload": args.workload, "seed": args.seed, "cpus": _cpus(),
            "failures": runner.failures, "attempted": runner.attempted,
            "failed": failed, "failed_frac": failed / runner.attempted,
            # CPU time taken by other guests on the host during this run
            "steal_s": steal_seconds() - steal0,
        }
        if traced:
            log_dir = os.path.join(run_dir, "eventlog")
            events = read_event_log(os.path.join(log_dir, os.listdir(log_dir)[0]))
            layers, detail = per_layer_metrics(events, tracer, tagged, plain)
            values = {**layers, **probes}
            metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
            trace_dir = os.path.join(inputs.CACHE_DIR, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_file = os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json")
            own = self_times(tracer.spans)
            spans = [{**s, "self_s": own[s["id"]]} for s in tracer.to_json()]
            with open(trace_file, "w") as fh:
                json.dump({**report, "inputs": stats, "metrics": metrics,
                           "spans": spans, **detail}, fh)
            report["trace_file"] = trace_file
        else:
            values = {
                "setup_s": _median(setups),
                "pass_s": _median([r["wall"] for r in plain]),
                "cpu_s": _median([r["cpu"] for r in plain]),
                "peak_rss_mb": peak,
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
            report.update(cold_pass_s=cold["wall"], setup_samples=setups,
                          pass_walls=[r["wall"] for r in plain],
                          pass_cpus=[r["cpu"] for r in plain])
        print(json.dumps(report))
        # printed, but not in BENCHMARK.json: failed_frac is 0 when all is
        # well, and one cold pass per run spreads wider than any bound there
        shown = {**metrics, "failed_frac": {"value": report["failed_frac"], "unit": "ratio"}}
        if not traced:
            shown["cold_pass_s"] = {"value": report["cold_pass_s"], "unit": "s"}
        for k, m in shown.items():
            print(f"{args.workload:12s} {k:28s} {m['value']:14.4f} {m['unit']}")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": runner.attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        try:
            if "pyspark" in sys.modules:  # a JVM may be up without a session
                stop_session(spark)
        finally:
            reap_descendants(timeout=30)
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
