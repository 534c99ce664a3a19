"""Scale-exponent probe for the pair-stage champions: measure how each
subject actually scales between the 10x point (fixtures/sf1) and a 30x
single-table point (documents-only fixtures/sf3docs for the text
pairs, embeddings-only fixtures/sf3emb for the SemDeDup pairs — each
query reads only that table; both built on first use by
tools/make_scale_fixtures.py with ``--factor 30 --tables <table>``),
turning scaling claims into measured exponents:

    exponent = log(t_30x / t_10x) / log(3)

Both scale points use the SAME key-shift replication discipline
(copy tags keep replicas near-dup-distinct, so shingle-sharing — and
with it pair-stage work — grows the way a genuinely larger corpus
grows, not quadratically as exact duplication would).  An exponent
near 1 means the pair stage costs linearly in corpus size; 2 would
mean the candidate join degraded to all-pairs.  The probe times the
full query plan with the noop sink (no driver collect), best-of-2 at
both scale points after a per-point warmup, and checks rows only —
the 10x point's full oracle-hash identity lives in
tests/test_scale_correctness.py.  Row-count expectations differ by
query: substring spans have no df-cap, so more key-shifted copies
means more shingle-sharing spans (count grows); winnow's count FALLS
at 30x by design, because a fingerprint shared by every copy of a
doc reaches df ~ factor*5 and WINNOW_MAX_DF=50 drops it once
replication crosses the cap — that regime shift is exactly the
hot-key discipline the probe exists to exercise.

Timing shape: the per-point ``.count()`` that produces the row
numbers runs FIRST, doubling as the warmup run, and the timed
noop-sink runs are best-of-2 at BOTH scale points, so noise does not
bias the exponent one way.  Timing ``.count()`` itself would be
UNSOUND: Catalyst eliminates row-preserving subtrees under a bare
count, and semdedup's final LEFT join against a distinct-keyed side
is exactly that shape — its count plan carries zero joins (at the
30x point: count 5.7 s vs noop 26 s; the count skipped the salted
pair stage this probe exists to measure).

Exponent deltas under ~0.2 between runs of the same code are probe
noise (~0.3 for the frozen-K control, whose quadratic 30x pair stage
is the most load-sensitive subject).  Re-run the probe when a probed
subject's implementation, its pair-join discipline
(spread_for_pair_join / salting / df-cap constants), or the scale
fixtures' replication scheme changes.

Each subject carries its own red line:

- ``llm_substring_spans``, ``llm_winnow_pairs`` — red line 1.8: the
  spread_for_pair_join text pairs are claimed subquadratic (all-pairs
  would read 2.0).
- ``llm_semdedup_trained_k32`` — the frozen-K control.  The scale
  fixtures key-shift-replicate embedding VECTORS verbatim (only
  vec_id shifts), so cell assignment is identical per copy, every
  cluster grows exactly x factor, and within-cluster pair work
  (sum cluster^2) grows exactly x factor^2: the pair-count exponent
  between the 10x and 30x points is 2.0 BY CONSTRUCTION.  The claim
  under test is that the salted (cluster, _salt) shuffle_hash pair
  stage's wall-clock TRACKS that predicted pair work instead of
  degrading beyond it (hot-key serialization, broadcast flip) — red
  line 2.1 = the 2.0 pair-work exponent + noise margin; a measurement
  below 2.0 is the linear train/assign share diluting the quadratic
  term.  This is the measured demonstration of WHY K must scale with
  the corpus (the scaling-law comment in queries/pipeline.py).
- ``llm_semdedup_scaled`` — the operating point that rule picks:
  K = clamp(isqrt(N)) moves 141 -> 244 across the two points, so
  pair work ~ N^2/K ~ N^1.5; red line 1.8, the same subquadratic
  line the text-pair subjects carry.

Printed JSON is consumed by tests/test_scale_stress.py's opt-in
wrapper (SPARK_GRAFT_SCALE_PROBE=1), which asserts every measured
exponent stays under ITS OWN red line — the gap between "scaling as
designed, with noise headroom" and "the pair discipline regressed".

Usage:  python tools/scale_probe.py
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF1_DIR = os.path.join(REPO, "fixtures", "sf1")
SF30_DOCS_DIR = os.path.join(REPO, "fixtures", "sf3docs")
SF30_EMB_DIR = os.path.join(REPO, "fixtures", "sf3emb")

# name -> (30x fixture dir, its single table, red-line exponent for
# the wrapper test — rationale per subject in the module docstring)
PROBE_QUERIES: dict[str, tuple[str, str, float]] = {
    "llm_substring_spans": (SF30_DOCS_DIR, "documents", 1.8),
    "llm_winnow_pairs": (SF30_DOCS_DIR, "documents", 1.8),
    "llm_semdedup_trained_k32": (SF30_EMB_DIR, "embeddings", 2.1),
    "llm_semdedup_scaled": (SF30_EMB_DIR, "embeddings", 1.8),
}


def ensure_fixture(out_dir: str, factor: int, tables: str | None) -> None:
    """Build a fixture dir on first use (build-into-temp-then-rename,
    same partial-build protection as bench.py)."""
    if os.path.isdir(out_dir):
        return
    tmp = out_dir.rstrip("/") + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    cmd = [
        sys.executable,
        os.path.join(REPO, "tools", "make_scale_fixtures.py"),
        "--factor", str(factor), "--out", tmp,
    ]
    if tables:
        cmd += ["--tables", tables]
    subprocess.run(cmd, check=True)
    os.rename(tmp, out_dir)


def main() -> None:
    ensure_fixture(SF1_DIR, 10, None)
    for sf30_dir, table, _ in set(PROBE_QUERIES.values()):
        ensure_fixture(sf30_dir, 30, table)

    from map_reduce_for_dbpl_dataset_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("scale-probe")
    qs = entrymod.queries()

    def timed(name: str, sf_dir: str, n_runs: int) -> tuple[float, int]:
        """(best-of-N noop-sink seconds, rows) for one query at one
        scale point.  The TIMED endpoint must be the noop sink, never
        ``.count()`` (module docstring).  Rows come from one
        ``.count()`` per point, exact regardless of that elimination,
        which runs FIRST so it doubles as the warmup run.  Returns
        FULL-precision seconds: rounding here would feed the exponent
        quantized inputs (+/-0.005 s on a ~6 s point shifts it by
        ~0.01), so round only in the emitted JSON."""
        rows = qs[name](spark, sf_dir).count()  # rows + per-point warmup
        best = float("inf")
        for _ in range(n_runs):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        return best, rows

    # warm the session + parquet datasource so the first timed run
    # doesn't absorb init cost (same rationale as bench.py)
    spark.read.parquet(os.path.join(SF1_DIR, "documents.parquet")).count()
    for sf30_dir, table, _ in set(PROBE_QUERIES.values()):
        spark.read.parquet(os.path.join(sf30_dir, f"{table}.parquet")).count()

    out: dict[str, dict] = {}
    for name, (sf30_dir, _table, red_line) in PROBE_QUERIES.items():
        t10, rows10 = timed(name, SF1_DIR, 2)
        t30, rows30 = timed(name, sf30_dir, 2)
        out[name] = {
            "t_10x_sec": round(t10, 2),
            "t_30x_sec": round(t30, 2),
            "ratio": round(t30 / t10, 2),
            "exponent": round(math.log(t30 / t10) / math.log(3), 2),
            "rows_10x": rows10,
            "rows_30x": rows30,
            "red_line": red_line,
        }
        print(f"{name}: {out[name]}", file=sys.stderr, flush=True)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
