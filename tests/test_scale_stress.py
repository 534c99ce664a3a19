"""Adversarial-scale stress tests for the skew-critical operators.

Each test builds the input that breaks the NAIVE formulation of its
operator — a Zipfian hot key, an event-burst time bin, a celebrity
hub vertex, a hot LSH bucket — and asserts the scale-safe plan still
computes the exact answer (vs a trusted naive execution at test
scale) while honoring its structural bound (out-degree cap, salt
spread). These are the regression guards for those shapes: the
oracle hash checks verify the implemented algorithm on friendly data;
these verify the algorithm's behavior on the data that kills the
wrong plan."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from map_reduce_for_dbpl_dataset_spark.operators.dedup import (
    N_PERM,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)

N_TOTAL = 200_000
N_HOT = 2_000


@pytest.mark.slow
def test_lsh_hot_bucket_at_scale(spark):
    sigs = spark.range(N_TOTAL).select(
        F.col("id").alias("doc_id"),
        *[
            F.when(F.col("id") < N_HOT, F.lit(7))
            .otherwise(F.col("id") * (N_PERM + 1) + k)
            .cast("long")
            .alias(f"sig_{k}")
            for k in range(N_PERM)
        ],
    )
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    n_hot_pairs = N_HOT * (N_HOT - 1) // 2
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("id_a") < N_HOT) & (F.col("id_b") < N_HOT), 1).otherwise(0)
        ).alias("n_hot"),
        F.max("id_b").alias("max_b"),
    ).collect()[0]
    # unique signatures (id*(K+1)+k) never share a full 4-sig band key,
    # so the hot bucket is the only pair source
    assert agg["n"] == n_hot_pairs
    assert agg["n_hot"] == n_hot_pairs
    assert agg["max_b"] == N_HOT - 1


# --- salted join under a Zipfian hot key -------------------------------------

N_BIG = 200_000
N_KEYS = 1_000
N_HOT_ROWS = 100_000  # the first half of the fact carries ONE key


@pytest.mark.slow
def test_salted_join_zipf_hot_key(spark):
    """100k of 200k fact rows share ONE join key (a Zipfian celebrity
    far past any skew threshold). Assert the salted plan (a) is
    row-identical to the plain equi-join — count and value checksum —
    and (b) actually spreads the hot key across all n_salts (key,salt)
    groups, which is the entire point of paying the small-side
    replication."""
    from map_reduce_for_dbpl_dataset_spark.operators.skew import salted_join

    n_salts = 16
    big = spark.range(N_BIG).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") < N_HOT_ROWS, F.lit(0))
        .otherwise(F.col("id") % N_KEYS)
        .cast("long")
        .alias("k"),
        (F.col("id") * 7 % 1000).alias("payload"),
    )
    small = spark.range(N_KEYS).select(
        F.col("id").alias("k"), (F.col("id") * 13 % 97).alias("dim_val")
    )

    salted = salted_join(big, small, "k", salt=F.col("row_id"), n_salts=n_salts)
    plain = big.join(small, "k")

    def checksum(df):
        # mod before sum: ANSI mode raises on long overflow, and 200k
        # full-range hashes overflow a sum; 2e5 * 1e9 stays well inside
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.pmod(F.xxhash64("k", "row_id", "payload", "dim_val"), F.lit(10**9 + 7))
            ).alias("h"),
        ).collect()[0]

    cs, cp = checksum(salted), checksum(plain)
    assert cs["n"] == cp["n"] == N_BIG  # every fact row matched exactly once
    assert cs["h"] == cp["h"]

    # the hot key's rows must occupy every salt bucket, each ~1/n_salts
    spread = (
        big.filter(F.col("k") == 0)
        .groupBy((F.col("row_id") % n_salts).alias("salt"))
        .count()
        .collect()
    )
    assert len(spread) == n_salts
    per = [r["count"] for r in spread]
    assert max(per) <= 2 * min(per)  # no residual concentration


# --- point-in-interval join under an event-burst hot bin --------------------


@pytest.mark.slow
def test_interval_join_event_burst_bin(spark):
    """100k points land inside ONE 14-day bin (an event burst) with 200
    overlapping intervals — the bin-join's worst case. Assert exact
    agreement (count + checksum) with the trusted nested-loop join at
    test scale, and that interval replication respects the
    ceil(len/bin)+1 bound from the operator's cost model."""
    from map_reduce_for_dbpl_dataset_spark.operators.intervals import (
        point_in_interval_join,
    )

    bin_days = 14
    # burst: 100k points in [2020-01-01, 2020-01-14); background: 10k
    # spread over the year
    points = spark.range(110_000).select(
        F.col("id").alias("pt_id"),
        F.when(
            F.col("id") < 100_000,
            F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 14).cast("int")),
        )
        .otherwise(
            F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 365).cast("int"))
        )
        .alias("pt_date"),
    )
    # 200 intervals of 0..27 days, half crossing the burst bin
    intervals = spark.range(200).select(
        F.col("id").alias("iv_id"),
        F.date_add(
            F.lit("2020-01-01").cast("date"), ((F.col("id") * 3) % 40 - 10).cast("int")
        ).alias("iv_start"),
    ).select(
        "iv_id",
        "iv_start",
        F.date_add(F.col("iv_start"), ((F.col("iv_id") * 7) % 28).cast("int")).alias(
            "iv_end"
        ),
    )

    binned = point_in_interval_join(
        points, intervals, "pt_date", "iv_start", "iv_end", bin_days=bin_days
    )
    naive = points.join(
        intervals, F.col("pt_date").between(F.col("iv_start"), F.col("iv_end"))
    )

    def checksum(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("pt_id", "iv_id"), F.lit(10**9 + 7))).alias("h"),
        ).collect()[0]

    cb, cn = checksum(binned), checksum(naive)
    assert cb["n"] == cn["n"] > 0
    assert cb["h"] == cn["h"]

    # replication bound: each interval appears in <= ceil(len/bin)+1 bins
    max_rep = (
        intervals.select(
            (
                F.floor(F.datediff("iv_end", F.lit("1970-01-01").cast("date")) / bin_days)
                - F.floor(
                    F.datediff("iv_start", F.lit("1970-01-01").cast("date")) / bin_days
                )
                + 1
            ).alias("rep"),
            (F.ceil(F.datediff("iv_end", "iv_start") / bin_days) + 1).alias("bound"),
        )
        .agg(F.max(F.col("rep") - F.col("bound")).alias("excess"))
        .collect()[0]["excess"]
    )
    assert max_rep <= 0


# --- triangle counting under a celebrity hub ---------------------------------


@pytest.mark.slow
def test_triangles_hub_out_degree_bound(spark):
    """A hub vertex with 1,000 neighbors plus a leaf ring: the naive
    id-ordered wedge join puts deg(hub)^2/2 ~ 500k wedges in the hub's
    key group; degree-ordered orientation must instead cap EVERY
    out-degree at O(sqrt(m)) — the docstring's claim, asserted here on
    the exact production orientation, along with the exact triangle
    count."""
    from map_reduce_for_dbpl_dataset_spark.operators.graph import (
        oriented_edges,
        triangles,
    )

    n_leaves = 1_000
    # hub 0 — leaf i (i in 1..1000), plus ring edges i — i+1
    spokes = spark.range(1, n_leaves + 1).select(
        F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
    )
    ring = spark.range(1, n_leaves).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    edges = spokes.union(ring)
    m = edges.count()

    # every (i, i+1) leaf pair closes a triangle with the hub; the ring
    # itself has no chords, so that's all of them
    assert triangles(edges).count() == n_leaves - 1

    out_deg = (
        oriented_edges(edges).groupBy("s").agg(F.count(F.lit(1)).alias("od"))
    )
    max_od = out_deg.agg(F.max("od")).collect()[0][0]
    # degree-ordered orientation: out-degree <= sqrt(2m) always; on this
    # graph every spoke points leaf->hub (deg 2-3 < deg 1000), so the
    # hub emits NOTHING and the max is the tiny leaf degree
    assert max_od <= math.isqrt(2 * m) + 1
    assert max_od <= 3
    hub_od = out_deg.filter(F.col("s") == 0).collect()
    assert hub_od == []  # the celebrity never fans out


# --- LSH candidate recall vs exact Jaccard -----------------------------------


@pytest.mark.slow
def test_lsh_candidate_recall_floor(spark):
    """Retrieval-quality guard the hash-match oracles cannot see: the
    oracles prove the implemented banding is computed exactly, not that
    the band/row parameters still FIND near-duplicates. Measure
    candidate recall of the LSH pair generator against the exact
    Jaccard >= 0.8 pair set (llm_ngram_jaccard's operator) on the
    sf0.01 documents corpus and assert a >= 0.9 floor. Deterministic:
    fixed PERMS, fixed corpus — a banding regression (fewer bands,
    broken key concat, dropped rows) shows up as lost recall."""
    from map_reduce_for_dbpl_dataset_spark.queries.llm import _docs_shingled

    sh = _docs_shingled(spark, "/root/testdata/sf0.01")

    exact = ngram_jaccard_pairs(sh, "doc_id", "shingles", threshold=0.8).select(
        "id_a", "id_b"
    )
    sigs = minhash_signatures(sh, "doc_id", "shingles")
    cands = lsh_candidate_pairs(sigs, "doc_id").select("id_a", "id_b")

    n_exact = exact.count()
    assert n_exact > 0  # the fixture plants near-dups; 0 would be vacuous
    n_found = exact.join(cands, ["id_a", "id_b"], "left_semi").count()
    recall = n_found / n_exact
    # 4 bands x 4 rows -> per-pair hit prob 1-(1-J^4)^4: 0.88 at J=0.8,
    # 0.99 at J=0.9; the planted near-dups sit high enough that the
    # fixed-seed measured recall clears 0.9 with margin
    assert recall >= 0.9, f"LSH candidate recall {recall:.3f} < 0.9 ({n_found}/{n_exact})"


# --- mixture apportionment under Zipfian source skew ------------------------


@pytest.mark.slow
def test_mixture_sample_zipf_sources(spark, tmp_path_factory):
    """One source holds 90% of a 100k-doc corpus, six sources split the
    rest. sqrt-temperature apportionment must still hand out exactly
    MIX_TOTAL slots, keep every target within 1 of its exact
    real-valued share (largest remainder), and upweight the small
    sources vs natural sampling."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import (
        MIX_TOTAL,
        q_mixture_sample,
    )

    n = 100_000
    srcs = ["big"] * (n * 9 // 10)
    rest = n - len(srcs)
    for i in range(rest):
        srcs.append(f"small{i % 6}")
    out_dir = tmp_path_factory.mktemp("zipfmix")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(["x"] * n, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array(srcs, pa.string()),
            "n_chars": pa.array([1] * n, pa.int64()),
        }),
        f"{out_dir}/documents.parquet",
    )
    per = {
        r["source"]: (r["n_sel"], r["target"], r["n_total"])
        for r in q_mixture_sample(spark, str(out_dir))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sel"),
            F.max("target").alias("target"),
            F.max("n_total").alias("n_total"),
        )
        .collect()
    }
    assert sum(v[0] for v in per.values()) == MIX_TOTAL
    tot_fw = sum(math.isqrt(v[2]) for v in per.values())
    for src, (n_sel, target, n_total) in per.items():
        assert n_sel == target
        assert abs(target - MIX_TOTAL * math.isqrt(n_total) / tot_fw) <= 1
    # temperature upweights the tail: the hot source's share of the
    # sample must sit well below its 90% share of the corpus
    # (sqrt share here: 300/(300+6*40) ~ 0.56)
    assert per["big"][1] / MIX_TOTAL < 0.6


# --- substring spans under corpus-wide boilerplate --------------------------


@pytest.mark.slow
def test_substring_spans_df_cap_kills_boilerplate(spark, tmp_path_factory):
    """500 docs all embed the SAME 24-token boilerplate sentence (a
    shingle shared corpus-wide -> naive join cost df^2 = 250k per
    position); unique filler isolates every other shingle. With the df
    cap the operator must return NO pairs (the only shared spans are
    boilerplate) instead of 124,750 boilerplate pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import (
        SPAN_DF_CAP,
        q_substring_spans,
    )

    n = 500
    boiler = " ".join(f"legal{i}" for i in range(24))
    texts = [
        f"{' '.join(f'u{d}w{j}' for j in range(20))} {boiler} "
        f"{' '.join(f'u{d}v{j}' for j in range(20))}"
        for d in range(n)
    ]
    out_dir = tmp_path_factory.mktemp("boiler")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array(["t"] * n, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        f"{out_dir}/documents.parquet",
    )
    assert n > SPAN_DF_CAP  # the cap must actually bind
    assert q_substring_spans(spark, str(out_dir)).count() == 0


# --- Zipf(s~1.5) spectrum probe at ~100x driver-gate scale: the
#     salted agg / salted join / per-group top-k
#     paths, against a full power-law key spectrum rather than the
#     single-celebrity shape above ---------------------------------

ZIPF_N = 2_000_000  # ~100x the sf0.01 driver-gate fact sizes
ZIPF_K = 10_000


def _zipf_fact(spark):
    """Deterministic Zipf(s=1.5) fact table in one JVM-side closed
    form: row i of N gets key floor((N/(N-i))^2) capped at ZIPF_K, so
    P(key <= k) = 1 - 1/sqrt(k+1) and the share of key k is
    1/sqrt(k) - 1/sqrt(k+1), i.e. ~ 0.5 * k^-1.5 — key 1 alone holds
    ~29% of all rows and the head decays exactly like the Zipfian
    venue/author keys SURVEY.md flags as the 100 TB hazard.  No
    driver-side data, no randomness: reruns are bit-identical."""
    return spark.range(ZIPF_N).select(
        F.col("id"),
        F.least(
            F.floor(F.pow(F.lit(float(ZIPF_N)) / (ZIPF_N - F.col("id")), 2)),
            F.lit(ZIPF_K),
        ).cast("long").alias("k"),
        (F.col("id") * 2654435761 % 1_000_003).alias("payload"),
    )


@pytest.mark.slow
def test_zipf_spectrum_head_shape(spark):
    """The probe is only as good as its skew: pin the head shares the
    closed form promises (key 1 ~29.3%, keys 1-3 ~50%) so a generator
    edit can't silently flatten the distribution the other three
    tests rely on."""
    head = dict(
        _zipf_fact(spark).filter(F.col("k") <= 3).groupBy("k").count().collect()
    )
    assert abs(head[1] / ZIPF_N - (1 - 2 ** -0.5)) < 0.001
    assert abs(sum(head.values()) / ZIPF_N - (1 - 0.5)) < 0.001


@pytest.mark.slow
def test_zipf_spectrum_salted_agg(spark):
    """salted_sum_count over the full Zipf spectrum must be
    bit-identical to the plain aggregate — every key, not just the
    celebrity: the two-phase merge has to re-assemble 16 partials for
    the hot head AND pass the long tail through unharmed."""
    from map_reduce_for_dbpl_dataset_spark.operators.skew import salted_sum_count

    df = _zipf_fact(spark)
    got = {
        r["k"]: (r["s"], r["n_rows"])
        for r in salted_sum_count(
            df, keys=["k"], sums={"s": F.col("payload")},
            salt=F.col("id"), n_salts=16,
        ).collect()
    }
    want = {
        r["k"]: (r["s"], r["n_rows"])
        for r in df.groupBy("k")
        .agg(F.sum("payload").alias("s"), F.count(F.lit(1)).alias("n_rows"))
        .collect()
    }
    assert got == want


@pytest.mark.slow
def test_zipf_spectrum_salted_join(spark):
    """salted_join of the Zipf fact against a ZIPF_K-row dimension:
    row-identical to the plain equi-join (count + value checksum) with
    every fact row matched exactly once, while the hot key's rows
    spread over all 16 salt buckets."""
    from map_reduce_for_dbpl_dataset_spark.operators.skew import salted_join

    n_salts = 16
    big = _zipf_fact(spark)
    small = spark.range(1, ZIPF_K + 1).select(
        F.col("id").alias("k"), (F.col("id") * 13 % 97).alias("dim_val")
    )
    # salted_join exists for the broadcast-INELIGIBLE regime; at this
    # fixture size Catalyst would broadcast the replicated dimension and
    # never shuffle, so disable auto-broadcast to drive the shuffle path
    # the operator is for (restored below — the session is shared).
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        salted = salted_join(big, small, "k", salt=F.col("id"), n_salts=n_salts)
        plain = big.join(small, "k")

        # The claim under test is that salted_join actually repartitions
        # on the composite (k, _salt) key — not merely that the salt
        # expression is well-distributed (a bucket-count probe that
        # re-derives id % 16 on the raw fact passes for any balanced
        # expression without the join ever using it).  The physical plan must carry a hashpartitioning exchange
        # whose key list is (k, _salt).
        import re

        plan = spark._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            salted._jdf.queryExecution(), "formatted"
        )
        assert re.search(r"hashpartitioning\(k#\d+L?, _salt#\d+", plan), plan

        def checksum(df):
            return df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.pmod(
                        F.xxhash64("k", "id", "payload", "dim_val"),
                        F.lit(10**9 + 7),
                    )
                ).alias("h"),
            ).collect()[0]

        # Executed inside the no-broadcast window so the checksummed run
        # takes the same salted-shuffle path the plan assertion proved.
        cs, cp = checksum(salted), checksum(plain)
        assert cs["n"] == cp["n"] == ZIPF_N
        assert cs["h"] == cp["h"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    # And the hot key's rows must land in all n_salts buckets under the
    # operator's own salt expression — this validates the FIXTURE's
    # salt choice is balanced enough for the spread to matter.
    spread = [
        r["count"]
        for r in big.filter(F.col("k") == 1)
        .groupBy(((F.col("id") % n_salts).cast("int")).alias("salt"))
        .count()
        .collect()
    ]
    assert len(spread) == n_salts
    assert max(spread) <= 2 * min(spread)


@pytest.mark.slow
def test_zipf_spectrum_top_k_per_group(spark):
    """Per-group top-k over the Zipf keys: the ~586k-row hot group and
    two tail probes must each agree with an independent plan shape
    (filter + TakeOrderedAndProject global top-k), and WindowGroupLimit
    must appear — the pre-exchange k-limit is what keeps the hot
    group's shuffle bounded at 100 TB."""
    from map_reduce_for_dbpl_dataset_spark.operators.topk import (
        top_k_global,
        top_k_per_group,
    )

    df = _zipf_fact(spark)
    order = [F.desc("payload"), F.asc("id")]
    topk = top_k_per_group(df, ["k"], order, k=10)
    plan = spark._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        topk._jdf.queryExecution(), "formatted"
    )
    assert "WindowGroupLimit" in plan
    got = {}
    for r in topk.filter(F.col("k").isin(1, 50, ZIPF_K)).collect():
        got.setdefault(r["k"], []).append((r["payload"], r["id"]))
    for probe in (1, 50, ZIPF_K):
        want = [
            (r["payload"], r["id"])
            for r in top_k_global(
                df.filter(F.col("k") == probe), order, 10
            ).collect()
        ]
        assert sorted(got[probe], key=lambda t: (-t[0], t[1])) == want, probe


@pytest.mark.slow
@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SCALE_PROBE") != "1",
    reason="opt-in: set SPARK_GRAFT_SCALE_PROBE=1",
)
def test_pair_stage_scaling_exponent():
    """Opt-in 30x scale-exponent probe for the pair-stage champions:
    runs tools/scale_probe.py in its own subprocess (own local[N]
    session — the probe measures throughput, so it must not inherit
    this suite's deliberately smaller-than-machine session,
    conftest.SUITE_CPUS), which times each subject at the 10x
    (fixtures/sf1) and 30x single-table key-shift points and reports
    exponent = log(t_30x/t_10x)/log(3).  Asserts every exponent stays
    under ITS OWN red line (carried in the probe output): 1.8 for the
    subquadratic claims (spread_for_pair_join text pairs + the
    K=isqrt(N) SemDeDup operating point, whose pair work is ~N^1.5),
    2.1 for the frozen-K=32 SemDeDup control whose pair work grows
    x factor^2 BY CONSTRUCTION (vectors replicate verbatim, so
    clusters scale exactly x factor) — there the claim is that the
    salted pair stage tracks the predicted sum-cluster^2 work rather
    than degrading beyond it.  Re-run any time with
    `python tools/scale_probe.py`."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    proc = subprocess.run(
        [sys.executable, str(repo / "tools" / "scale_probe.py")],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    from tools.scale_probe import PROBE_QUERIES

    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == set(PROBE_QUERIES)
    for name, m in out.items():
        assert m["rows_10x"] > 0 and m["rows_30x"] > 0, (name, m)
        assert m["exponent"] < m["red_line"], (name, m)
    # substring spans have no df-cap: more key-shifted copies means
    # more shingle-sharing spans, so the count must grow.  Winnow's
    # count FALLS at 30x by design — a fingerprint shared by every
    # copy of a doc has df ~ factor*5, and WINNOW_MAX_DF=50 drops it
    # once replication crosses the cap (measured: 38,933 pairs at 10x
    # -> 3,493 at 30x).  That regime shift IS the scale discipline
    # under test, so winnow gets only the >0 floor above.
    assert (
        out["llm_substring_spans"]["rows_30x"]
        >= out["llm_substring_spans"]["rows_10x"]
    ), out["llm_substring_spans"]
