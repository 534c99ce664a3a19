"""Correctness at the SCALE point, not just timing: run a slice of the
registry's heaviest table-backed queries against their own DuckDB
oracles over the ~10x inflated fixtures (fixtures/sf1, built by
tools/make_scale_fixtures.py / auto-built by bench.py). The driver's
differential gate runs at sf0.01; this proves the same Spark-vs-oracle
hash identity survives a 10x-of-bench-scale input — partitioning,
AQE re-plans, and the two-regime LSH path included.

Table-backed oracles run as-is; the dblp oracles pin the committed
publications fixture by ABSOLUTE path, so for the graph family the
test rewrites that one literal path to the scale dir's inflated
publications.parquet (same SQL, 10x input).  Skipped when the scale
fixtures are absent.

Net membership is decided here and nowhere else: a registry query is
either in SCALE_QUERIES or in EXCLUDED with the reason it is left out.
What each row costs comes from any run:
``pytest tests/test_scale_correctness.py --durations=0 -p no:cacheprovider``
(without the cache flag a cached green row skips and reads ~0 s).

GREEN-RESULT CACHE: each green per-query result is cached in the
pytest cache keyed on a digest of every input that can change the
outcome — the whole query/operator package, the entry module, this
test file, conftest.py (it pins the session's cpus/shuffle-partition
counts), the pyspark AND duckdb versions (both engines' results feed
the compare), and the scale fixtures' MANIFEST.json.  The manifest is
an honest proxy for the fixture bytes because
test_scale_fixtures_match_manifest — which recomputes every table's
digest from the parquet files on disk and is deliberately NEVER
cached — runs in the same session and fails loudly on any drift.  Any
edit to code, oracles, environment, or fixtures changes the key and
re-runs the full net; unchanged-source re-runs skip straight through,
exactly the plan-audit gate's contract.  (The sf0.1 union-find replay
below keys on the same digest; the committed testdata sets are
immutable, matching the plan-audit gate's rationale for leaving
testdata out of the key.)
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

import duckdb
import pytest

SCALE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures", "sf1"
)
# the union-find replay below runs at sf0.1 (committed testdata, no
# fixture build needed): 10x the driver gate with multi-partition
# superstep merges, at ~1/25 the sf1 pair-stage cost
CLUSTER_REPLAY_DIR = "/root/testdata/sf0.1"

# heavy + representative: scan/agg/join, window, LSH dedup (two-regime
# path), PPJoin exact twin proof, sampling, curation, and the two
# iterative/graph plans (components fixpoint, oriented triangles)
SCALE_QUERIES = [
    "tpch_pricing_summary",
    "tpch_revenue_by_nation",
    "tpch_window_ntile",
    "llm_dedup_minhash_lsh",
    "llm_ngram_jaccard_prefix",
    "llm_mixture_sample",
    "llm_token_rarity",
    "dblp_coauthor_components_star",
    "dblp_coauthor_triangles",
    "llm_bigram_lm_score",
    # the K-scaled SemDeDup variant: same composition/oracle as
    # llm_semdedup_trained (K=4, driver-checked at sf0.01) but the
    # cluster count a 10x corpus needs — sum-cluster^2 pair work
    # makes the frozen-K=4 variant ~10x slower here for the same
    # semantics
    "llm_semdedup_trained_k32",
    "llm_ann_pq_trained",
    "llm_cluster_top_terms",
    "llm_decontaminate_semantic",
    # tokenizer family at 10x documents: training's unrolled 8-round
    # CTE, the broadcast-rules corpus encode, and the chunked postings
    # build (object-hash collect at 10x)
    "llm_bpe_train",
    "llm_bpe_encode",
    "llm_inverted_index",
    # the centroid-form classifier at 10x rows/class (its BIGINT score
    # bound is corpus-independent — this point proves it) and the
    # corpus-computed-K SemDeDup (K moves 22 -> 141 across the scale
    # points; the oracle computes the same K in SQL)
    "llm_embed_classifier",
    "llm_semdedup_scaled",
    # simhash chunk-join dedup, the GK-sketch threshold selection
    # (sketch merge order changes with partitioning — this point proves
    # the bounds construction survives it), the 7-table market-share
    # star, funnel + retention over 10x events, the rolling-hash
    # fingerprints, the trained-IVF ANN composition, and the skew-demo
    # salted join
    "llm_dedup_simhash",
    "llm_quality_select_approx",
    "tpch_market_share",
    "tpch_events_funnel",
    "tpch_events_retention",
    "llm_fingerprint_rolling",
    "llm_ann_ivf_trained",
    "tpch_salted_join",
    "llm_hard_negatives",
    # the text-analysis family (langid, stats, PII, repetition,
    # boilerplate df-cap), the sketch pair (percentiles,
    # HLL-vs-exact), and the sqrt-apportioned mixture
    "llm_langid",
    "llm_text_stats",
    "llm_pii_scrub",
    "llm_repetition",
    "llm_boilerplate_lines",
    "tpch_percentiles",
    "tpch_approx_distinct",
    "llm_domain_mixture",
    # the oracle aggregates the point side to per-date counts
    # (pair-exact, and a raw IEJoin oracle would take minutes here)
    "tpch_interval_join",
    # the two spread_for_pair_join text pair stages
    "llm_winnow_pairs",
    "llm_substring_spans",
    # the third spread_for_pair_join caller (hyperplane-bucketed
    # embedding near-pairs), the Python-worker/Arrow surfaces
    # (grouped-map, scalar pandas UDF, mapInArrow — partitioning
    # changes batch boundaries at 10x, exactly what those paths must
    # be invariant to), the exact-dedup window, the Expand-based cube,
    # and the greedy sequence packer (its window state is per-source —
    # 10x rows per source probes the bound)
    "llm_dedup_embedding",
    "llm_zscore_grouped_map",
    "llm_quality_pandas_udf",
    "llm_token_count_arrow",
    "llm_dedup_exact",
    "tpch_cube_lineitem",
    "llm_sequence_pack",
    # the frozen-K=4 SemDeDup demonstrators (deliberately the wrong
    # operating point at 10x, which is why their hash identity is
    # worth proving here), the PageRank fixpoint, the bloom-pruned
    # join, the anti-join-vs-snapshot incremental dedup, the skew-demo
    # salted agg, the exact 13-gram decontamination twin of the
    # semantic variant, and the overlapped chunker
    "llm_semdedup",
    "llm_semdedup_trained",
    "dblp_pagerank",
    "tpch_bloom_filter_join",
    "llm_dedup_incremental",
    "tpch_salted_agg",
    "llm_decontaminate",
    "llm_chunk_overlap",
    # the grouped-AGG pandas UDF (the third Arrow shape), the Python
    # UDTF, and the three binary-column mapInPandas multimodal paths
    # (Arrow batch boundaries move at 10x, exactly what the stub-decode
    # plumbing must be invariant to); the CMS and incremental-HLL
    # sketches (merge order changes with partitioning, as for the GK
    # sketch); and the integer-exact Lloyd's k-means fixpoint
    # (iteration count and partial-agg merge order both move at 10x)
    "llm_trimmed_mean_grouped_agg",
    "tpch_udtf_series",
    "llm_multimodal_features",
    "llm_multimodal_frames",
    "llm_multimodal_resize",
    "tpch_cms_heavy_hitters",
    "tpch_hll_incremental",
    "llm_kmeans",
    # the streaming parity family: micro-batch replay over 10x events
    # moves batch boundaries, state-store merge order, and watermark
    # advancement, exactly what the append-mode parities must be
    # invariant to; and the three format roundtrip sinks, each driving
    # the full write-then-read path over 10x input
    "stream_tumbling_parity",
    "stream_sliding_parity",
    "stream_dedup_parity",
    "stream_late_drop_parity",
    "stream_stream_join_parity",
    "tpch_sink_json_roundtrip",
    "tpch_sink_orc_roundtrip",
    "tpch_sink_csv_roundtrip",
]

# Registry queries deliberately left out of the net, with the reason.
# A huge output makes the Python-side tuple compare the cost, not the
# engines; a recursive-CTE or unbounded-DP oracle costs minutes to
# hours at sf1.
EXCLUDED: dict[str, str] = {
    "tpch_window_lag_gap": "1.5M-row output: the tuple compare is the cost",
    "tpch_asof_latest_order": "~1M-row output: the tuple compare is the cost",
    "tpch_events_session": "~1M-row output: the tuple compare is the cost",
    "tpch_asof_cogroup": "1M-row output: the tuple compare is the cost",
    "stream_session_parity": (
        "954,650-row output: the tuple compare is the cost; session-window "
        "state is covered by the sliding/tumbling rows and the sf0.01 gate"
    ),
    "llm_dedup_clusters": (
        "recursive-CTE oracle over the full shingle self-join (~160 s); "
        "test_dedup_clusters_match_union_find_at_scale replays it at sf0.1"
    ),
    "dblp_coauthor_components": (
        "recursive-CTE oracle (~47 s); the components operator is "
        "hash-checked here through dblp_coauthor_components_star"
    ),
    "llm_dedup_levenshtein": (
        "DuckDB has no threshold levenshtein, so the oracle pays the full "
        "O(len^2) DP per blocked pair (hours); "
        "test_levenshtein_contract_at_scale checks the contract"
    ),
    "llm_leakage_free_split": (
        "recursive-CTE shingle self-join oracle (~3 min); "
        "test_leakage_split_invariant_at_scale checks the contract"
    ),
}

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_REPO = Path(__file__).resolve().parents[1]
_DIGEST: str | None = None


def _scale_net_digest() -> str:
    """Digest of every input that can change a scale-net outcome (see
    module docstring).  Computed once per session."""
    global _DIGEST
    if _DIGEST is not None:
        return _DIGEST
    import pyspark

    h = hashlib.sha256()
    h.update(pyspark.__version__.encode() + b"\0")
    h.update(duckdb.__version__.encode() + b"\0")
    paths = sorted(
        [
            *(_REPO / "map_reduce_for_dbpl_dataset_spark").rglob("*.py"),
            _REPO / "__spark_entry__.py",
            _REPO / "tests" / "conftest.py",
            Path(__file__),
        ]
    )
    manifest = Path(SCALE_DIR) / "MANIFEST.json"
    if manifest.is_file():
        paths.append(manifest)
    for p in paths:
        h.update(str(p).encode() + b"\0")
        b = p.read_bytes()
        h.update(str(len(b)).encode() + b"\0")
        h.update(b)
    # On-disk fixture-byte proxy: the manifest alone is only an
    # honest proxy when test_scale_fixtures_match_manifest
    # runs in the same session, which node selection (-k/one test id)
    # defeats — an out-of-band parquet edit with an unchanged
    # MANIFEST.json would then keep serving stale greens.  Folding each
    # parquet file's size into the key catches any practical rewrite
    # cheaply (stat only; a same-size byte flip still needs the
    # never-cached manifest test, which full runs always execute).
    # ACCEPTED RESIDUAL: under single-test -k selection, an
    # out-of-band parquet edit that preserves BOTH the
    # byte size and MANIFEST.json could still serve a stale green.
    # That requires deliberately crafting a same-size parquet rewrite
    # while suppressing the manifest recompute — adversarial, not
    # accidental — and any full session closes it, so it is documented
    # rather than mechanized.
    for p in sorted(Path(SCALE_DIR).glob("*.parquet")):
        h.update(p.name.encode() + b"\0")
        h.update(str(p.stat().st_size).encode() + b"\0")
    _DIGEST = h.hexdigest()
    return _DIGEST


def _skip_if_cached_green(request, slot: str) -> None:
    """Skip the test iff this slot's last green run used byte-identical
    inputs (digest match).  None-cache (-p no:cacheprovider) → always
    run.  A cache hit SKIPS rather than silently passing, so a run's
    -rs summary shows exactly how much of the net actually executed."""
    cache = getattr(request.config, "cache", None)
    if cache is not None and (
        cache.get(f"scale_correctness/{slot}", None) == _scale_net_digest()
    ):
        pytest.skip("cached green (digest match)")


def _mark_green(request, slot: str) -> None:
    cache = getattr(request.config, "cache", None)
    if cache is not None:
        cache.set(f"scale_correctness/{slot}", _scale_net_digest())


def _norm(v):
    return f"{v:.6g}" if isinstance(v, float) else ("\\N" if v is None else str(v))


def test_scale_net_excluded_and_headline_are_registry_rows():
    """A query is in the net or excluded, never both, and every name
    here and in bench.HEADLINE is a registry query: a rename must fail
    here, not silently drop a row or a timed slot.  Needs no Spark
    session and no fixtures."""
    import bench
    from map_reduce_for_dbpl_dataset_spark.queries import all_queries

    overlap = set(SCALE_QUERIES) & set(EXCLUDED)
    assert not overlap, f"rows both in the net and excluded: {sorted(overlap)}"
    ghosts = (set(SCALE_QUERIES) | set(EXCLUDED) | set(bench.HEADLINE)) - set(
        all_queries()
    )
    assert not ghosts, f"names not in the registry: {sorted(ghosts)}"


@pytest.mark.slow
@pytest.mark.skipif(
    not os.path.isdir(SCALE_DIR), reason="scale fixtures not built"
)
def test_scale_fixtures_match_manifest():
    """A stale fixture dir (older generator, partial build) must fail
    loudly, not quietly weaken every scale check below.  Recomputes the
    per-table row count + hash60 digest MANIFEST.json pinned at
    generation time (tools/make_scale_fixtures.py).  Also asserts the
    manifest covers the FULL table set: a manifest written by a
    --tables subset rebuild can omit tables, and this loop — which
    iterates manifest entries — would then never look at them."""
    from tools.make_scale_fixtures import table_digest

    with open(os.path.join(SCALE_DIR, "MANIFEST.json")) as fh:
        manifest = json.load(fh)
    assert set(manifest["tables"]) == {*TABLES, "publications"}, (
        "sf1 MANIFEST.json does not pin the full table set — rebuild "
        "with tools/make_scale_fixtures.py (no --tables subset)"
    )
    con = duckdb.connect()
    for table, pinned in manifest["tables"].items():
        n, digest = table_digest(con, os.path.join(SCALE_DIR, f"{table}.parquet"))
        assert (n, digest) == (pinned["rows"], pinned["digest"]), table


@pytest.mark.slow
@pytest.mark.skipif(
    not os.path.isdir(SCALE_DIR), reason="scale fixtures not built"
)
@pytest.mark.parametrize("name", SCALE_QUERIES)
def test_oracle_holds_at_scale_point(name, request):
    _skip_if_cached_green(request, name)
    spark = request.getfixturevalue("spark")  # lazy: cached runs never start Spark
    import __spark_entry__ as entrymod
    from map_reduce_for_dbpl_dataset_spark.sources.parquet import PUBLICATIONS_PATH

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SCALE_DIR}/{t}.parquet')"
        )
    sdf = qs[name](spark, SCALE_DIR)
    # dblp oracles embed the committed publications fixture by literal
    # absolute path; at the scale point the query reads the inflated
    # copy (sources/parquet.py:publications sf_dir override), so the
    # oracle must read the same one.
    sql = osql[name].replace(
        PUBLICATIONS_PATH, os.path.join(SCALE_DIR, "publications.parquet")
    )
    rel = con.sql(sql)
    assert sorted(sdf.columns) == sorted(rel.columns)
    # Align oracle columns to Spark's column order BY NAME and compare
    # row tuples in that fixed order (sorting only across rows), so a
    # value swap between two same-typed columns cannot pass.
    o_idx = [rel.columns.index(c) for c in sdf.columns]
    s = sorted(tuple(map(_norm, r)) for r in map(tuple, sdf.collect()))
    o = sorted(tuple(_norm(row[i]) for i in o_idx) for row in rel.fetchall())
    assert len(s) == len(o) > 0
    assert s == o
    _mark_green(request, name)


@pytest.mark.slow
@pytest.mark.skipif(
    not os.path.isdir(SCALE_DIR), reason="scale fixtures not built"
)
def test_leakage_split_invariant_at_scale(request):
    """llm_leakage_free_split's recursive-CTE oracle needs ~3 min in
    DuckDB at this size (the shingle self-join), so the scale point
    checks the operator's CONTRACT Spark-side instead: every near-dup
    component maps to exactly one split, all three splits exist, and
    the 10x fixtures' tagged near-dup structure yields multi-member
    clusters (so the invariant is not vacuous).  The full oracle hash
    runs at sf0.01 in the driver gate."""
    _skip_if_cached_green(request, "leakage_split_contract")
    spark = request.getfixturevalue("spark")
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["llm_leakage_free_split"](spark, SCALE_DIR).collect()
    assert len(rows) == 50000
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    assert {r.split for r in rows} == {"train", "validation", "test"}
    # non-vacuous: the tagged near-dup fixture structure must produce
    # multi-member clusters (fewer clusters than rows) — otherwise the
    # one-split-per-cluster invariant above holds trivially
    assert len(by_cluster) < len(rows)
    _mark_green(request, "leakage_split_contract")


@pytest.mark.slow
@pytest.mark.skipif(
    not os.path.isdir(SCALE_DIR), reason="scale fixtures not built"
)
def test_levenshtein_contract_at_scale(request):
    """llm_dedup_levenshtein's DuckDB oracle pays a full O(len^2) DP
    per blocked pair (no threshold form in DuckDB — hours at sf1), so
    the 10x point checks the operator's CONTRACT Spark-side: every
    injected mutant pair is found at exactly distance 3, no reported
    pair exceeds the bound, and pairs are unique.  The full oracle
    hash runs at sf0.01 in the driver gate.  Without the threshold DP,
    length band and salted pairs this query does not finish at this
    scale point (>28 min); the test doubles as the
    regression guard for that."""
    _skip_if_cached_green(request, "levenshtein_contract")
    spark = request.getfixturevalue("spark")
    import __spark_entry__ as entrymod
    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import (
        LEV_MAX_DIST,
        LEV_SEEDS,
    )

    rows = entrymod.queries()["llm_dedup_levenshtein"](spark, SCALE_DIR).collect()
    pairs = {(r.id_a, r.id_b): r.dist for r in rows}
    assert len(pairs) == len(rows)  # no duplicate pairs
    assert all(0 <= d <= LEV_MAX_DIST for d in pairs.values())
    # every seed doc pairs with its ' qz' mutant at exactly distance 3
    for seed in range(LEV_SEEDS):
        assert pairs.get((seed, seed + 300000)) == 3, seed
    _mark_green(request, "levenshtein_contract")


@pytest.mark.slow
def test_dedup_clusters_match_union_find_at_scale(request):
    """llm_dedup_clusters' DuckDB oracle is a recursive CTE over the
    full shingle self-join (~160 s at sf1 — measured and excluded from
    the hash net above; the naive exact pair stage alone costs ~90 s
    Spark-side there, twice, so even a Spark-only replay is too heavy
    at sf1), so the replay runs at the always-available sf0.1 point —
    still 10x the driver gate, with real multi-partition superstep
    merge order: collect the near-dup edge list the query itself is
    built on (ngram_jaccard_pairs — separately proven by the PPJoin
    lossless property tests and the sf0.01 driver oracle), run a
    textbook union-find over it, and require the distributed
    label-propagation partition to match EXACTLY — same clusters, same
    min-id canonical labels, every doc labeled once.  The CC operator
    itself is additionally hash-proven at sf1 via
    dblp_coauthor_components_star in the net above."""
    _skip_if_cached_green(request, "dedup_clusters_union_find_replay")
    spark = request.getfixturevalue("spark")
    import __spark_entry__ as entrymod
    from map_reduce_for_dbpl_dataset_spark.queries.llm import (
        _docs_shingled,
        ngram_jaccard_pairs,
    )

    edges = [
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            _docs_shingled(spark, CLUSTER_REPLAY_DIR), "doc_id", "shingles", threshold=0.8
        ).collect()
    ]
    n_docs = spark.read.parquet(
        os.path.join(CLUSTER_REPLAY_DIR, "documents.parquet")
    ).count()

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min doc_id of the component; singletons label
    # themselves (the query emits every vertex)
    roots = {x: find(x) for x in parent}

    rows = entrymod.queries()["llm_dedup_clusters"](spark, CLUSTER_REPLAY_DIR).collect()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    got = {r.doc_id: r.cluster_id for r in rows}
    for r in rows:
        assert r.is_canonical == (r.doc_id == r.cluster_id)
    for doc, lbl in got.items():
        assert lbl == roots.get(doc, doc), doc
    # non-vacuous: the tagged near-dup fixtures must produce edges and
    # multi-member clusters, and transitivity must actually fire (some
    # component larger than any single edge's endpoints: >= 3 members)
    assert edges
    from collections import Counter

    sizes = Counter(got.values())
    assert max(sizes.values()) >= 3
    assert sum(1 for s in sizes.values() if s >= 2) >= 2
    _mark_green(request, "dedup_clusters_union_find_replay")
