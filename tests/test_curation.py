"""Third-batch curation operators: line-level boilerplate removal,
stratified quality selection, incremental snapshot dedup."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from map_reduce_for_dbpl_dataset_spark.functions.vectors import (
    dot_q,
    norm2_q,
    quantize,
)
from map_reduce_for_dbpl_dataset_spark.operators.similarity import (
    _narrow_q32,
    _semdedup_corpus,
)
from map_reduce_for_dbpl_dataset_spark.queries.pipeline import (
    LINE_MIN_DF,
    LINE_TOKENS,
    QUALITY_PCT,
    q_boilerplate_lines,
    q_dedup_incremental,
    q_quality_select,
)
from map_reduce_for_dbpl_dataset_spark.sources.parquet import load_table


def _norm_tokens(text: str) -> list[str]:
    return re.sub(r"\s+", " ", text.lower()).strip().split(" ")


def _doc_lines(text: str, source: str) -> list[str]:
    t = _norm_tokens(text)
    chunks = [
        " ".join(t[i * LINE_TOKENS : (i + 1) * LINE_TOKENS])
        for i in range((len(t) + LINE_TOKENS - 1) // LINE_TOKENS)
    ]
    return ["corpus shared boilerplate header line", *chunks, f"footer of {source}"]


def test_boilerplate_lines_matches_python_rescan(spark, sf_dir):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source", "text")
        .collect()
    )
    df_count: dict[str, set] = {}
    per_doc = {}
    for r in docs:
        lines = _doc_lines(r.text, r.source)
        per_doc[r.doc_id] = lines
        for ln in lines:
            df_count.setdefault(ln, set()).add(r.doc_id)
    expected = {}
    for doc_id, lines in per_doc.items():
        kept = [ln for ln in lines if len(df_count[ln]) < LINE_MIN_DF]
        expected[doc_id] = (len(kept), len(lines) - len(kept))

    got = {
        r.doc_id: (r.n_kept, r.n_dropped)
        for r in q_boilerplate_lines(spark, sf_dir).collect()
    }
    assert got == expected
    # the injected corpus-wide header must be dropped from EVERY doc
    assert all(n_dropped >= 1 for _, n_dropped in got.values())


def test_quality_select_fraction_and_threshold(spark, sf_dir):
    rows = q_quality_select(spark, sf_dir).collect()
    n_sources = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("source")
        .distinct()
        .count()
    )
    assert len(rows) == n_sources  # every source keeps at least one doc
    for r in rows:
        assert 1 <= r.n_selected <= r.n_total
        # >= thr filter keeps roughly the top (1 - QUALITY_PCT); exact
        # fraction depends on ties/interpolation, so bound it loosely
        assert r.n_selected <= max(1, int(r.n_total * (1 - QUALITY_PCT) * 3))
        assert r.selected_tokens > 0


def test_dedup_incremental_against_python_sets(spark, sf_dir):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    fp = {r.doc_id: re.sub(r"\s+", " ", r.text.lower()).strip() for r in docs}
    snapshot = {fp[i] for i in fp if i % 2 == 0}
    incoming = {i: fp[i] for i in fp if i % 2 == 1}
    first_of = {}
    for i in sorted(incoming):
        first_of.setdefault(incoming[i], i)

    out = {r.doc_id: r for r in q_dedup_incremental(spark, sf_dir).collect()}
    assert set(out) == set(incoming)
    for i, r in out.items():
        assert r.is_new == (incoming[i] not in snapshot)
        assert r.batch_keep_id == first_of[incoming[i]]
        assert r.survives == (r.is_new and i == first_of[incoming[i]])
    assert any(r.survives for r in out.values())


# --- semdedup, overlapping chunking, mixture sampling ------------------------


def test_semdedup_keep_semantics(spark):
    """Synthetic corpus with a known answer: two far-apart centroid
    seeds, one exact duplicate of seed 0, one near-duplicate, one
    unrelated vector. SemDeDup must drop exactly the higher-id members
    of within-cluster near-dup groups."""
    from pyspark.sql import functions as F

    from map_reduce_for_dbpl_dataset_spark.operators.similarity import semdedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # centroid A
        (1, [0.0, 1.0, 0.0, 0.0]),   # centroid B
        (2, [1.0, 0.0, 0.0, 0.0]),   # exact dup of 0 -> dropped
        (3, [1.0, 0.015625, 0.0, 0.0]),  # cos ~0.9999 vs 0 -> dropped
        (4, [0.5, 0.8, 0.0, 0.0]),   # cluster B, unrelated -> kept
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>").select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = {
        r["vec_id"]: (r["cluster"], r["kept"])
        for r in semdedup(corpus, "vec_id", "embedding", [0, 1], threshold=0.95).collect()
    }
    assert out[0] == (0, True)
    assert out[1] == (1, True)
    assert out[2] == (0, False)  # dominated by 0
    assert out[3] == (0, False)  # dominated by 0 (and 2)
    assert out[4][0] == 1 and out[4][1]  # cluster B, no near neighbor


def test_chunk_overlap_invariants(spark, sf_dir):
    """Every chunk except a doc's last has exactly CHUNK_W tokens;
    consecutive chunks overlap by CHUNK_W - CHUNK_S; chunk 0 exists for
    every document; rebuilding token counts from chunk starts covers
    the whole document."""
    from pyspark.sql import functions as F

    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import (
        CHUNK_S,
        CHUNK_W,
        q_chunk_overlap,
    )

    out = q_chunk_overlap(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.size(F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")).alias("n")
    )
    per_doc = (
        out.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.max("chunk_id").alias("max_id"),
            F.min("n_chunk_tokens").alias("min_len"),
            F.max("n_chunk_tokens").alias("max_len"),
        )
    ).join(docs, "doc_id")
    bad = per_doc.filter(
        (F.col("n_chunks") != F.col("max_id") + 1)
        | (F.col("max_len") > CHUNK_W)
        # full coverage: last chunk starts at max_id*CHUNK_S and must
        # reach the document's end
        | (F.col("max_id") * CHUNK_S + F.col("max_len") < F.col("n"))
    )
    assert bad.count() == 0
    # non-final chunks are full-width
    w = out.join(per_doc.select("doc_id", "max_id"), "doc_id").filter(
        (F.col("chunk_id") < F.col("max_id")) & (F.col("n_chunk_tokens") != CHUNK_W)
    )
    assert w.count() == 0


def test_mixture_sample_apportionment(spark, sf_dir):
    """Targets sum exactly to MIX_TOTAL, every source's selection meets
    its target (no source can under-fill on this fixture), and the
    per-source target is within 1 of the exact real-valued sqrt-share."""
    import math

    from pyspark.sql import functions as F

    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import (
        MIX_TOTAL,
        q_mixture_sample,
    )

    out = q_mixture_sample(spark, sf_dir)
    per_src = out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sel"),
        F.max("target").alias("target"),
        F.max("n_total").alias("n_total"),
    ).collect()
    assert sum(r["n_sel"] for r in per_src) == MIX_TOTAL
    assert all(r["n_sel"] == r["target"] for r in per_src)
    tot_fw = sum(math.isqrt(r["n_total"]) for r in per_src)
    for r in per_src:
        exact = MIX_TOTAL * math.isqrt(r["n_total"]) / tot_fw
        assert abs(r["target"] - exact) <= 1


def test_substring_spans_known_overlap(spark, tmp_path):
    """Two synthetic docs sharing one exact 20-token run (and nothing
    else >= SPAN_K) must yield exactly one span of exactly 20 tokens;
    a third unrelated doc must produce no pair."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import (
        SPAN_K,
        q_substring_spans,
    )

    shared = " ".join(f"common{i}" for i in range(20))
    docs = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"zeta {shared} eta theta iota"),
        (3, " ".join(f"other{i}" for i in range(40))),
    ]
    out_dir = tmp_path / "docs"
    out_dir.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs], pa.string()),
            "lang": pa.array(["en"] * 3, pa.string()),
            "source": pa.array(["t"] * 3, pa.string()),
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }),
        out_dir / "documents.parquet",
    )
    rows = q_substring_spans(spark, str(out_dir)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["n_spans"] == 1
    assert r["max_span_tokens"] == 20
    # a 20-token run contains 20 - SPAN_K + 1 matching shingle positions
    assert r["n_matched_positions"] == 20 - SPAN_K + 1


def test_token_rarity_orders_rare_docs_higher(spark, sf_dir):
    """Rank 1 is the most frequent token, so a doc of common words must
    score strictly below a doc of hapaxes; spot-check the integer
    arithmetic on the real fixture corpus."""
    from pyspark.sql import functions as F

    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import q_token_rarity

    out = q_token_rarity(spark, sf_dir)
    rows = out.collect()
    assert len(rows) == spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    for r in rows[:50]:
        assert r["rarity_micro"] == (r["sum_rank"] * 1_000_000) // r["n_tokens"]
        assert r["sum_rank"] >= r["n_tokens"]  # every rank >= 1


def test_corpus_shuffle_is_a_permutation(spark, sf_dir):
    """Every doc appears exactly once; positions are dense 1..|shard|
    per shard; the assignment is stable across reruns."""
    from pyspark.sql import functions as F

    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import (
        N_SHARDS,
        q_corpus_shuffle,
    )

    a = q_corpus_shuffle(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(a) == n_docs
    assert len({r["doc_id"] for r in a}) == n_docs
    by_shard: dict[int, list[int]] = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(N_SHARDS))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    b = q_corpus_shuffle(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_leakage_free_split_clusters_never_straddle(spark, sf_dir):
    """The operator's contract: no near-dup pair may straddle a split
    boundary (that pair would let eval measure memorization), and the
    bucket hash must actually produce all three splits."""
    from map_reduce_for_dbpl_dataset_spark.queries.llm import q_ngram_jaccard
    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import (
        q_leakage_free_split,
    )

    rows = q_leakage_free_split(spark, sf_dir).collect()
    split_of = {r.doc_id: r.split for r in rows}
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    pairs = q_ngram_jaccard(spark, sf_dir).collect()
    assert pairs  # the fixture embeds near-duplicates
    assert all(split_of[p.id_a] == split_of[p.id_b] for p in pairs)
    assert {r.split for r in rows} == {"train", "validation", "test"}


def test_embed_classifier_matches_python_rescan(spark, sf_dir):
    """Independent rescan of the exact nearest-prototype argmin in
    the centroid form (mu_k = s_k div n_k elementwise with truncation
    toward zero, f = |x - mu_k|^2, ties to the lower class id — the
    corpus-independent-bound formulation).  The synthetic
    embeddings are barely label-correlated (sf0.001 holdout accuracy
    ~= chance, 3 predicted classes), so assertions are structural —
    exact rescan agreement, non-constant predictions — not an
    accuracy floor."""
    import math

    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import (
        CLS_HOLDOUT_MOD,
        q_embed_classifier,
    )

    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    q = {r.vec_id: ([math.floor(float(x) * 1000) for x in r.embedding], r.label) for r in rows}
    sums: dict = {}
    counts: dict = {}
    for vid, (vec, lab) in q.items():
        if vid % CLS_HOLDOUT_MOD == 0:
            continue
        counts[lab] = counts.get(lab, 0) + 1
        s = sums.setdefault(lab, [0] * len(vec))
        for i, v in enumerate(vec):
            s[i] += v
    def trunc_div(a: int, b: int) -> int:
        # Spark `div` / DuckDB `//`: truncation toward zero (Python's
        # // floors, which differs on negative sums)
        return a // b if (a >= 0) == (b >= 0) else -((-a) // b)

    mus = {
        k: [trunc_div(si, counts[k]) for si in s] for k, s in sums.items()
    }
    expected = {}
    for vid, (vec, lab) in q.items():
        best = None
        for k in sorted(counts):
            mu = mus[k]
            f = sum((a - m) * (a - m) for a, m in zip(vec, mu))
            if best is None or (f, k) < best:
                best = (f, k)
        expected[vid] = (lab, best[1], best[1] == lab, vid % CLS_HOLDOUT_MOD == 0)
    got = {
        r.vec_id: (r.label, r.pred, r.correct, r.holdout)
        for r in q_embed_classifier(spark, sf_dir).collect()
    }
    assert got == expected
    # scorer must discriminate: predictions are not one constant class
    preds = {v[1] for v in got.values()}
    assert len(preds) >= 2
    # every holdout row was scored (inference covers the full corpus)
    assert any(v[3] for v in got.values())


def test_semdedup_scaled_k_rule_and_sql_twin():
    """The corpus-computed K rule: floor/cap clamps, isqrt in
    between, and the oracle's floor(sqrt(CAST(n AS DOUBLE)))
    formulation agrees with math.isqrt everywhere it will ever be
    evaluated (doubles represent these counts exactly and IEEE sqrt
    is correctly rounded, so the two can only diverge beyond ~2^52
    rows)."""
    import duckdb

    from map_reduce_for_dbpl_dataset_spark.queries.pipeline import (
        SEMDEDUP_SCALED_CAP,
        SEMDEDUP_SCALED_FLOOR,
        semdedup_scaled_k,
    )

    assert semdedup_scaled_k(0) == SEMDEDUP_SCALED_FLOOR
    assert semdedup_scaled_k(63) == SEMDEDUP_SCALED_FLOOR  # isqrt=7 < floor
    assert semdedup_scaled_k(64) == 8
    assert semdedup_scaled_k(500) == 22  # the sf0.01 operating point
    assert semdedup_scaled_k(2000) == 44  # sf0.1
    assert semdedup_scaled_k(20000) == 141  # sf1
    assert semdedup_scaled_k(10**6) == SEMDEDUP_SCALED_CAP

    ns = (
        list(range(0, 2000))
        + [10**k for k in range(3, 13)]
        + [k * k + d for k in (45, 141, 1000, 10**6) for d in (-1, 0, 1)]
    )
    con = duckdb.connect()
    for n in ns:
        got = con.sql(
            f"SELECT greatest({SEMDEDUP_SCALED_FLOOR}, "
            f"least(CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT), "
            f"{SEMDEDUP_SCALED_CAP}))"
        ).fetchone()[0]
        assert got == semdedup_scaled_k(n), n


def test_semdedup_matmul_assignment_matches_expression_argmax(spark, sf_dir):
    """The Arrow-batched matmul assignment
    (operators/similarity.py _semdedup_assigned) must pick the same
    cell as an independent JVM-expression argmax — (cosine desc,
    cell asc) via a row_number window — on the real embedding
    fixture with a trained codebook.  Guards the exactness claim
    (int64 matmul dots; float64 cosine uses the same IEEE ops as the
    expression form) against a numpy/Arrow semantics drift."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from map_reduce_for_dbpl_dataset_spark.functions.vectors import (
        cosine_q,
        dot_q,
        norm2_q,
        quantize,
    )
    from map_reduce_for_dbpl_dataset_spark.operators.kmeans import kmeans_train
    from map_reduce_for_dbpl_dataset_spark.operators.similarity import (
        _semdedup_assigned,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = kmeans_train(e, "vec_id", "embedding", [30, 31, 32, 33, 34], iters=2)
    c = e.select(
        F.col("vec_id").alias("_id"), quantize(F.col("embedding"), 1000).alias("_q")
    ).withColumn("_n2", norm2_q(F.col("_q")))
    cc = cents.select(
        F.col("cluster").alias("_cell"),
        F.col("c").alias("_kq"),
        norm2_q(F.col("c")).alias("_kn2"),
    )

    got = {
        r["_id"]: r["cluster"] for r in _semdedup_assigned(c, cc).collect()
    }

    scored = c.join(F.broadcast(cc)).withColumn(
        "_cos",
        cosine_q(dot_q(F.col("_q"), F.col("_kq")), F.col("_n2"), F.col("_kn2")),
    )
    w = Window.partitionBy("_id").orderBy(F.desc("_cos"), F.asc("_cell"))
    ref = {
        r["_id"]: r["_cell"]
        for r in scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    }
    assert got == ref
    assert len(got) == e.count()
    assert len(set(got.values())) > 1  # non-degenerate codebook


# SemDeDup's salted pair stage ships quantized vectors as array<int>
# to halve the replicated shuffle's row width.  These pin (a) the
# narrowing is in the pair pipeline's schema, (b) dot_q/norm2_q stay
# exact over int32 inputs (widen-before-multiply), and (c) the runtime
# guard refuses a vector that cannot narrow losslessly instead of
# silently wrapping.
def test_semdedup_corpus_ships_int32_vectors(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    c = _semdedup_corpus(e, "vec_id", "embedding", 1000)
    assert dict(c.dtypes)["_q"] == "array<int>"
    # and the values equal the unnarrowed quantization exactly
    wide = e.select(
        F.col("vec_id").alias("_id"), quantize(F.col("embedding"), 1000).alias("_qw")
    )
    diff = (
        c.join(wide, "_id")
        .filter(F.col("_q").cast("array<bigint>") != F.col("_qw"))
        .count()
    )
    assert diff == 0


def test_dot_norm_exact_over_int32(spark):
    # elements near the int32 edge: products up to ~4.6e18 must land
    # exactly in the long accumulator (widen-before-multiply)
    a = [2_000_000_000, -2_000_000_000, 1, 0]
    b = [2_000_000_000, 1_999_999_999, -7, 5]
    df = spark.createDataFrame(
        [(a, b)], "a array<int>, b array<int>"
    ).select(dot_q(F.col("a"), F.col("b")).alias("d"), norm2_q(F.col("a")).alias("n"))
    row = df.collect()[0]
    assert row["d"] == sum(x * y for x, y in zip(a, b))
    assert row["n"] == sum(x * x for x in a)


def test_narrow_guard_raises_on_oversized_element(spark):
    big = 3_000_000_000  # exceeds int32; n2 = 9e18 < 2^63 stays exact
    df = spark.createDataFrame([([big],)], "q array<long>").select(
        _narrow_q32(F.col("q"), norm2_q(F.col("q"))).alias("q32")
    )
    with pytest.raises(Exception, match="int32"):
        df.collect()


def test_narrow_roundtrip_at_int32_edge(spark):
    # the guard is n2-based and conservative: a SINGLE max-magnitude
    # element sits exactly on the (2^31-1)^2 boundary and must pass;
    # a null vector passes through as null
    for vals in ([2_147_483_647], [-2_147_483_647], [0, 123, -456], None):
        df = spark.createDataFrame([(vals,)], "q array<long>").select(
            _narrow_q32(F.col("q"), norm2_q(F.col("q"))).alias("q32")
        )
        assert df.collect()[0]["q32"] == vals
