"""Similarity search over embedding columns (LLM-pipeline extension).

Two paths:

- brute_force_topk: exact quantized-cosine top-k. The query set is
  broadcast (it is small by construction); the corpus never shuffles
  — each partition scores its slice and WindowGroupLimit keeps k rows
  per query before the exchange. This is the correct baseline and the
  right plan up to ~10^7 corpus rows per executor-core batch.

- lsh_ann_topk: random-hyperplane LSH. Plane coefficients are
  deterministic integers derived from an LCG (portable to the DuckDB
  oracle); bucket = sign-bit string of the plane dot products.
  Candidates = same bucket as the query (single-probe), ranked by
  exact quantized cosine. Sub-linear scan at the cost of recall —
  the scale path for 100 TB corpora, where the bucket join replaces
  the full scan with a shuffle on bucket ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_q, dot_q, norm2_q, quantize
from .pairs import spread_for_pair_join

# Deterministic hyperplane coefficients: c(j, i) from a 31-bit LCG,
# shifted to be sign-balanced. Reproducible in SQL as
# ((1103515245 * (j*dim + i) + 12345) % 2147483648) % 1001 - 500.
N_PLANES = 8

# Spread factor for quadratic within-cluster pair enumeration (see
# semdedup): pairs shuffle on (cluster, salt) instead of cluster
# alone, so the fan-out parallelizes past the cluster count.
PAIR_SALT = 32
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2_147_483_648

_INT32_MAX = 2_147_483_647


def _narrow_q32(q: Column, n2: Column) -> Column:
    """array<long> -> array<int> for the replicated pair-stage shuffle
    (guide §2.3 "narrower types": the salted pair join ships every
    vector PAIR_SALT+1 times, so halving the element width halves the
    stage's dominant shuffle bytes).

    Exactness bound: the existing integer-dot contract already requires
    dim * max|qi|^2 <= 2^63 (else norm2_q/dot_q would overflow long),
    which caps |qi| at sqrt(2^63/dim) — 3.8e8 for dim=64, two orders
    of magnitude inside int32 (2.147e9). The runtime guard checks the
    per-ROW implication max|qi| <= sqrt(n2) using the already-computed
    exact n2 = sum(qi^2): n2 <= (2^31-1)^2 guarantees every element
    casts losslessly; a violating row raises instead of wrapping
    (long->int casts wrap silently under non-ANSI semantics). The
    guard is deliberately CONSERVATIVE (it costs nothing — n2 already
    exists): it can reject a vector whose norm exceeds the bound even
    though each element fits, but such a vector has rms element
    >= 2.7e8 at dim 64 — two orders of magnitude outside any unit-ish
    embedding at scale=1000, and within 2x of where the exact int64
    dot itself stops being guaranteed.
    The guard assumes n2 itself did not overflow int64: a wrapped n2
    could pass the bound while an element exceeds int32 (the integer-dot
    contract above rules that input out).
    dot_q/norm2_q widen elements back to long before multiplying, so
    the arithmetic — and every oracle-checked result — is unchanged.
    A null vector narrows to null; a non-null vector whose n2 is null
    raises, because its bound cannot be checked."""
    return F.when(q.isNull(), F.lit(None).cast("array<int>")).when(
        n2 <= F.lit(_INT32_MAX * _INT32_MAX),  # (2^31-1)^2 as a long literal
        F.transform(q, lambda x: x.cast("int")),
    ).otherwise(
        F.raise_error(
            F.lit(
                "quantized embedding element exceeds int32: the narrowed "
                "pair-stage shuffle would wrap — widen scale bound"
            )
        ).cast("array<int>")
    )


def plane_coef(j: int, i: int, dim: int) -> int:
    return ((_LCG_A * (j * dim + i) + _LCG_C) % _LCG_M) % 1001 - 500


def _bucket_expr(qvec: Column, dim: int) -> Column:
    """Sign-bit bucket id from N_PLANES hyperplane dot products over
    the quantized vector — pure codegen arithmetic, no UDF."""
    bits = []
    for j in range(N_PLANES):
        coefs = F.array(*[F.lit(plane_coef(j, i, dim)) for i in range(dim)])
        dot = F.aggregate(
            F.zip_with(qvec, coefs, lambda x, c: x * c),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int = 5,
    scale: int = 1000,
) -> DataFrame:
    """Exact top-k neighbors (quantized cosine) of each query vector.
    Returns (query_id, neighbor_id, cos) with deterministic
    (cos desc, neighbor_id asc) ranking."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantize(F.col(vec_col), scale).alias("_cq")
    ).withColumn("_cn2", norm2_q(F.col("_cq")))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), quantize(F.col(vec_col), scale).alias("_qq")
    ).withColumn("_qn2", norm2_q(F.col("_qq")))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("_dot", dot_q(F.col("_qq"), F.col("_cq")))
        .withColumn("cos", cosine_q(F.col("_dot"), F.col("_qn2"), F.col("_cn2")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", "neighbor_id", F.floor(F.col("cos") * 1e6).cast("long").alias("cos_micro"))
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    scale: int = 1000,
) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the k
    most cosine-similar corpus vectors whose LABEL DIFFERS from the
    query's — the embedding-curation step that builds contrastive /
    metric-learning training pairs (a positive's nearest other-class
    neighbors are the negatives worth training on).

    Scale shape: identical to brute_force_topk — the (small) query
    set broadcasts WITH its labels, the corpus never shuffles, and
    the label constraint rides the broadcast-join condition so
    same-class rows are discarded BEFORE any scoring expression
    runs; per-query top-k is limited via WindowGroupLimit ahead of
    the exchange.  Returns (query_id, query_label, neighbor_id,
    neighbor_label, cos_micro) with deterministic (cos desc,
    neighbor_id asc) ranking."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        quantize(F.col(vec_col), scale).alias("_cq"),
    ).withColumn("_cn2", norm2_q(F.col("_cq")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        quantize(F.col(vec_col), scale).alias("_qq"),
    ).withColumn("_qn2", norm2_q(F.col("_qq")))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_label") != F.col("query_label"))
        .withColumn("cos", cosine_q(dot_q(F.col("_qq"), F.col("_cq")), F.col("_qn2"), F.col("_cn2")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            F.floor(F.col("cos") * 1e6).cast("long").alias("cos_micro"),
        )
    )


def embedding_near_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.9,
    scale: int = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: bucket every vector by
    its hyperplane signature, self-join on bucket (id_a < id_b), keep
    pairs with exact quantized cosine >= threshold.

    The all-pairs analog of lsh_ann_topk: single-probe recall (a pair
    is found iff no plane separates it — the standard LSH trade), but
    the join is on bucket ids, so the work is sum of squared bucket
    sizes, not corpus^2. At 100 TB: buckets are the shuffle key;
    Zipfian bucket skew is handled by AQE skew-split, or add more
    planes to shrink buckets.
    """
    # pin the signature computation ONCE (both join sides would
    # re-run the 8 plane dot products per row), then spread the
    # quadratic pair fan-out explicitly — AQE would coalesce the
    # exchange by its (tiny) input size, blind to sum-bucket^2 pairs
    # (measured 68 s -> ~8 s at the sf1 point; rationale in
    # operators/pairs.py)
    c = spread_for_pair_join(
        corpus.select(F.col(id_col).alias("_id"), quantize(F.col(vec_col), scale).alias("_q"))
        .withColumn("_n2", norm2_q(F.col("_q")))
        .withColumn("bucket", _bucket_expr(F.col("_q"), dim)),
        "bucket",
    )
    a = c.select(F.col("_id").alias("id_a"), F.col("_q").alias("_qa"), F.col("_n2").alias("_na"), "bucket")
    b = c.select(F.col("_id").alias("id_b"), F.col("_q").alias("_qb"), F.col("_n2").alias("_nb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine_q(dot_q(F.col("_qa"), F.col("_qb")), F.col("_na"), F.col("_nb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.floor(F.col("cos") * 1e6).cast("long").alias("cos_micro"))
    )


def semdedup(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_ids: list[int] | None = None,
    threshold: float = 0.95,
    scale: int = 1000,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Semantic deduplication (SemDeDup — Abbas, Tirumala, Simig,
    Ganguli, Morcos, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication", arXiv:2303.09540): cluster the
    embedding space with a coarse codebook, then drop all but one
    member of every within-cluster group of semantic near-duplicates
    (pairwise cosine >= threshold).

    Plan shape at 100 TB — the reason SemDeDup clusters at all:
    - assignment is a BROADCAST join against the K-row centroid table,
      argmax cosine with ties to the lower cell. The corpus never
      shuffles for this. The codebook is either seeded by member id
      (``centroid_ids``) or a trained quantized (cluster, c) table
      (``centroids`` — e.g. operators/kmeans.py kmeans_train output,
      the composition llm_semdedup_trained demonstrates).
    - the near-dup search shuffles once on cluster id, and the
      pairwise work is sum over clusters of |cluster|^2 — the whole
      point vs the corpus^2 all-pairs scan. Hot clusters are ordinary
      equi-join skew (AQE-splittable); more centroids shrink clusters.
    - keep rule is deterministic: a row is dropped iff a LOWER-id row
      of the same cluster sits within the cosine threshold (the
      paper keeps one representative per epsilon-group; lowest-id is
      the portable tie-break the oracle can replay).

    Determinism: quantized integer dot/norm (functions/vectors.py),
    cosine as a single double expression — bit-identical to DuckDB.
    Output: (id_col, cluster, kept)."""
    if (centroid_ids is None) == (centroids is None):
        raise ValueError("pass exactly one of centroid_ids / centroids")
    c = _semdedup_corpus(corpus, id_col, vec_col, scale)
    if centroids is not None:
        cents = centroids.select(
            F.col("cluster").alias("_cell"),
            F.col("c").alias("_kq"),
            norm2_q(F.col("c")).alias("_kn2"),
        )
    else:
        cents = c.filter(F.col("_id").isin(list(centroid_ids))).select(
            F.col("_id").alias("_cell"), F.col("_q").alias("_kq"), F.col("_n2").alias("_kn2")
        )
    # lineage cut (lazy, graph.py pattern): the assignment feeds
    # THREE consumers (both sides of the within-cluster pair join and
    # the final labeling join) — without it the broadcast centroid
    # scoring re-executes per consumer. The pre-checkpoint plan is
    # audited via _semdedup_assigned (tools/plan_audit.py
    # semdedup_assign[pre-checkpoint]).
    assigned = _semdedup_assigned(c, cents).localCheckpoint(eager=False)
    # Within-cluster pair enumeration, SALTED: a bare join on cluster
    # id has as many shuffle keys as clusters, and AQE coalesces that
    # exchange by its (tiny) INPUT size — blind to the quadratic
    # fan-out — so the sum-cluster^2 cosine work lands on a handful
    # of tasks (measured: 13M pairs in 3 tasks at the sf1 scale
    # point). Salting the hi side and replicating the lo side spreads
    # each cluster's pairs over PAIR_SALT keys: identical pair set,
    # PAIR_SALT x the parallelism, lo-side duplication bounded at
    # PAIR_SALT x corpus rows.
    lo = (
        assigned.select(
            "cluster", F.col("_id").alias("_lo"), F.col("_q").alias("_ql"), F.col("_n2").alias("_nl")
        )
        .withColumn(
            "_salt", F.explode(F.array(*[F.lit(s) for s in range(PAIR_SALT)]))
        )
    )
    hi = assigned.select(
        "cluster", F.col("_id").alias("_hi"), F.col("_q").alias("_qh"), F.col("_n2").alias("_nh")
    ).withColumn("_salt", F.pmod(F.xxhash64(F.col("_hi")), F.lit(PAIR_SALT)).cast("int"))
    # The salt only distributes the quadratic pair fan-out if the join
    # actually SHUFFLES on (cluster, salt) — planner stats for the
    # checkpointed assignment can fall under the broadcast threshold,
    # and a broadcast join would evaluate every pair on the probe
    # side's (few) input partitions with the salt ignored (measured
    # 4x on the K=32 sf1 point when the assignment became a narrow
    # mapInPandas and its size estimate shrank). The hint pins the
    # design: distribute pairs by key, never by input partitioning.
    dominated = (
        lo.join(hi.hint("shuffle_hash"), ["cluster", "_salt"])
        .filter(F.col("_lo") < F.col("_hi"))
        .withColumn(
            "_pcos", cosine_q(dot_q(F.col("_ql"), F.col("_qh")), F.col("_nl"), F.col("_nh"))
        )
        .filter(F.col("_pcos") >= threshold)
        .select(F.col("_hi").alias("_id"))
        .distinct()
    )
    return (
        assigned.join(dominated.withColumn("_dup", F.lit(1)), "_id", "left")
        .select(
            F.col("_id").alias(id_col), "cluster", F.col("_dup").isNull().alias("kept")
        )
    )


def _semdedup_corpus(
    corpus: DataFrame, id_col: str, vec_col: str, scale: int
) -> DataFrame:
    """Quantize + exact-norm + int32-narrow the corpus for semdedup
    (shared with tools/plan_audit.py semdedup_assign[pre-checkpoint]
    so the audited subtree is the live construction). The narrow
    happens BEFORE the assignment/pair pipeline: the pair stage
    replicates these vectors PAIR_SALT+1 ways through its salted
    shuffle (guide §2.3; bound + guard at _narrow_q32)."""
    return (
        corpus.select(
            F.col(id_col).alias("_id"), quantize(F.col(vec_col), scale).alias("_q")
        )
        .withColumn("_n2", norm2_q(F.col("_q")))
        .withColumn("_q", _narrow_q32(F.col("_q"), F.col("_n2")))
    )


def _semdedup_assigned(c: DataFrame, cents: DataFrame) -> DataFrame:
    """SemDeDup cell assignment: argmax cosine against the K-row
    codebook, ties to the lower cell — as ONE Arrow-batched numpy
    matmul per input batch (mapInPandas), not a per-row JVM
    expression over an N*K joined table.

    Why: dense embedding scoring is a matrix multiply.  The
    expression form (broadcast join + per-row higher-order-function
    dot products) pays interpreted per-element lambda overhead that
    whole-stage codegen cannot absorb — measured ~160 us per scored
    row, 14 s for K=141 over 20k rows at the sf1 point, LINEAR in K;
    the same scoring as a per-batch int64 matmul + float64 argmax is
    0.6 s (23x).  At 100 TB the gap decides feasibility, and this is
    the kernel shape every production vector system uses (BLAS over
    Arrow batches).  The corpus still never shuffles: the K-row
    quantized codebook (K*dim*8 bytes, <=131 KB at the cap) ships in
    the task closure, each batch computes B x K scores locally, and
    one row per input row comes out.

    Exactness: quantized dots are int64 matmul (exact); cosine =
    dot / sqrt(n2a * kn2) evaluated in float64 — bit-identical to
    the JVM/DuckDB double expression (products stay below 2^53, and
    IEEE division/sqrt are correctly rounded everywhere).  Cells are
    sorted ascending so numpy's first-max argmax IS the lower-cell
    tie-break; an exact cosine tie between distinct cells requires
    equal doubles, which both engines then break the same way.

    The K-row collect is a driver scalar of the graph-fixpoint
    class; K is bounded (codebook), never corpus-scale."""
    import numpy as np

    crows = sorted((r["_cell"], r["_kq"], r["_kn2"]) for r in cents.collect())
    cells = np.array([r[0] for r in crows], dtype=np.int64)
    ck_t = np.array([r[1] for r in crows], dtype=np.int64).T  # dim x K
    kn2 = np.array([r[2] for r in crows], dtype=np.float64)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            q = np.stack(pdf["_q"].to_numpy()).astype(np.int64)  # B x dim
            dots = q @ ck_t  # B x K, int64 exact
            n2 = pdf["_n2"].to_numpy().astype(np.float64)
            cos = dots.astype(np.float64) / np.sqrt(n2[:, None] * kn2[None, :])
            best = np.argmax(cos, axis=1)  # first max == lowest cell
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"],
                    "_q": pdf["_q"],
                    "_n2": pdf["_n2"],
                    "cluster": cells[best],
                }
            )

    return c.mapInPandas(assign, "_id long, _q array<int>, _n2 long, cluster long")


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    dim: int,
    k: int = 3,
    scale: int = 1000,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane
    bucket; exact quantized cosine ranks within the bucket."""
    c = (
        corpus.select(F.col(id_col).alias("neighbor_id"), quantize(F.col(vec_col), scale).alias("_cq"))
        .withColumn("_cn2", norm2_q(F.col("_cq")))
        .withColumn("bucket", _bucket_expr(F.col("_cq"), dim))
    )
    q = (
        queries.select(F.col(query_id_col).alias("query_id"), quantize(F.col(vec_col), scale).alias("_qq"))
        .withColumn("_qn2", norm2_q(F.col("_qq")))
        .withColumn("bucket", _bucket_expr(F.col("_qq"), dim))
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("_dot", dot_q(F.col("_qq"), F.col("_cq")))
        .withColumn("cos", cosine_q(F.col("_dot"), F.col("_qn2"), F.col("_cn2")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", "neighbor_id", F.floor(F.col("cos") * 1e6).cast("long").alias("cos_micro"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    centroids: DataFrame,
    centroid_id_col: str,
    k: int = 3,
    n_probe: int = 2,
    scale: int = 1000,
    centroid_vec_col: str | None = None,
    centroids_pre_quantized: bool = False,
) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into cells by
    nearest centroid, then search only the ``n_probe`` cells nearest
    each query — the classic coarse-quantizer layout (FAISS IVF-flat),
    expressed as two joins.

    Plan shape at 100 TB: the centroid table is tiny by construction
    (k-means coarse codebook, 2^10..2^20 rows) -> both the assignment
    pass and the query-probe pass are BROADCAST joins against the
    corpus; the only shuffle is the candidate join on cell id, whose
    size is corpus/n_cells * n_probe per query. Hot cells (Zipfian
    data) are AQE skew-split; more centroids shrink cells.

    The codebook is either raw vectors in ``vec_col`` (seeded member
    rows) or, with ``centroid_vec_col``/``centroids_pre_quantized``,
    an already-quantized trained table — e.g. operators/kmeans.py
    kmeans_train (cluster, c) output, as llm_ann_ivf_trained
    demonstrates.

    Determinism: all scoring on quantized integer vectors (exact),
    ties broken by id — bit-identical to the DuckDB oracle.
    """
    cvec = F.col(centroid_vec_col or vec_col)
    kq = cvec if centroids_pre_quantized else quantize(cvec, scale)
    cents = centroids.select(
        F.col(centroid_id_col).alias("_cell"), kq.alias("_kq")
    ).withColumn("_kn2", norm2_q(F.col("_kq")))

    def nearest_cells(df: DataFrame, idc: str, out_id: str, n: int) -> DataFrame:
        scored = (
            df.select(F.col(idc).alias(out_id), quantize(F.col(vec_col), scale).alias("_q"))
            .withColumn("_n2", norm2_q(F.col("_q")))
            .join(F.broadcast(cents))
            .withColumn("_cos", cosine_q(dot_q(F.col("_q"), F.col("_kq")), F.col("_n2"), F.col("_kn2")))
        )
        w = Window.partitionBy(out_id).orderBy(F.desc("_cos"), F.asc("_cell"))
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n)
            .select(out_id, "_cell", "_q", "_n2")
        )

    cells = nearest_cells(corpus, id_col, "neighbor_id", 1)
    probes = nearest_cells(queries, query_id_col, "query_id", n_probe)
    scored = (
        cells.withColumnRenamed("_q", "_cq").withColumnRenamed("_n2", "_cn2")
        .join(
            F.broadcast(probes.withColumnRenamed("_q", "_qq").withColumnRenamed("_n2", "_qn2")),
            "_cell",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine_q(dot_q(F.col("_qq"), F.col("_cq")), F.col("_qn2"), F.col("_cn2")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            "query_id", "neighbor_id", F.floor(F.col("cos") * 1e6).cast("long").alias("cos_micro")
        )
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    codeword_ids: list[int] | None = None,
    n_sub: int = 4,
    k: int = 3,
    scale: int = 1000,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011 — the FAISS PQ/ADC layout).

    The vector space is split into ``n_sub`` subspaces; each corpus
    subvector is ENCODED as the id of its nearest per-subspace
    codeword. The codebook rows are either the subvectors of the
    ``codeword_ids`` vectors (seeded) or a TRAINED quantized
    (m, code, bq) table via ``codebook`` — per-subspace
    operators/kmeans.py output, as llm_ann_pq_trained demonstrates.
    A query never touches corpus vectors: it precomputes a
    (subspace, code) -> partial-d2 lookup table and scores every
    corpus row as the SUM of n_sub table lookups.

    Scale: this is the memory-bound regime's answer — the corpus
    collapses from dim*4 bytes/row to n_sub*log2(K) BITS/row (here
    64 floats -> 1 byte), so a 100 TB embedding store becomes ~0.4 TB
    of codes that fit executor memory. The encode pass is a broadcast
    join against the K*n_sub-row codebook with a partial-agg argmin;
    the search pass is a broadcast of the per-query LUT (Q*n_sub*K
    rows) against the codes with sum/topk — the corpus never
    shuffles until the final per-query WindowGroupLimit. Compose with
    ivf_topk cells to prune the scan itself (IVF-PQ).

    Determinism: quantized integer subvector distances, argmin ties
    to the lower code, ADC ties to the lower neighbor id —
    bit-identical to the DuckDB oracle."""
    from .kmeans import dist2_q

    def _subs(df: DataFrame, idc: str, out: str) -> DataFrame:
        # sub_dim comes from the vector column itself (size/n_sub), so
        # the operator is dim-agnostic without a driver-side action.
        # Quantize in a SEPARATE projection (referenced n_sub + 1
        # times, so CollapseProject keeps it one per-row evaluation):
        # inlined, the quantize transform would re-run once per
        # subspace slice inside the explode's array constructor (the
        # round-21 Generate-planning finding, OPTIMIZATION_r21.md).
        qdf = df.select(
            F.col(idc).alias(out), quantize(F.col(vec_col), scale).alias("_qv")
        )
        q = F.col("_qv")
        sd = (F.size(q) / n_sub).cast("int")
        parts = F.array(
            *[
                F.struct(
                    F.lit(m).alias("m"),
                    F.slice(q, sd * m + 1, sd).alias("sq"),
                )
                for m in range(n_sub)
            ]
        )
        return qdf.select(out, F.explode(parts).alias("p")).select(
            out, "p.m", "p.sq"
        )

    if (codeword_ids is None) == (codebook is None):
        raise ValueError("pass exactly one of codeword_ids / codebook")
    if codebook is not None:
        book = codebook.select("m", "code", "bq")
    else:
        # codebook: (m, code, bq); code = position in codeword_ids
        code_expr = F.col("_cwid")
        mapping = F.lit(None).cast("int")
        for idx, cid in enumerate(codeword_ids):
            mapping = F.when(code_expr == cid, idx).otherwise(mapping)
        book = (
            _subs(
                corpus.filter(F.col(id_col).isin(list(codeword_ids))), id_col, "_cwid"
            )
            .withColumn("code", mapping)
            .select("m", "code", F.col("sq").alias("bq"))
        )

    codes = (
        _subs(corpus, id_col, "nid")
        .join(F.broadcast(book), "m")
        .withColumn("d2", dist2_q(F.col("sq"), F.col("bq")))
        .groupBy("nid", "m")
        .agg(F.min(F.struct("d2", "code")).alias("mn"))
        .select("nid", "m", F.col("mn.code").alias("code"))
    )

    lut = (
        _subs(queries, query_id_col, "query_id")
        .join(F.broadcast(book), "m")
        .select("query_id", "m", "code", dist2_q(F.col("sq"), F.col("bq")).alias("d2"))
    )

    scored = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("nid") != F.col("query_id"))
        .groupBy("query_id", "nid")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("nid"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", F.col("nid").alias("neighbor_id"), "adc_d2")
    )
