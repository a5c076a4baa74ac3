"""Similarity search over embedding columns — ANN for the data pipeline.

Two tiers (SURVEY.md §4 'ANN index' row):

- **Exact brute-force cosine** (the correctness oracle): broadcast the query
  set, score map-side, per-query top-k with a narrow shuffle. This is the
  Spark analogue of the reference's couchbase fallback scan
  (``vector_mcp/vectordb/couchbase.py:313-372``) — except distributed and
  vectorized instead of a driver-side Python loop.
- **LSH-bucketed approximate** (the scale path): random-hyperplane signs
  bucket the corpus; per-query search touches only matching buckets (with
  multi-probe on neighboring buckets), then exact re-rank inside the
  candidate set. Mirrors the numCandidates-beam shape of the reference's
  Mongo path (``mongodb.py:277``: beam = max(k*10, 100)).

At cluster scale the bucketed table is written partitioned by bucket id so a
query prunes partitions instead of scanning 100 TB.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_mcp_spark.functions.vector import cosine_similarity, dot, l2_distance, l2_norm
from vector_mcp_spark.operators.partition import spread

# Pairwise scoring below precomputes each vector's norm ONCE before the
# join (norms ride along as a narrow double column) and divides the per-pair
# dot by the product — bit-equal to cosine_similarity (identical folds in
# identical order) while cutting the interpreted-HOF work per pair to the
# dot alone.

SCORE_DECIMALS = 6


def cosine_self_join_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "id",
    emb_col: str = "embedding",
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors for every row of ``queries`` against ``corpus``.

    Returns (query_id, rank, neighbor_id, score). ``queries`` is assumed
    small relative to ``corpus`` and is broadcast. Pass ``dim`` to use the
    codegen'd fixed-dimension cosine (bit-equal, faster).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("qvec"),
        l2_norm(F.col(emb_col)).alias("qnorm"),
    )
    # spread: the per-pair HOF-dot map stage runs on the corpus scan's
    # partitioning — one core on a single-file local read (guide §2.5)
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("nvec"),
        l2_norm(F.col(emb_col)).alias("nnorm"),
    )
    joined = c.join(F.broadcast(q))
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    # dim is accepted for API symmetry but the HOF dot is used: fixed-dim
    # expansion on column×column operands regressed (tree-size blowup)
    scored = joined.withColumn(
        "score", F.try_divide(dot(F.col("nvec"), F.col("qvec")), F.col("nnorm") * F.col("qnorm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.select("query_id", "neighbor_id", "score")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("score", SCORE_DECIMALS).alias("score"))
    )


def hard_negative_mine(
    anchors: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "id",
    emb_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard negatives for contrastive retrieval training: for each anchor,
    the ``k`` highest-cosine corpus rows whose ``label_col`` DIFFERS from
    the anchor's — near the anchor in embedding space but semantically
    wrong, the examples that actually move a ranker.

    Returns (anchor_id, rank, negative_id, score). Anchors broadcast onto
    one corpus scan + a per-anchor rank shuffle (TakeOrdered shape); at
    100 TB put ``ann_lsh_topk``/``ann_ivf_topk`` candidate generation in
    front and re-rank the shortlist with this exact scorer.
    """
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(emb_col).alias("avec"),
        F.col(label_col).alias("alabel"),
        l2_norm(F.col(emb_col)).alias("anorm"),
    )
    # spread: same single-partition-scan guard as cosine_self_join_topk
    c = spread(corpus).select(
        F.col(id_col).alias("negative_id"),
        F.col(emb_col).alias("nvec"),
        F.col(label_col).alias("nlabel"),
        l2_norm(F.col(emb_col)).alias("nnorm"),
    )
    scored = (
        c.join(F.broadcast(a))
        .where(F.col("nlabel") != F.col("alabel"))
        .withColumn(
            "score",
            F.try_divide(dot(F.col("nvec"), F.col("avec")), F.col("nnorm") * F.col("anorm")),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.col("score").desc(), F.col("negative_id").asc())
    return (
        scored.select("anchor_id", "negative_id", "score")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "anchor_id", "rank", "negative_id",
            F.round("score", SCORE_DECIMALS).alias("score"),
        )
    )


def training_triplets(
    anchors: DataFrame,
    corpus: DataFrame,
    id_col: str = "id",
    emb_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive training triplets: for each anchor, its nearest
    SAME-label neighbor (the positive) and its nearest DIFFERENT-label
    neighbor (the hard negative) — the (q, d+, d−) rows a bi-encoder
    trains on (the sampling recipe behind DPR/sentence-transformers; the
    hard negative is hard_negative_mine's k=1 case, mined in the same scan).

    Returns (anchor_id, positive_id, pos_score, negative_id, neg_score);
    an anchor drops out when either side of its pair is missing — no
    same-label peer (nothing to contrast FOR) or no different-label peer
    (nothing to contrast AGAINST); NULL labels never match either side, so
    NULL-labeled anchors drop too. Count output vs input anchors when
    training-set coverage matters.
    One broadcast of the anchors over one corpus scan, map-side cosine,
    two conditional per-anchor ranks — no pairwise stage beyond the
    bounded |anchors| × corpus scoring every retriever-training run needs.
    """
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(emb_col).alias("avec"),
        F.col(label_col).alias("alabel"),
        l2_norm(F.col(emb_col)).alias("anorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(emb_col).alias("cvec"),
        F.col(label_col).alias("clabel"),
        l2_norm(F.col(emb_col)).alias("cnorm"),
    )
    scored = (
        c.join(F.broadcast(a))
        .where(F.col("cand_id") != F.col("anchor_id"))
        .withColumn(
            "score",
            F.try_divide(dot(F.col("cvec"), F.col("avec")), F.col("cnorm") * F.col("anorm")),
        )
        .withColumn("same", F.col("clabel") == F.col("alabel"))
    )
    w = Window.partitionBy("anchor_id", "same").orderBy(
        F.col("score").desc(), F.col("cand_id").asc()
    )
    best = scored.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    pos = best.where(F.col("same")).select(
        "anchor_id",
        F.col("cand_id").alias("positive_id"),
        F.round("score", SCORE_DECIMALS).alias("pos_score"),
    )
    neg = best.where(~F.col("same")).select(
        "anchor_id",
        F.col("cand_id").alias("negative_id"),
        F.round("score", SCORE_DECIMALS).alias("neg_score"),
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id", "positive_id", "pos_score", "negative_id", "neg_score"
    )


def _hyperplanes(
    dim: int, n_planes: int, n_tables: int, seed: str = "vector_mcp_spark"
) -> list[list[list[float]]]:
    """Deterministic pseudo-random hyperplanes from sha256 (no RNG state —
    reproducible across sessions/engines). [table][plane][dim]."""
    tables = []
    for t in range(n_tables):
        planes = []
        for p in range(n_planes):
            vec = []
            for i in range(dim):
                h = hashlib.sha256(f"{seed}|{t}|{p}|{i}".encode()).digest()
                u = int.from_bytes(h[:8], "big") / 2**64  # uniform [0,1)
                vec.append(u - 0.5)
            planes.append(vec)
        tables.append(planes)
    return tables


def _bucket_expr(emb_col: str, planes: Sequence[Sequence[float]]) -> F.Column:
    # HOF fold on purpose: expanding the plane dots to element-term sums
    # (24 planes × 64 terms) overflows codegen limits and regresses ~8×
    # (huge interpreted trees + planning time). See functions/vector.py
    # dot_lit for where expansion DOES win (a single query vector).
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        prods = F.zip_with(
            F.col(emb_col),
            # expr-string literal: one py4j call + JVM parse per plane —
            # marshalling 24×64 floats element-wise through py4j dominated
            # fresh-plan build time ('D' pins DOUBLE, repr round-trips)
            F.expr("array(" + ",".join(f"{float(x)!r}D" for x in plane) + ")"),
            lambda x, y: x.cast("double") * y,
        )
        d = F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)
        bucket = bucket + F.when(d > 0, F.lit(2**i)).otherwise(F.lit(0))
    return bucket


def lsh_bucketize(
    corpus: DataFrame,
    dim: int,
    n_planes: int = 6,
    n_tables: int = 4,
    emb_col: str = "embedding",
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Attach multi-table random-hyperplane bucket ids (standard OR-of-ANDs
    LSH: ``n_tables`` independent tables of ``n_planes`` bits each; more
    tables → higher recall, more candidates). Output column ``buckets`` is
    an array of per-table bucket ids. Persist exploded and partitioned by
    (table, bucket) for partition-pruned ANN at scale."""
    tables = _hyperplanes(dim, n_planes, n_tables)
    buckets = F.array(*[_bucket_expr(emb_col, planes) for planes in tables])
    return corpus.withColumn("buckets", buckets), tables


def _explode_buckets(df: DataFrame, multiprobe_bits: int, n_planes: int) -> DataFrame:
    """(buckets array) → one row per (tbl, bucket) probe. For queries,
    single-bit flips per table widen the probe set (multi-probe LSH)."""
    exploded = df.select("*", F.posexplode("buckets").alias("tbl", "bucket")).drop("buckets")
    if multiprobe_bits >= 1:
        probes = F.array(
            F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(2**b)) for b in range(n_planes)]
        )
        exploded = exploded.withColumn("bucket", F.explode(probes))
    return exploded


def ann_lsh_topk(
    queries: DataFrame,
    bucketed_corpus: DataFrame,
    planes: Sequence[Sequence[Sequence[float]]],
    k: int,
    id_col: str = "id",
    emb_col: str = "embedding",
    multiprobe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates = corpus rows sharing any per-table
    bucket with the query (plus single-bit-flip probe buckets), re-ranked by
    exact cosine. Returns (query_id, rank, neighbor_id, score).

    Beam-width analogue of the reference's Mongo ``numCandidates``
    (``mongodb.py:277``): recall is tuned by (n_planes, n_tables,
    multiprobe) instead of a candidate count.
    """
    n_planes = len(planes[0])
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("qvec"),
        l2_norm(F.col(emb_col)).alias("qnorm"),
    ).withColumn("buckets", F.array(*[_bucket_expr("qvec", p) for p in planes]))
    q = _explode_buckets(q, multiprobe_bits, n_planes)
    c = bucketed_corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("nvec"),
        l2_norm(F.col(emb_col)).alias("nnorm"), "buckets"
    )
    c = c.select("neighbor_id", "nvec", "nnorm", F.posexplode("buckets").alias("tbl", "bucket"))
    joined = c.join(F.broadcast(q), ["tbl", "bucket"]).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    cand = joined.select("query_id", "qvec", "qnorm", "neighbor_id", "nvec", "nnorm").dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    scored = cand.withColumn(
        "score", F.try_divide(dot(F.col("nvec"), F.col("qvec")), F.col("nnorm") * F.col("qnorm"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.select("query_id", "neighbor_id", "score")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("score", SCORE_DECIMALS).alias("score"))
    )


def embedding_near_dup_blocked(
    corpus: DataFrame,
    threshold: float,
    block_col: str,
    id_col: str = "id",
    emb_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact embedding-cosine near-dup within blocks: pairs sharing
    ``block_col`` (e.g. an upstream cluster/label id) with cosine ≥
    threshold. Blocking keeps the self-join O(Σ block²); fully
    deterministic, hence oracle-checkable. Returns (id_a, id_b, score).

    Exact-duplicate vectors collapse BEFORE the pair join (same argument
    as the text-side MinHash collapse): an m-copy vector is ONE node, the
    cosine runs once per unique pair, and member pairs expand at the end —
    intra-group pairs are score 1.0 by construction (cosine of identical
    non-zero vectors rounds to 1.0 at 6 dp; zero vectors give NULL and are
    dropped, matching the oracle). Duplicated corpora otherwise square the
    verify stage: probe-measured 16.6× wall at a 10× half-duplicated
    corpus, 7.5× after the collapse (the residual is real near-dup OUTPUT
    growth from the perturbed copies, not wasted verify work)."""
    # checkpoint: g feeds both self-join sides; without it the collapse
    # groupBy (and the scan under it) executes once per side — the broadcast
    # build of the small side is not a reusable exchange (the standing
    # multi-branch rule)
    g = (
        corpus.groupBy(F.col(block_col).alias("_blk"), F.col(emb_col).alias("_v"))
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("_ids"))
        .withColumn("_n", l2_norm(F.col("_v")))
        .localCheckpoint(eager=True)
    )
    a = g.select(
        "_blk", F.col("_v").alias("va"), F.col("_n").alias("_na"),
        F.col("_ids").alias("ids_a"), F.element_at("_ids", 1).alias("_ka"),
    )
    b = g.select(
        "_blk", F.col("_v").alias("vb"), F.col("_n").alias("_nb"),
        F.col("_ids").alias("ids_b"), F.element_at("_ids", 1).alias("_kb"),
    )
    # dim accepted for API symmetry; HOF dot used (fixed-dim expansion
    # on column×column operands regresses — tree-size blowup)
    cross = (
        a.join(b, "_blk")
        .where(F.col("_ka") < F.col("_kb"))
        .withColumn(
            "score",
            F.round(
                F.try_divide(dot(F.col("va"), F.col("vb")), F.col("_na") * F.col("_nb")),
                SCORE_DECIMALS,
            ),
        )
        .where(F.col("score") >= threshold)
        .select("ids_a", "ids_b", "score")
        .select(F.explode("ids_a").alias("_ia"), "ids_b", "score")
        .select("_ia", F.explode("ids_b").alias("_ib"), "score")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "score",
        )
    )
    intra = (
        g.where((F.size("_ids") > 1) & (F.col("_n") > 0))
        .select(F.col("_ids").alias("ids"))
        .select(F.explode("ids").alias("_ia"), "ids")
        .select("_ia", F.explode("ids").alias("_ib"))
        .where(F.col("_ia") < F.col("_ib"))
        .select(
            F.col("_ia").alias("id_a"), F.col("_ib").alias("id_b"),
            F.lit(1.0).alias("score"),
        )
    )
    return cross.unionByName(intra)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + cluster-pruned search
# ---------------------------------------------------------------------------


def assign_clusters(
    df: DataFrame, centroids: list[list[float]], emb_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Nearest-centroid assignment as ONE Arrow-batched matmul per batch
    (B×d @ d×K) — the 16-way interpreted HOF fold was the build's
    bottleneck; ties go to the first best index (np.argmax/argmin),
    matching array_position semantics. Shared by the offline IVF build and
    online streaming index maintenance (assignment against frozen
    centroids is the serving-path operation).

    ``metric``: "cosine" (argmax similarity) or "l2" (argmin Euclidean —
    via the ||v||²−2·v·c+||c||² expansion, still one matmul)."""
    from pyspark.sql.functions import pandas_udf

    if metric not in ("cosine", "l2"):
        raise ValueError(f"unknown metric {metric!r}")
    cmat = np.asarray(centroids, dtype=np.float64).T  # d × K
    cnorm = np.linalg.norm(cmat, axis=0)
    csq = cnorm * cnorm

    if metric == "cosine":
        cn = cnorm.copy()
        cn[cn == 0] = 1.0

        @pandas_udf("int")
        def nearest(col: pd.Series) -> pd.Series:
            mat = np.asarray(col.tolist(), dtype=np.float64)  # B × d
            vnorm = np.linalg.norm(mat, axis=1)
            vnorm[vnorm == 0] = 1.0
            sims = (mat @ cmat) / (vnorm[:, None] * cn[None, :])
            return pd.Series(np.argmax(sims, axis=1).astype("int32"))
    else:

        @pandas_udf("int")
        def nearest(col: pd.Series) -> pd.Series:
            mat = np.asarray(col.tolist(), dtype=np.float64)  # B × d
            vsq = np.einsum("ij,ij->i", mat, mat)
            d2 = vsq[:, None] - 2.0 * (mat @ cmat) + csq[None, :]
            return pd.Series(np.argmin(d2, axis=1).astype("int32"))

    return df.withColumn("cluster", nearest(F.col(emb_col)))


def ivf_build(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "id",
    emb_col: str = "embedding",
    max_iter: int = 3,
    metric: str = "cosine",
) -> tuple[DataFrame, list[list[float]]]:
    """Coarse quantizer for IVF ANN: deterministic Lloyd's k-means.

    Init = the ``n_centroids`` rows with the smallest sha256(id) (no RNG, so
    the index is reproducible across sessions). Each iteration is one
    assign (map-side argmax of dot against broadcast centroids) + one
    groupBy-avg — shuffle volume is (cluster, vector) partial sums only.

    Returns (corpus with a ``cluster`` column, centroid list). At scale,
    persist the assigned corpus partitioned by ``cluster`` so a query's
    nprobe clusters prune partitions — the DataFrame analogue of the
    reference engine's IVF-PQ index (``epistemic_graph.py:5-9``).
    """
    dim_row = corpus.select(F.size(F.col(emb_col)).alias("d")).first()
    if dim_row is None:
        raise ValueError("empty corpus")
    seed_rows = (
        corpus.select(F.col(emb_col).alias("v"), F.sha2(F.col(id_col).cast("string"), 256).alias("h"))
        .orderBy("h")
        .limit(n_centroids)
        .collect()
    )
    centroids = [[float(x) for x in r.v] for r in seed_rows]

    def assign(df: DataFrame, cents: list[list[float]]) -> DataFrame:
        return assign_clusters(df, cents, emb_col=emb_col, metric=metric)

    for _ in range(max_iter):
        assigned = assign(corpus, centroids)
        agg = (
            assigned.select("cluster", F.col(emb_col).alias("v"))
            .groupBy("cluster")
            .agg(
                F.array(*[F.round(F.avg(F.col("v")[i]), 8) for i in range(len(centroids[0]))]).alias("c")
            )
            .collect()
        )
        new = {r.cluster: [float(x) for x in r.c] for r in agg}
        centroids = [new.get(i, centroids[i]) for i in range(len(centroids))]
    return assign(corpus, centroids), centroids


def ann_ivf_topk(
    queries: DataFrame,
    assigned_corpus: DataFrame,
    centroids: Sequence[Sequence[float]],
    k: int,
    nprobe: int = 4,
    id_col: str = "id",
    emb_col: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """IVF query: per query, rank centroids by ``metric``, probe the top
    ``nprobe`` clusters, exact re-rank inside them under the same metric
    ("cosine"/"dot" desc or "l2" asc — the pgvector <=>/<#>/<-> opclasses /
    qdrant Distance enum; dot probes over the cosine-built assignment, the
    standard MIPS compromise the engine's build path shares).
    Returns (query_id, rank, neighbor_id, score). Recall is tuned by
    nprobe — the beam-width analogue of the reference's Mongo
    ``numCandidates`` (``mongodb.py:277``)."""
    if metric not in ("cosine", "dot", "l2"):
        raise ValueError(f"unknown metric {metric!r}")
    cent_lit = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("qvec"),
        l2_norm(F.col(emb_col)).alias("qnorm"),
    )
    if metric == "cosine":
        cscores = F.transform(cent_lit, lambda c: cosine_similarity(F.col("qvec"), c))
        # best centroid first = largest similarity → sort by negated score
        rank_key = "-s AS s"
    elif metric == "dot":
        cscores = F.transform(cent_lit, lambda c: dot(F.col("qvec"), c))
        rank_key = "-s AS s"
    else:
        cscores = F.transform(cent_lit, lambda c: l2_distance(F.col("qvec"), c))
        rank_key = "s AS s"
    ranked = F.expr(
        "transform(array_sort(zip_with(_csims, sequence(0, size(_csims) - 1), "
        f"(s, i) -> struct({rank_key}, i AS idx))), p -> p.idx)"
    )
    q = (
        q.withColumn("_csims", cscores)
        .withColumn("cluster", F.explode(F.slice(ranked, 1, nprobe)))
        .drop("_csims")
    )
    c = assigned_corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("nvec"),
        l2_norm(F.col(emb_col)).alias("nnorm"), "cluster"
    )
    joined = c.join(F.broadcast(q), "cluster").where(F.col("query_id") != F.col("neighbor_id"))
    if metric == "cosine":
        scored = joined.withColumn(
            "score",
            F.try_divide(dot(F.col("nvec"), F.col("qvec")), F.col("nnorm") * F.col("qnorm")),
        )
        order = F.col("score").desc()
    elif metric == "dot":
        scored = joined.withColumn("score", dot(F.col("nvec"), F.col("qvec")))
        order = F.col("score").desc()
    else:
        # reuse the precomputed norms: dist = sqrt(max(0, ‖n‖²+‖q‖²−2·n·q)).
        # when-clamp, not greatest (greatest swallows NULLs into a perfect
        # 0.0 — the ADVICE r11 l2_distance hole); asc_nulls_last below then
        # buries NULL-scored rows instead of crowning them
        _inner = (
            F.col("nnorm") * F.col("nnorm") + F.col("qnorm") * F.col("qnorm")
            - F.lit(2.0) * dot(F.col("nvec"), F.col("qvec"))
        )
        scored = joined.withColumn(
            "score",
            F.sqrt(F.when(_inner < F.lit(0.0), F.lit(0.0)).otherwise(_inner)),
        )
        order = F.col("score").asc_nulls_last()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
    return (
        scored.select("query_id", "neighbor_id", "score")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("score", SCORE_DECIMALS).alias("score"))
    )


def semantic_dedup(
    assigned: DataFrame,
    tau: float,
    id_col: str = "id",
    emb_col: str = "embedding",
    cluster_col: str = "cluster",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup via
    within-cluster pairwise cosine — a document is dropped when its cluster
    holds a LOWER-id document with similarity ≥ ``tau`` (keep-first policy,
    deterministic). Input is a k-means-assigned corpus (``ivf_build``);
    returns every row as (id, cluster, kept).

    Scale shape is the published algorithm's: the only join is an equi-join
    on the cluster key, so pair count is Σ|cluster|² — bounded by choosing
    k ∝ corpus size (the paper's regime), never corpus-quadratic. Shuffle
    carries (cluster, id, vector) once per side; the dup-id set stays
    id-only and broadcast-joins back for the kept flag. Cosine is rounded
    to 6 dp BEFORE the ≥ tau comparison so the boundary can't flip on
    cross-engine float noise (zero-norm vectors use norm 1, matching the
    IVF oracle's guard).
    """

    def _norm(col):
        n = F.sqrt(dot(col, col))
        return F.when(n == 0, F.lit(1.0)).otherwise(n)

    # norms are computed ONCE per row before the join (the quotient itself
    # still happens per pair, so the arithmetic — dot/(na*nb) — stays
    # bit-identical to the oracle's per-pair formula)
    a = assigned.select(
        F.col(cluster_col).alias("cluster"),
        F.col(id_col).alias("_a_id"),
        F.col(emb_col).alias("_a_v"),
        _norm(F.col(emb_col)).alias("_a_n"),
    )
    b = assigned.select(
        F.col(cluster_col).alias("cluster"),
        F.col(id_col).alias("_b_id"),
        F.col(emb_col).alias("_b_v"),
        _norm(F.col(emb_col)).alias("_b_n"),
    )
    dup_ids = (
        b.join(a, "cluster")
        .where(F.col("_a_id") < F.col("_b_id"))
        .where(
            F.round(
                dot(F.col("_a_v"), F.col("_b_v")) / (F.col("_a_n") * F.col("_b_n")), 6
            )
            >= tau
        )
        .select(F.col("_b_id").alias(id_col))
        .distinct()
    )
    return assigned.select(id_col, F.col(cluster_col).alias("cluster")).join(
        F.broadcast(dup_ids.withColumn("_dup", F.lit(True))), id_col, "left"
    ).select(
        id_col, "cluster", F.coalesce(~F.col("_dup"), F.lit(True)).alias("kept")
    )
