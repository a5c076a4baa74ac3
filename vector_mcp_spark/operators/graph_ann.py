"""HNSW-style layered graph ANN — the last reference index family.

The reference's native backend advertises HNSW alongside IVF-PQ
(``vector_mcp/vectordb/epistemic_graph.py:5-9``) and its pgvector backend
builds ``USING hnsw`` indexes (``vector_mcp/vectordb/postgres.py:182-188``).
A literal HNSW insert loop is inherently sequential; the Spark-first
re-expression is the batch construction the distributed ANN literature uses
(NN-descent, Dong et al. 2011, WWW; layered entry points as in HNSW, Malkov
& Yashunin 2018):

* **Levels** are drawn deterministically from ``sha256(id)`` — geometric
  occupancy (P[level ≥ 1] = 1/8, P[level ≥ 2] = 1/64) with no RNG, so the
  index is bit-reproducible across sessions AND replayable by a SQL oracle.
* **Layer-0 kNN graph**: candidate pairs from two independent blocking
  families (the IVF coarse-cluster equi-join + a hash-bucket equi-join),
  top-M per node, then ``nn_descent_rounds`` rounds of NN-descent
  refinement (candidates = edges ∪ reversed ∪ neighbors-of-neighbors,
  re-ranked to top-M). Every stage is an equi-join on a bounded key or on
  the M-bounded edge list — pair volume is Σ|block|² + n·M², never n².
* **Upper layers** restrict to nodes of that level and coarser blocks
  (cluster%4, then one block for the tiny top layer), top-M, symmetrized.
* **Search** is greedy beam search replayed as a FIXED unrolled stage list
  (1 hop at layer 2, 2 at layer 1, 4 at layer 0): each hop expands the beam
  through the layer's edge list (equi-join bounded by ef·M per query),
  re-scores, and keeps the top-``ef`` per query. Fixed unrolling is what
  makes the whole search expressible as bounded CTEs for the DuckDB oracle
  (the k-means/BPE replay pattern).

Recall on the suite's hash-random embeddings (the worst case — no cluster
structure): 1.00 / 1.00 / 0.98 @5 at sf0.001/0.01/0.1 with M=12, ef=48
(tools/recall_report.py gates ≥ 0.85).

At 100 TB: the edge table is written partitioned by (layer, src-bucket) so
each beam hop prunes to the frontier's partitions; build pair volume is
controlled by the blocking keys exactly like dedup.py's banded LSH join.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_mcp_spark.functions.vector import dot
from vector_mcp_spark.operators.similarity import SCORE_DECIMALS
from vector_mcp_spark.validation import EngineError

#: beam hops per layer, top layer first — FIXED so the SQL oracle can unroll
HNSW_HOPS: tuple[tuple[int, int], ...] = ((2, 1), (1, 2), (0, 4))

# Build-geometry constants shared with the suite's SQL oracle
# (suite_pipeline._hnsw_oracle derives its literals from these and asserts
# the pinned values — changing any of them must fail that assert rather
# than silently diverging the Spark path from the oracle; ADVICE r9).
#: expected rows per blocking block — the hash-sliver cap keeps Σ|block|²
#: linear in n (10× probe: 31.5× → 5.0× after the cap)
HNSW_BLOCK_CAP = 128
#: geometric level fan-out: P[level ≥ L] = FANOUT^-L (hx%8, hx%64 draws)
HNSW_LEVEL_FANOUT = 8
#: layer-1 blocks coarsen the IVF clusters by this factor (cluster % 4)
HNSW_UPPER_COARSEN = 4
#: default hash-bucket count for the second layer-0 blocking family
HNSW_N_HASH_BUCKETS = 16


def _guarded_norm(col: F.Column) -> F.Column:
    # zero-norm → 1 (the IVF-oracle convention) so pair sims never go NULL
    n = F.sqrt(dot(col, col))
    return F.when(n == F.lit(0.0), F.lit(1.0)).otherwise(n)


#: metrics the graph family builds and serves under — pgvector's three
#: operator classes / qdrant's Distance enum (``postgres.py:316-348``,
#: ``qdrant.py:122-127``); True = higher score is better
GRAPH_METRICS = {"cosine": True, "dot": True, "l2": False}


def _node_norm(col: F.Column, metric: str) -> F.Column:
    """The per-node norm each metric's pair score consumes: cosine keeps
    the zero-guarded convention (sims never NULL); l2 uses the RAW norm so
    ``n² + q² − 2·d·q`` reproduces ``similarity.ann_ivf_topk(metric='l2')``
    bit-for-bit (sqrt-then-square order preserved); dot never reads it."""
    if metric == "cosine":
        return _guarded_norm(col)
    return F.sqrt(dot(col, col))


def _pair_score(metric: str, av: F.Column, an: F.Column, bv: F.Column, bn: F.Column) -> F.Column:
    if metric == "cosine":
        return dot(av, bv) / (an * bn)
    if metric == "dot":
        return dot(av, bv)
    # l2: same expansion + clamp as similarity.ann_ivf_topk(metric='l2').
    # NOT F.greatest(0, inner): greatest IGNORES nulls, so a NULL inner
    # product (mis-sized or missing vector) would score a PERFECT 0.0
    # distance instead of NULL — the same hole ADVICE r11 found in
    # l2_distance; the when-clamp propagates NULL and the asc_nulls_last
    # orderings then bury such rows
    inner = an * an + bn * bn - F.lit(2.0) * dot(av, bv)
    return F.sqrt(F.when(inner < F.lit(0.0), F.lit(0.0)).otherwise(inner))


def _score_order(metric: str, score: F.Column, tie: F.Column) -> list:
    # l2 NULLS LAST: matches DuckDB's ASC default, and a NULL score must
    # never outrank a real one (ADVICE r11)
    higher = GRAPH_METRICS[metric]
    return [score.desc() if higher else score.asc_nulls_last(), tie.asc()]


def hnsw_levels(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Add ``hx`` (last-4-hex-chars of sha256(id) as int) and ``level``
    columns. Nested geometric levels: hx%8==0 → ≥1, hx%64==0 → ≥2."""
    hx = F.conv(F.substring(F.sha2(F.col(id_col).cast("string"), 256), 61, 4), 16, 10).cast(
        "long"
    )
    return df.withColumn("hx", hx).withColumn(
        "level",
        F.when(F.col("hx") % (HNSW_LEVEL_FANOUT**2) == 0, F.lit(2))
        .when(F.col("hx") % HNSW_LEVEL_FANOUT == 0, F.lit(1))
        .otherwise(F.lit(0)),
    )


def _top_m(cand: DataFrame, nodes: DataFrame, m: int, metric: str = "cosine") -> DataFrame:
    """(src, dst) candidate pairs → each src's top-``m`` nearest under
    ``metric`` (best-first: cosine/dot desc, l2 asc)."""
    a = nodes.select(F.col("node").alias("src"), F.col("v").alias("_av"), F.col("n").alias("_an"))
    b = nodes.select(F.col("node").alias("dst"), F.col("v").alias("_bv"), F.col("n").alias("_bn"))
    scored = (
        cand.join(a, "src")
        .join(b, "dst")
        .withColumn(
            "_sm",
            _pair_score(metric, F.col("_av"), F.col("_an"), F.col("_bv"), F.col("_bn")),
        )
    )
    w = Window.partitionBy("src").orderBy(*_score_order(metric, F.col("_sm"), F.col("dst")))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= m)
        .select("src", "dst")
    )


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


def hnsw_build(
    assigned: DataFrame,
    m: int = 12,
    n_hash_buckets: int = HNSW_N_HASH_BUCKETS,
    nn_descent_rounds: int = 2,
    id_col: str = "id",
    emb_col: str = "embedding",
    cluster_col: str = "cluster",
    metric: str = "cosine",
) -> tuple[DataFrame, dict]:
    """Build the layered neighbor graph over an IVF-assigned corpus
    (``similarity.ivf_build`` output — the two indexes share the coarse
    quantizer; build the assignment under the SAME ``metric`` passed here,
    matching pgvector's per-opclass hnsw indexes). Returns (edges DataFrame
    (layer, src, dst), meta dict with ``entry`` node id and ``top_layer``)."""
    if metric not in GRAPH_METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(GRAPH_METRICS)}")
    nodes = hnsw_levels(
        assigned.select(
            F.col(id_col).alias("node"),
            F.col(emb_col).alias("v"),
            F.col(cluster_col).alias("cluster"),
        ),
        id_col="node",
    ).withColumn("n", _node_norm(F.col("v"), metric))
    # feeds every pair-gen and scoring join below — truncate lineage once
    nodes = nodes.localCheckpoint(eager=True)

    def pairs_on(df: DataFrame, *keys: F.Column) -> DataFrame:
        keyed = df.select(
            F.col("node"), *[k.alias(f"_blk{i}") for i, k in enumerate(keys)]
        )
        blk = [f"_blk{i}" for i in range(len(keys))]
        a = keyed.select(F.col("node").alias("src"), *blk)
        b = keyed.select(F.col("node").alias("dst"), *blk)
        return a.join(b, blk).where(F.col("src") != F.col("dst")).select("src", "dst")

    # Blocks must not grow with the corpus (Σ|block|² is the build cost —
    # the 10× scale probe read 31× before this cap): subdivide every block
    # by an independent hash sliver so expected block size stays ~128 rows
    # regardless of n. s = 1 at the suite SFs (≤ 2048 vectors), so the
    # subdivision only engages at scale. NN-descent then recovers edge
    # quality from the narrower seed candidates.
    n_rows = nodes.count()
    # slivers are derived from the DEFAULT bucket count (not the caller's
    # n_hash_buckets) so the suite oracle's literals stay a pure function
    # of the module constants: ceil(n / 2048)
    s = max(1, -(-n_rows // (HNSW_N_HASH_BUCKETS * HNSW_BLOCK_CAP)))

    # layer 0: two independent blocking families seed the kNN graph
    cand0 = pairs_on(nodes, F.col("cluster"), F.col("hx") % s).union(
        pairs_on(nodes, F.col("hx") % n_hash_buckets, (F.col("hx") / n_hash_buckets).cast("long") % s)
    ).distinct()
    e0 = _top_m(cand0, nodes, m, metric)
    for _ in range(nn_descent_rounds):
        e0 = e0.localCheckpoint(eager=True)  # iterative — truncate per round
        fwd = e0
        rev = e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        two_hop = (
            e0.select(F.col("src").alias("_a"), F.col("dst").alias("_m"))
            .join(e0.select(F.col("src").alias("_m"), F.col("dst").alias("_b")), "_m")
            .where(F.col("_a") != F.col("_b"))
            .select(F.col("_a").alias("src"), F.col("_b").alias("dst"))
        )
        e0 = _top_m(fwd.union(rev).union(two_hop).distinct(), nodes, m, metric)
    layers = [(_symmetrize(e0), 0)]

    # upper layers: level-filtered nodes, coarser blocks each level up —
    # with the same block-size cap (layer L holds ~n/8^L nodes)
    # ceil((n/8) / (4*128)) = ceil(n / 4096)
    s1 = max(1, -(-n_rows // (HNSW_LEVEL_FANOUT * HNSW_UPPER_COARSEN * HNSW_BLOCK_CAP)))
    up1 = nodes.where(F.col("level") >= 1)
    layers.append(
        (
            _symmetrize(
                _top_m(
                    pairs_on(up1, F.col("cluster") % HNSW_UPPER_COARSEN, F.col("hx") % s1),
                    nodes,
                    m,
                    metric,
                )
            ),
            1,
        )
    )
    # ceil((n/64) / 128) = ceil(n / 8192)
    s2 = max(1, -(-n_rows // (HNSW_LEVEL_FANOUT**2 * HNSW_BLOCK_CAP)))
    up2 = nodes.where(F.col("level") >= 2)
    layers.append((_symmetrize(_top_m(pairs_on(up2, F.col("hx") % s2), nodes, m, metric)), 2))

    edges = None
    for e, layer in layers:
        tagged = e.select(F.lit(layer).alias("layer"), "src", "dst")
        edges = tagged if edges is None else edges.union(tagged)

    # deterministic entry point: the smallest id on the highest occupied
    # level (sha-drawn levels make this stable across sessions and engines)
    top = nodes.agg(F.max("level").alias("l")).first().l
    entry = nodes.where(F.col("level") == top).agg(F.min("node").alias("e")).first().e
    return edges, {"entry": entry, "top_layer": int(top)}


def hnsw_serve_set(
    corpus: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    emb_col: str = "embedding",
    metric: str = "cosine",
) -> tuple[DataFrame, DataFrame]:
    """Materialize the query-INDEPENDENT beam-serve working set once:
    ``(nodes, edges)`` with nodes = (node, v, n) carrying the metric's
    per-node norm, both localCheckpointed. A vector DB holds exactly this
    in RAM next to the graph; callers that serve many queries against one
    index build it once and pass it as ``serve_set`` so each serve skips
    two eager checkpoint jobs (guide §1.2). The frames are bound to the
    building SparkSession — key any cache by applicationId."""
    nodes = corpus.select(
        F.col(id_col).alias("node"),
        F.col(emb_col).alias("v"),
        _node_norm(F.col(emb_col), metric).alias("n"),
    ).localCheckpoint(eager=True)
    return nodes, edges.localCheckpoint(eager=True)


def ann_hnsw_topk(
    queries: DataFrame,
    corpus: DataFrame,
    edges: DataFrame,
    entry: object,
    k: int,
    ef: int = 48,
    hops: tuple[tuple[int, int], ...] = HNSW_HOPS,
    id_col: str = "id",
    emb_col: str = "embedding",
    exclude_self: bool = True,
    allowed: DataFrame | None = None,
    metric: str = "cosine",
    stats: dict | None = None,
    serve_set: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Greedy beam search over the layered graph: start every query's beam
    at the shared entry node, descend the fixed ``hops`` schedule, keep the
    top-``ef`` per query each hop, answer with the final beam's top-``k``.
    Returns (query_id, rank, neighbor_id, score) like every ANN operator.

    ``stats`` (probe-only — serving callers leave it None) accumulates
    ``candidate_rows``: the total candidate rows scored across all hops,
    the beam's REAL index-bounded work metric (≤ stages × ef × (2m+1) per
    query, independent of corpus size). Counting forces one extra action
    per hop, so it is strictly a measurement hook.

    ``allowed`` (a one-column id DataFrame) post-filters the final beam
    before the top-k — the qdrant filtered-search composition in its
    "plain" (unfiltered-traversal) mode: under selective filters fewer
    than ``k`` rows may return; raise ``ef`` to deepen the pool, or
    pre-filter + exact re-rank when selectivity is extreme.

    Each hop is one equi-join of the beam (≤ ef rows/query) against the
    layer's edge partition (≤ 2m rows/node) plus a per-query top-ef window —
    bounded work per query per hop, no full-corpus scan after the build.
    """
    if metric not in GRAPH_METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(GRAPH_METRICS)}")
    if serve_set is not None:
        # query-independent working set prepared ONCE by the caller
        # (hnsw_serve_set) and reused across serves: skips two eager
        # checkpoint jobs + their plan analyses per query (measured ~1 s
        # of pure driver latency per serve at sf0.1 — guide §1.2, don't
        # recompute what the index already holds)
        nodes, edges = serve_set
    else:
        nodes = corpus.select(
            F.col(id_col).alias("node"),
            F.col(emb_col).alias("v"),
            _node_norm(F.col(emb_col), metric).alias("n"),
        ).localCheckpoint(eager=True)  # feeds one scoring join per hop
        edges = edges.localCheckpoint(eager=True)

    # checkpointed too: every hop's rescore joins q, and without a leaf here
    # each hop would re-scan the query frame's lineage (r13 optimization —
    # one job now instead of a scan + norm projection per hop)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("qv"),
        _node_norm(F.col(emb_col), metric).alias("qn"),
    ).localCheckpoint(eager=True)
    beam = q.select("query_id").withColumn("node", F.lit(entry))
    # keep-or-expand as ONE equi-join: a self-loop per node makes
    # beam ⋈ (edges ∪ self) ≡ beam ∪ neighbors(beam) — the union that
    # previously referenced the beam twice (forcing an eager localCheckpoint
    # per hop to appease Catalyst's union constraint rewriting) disappears,
    # so the whole descent plans as ONE action: broadcast exchanges for q
    # and nodes are REUSED across hops instead of rebuilt per checkpoint job
    # (r13: 3.9 s → 2.5 s per beam entry at sf0.1, results bit-identical).
    self_edges = nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))

    def rescore_topn(cand: DataFrame, n_keep: int) -> DataFrame:
        scored = (
            cand.join(q, "query_id")
            .join(nodes, "node")
            .withColumn(
                "_sm",
                _pair_score(metric, F.col("qv"), F.col("qn"), F.col("v"), F.col("n")),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            *_score_order(metric, F.col("_sm"), F.col("node"))
        )
        return scored.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= n_keep)

    first_hop = True
    for layer, n_hops in hops:
        e = edges.where(F.col("layer") == layer).select("src", "dst")
        e_self = e.union(self_edges)
        for _ in range(n_hops):
            if first_hop:
                # Hop 1 is query-INDEPENDENT: every beam is {entry}, so its
                # expansion is exactly entry's neighbor list on this layer.
                # Joining a million concurrent beams against the one edge
                # partition holding src=entry is the known 100 TB hotspot;
                # instead compute the shared candidate set ONCE (≤ 2m+1
                # rows) and broadcast-cross it to the queries. Same
                # candidates per query → bit-identical results.
                seed = (
                    e.where(F.col("src") == F.lit(entry))
                    .select(F.col("dst").alias("node"))
                    .union(q.select(F.lit(entry).alias("node")).limit(1))
                    .distinct()
                )
                # distinct matches the replaced path's cand.distinct(): a duplicated
                # query id must not burn beam slots on duplicate candidate rows
                cand = q.select("query_id").distinct().join(F.broadcast(seed))
                if stats is not None:
                    stats["candidate_rows"] = stats.get("candidate_rows", 0) + cand.count()
                beam = rescore_topn(cand, ef).select("query_id", "node")
                first_hop = False
                continue
            # one equi-join against the self-looped edge partition = the old
            # beam ∪ neighbors(beam): a beam node with no edges on this layer
            # survives via its self-loop, exactly like the replaced union
            cand = (
                beam.join(e_self, beam["node"] == e_self["src"])
                .select("query_id", F.col("dst").alias("node"))
                .distinct()
            )
            if stats is not None:
                cand = cand.localCheckpoint(eager=True)  # count once, score same rows
                stats["candidate_rows"] = stats.get("candidate_rows", 0) + cand.count()
            beam = rescore_topn(cand, ef).select("query_id", "node")

    # exclude_self drops a query's own corpus row (queries drawn FROM the
    # corpus); engine callers pass synthetic query ids NOT in the corpus and
    # set False so an id-equal document can never be silently excluded
    if exclude_self:
        beam = beam.where(F.col("query_id") != F.col("node"))
    if allowed is not None:
        # no broadcast hint: the allowed set is FILTER-sized (a broad
        # predicate can cover half the corpus), not batch-sized — a forced
        # broadcast would hit the driver/broadcast limits at scale; AQE
        # still picks broadcast when the set is actually small
        ids = allowed.select(F.col(allowed.columns[0]).alias("node")).distinct()
        beam = beam.join(ids, "node", "left_semi")
    final = rescore_topn(beam, k)
    return final.select(
        "query_id",
        F.col("_rn").cast("int").alias("rank"),
        F.col("node").alias("neighbor_id"),
        F.round("_sm", SCORE_DECIMALS).alias("score"),
    )


# ---------------------------------------------------------------------------
# Prepared single-query descent (engine serve path, optimization guide §1/§4)
#
# ann_hnsw_topk builds the 7-hop descent through ~60 DataFrame
# transformations, and PySpark analyzes each intermediate Dataset EAGERLY —
# the analyzer re-walks a growing tree every step, measured ~1.5 s of pure
# DRIVER time per engine serve (r13 §15: plan-build 1.9 s before serve-set
# caching; zero active Spark jobs throughout). For the engine's
# one-literal-vector serves the identical descent renders as ONE SQL text
# over the serve set registered as temp views: one parse + one analysis of
# the final tree. Same joins, same HOF dot folds (sequential left fold over
# double-widened floats), same window order with the same NULL placement,
# same ROUND — results are bit-identical (pinned by
# tests/test_engine.py::test_prepared_descent_matches_dataframe_path across
# metrics/dims/k/ef). The DataFrame path stays for multi-query/DataFrame-
# query callers (suite entries), whose plans and hashes are untouched.
# ---------------------------------------------------------------------------


def _sql_str_lit(value: object) -> str:
    """SQL literal for an entry/query id (string ids get escaped+quoted)."""
    if isinstance(value, bool) or not isinstance(value, (int, float)):
        s = str(value).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    return repr(value)


def _vec_sql(vec: Sequence[float]) -> str:
    """SQL literal of one query vector (float32, like the stored column).
    NaN/Inf have no SQL literal, so they refuse with the engine's width
    code instead of reaching the parser."""
    vals = [float(x) for x in vec]
    if not all(math.isfinite(x) for x in vals):
        raise EngineError(
            "collection_vector_schema_mismatch", detail="query vector has NaN/Inf elements"
        )
    return "CAST(array({}) AS ARRAY<FLOAT>)".format(", ".join(f"{x!r}D" for x in vals))


def _dot_sql(a: str, b: str) -> str:
    """SQL text of functions.vector.dot: zip_with + aggregate sequential
    fold over double-widened elements — the exact expression the DataFrame
    path evaluates, so the fold order (and hence every float result) is
    identical."""
    da = f"transform({a}, x -> CAST(x AS DOUBLE))"
    db = f"transform({b}, x -> CAST(x AS DOUBLE))"
    return f"aggregate(zip_with({da}, {db}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def _norm_sql(col: str, metric: str) -> str:
    n = f"sqrt({_dot_sql(col, col)})"
    if metric == "cosine":
        # _guarded_norm: zero-norm -> 1 so pair sims never go NULL
        return f"(CASE WHEN {n} = 0.0D THEN 1.0D ELSE {n} END)"
    return n


def _pair_score_sql(metric: str, qv: str, qn: str, v: str, n: str) -> str:
    d = _dot_sql(qv, v)
    if metric == "cosine":
        return f"({d} / ({qn} * {n}))"
    if metric == "dot":
        return d
    inner = f"(({qn} * {qn}) + ({n} * {n})) - (2.0D * {d})"
    # when-clamp, not greatest: NULL inner must stay NULL (ADVICE r11)
    return f"sqrt(CASE WHEN ({inner}) < 0.0D THEN 0.0D ELSE ({inner}) END)"


def _order_sql(metric: str) -> str:
    # l2 ASC NULLS LAST matches asc_nulls_last; DESC defaults to NULLS LAST
    # in Spark exactly like Column.desc()
    return "_sm DESC, node ASC" if GRAPH_METRICS[metric] else "_sm ASC NULLS LAST, node ASC"


def ann_hnsw_prepared_sql(
    nodes_view: str,
    edges_view: str,
    entry: object,
    question_vec: Sequence[float],
    k: int,
    ef: int = 48,
    hops: tuple[tuple[int, int], ...] = HNSW_HOPS,
    metric: str = "cosine",
    query_id: object = "__q__",
    broadcast_edges: bool = False,
    exclude_self: bool = False,
) -> str:
    """Render the full fixed-schedule beam descent for ONE literal query
    vector as a single SQL text over the registered serve-set views
    (``nodes_view``: (node, v, n); ``edges_view``: (layer, src, dst), both
    localCheckpointed by :func:`hnsw_serve_set`). ``spark.sql(text)`` is
    the whole per-serve driver cost — no per-transform analysis, no q
    checkpoint job (the query row is a one-row inline relation whose
    re-evaluation per hop is free). Output schema and values match
    ``ann_hnsw_topk(..., exclude_self=False)`` exactly."""
    if metric not in GRAPH_METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(GRAPH_METRICS)}")
    # the query vector/norm are LITERAL expressions, not a relation: the
    # per-hop "join q" of the DataFrame path (which exists because there
    # the queries are a DataFrame) disappears entirely — one join per hop
    # (beam x self-looped edges) plus one scoring join against nodes. The
    # norm is the same expression over the same literal array, so qn (and
    # every score derived from it) is bit-equal to the DataFrame path's.
    qv = _vec_sql(question_vec)
    qn = _norm_sql(qv, metric)
    qid, ent = _sql_str_lit(query_id), _sql_str_lit(entry)
    score = _pair_score_sql(metric, qv, qn, "nd.v", "nd.n")
    order = _order_sql(metric)

    def rescore(cand: str, out: str) -> str:
        # single query => the DataFrame path's PARTITION BY query_id window
        # is one partition; rows are beam-bounded (<= ef * (2m+1)), so the
        # single-partition sort is tiny at any corpus scale
        return (
            f"{out} AS (\n"
            f"  SELECT node, _sm, row_number() OVER (ORDER BY {order}) AS _rn\n"
            f"  FROM (SELECT nd.node, {score} AS _sm\n"
            f"        FROM {cand} c JOIN {nodes_view} nd ON c.node = nd.node)\n"
            f")"
        )

    ctes = [
        # hop 1 is query-independent: entry's neighbor list on the top
        # schedule layer plus the entry itself (same rows as the DataFrame
        # path's broadcast seed)
        (
            "cand_1 AS (\n"
            "  SELECT DISTINCT node FROM (\n"
            f"    SELECT dst AS node FROM {edges_view}"
            f" WHERE layer = {int(hops[0][0])} AND src = {ent}\n"
            f"    UNION ALL SELECT {ent} AS node\n"
            "  )\n"
            ")"
        ),
        rescore("cand_1", "sc_1"),
        f"beam_1 AS (SELECT node FROM sc_1 WHERE _rn <= {int(ef)})",
    ]
    i = 1
    first_hop = True
    for layer, n_hops in hops:
        for _ in range(n_hops):
            if first_hop:
                first_hop = False
                continue  # the seed hop above
            i += 1
            # self-looped edge partition: beam ∪ neighbors(beam) as one
            # equi-join, exactly like the DataFrame path. With unknown
            # leaf stats the planner builds the beam side — correct at
            # scale (ef rows vs a huge edge table) but a fresh
            # non-reusable broadcast stage per hop locally; when the
            # caller MEASURED the serve set small enough to fit the
            # session broadcast threshold (the bcast_if_fits gate),
            # hinting the edge-union side instead lets every hop of a
            # layer REUSE one broadcast build.
            hint = "/*+ BROADCAST(e) */ " if broadcast_edges else ""
            ctes.append(
                f"cand_{i} AS (\n"
                f"  SELECT {hint}DISTINCT e.dst AS node\n"
                f"  FROM beam_{i - 1} b JOIN (\n"
                f"    SELECT src, dst FROM {edges_view} WHERE layer = {int(layer)}\n"
                f"    UNION ALL SELECT node AS src, node AS dst FROM {nodes_view}\n"
                "  ) e ON b.node = e.src\n"
                ")"
            )
            ctes.append(rescore(f"cand_{i}", f"sc_{i}"))
            ctes.append(f"beam_{i} AS (SELECT node FROM sc_{i} WHERE _rn <= {int(ef)})")
    last = f"beam_{i}"
    if exclude_self:
        # queries drawn FROM the corpus: drop the query's own row, exactly
        # like the DataFrame path's query_id != node filter
        ctes.append(f"beam_f AS (SELECT node FROM {last} WHERE node != {qid})")
        last = "beam_f"
    ctes.append(rescore(last, "final"))
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT {qid} AS query_id, CAST(_rn AS INT) AS rank, node AS neighbor_id,\n"
        f"       ROUND(_sm, {SCORE_DECIMALS}) AS score\n"
        f"FROM final WHERE _rn <= {int(k)}"
    )


def ann_hnsw_multi_prepared_sql(
    nodes_view: str,
    edges_view: str,
    entry: object,
    queries: Sequence[tuple[object, Sequence[float]]],
    k: int,
    ef: int = 48,
    hops: tuple[tuple[int, int], ...] = HNSW_HOPS,
    metric: str = "cosine",
    exclude_self: bool = True,
    broadcast_edges: bool = False,
    id_sql_type: str = "BIGINT",
) -> str:
    """Multi-query form of :func:`ann_hnsw_prepared_sql` for callers whose
    query set is a known literal batch (the suite's fixed vec_id < NQ
    slice): the queries become an inline VALUES relation with the norm
    computed by the same expression the DataFrame path evaluates, and the
    descent renders as one SQL text — one parse + one analysis instead of
    ~60 eagerly-analyzed DataFrame steps and a per-call query checkpoint.
    Windows keep their real ``PARTITION BY query_id``; the seed cross-join
    broadcasts the ≤ 2m+1-row entry neighborhood exactly like the
    DataFrame path's ``F.broadcast(seed)``. Output schema and values match
    ``ann_hnsw_topk`` (``exclude_self`` honored) bit-for-bit — pinned by
    tests/test_engine.py::test_prepared_descent_matches_dataframe_path and
    the full oracle replay of every converted suite entry."""
    if metric not in GRAPH_METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(GRAPH_METRICS)}")
    if not queries:  # an empty VALUES list is not SQL
        raise EngineError("collection_vector_schema_mismatch", detail="empty query batch")

    def id_lit(v: object) -> str:
        s = _sql_str_lit(v)
        return s if isinstance(v, str) else f"CAST({s} AS {id_sql_type})"

    values = ",\n    ".join(f"({id_lit(qid)}, {_vec_sql(v)})" for qid, v in queries)
    ent = id_lit(entry)
    score = _pair_score_sql(metric, "q.qv", "q.qn", "nd.v", "nd.n")
    order = _order_sql(metric)
    ehint = "/*+ BROADCAST(e) */ " if broadcast_edges else ""

    def rescore(cand: str, out: str) -> str:
        return (
            f"{out} AS (\n"
            f"  SELECT query_id, node, _sm,\n"
            f"         row_number() OVER (PARTITION BY query_id ORDER BY {order}) AS _rn\n"
            f"  FROM (SELECT c.query_id, c.node, {score} AS _sm\n"
            f"        FROM {cand} c JOIN q ON c.query_id = q.query_id\n"
            f"        JOIN {nodes_view} nd ON c.node = nd.node)\n"
            f")"
        )

    ctes = [
        (
            "q AS (\n"
            f"  SELECT query_id, qv, {_norm_sql('qv', metric)} AS qn\n"
            f"  FROM (VALUES\n    {values}) AS t(query_id, qv)\n"
            ")"
        ),
        (
            "seed AS (\n"
            "  SELECT DISTINCT node FROM (\n"
            f"    SELECT dst AS node FROM {edges_view}"
            f" WHERE layer = {int(hops[0][0])} AND src = {ent}\n"
            f"    UNION ALL SELECT {ent} AS node\n"
            "  )\n"
            ")"
        ),
        (
            "cand_1 AS (SELECT /*+ BROADCAST(s) */ b.query_id, s.node\n"
            "           FROM (SELECT DISTINCT query_id FROM q) b CROSS JOIN seed s)"
        ),
        rescore("cand_1", "sc_1"),
        f"beam_1 AS (SELECT query_id, node FROM sc_1 WHERE _rn <= {int(ef)})",
    ]
    i = 1
    first_hop = True
    for layer, n_hops in hops:
        for _ in range(n_hops):
            if first_hop:
                first_hop = False
                continue  # the seed hop above
            i += 1
            ctes.append(
                f"cand_{i} AS (\n"
                f"  SELECT {ehint}DISTINCT b.query_id, e.dst AS node\n"
                f"  FROM beam_{i - 1} b JOIN (\n"
                f"    SELECT src, dst FROM {edges_view} WHERE layer = {int(layer)}\n"
                f"    UNION ALL SELECT node AS src, node AS dst FROM {nodes_view}\n"
                "  ) e ON b.node = e.src\n"
                ")"
            )
            ctes.append(rescore(f"cand_{i}", f"sc_{i}"))
            ctes.append(
                f"beam_{i} AS (SELECT query_id, node FROM sc_{i} WHERE _rn <= {int(ef)})"
            )
    last = f"beam_{i}"
    if exclude_self:
        ctes.append(
            f"beam_f AS (SELECT query_id, node FROM {last} WHERE query_id != node)"
        )
        last = "beam_f"
    ctes.append(rescore(last, "final"))
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT query_id, CAST(_rn AS INT) AS rank, node AS neighbor_id,\n"
        f"       ROUND(_sm, {SCORE_DECIMALS}) AS score\n"
        f"FROM final WHERE _rn <= {int(k)}"
    )


def hnsw_repair(
    new_vecs: DataFrame,
    old_vecs: DataFrame,
    edges: DataFrame,
    entry: object,
    top_layer: int,
    m: int = 12,
    ef: int = 48,
    id_col: str = "id",
    emb_col: str = "embedding",
    metric: str = "cosine",
) -> tuple[DataFrame, dict]:
    """Incremental graph repair for an append-only grown corpus — the batch
    form of the HNSW insert (search phase + connect phase), so a mutated
    collection can be served again without a full rebuild:

    * **Search phase**: every new node beam-descends the FROZEN graph for
      its ``ef`` nearest old nodes (one :func:`ann_hnsw_topk` job — cost is
      batch × hops, independent of corpus size).
    * **Batch-internal candidates**: hash-block pairs among the new nodes
      (expected block ≈ :data:`HNSW_BLOCK_CAP`, so Σ|block|² stays linear
      in the batch) — a batch of mutually-near vectors still interconnects.
    * **Connect phase**: a new node at level ``L`` (the same deterministic
      sha draw as the build) links at every layer ``l ≤ L`` to its top-``m``
      candidates living at layer ``≥ l``, then edges are symmetrized — the
      reverse old→new links are what make the new nodes reachable from the
      entry point. Old nodes' neighbor lists are NOT re-pruned (degree can
      exceed ``2m`` by one repair batch's reverse links; recall is
      unaffected, only hop fan-out — a rebuild restores the invariant).

    Returns ``(new_edges, meta)``: edges to APPEND to the persisted table
    (disjoint from it — every edge touches a new node) and the possibly
    updated ``{"entry", "top_layer"}`` (a new node can draw a level above
    the current top; levels are capped at 2, matching the build)."""
    new_nodes = (
        hnsw_levels(
            new_vecs.select(F.col(id_col).alias("node"), F.col(emb_col).alias("v")),
            id_col="node",
        )
        .withColumn("n", _node_norm(F.col("v"), metric))
        .localCheckpoint(eager=True)
    )
    old_nodes = hnsw_levels(
        old_vecs.select(F.col(id_col).alias("node"), F.col(emb_col).alias("v")),
        id_col="node",
    ).withColumn("n", _node_norm(F.col("v"), metric))
    # feeds the connect-phase scoring joins (levels of OLD candidates are
    # re-derived from the same sha draw — no persisted level state needed)
    all_nodes = old_nodes.unionByName(new_nodes).localCheckpoint(eager=True)

    beam = ann_hnsw_topk(
        new_vecs, old_vecs, edges, entry, k=ef, ef=ef,
        id_col=id_col, emb_col=emb_col, exclude_self=False, metric=metric,
    ).select(F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"))

    n_new = new_nodes.count()
    # ceil, matching the build's sliver math: floor would leave any batch
    # under 2*CAP rows in ONE all-pairs block (~4x the intended pair budget)
    buckets = max(1, -(-n_new // HNSW_BLOCK_CAP))
    keyed = new_nodes.select("node", (F.col("hx") % buckets).alias("_blk"))
    batch_pairs = (
        keyed.select(F.col("node").alias("src"), "_blk")
        .join(keyed.select(F.col("node").alias("dst"), "_blk"), "_blk")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )

    cand = beam.union(batch_pairs).distinct()
    scored = (
        cand.join(
            all_nodes.select(
                F.col("node").alias("src"), F.col("v").alias("_av"),
                F.col("n").alias("_an"), F.col("level").alias("_sl"),
            ),
            "src",
        )
        .join(
            all_nodes.select(
                F.col("node").alias("dst"), F.col("v").alias("_bv"),
                F.col("n").alias("_bn"), F.col("level").alias("_dl"),
            ),
            "dst",
        )
        .withColumn(
            "_sm",
            _pair_score(metric, F.col("_av"), F.col("_an"), F.col("_bv"), F.col("_bn")),
        )
        .localCheckpoint(eager=True)  # feeds the three per-layer windows
    )
    out = None
    for layer in range(3):
        el = scored.where((F.col("_sl") >= layer) & (F.col("_dl") >= layer))
        w = Window.partitionBy("src").orderBy(*_score_order(metric, F.col("_sm"), F.col("dst")))
        top = (
            el.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= m)
            .select("src", "dst")
        )
        tagged = _symmetrize(top).select(F.lit(layer).alias("layer"), "src", "dst")
        out = tagged if out is None else out.union(tagged)

    new_top = new_nodes.agg(F.max("level").alias("l")).first().l
    if new_top is not None and int(new_top) > int(top_layer):
        # the old corpus has no node at this level (its top was lower), so
        # the build's "smallest id on the highest occupied level" rule
        # resolves within the batch
        entry = new_nodes.where(F.col("level") == new_top).agg(
            F.min("node").alias("e")
        ).first().e
        top_layer = int(new_top)
    return out, {"entry": entry, "top_layer": int(top_layer)}


def ann_filtered_topk_routed(
    queries: DataFrame,
    corpus: DataFrame,
    edges: DataFrame,
    entry: object,
    allowed: DataFrame,
    k: int,
    ef: int = 48,
    id_col: str = "id",
    emb_col: str = "embedding",
    exclude_self: bool = True,
    selectivity_threshold: float = 0.25,
    n_total: int | None = None,
    metric: str = "cosine",
    serve_set: tuple[DataFrame, DataFrame] | None = None,
) -> tuple[DataFrame, str]:
    """Selectivity-routed filtered ANN — the composition qdrant's query
    planner actually performs for filter+vector queries (its cardinality
    estimator picks between a filtered exact scan and the HNSW traversal;
    ``vector_mcp/vectordb/qdrant.py`` delegates to that planner): when the
    payload predicate is SELECTIVE (|allowed| / |corpus| below the
    threshold), pre-filter and exact-rank — the filter prunes the scan and
    the true top-k of the allowed set always comes back; when it is BROAD,
    beam-search the graph and post-filter the final beam — the traversal
    cost is independent of the (nearly useless) filter.

    Returns ``(result, regime)`` with regime ``"exact"`` or ``"graph"`` so
    callers and tests can pin the routing decision. Both regimes emit the
    same shape as :func:`ann_hnsw_topk`: (query_id, rank, neighbor_id,
    score), scores rounded to ``SCORE_DECIMALS``, self-matches excluded
    when ``exclude_self``.

    Cost of the estimate: one driver-side count of the ``allowed`` side (a
    pushed-down metadata predicate — a row-group-pruned count at scale).
    Callers that already know the corpus cardinality (the engine records
    it in the index manifest at build time) pass ``n_total`` so a served
    query never pays a corpus-wide count; without it the estimate falls
    back to ``corpus.count()``. At 100 TB the exact branch is a broadcast
    of the bounded query batch against the FILTERED corpus scan (predicate
    reaches parquet), and the graph branch touches only beam-frontier edge
    partitions.
    """
    n_total = corpus.count() if n_total is None else int(n_total)
    n_allowed = allowed.count()
    sel = (n_allowed / n_total) if n_total else 0.0
    if sel >= selectivity_threshold:
        return (
            ann_hnsw_topk(
                queries, corpus, edges, entry, k=k, ef=ef, id_col=id_col,
                emb_col=emb_col, exclude_self=exclude_self, allowed=allowed,
                metric=metric, serve_set=serve_set,
            ),
            "graph",
        )
    # no broadcast hint (same reasoning as the graph branch): even the
    # selective regime's allowed set scales with the corpus, only its
    # FRACTION is bounded; AQE broadcasts it when it is actually small
    allowed_ids = allowed.select(F.col(allowed.columns[0]).alias("node")).distinct()
    # the serve set's nodes frame carries exactly the (node, v, n) this
    # branch would project — reuse it so the exact regime also skips the
    # corpus re-projection (identical values by construction)
    base_nodes = (
        serve_set[0]
        if serve_set is not None
        else corpus.select(
            F.col(id_col).alias("node"),
            F.col(emb_col).alias("v"),
            _node_norm(F.col(emb_col), metric).alias("n"),
        )
    )
    nodes = base_nodes.join(allowed_ids, "node", "left_semi")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("qv"),
        _node_norm(F.col(emb_col), metric).alias("qn"),
    )
    # bounded broadcast cross join: |queries| ≤ the caller's batch, never
    # corpus-sized — the same shape as semantic_topk_multi's scorer
    scored = nodes.join(F.broadcast(q)).withColumn(
        "_sm", _pair_score(metric, F.col("qv"), F.col("qn"), F.col("v"), F.col("n"))
    )
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col("node"))
    w = Window.partitionBy("query_id").orderBy(*_score_order(metric, F.col("_sm"), F.col("node")))
    out = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(
            "query_id",
            F.col("_rn").cast("int").alias("rank"),
            F.col("node").alias("neighbor_id"),
            F.round("_sm", SCORE_DECIMALS).alias("score"),
        )
    )
    return out, "exact"
