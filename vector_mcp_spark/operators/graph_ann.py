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
  re-scores, and keeps the top-``ef`` per query. :func:`ann_hnsw_sql`
  renders the whole descent as ONE SQL text over the temp views of a
  :func:`hnsw_serve_set` — one parse and one analysis per serve, whatever
  the hop count. Fixed unrolling is also what makes the search expressible
  as bounded CTEs for the DuckDB oracle (the k-means/BPE replay pattern).
* **Pair scores** have one source: the SQL text of ``_norm_sql`` and
  ``_pair_score_sql``. The descent embeds it; the build, repair and the
  routed exact regime evaluate the same text through ``F.expr``.

Recall on the suite's hash-random embeddings (the worst case — no cluster
structure): 1.00 / 1.00 / 0.98 @5 at sf0.001/0.01/0.1 with M=12, ef=48
(tools/recall_report.py gates ≥ 0.85).

At 100 TB: the edge table is written partitioned by (layer, src-bucket) so
each beam hop prunes to the frontier's partitions; build pair volume is
controlled by the blocking keys exactly like dedup.py's banded LSH join.
"""

from __future__ import annotations

import itertools
import math
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager
from typing import NamedTuple, Union

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

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

#: metrics the graph family builds and serves under — pgvector's three
#: operator classes / qdrant's Distance enum (``postgres.py:316-348``,
#: ``qdrant.py:122-127``); True = higher score is better
GRAPH_METRICS = {"cosine": True, "dot": True, "l2": False}


def _dot_sql(a: str, b: str) -> str:
    """SQL text of functions.vector.dot: zip_with + aggregate sequential
    fold over double-widened elements (the fold order, and hence every
    float result, of the DuckDB oracle's ``list_dot_product``)."""
    da = f"transform({a}, x -> CAST(x AS DOUBLE))"
    db = f"transform({b}, x -> CAST(x AS DOUBLE))"
    return f"aggregate(zip_with({da}, {db}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"


def _norm_sql(col: str, metric: str) -> str:
    """The per-node norm each metric's pair score consumes: cosine maps a
    zero norm to 1 (the IVF-oracle convention, so pair sims never go NULL);
    l2 uses the RAW norm so ``n² + q² − 2·d·q`` reproduces
    ``similarity.ann_ivf_topk(metric='l2')`` bit-for-bit (sqrt-then-square
    order preserved); dot never reads it."""
    n = f"sqrt({_dot_sql(col, col)})"
    if metric == "cosine":
        return f"(CASE WHEN {n} = 0.0D THEN 1.0D ELSE {n} END)"
    return n


def _pair_score_sql(metric: str, qv: str, qn: str, v: str, n: str) -> str:
    d = _dot_sql(qv, v)
    if metric == "cosine":
        return f"({d} / ({qn} * {n}))"
    if metric == "dot":
        return d
    # l2: same expansion + clamp as similarity.ann_ivf_topk(metric='l2').
    # NOT greatest(0, inner): greatest IGNORES nulls, so a NULL inner
    # product (mis-sized or missing vector) would score a PERFECT 0.0
    # distance instead of NULL — the hole ADVICE r11 found in l2_distance;
    # the when-clamp propagates NULL and the NULLS LAST orderings then bury
    # such rows
    inner = f"(({qn} * {qn}) + ({n} * {n})) - (2.0D * {d})"
    return f"sqrt(CASE WHEN ({inner}) < 0.0D THEN 0.0D ELSE ({inner}) END)"


def _node_norm(col: str, metric: str) -> F.Column:
    return F.expr(_norm_sql(col, metric))


def _pair_score(metric: str, av: str, an: str, bv: str, bn: str) -> F.Column:
    return F.expr(_pair_score_sql(metric, av, an, bv, bn))


def _score_order(metric: str, score: F.Column, tie: F.Column) -> list:
    # l2 NULLS LAST: matches DuckDB's ASC default, and a NULL score must
    # never outrank a real one (ADVICE r11)
    higher = GRAPH_METRICS[metric]
    return [score.desc() if higher else score.asc_nulls_last(), tie.asc()]


def _order_sql(metric: str) -> str:
    # the SQL twin of _score_order: DESC defaults to NULLS LAST in Spark
    return "_sm DESC, node ASC" if GRAPH_METRICS[metric] else "_sm ASC NULLS LAST, node ASC"


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
        .withColumn("_sm", _pair_score(metric, "_av", "_an", "_bv", "_bn"))
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
    ).withColumn("n", _node_norm("v", metric))
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


#: fresh temp-view names (session-scoped views, so a process-wide counter
#: keeps them unique across sessions and threads)
_VIEW_SEQ = itertools.count()


def _register(df: DataFrame, kind: str) -> str:
    name = f"_hnsw_{kind}_{next(_VIEW_SEQ)}"
    df.createOrReplaceTempView(name)
    return name


@contextmanager
def temp_views(*frames: DataFrame) -> Iterator[list[str]]:
    """Register each frame under a fresh temp-view name for the ``with``
    body — the query and allowed-ids views :func:`ann_hnsw_sql` reads — and
    drop the views on exit. ``spark.sql`` analyzes its text eagerly, so a
    DataFrame it returned inside the body still runs after the views are
    gone."""
    names = [_register(df, "in") for df in frames]
    try:
        yield names
    finally:
        for df, name in zip(frames, names):
            df.sparkSession.catalog.dropTempView(name)


class HnswServeSet(NamedTuple):
    """The query-independent beam working set of one graph index (see
    :func:`hnsw_serve_set`). Bound to the SparkSession that built it:
    temp views resolve only there."""

    nodes: DataFrame  # (node, v, n), n the metric's per-node norm
    edges: DataFrame  # (layer, src, dst)
    nodes_view: str
    edges_view: str
    n_nodes: int
    broadcast_edges: bool
    metric: str

    def drop(self) -> None:
        """Drop the two views (the checkpointed frames go with their last
        reference)."""
        for view in (self.nodes_view, self.edges_view):
            self.nodes.sparkSession.catalog.dropTempView(view)


def hnsw_nodes(
    corpus: DataFrame, id_col: str = "id", emb_col: str = "embedding", metric: str = "cosine"
) -> DataFrame:
    """The corpus as the scored side of every descent: (node, v, n), with
    n the per-node norm ``metric``'s pair score reads."""
    if metric not in GRAPH_METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(GRAPH_METRICS)}")
    return corpus.select(
        F.col(id_col).alias("node"),
        F.col(emb_col).alias("v"),
        _node_norm(emb_col, metric).alias("n"),
    )


def hnsw_serve_set(
    corpus: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    emb_col: str = "embedding",
    metric: str = "cosine",
) -> HnswServeSet:
    """Materialize the beam-serve working set of one index once: the
    corpus as (node, v, n) and the edges, both localCheckpointed and
    registered as temp views, plus the corpus cardinality. A vector DB
    holds exactly this in RAM next to the graph; callers that serve many
    queries against one index keep it (guide §1.2) and render every descent
    over it with :func:`ann_hnsw_sql`.

    ``broadcast_edges`` is the measured broadcast gate for the descent's
    per-hop edge-union side (two id columns — the vectors never enter that
    relation), counted once here: with unknown leaf stats the planner
    builds the beam side, which is right at scale (ef rows against a huge
    edge table) but a fresh broadcast stage per hop locally; a set small
    enough for the session's own threshold hints the edge side instead, so
    every hop of a layer reuses one broadcast build. A set that outgrows
    the threshold never hints."""
    nodes = hnsw_nodes(corpus, id_col, emb_col, metric).localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)
    n_nodes = nodes.count()
    try:
        limit = int(nodes.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    except (TypeError, ValueError):
        limit = 10 * 1024 * 1024
    return HnswServeSet(
        nodes, edges, _register(nodes, "nodes"), _register(edges, "edges"), n_nodes,
        0 <= (n_nodes + edges.count()) * 64 <= limit, metric,
    )


#: a query batch: literal (id, vector) pairs, or the name of a registered
#: (query_id, qv) view
Queries = Union[Sequence[tuple[object, Sequence[float]]], str]


def _id_sql(value: object) -> str:
    """SQL literal of an entry or query id: a string id quoted and escaped,
    any other id as BIGINT (the suite's vec_id type)."""
    if isinstance(value, str):
        return "'{}'".format(value.replace("\\", "\\\\").replace("'", "\\'"))
    plain = isinstance(value, (int, float)) and not isinstance(value, bool)
    return f"CAST({repr(value) if plain else _id_sql(str(value))} AS BIGINT)"


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


def _queries_sql(queries: Queries, metric: str) -> str:
    """SELECT text of the query relation (query_id, qv, qn): a registered
    view, or literal pairs as an inline VALUES relation. The norm is the
    node-side expression, so a query drawn from the corpus scores exactly
    like its own node."""
    if isinstance(queries, str):
        src = queries
    else:
        if not queries:  # an empty VALUES list is not SQL
            raise EngineError("collection_vector_schema_mismatch", detail="empty query batch")
        values = ",\n    ".join(f"({_id_sql(qid)}, {_vec_sql(v)})" for qid, v in queries)
        src = f"(VALUES\n    {values}) AS t(query_id, qv)"
    return f"SELECT query_id, qv, {_norm_sql('qv', metric)} AS qn\n  FROM {src}"


def ann_hnsw_sql(
    serve_set: HnswServeSet,
    entry: object,
    queries: Queries,
    k: int,
    ef: int = 48,
    exclude_self: bool = True,
    allowed_view: str | None = None,
) -> str:
    """The beam descent as one SQL text over ``serve_set``'s views: start
    every query's beam at the shared ``entry`` node, descend the fixed
    :data:`HNSW_HOPS` schedule keeping the top-``ef`` per query each hop,
    and answer with the final beam's top-``k`` as (query_id, rank,
    neighbor_id, score), scores rounded to ``SCORE_DECIMALS`` — the shape
    of every ANN operator. ``spark.sql(text)`` is the whole driver cost of
    a serve: one parse and one analysis, no per-hop job.

    ``queries`` is a list of literal (id, vector) pairs (an inline VALUES
    relation, or for a single query the literal itself; NaN/Inf vectors
    and an empty batch refuse with ``collection_vector_schema_mismatch``)
    or the name of a registered (query_id, qv) view for DataFrame-sourced
    batches (:func:`temp_views`).

    ``exclude_self`` drops a query's own corpus row (queries drawn FROM the
    corpus); callers with synthetic query ids set False, so an id-equal
    document can never be silently excluded.

    ``allowed_view`` (a one-column view of ids) post-filters the final
    beam before the top-k — the qdrant filtered-search composition in its
    "plain" (unfiltered-traversal) mode: under selective filters fewer than
    ``k`` rows may return; raise ``ef`` to deepen the pool, or route to the
    exact regime (:func:`ann_filtered_topk_routed`).

    Each hop is one equi-join of the beam (≤ ef rows/query) against the
    layer's self-looped edge partition (≤ 2m+1 rows/node) plus a per-query
    top-ef window — bounded work per query per hop, no corpus scan."""
    metric = serve_set.metric
    nodes, edges = serve_set.nodes_view, serve_set.edges_view
    ent = _id_sql(entry)
    order = _order_sql(metric)
    ehint = "/*+ BROADCAST(e) */ " if serve_set.broadcast_edges else ""
    if not isinstance(queries, str) and len(queries) == 1:
        # one literal query needs no query relation: it scores against its
        # own literal (no per-hop join with q, each a broadcast the driver
        # builds), its id joins the rows only at the end, and its
        # ≤ ef·(2m+1) rows sort in one partition instead of hash-shuffling
        # on query_id every hop. Same expression over the same float32
        # values, so every score is bit-equal to the batch form.
        (qid, vec), = queries
        qv, qid = _vec_sql(vec), _id_sql(qid)
        score = _pair_score_sql(metric, qv, _norm_sql(qv, metric), "nd.v", "nd.n")
        key = qjoin = ""
        own, out_id = f"node != {qid}", f"{qid} AS query_id"
        head = ["cand_1 AS (SELECT node FROM seed)"]
    else:
        score = _pair_score_sql(metric, "q.qv", "q.qn", "nd.v", "nd.n")
        key, qjoin = "query_id, ", "JOIN q ON c.query_id = q.query_id\n        "
        own, out_id = "query_id != node", "query_id"
        # the seed is computed once (≤ 2m+1 rows) and broadcast-crossed to
        # the queries; DISTINCT ids, so a duplicated id must not burn beam
        # slots on duplicate candidates
        head = [
            f"q AS (\n  {_queries_sql(queries, metric)}\n)",
            "cand_1 AS (SELECT /*+ BROADCAST(s) */ b.query_id, s.node\n"
            "           FROM (SELECT DISTINCT query_id FROM q) b CROSS JOIN seed s)",
        ]
    window = f"PARTITION BY query_id ORDER BY {order}" if key else f"ORDER BY {order}"

    def rescore(cand: str, out: str) -> str:
        # nd.node, not c.node: taking the id from the leaf view keeps the
        # optimizer from carrying join constraints down the whole hop chain
        # (measured 0.1-0.6 s less driver time per descent, 4 cores)
        return (
            f"{out} AS (\n"
            f"  SELECT {key}node, _sm, row_number() OVER ({window}) AS _rn\n"
            f"  FROM (SELECT {key and 'c.' + key}nd.node, {score} AS _sm\n"
            f"        FROM {cand} c {qjoin}JOIN {nodes} nd ON c.node = nd.node)\n"
            f")"
        )

    layers = [layer for layer, n_hops in HNSW_HOPS for _ in range(n_hops)]
    ctes = [
        # hop 1 is query-independent: every beam is {entry}, so its
        # expansion is entry's neighbor list on the top layer plus entry
        # itself — instead of joining every beam against the one edge
        # partition holding src = entry (the known 100 TB hotspot)
        (
            "seed AS (\n"
            "  SELECT DISTINCT node FROM (\n"
            f"    SELECT dst AS node FROM {edges} WHERE layer = {layers[0]} AND src = {ent}\n"
            f"    UNION ALL SELECT {ent} AS node\n"
            "  )\n"
            ")"
        ),
        *head,
        rescore("cand_1", "sc_1"),
        f"beam_1 AS (SELECT {key}node FROM sc_1 WHERE _rn <= {int(ef)})",
    ]
    for i, layer in enumerate(layers[1:], start=2):
        # keep-or-expand as ONE equi-join: a self-loop per node makes
        # beam ⋈ (edges ∪ self) ≡ beam ∪ neighbors(beam), so a beam node
        # with no edges on this layer survives via its self-loop
        ctes += [
            (
                f"cand_{i} AS (\n"
                f"  SELECT {ehint}DISTINCT {key and 'b.' + key}e.dst AS node\n"
                f"  FROM beam_{i - 1} b JOIN (\n"
                f"    SELECT src, dst FROM {edges} WHERE layer = {layer}\n"
                f"    UNION ALL SELECT node AS src, node AS dst FROM {nodes}\n"
                "  ) e ON b.node = e.src\n"
                ")"
            ),
            rescore(f"cand_{i}", f"sc_{i}"),
            f"beam_{i} AS (SELECT {key}node FROM sc_{i} WHERE _rn <= {int(ef)})",
        ]
    last = f"beam_{len(layers)}"
    keep = ([own] if exclude_self else []) + (
        [f"node IN (SELECT * FROM {allowed_view})"] if allowed_view is not None else []
    )
    if keep:
        ctes.append(f"beam_f AS (SELECT {key}node FROM {last} WHERE {' AND '.join(keep)})")
        last = "beam_f"
    ctes.append(rescore(last, "final"))
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT {out_id}, CAST(_rn AS INT) AS rank, node AS neighbor_id,\n"
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
      its ``ef`` nearest old nodes (one :func:`ann_hnsw_sql` descent over a
      serve set of the old corpus — cost is batch × hops, independent of
      corpus size).
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
        .withColumn("n", _node_norm("v", metric))
        .localCheckpoint(eager=True)
    )
    ss = hnsw_serve_set(old_vecs, edges, id_col=id_col, emb_col=emb_col, metric=metric)
    queries = new_vecs.select(F.col(id_col).alias("query_id"), F.col(emb_col).alias("qv"))
    try:
        with temp_views(queries) as (query_view,):
            beam = ss.nodes.sparkSession.sql(
                ann_hnsw_sql(ss, entry, query_view, k=ef, ef=ef, exclude_self=False)
            ).select(F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"))
    finally:
        ss.drop()
    # feeds the connect-phase scoring joins (levels of OLD candidates are
    # re-derived from the same sha draw — no persisted level state needed)
    all_nodes = (
        hnsw_levels(ss.nodes, id_col="node").unionByName(new_nodes).localCheckpoint(eager=True)
    )

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
        .withColumn("_sm", _pair_score(metric, "_av", "_an", "_bv", "_bn"))
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
    nodes: DataFrame,
    serve_set: Callable[[], HnswServeSet],
    entry: object,
    queries: Queries,
    allowed: DataFrame,
    k: int,
    n_total: int,
    metric: str = "cosine",
    ef: int = 48,
    exclude_self: bool = True,
    selectivity_threshold: float = 0.25,
) -> tuple[DataFrame, str]:
    """Selectivity-routed filtered ANN — the composition qdrant's query
    planner actually performs for filter+vector queries (its cardinality
    estimator picks between a filtered exact scan and the HNSW traversal;
    ``vector_mcp/vectordb/qdrant.py`` delegates to that planner): when the
    payload predicate is SELECTIVE (|allowed| / ``n_total`` below the
    threshold), pre-filter and exact-rank ``nodes`` (:func:`hnsw_nodes`
    under ``metric``) — the filter prunes the scan and the true top-k of
    the allowed set always comes back; when it is BROAD, beam-search the
    graph of ``serve_set()`` and post-filter the final beam — the traversal
    cost is independent of the (nearly useless) filter. The serve set is
    fetched only on the graph route, so an exact-routed query never
    materializes one.

    ``queries`` takes the two forms of :func:`ann_hnsw_sql`; ``allowed`` is
    a one-column id DataFrame. Returns ``(result, regime)`` with regime
    ``"exact"`` or ``"graph"`` so callers and tests can pin the routing
    decision. Both regimes emit the same shape as :func:`ann_hnsw_sql`.

    Cost of the estimate: one driver-side count of the ``allowed`` side (a
    pushed-down metadata predicate — a row-group-pruned count at scale);
    callers pass the corpus cardinality they already hold (the engine's
    index manifest, a serve set's count). At 100 TB the exact branch is a
    broadcast of the bounded query batch against the FILTERED corpus, and
    the graph branch touches only beam-frontier edge partitions.
    """
    spark = nodes.sparkSession
    sel = (allowed.count() / n_total) if n_total else 0.0
    # no broadcast hint on the allowed side in either regime: the set is
    # FILTER-sized (a broad predicate covers half the corpus, and even the
    # selective regime's set scales with the corpus — only its FRACTION is
    # bounded); AQE broadcasts it when it is actually small
    allowed_ids = allowed.select(F.col(allowed.columns[0]).alias("node"))
    if sel >= selectivity_threshold:
        with temp_views(allowed_ids) as (allowed_view,):
            hits = spark.sql(
                ann_hnsw_sql(
                    serve_set(), entry, queries, k, ef=ef, exclude_self=exclude_self,
                    allowed_view=allowed_view,
                )
            )
        return hits, "graph"
    # bounded broadcast cross join: |queries| ≤ the caller's batch, never
    # corpus-sized — the same shape as semantic_topk_multi's scorer
    scored = (
        nodes.join(allowed_ids.distinct(), "node", "left_semi")
        .join(F.broadcast(spark.sql(_queries_sql(queries, metric))))
        .withColumn("_sm", _pair_score(metric, "qv", "qn", "v", "n"))
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
