"""The index lifecycle contract every vector-family serve shares: one
freshness gate, one query-vector check, a bounded serve-set cache.

One tiny collection walks absent → built → mutated → repaired once (the
module fixture); each serve method's outcome at every stage is recorded
and checked per method, so this fast tier covers the gate without a build
per serve."""

from __future__ import annotations

import shutil

import pytest

from vector_mcp_spark.validation import EngineError

DIM = 4
DOCS = ["alpha red", "beta green", "gamma blue"]
EMBS = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.5]]
QUERY = [1.0, 0.1, 0.0, 0.0]
WEIGHTS = [("alpha", 1.0), ("red", 0.5)]

SERVES = {
    "lexical": lambda eng, q: eng.indexed_lexical_search("g", "alpha", k=2),
    "semantic": lambda eng, q: eng.indexed_semantic_search("g", q, k=2),
    "graph": lambda eng, q: eng.indexed_graph_search("g", q, k=2),
    "ivfpq": lambda eng, q: eng.indexed_ivfpq_search("g", q, k=2, nprobe=4),
    "filtered": lambda eng, q: eng.indexed_filtered_search("g", q, {"tier": "a"}, k=2),
    "sparse": lambda eng, q: eng.indexed_sparse_search("g", WEIGHTS, k=2),
    "sparse_dense": lambda eng, q: eng.indexed_sparse_dense_search("g", q, WEIGHTS, k=2),
    "named": lambda eng, q: eng.named_vector_search("g", "t", q, k=2, indexed=True),
}


def _outcome(call) -> str:
    try:
        rows = call().collect()
    except EngineError as e:
        return e.code
    return "served" if rows and all(r.score is not None for r in rows) else f"rows={rows}"


def _named_ids(eng) -> dict:
    return {r.id: r.content for r in eng.read("g").select("id", "content").collect()}


@pytest.fixture(scope="module")
def lifecycle(spark, tmp_path_factory):
    """(engine, {stage: {serve: outcome}}, {stage: (status, named status)})."""
    from vector_mcp_spark.engine import CollectionEngine

    eng = CollectionEngine(spark, str(tmp_path_factory.mktemp("gate_root")))
    eng.create_collection("g", dimension=DIM, vectors_config={"t": {"dimension": DIM}})
    eng.add_documents("g", DOCS, metadatas=[{"tier": "a"}] * 3, embeddings=EMBS)
    vec_of = dict(zip(DOCS, EMBS))
    eng.put_named_vectors("g", "t", {i: vec_of[c] for i, c in _named_ids(eng).items()})
    outcomes, statuses = {}, {}

    def record(stage):
        outcomes[stage] = {n: _outcome(lambda s=s: s(eng, QUERY)) for n, s in SERVES.items()}
        statuses[stage] = (eng.index_status("g"), eng.named_vector_index_status("g", "t"))

    record("absent")
    eng.build_search_index("g")
    eng.build_named_vector_index("g", "t")
    eng.create_payload_index("g", "tier")  # filtered serve reads it while fresh
    record("built")
    grown = [0.9, 0.0, 0.1, 0.0]
    eng.add_documents("g", ["delta red"], metadatas=[{"tier": "a"}], embeddings=[grown])
    new_id = next(i for i, c in _named_ids(eng).items() if c == "delta red")
    eng.put_named_vectors("g", "t", {new_id: grown})
    record("mutated")
    eng.repair_search_index("g")
    # a named family has no incremental repair: its rebuild is the repair
    eng.build_named_vector_index("g", "t")
    record("repaired")
    return eng, outcomes, statuses


@pytest.mark.parametrize("serve", sorted(SERVES))
def test_serve_follows_the_index_lifecycle(lifecycle, serve):
    _, outcomes, _ = lifecycle
    assert [outcomes[stage][serve] for stage in ("absent", "built", "mutated", "repaired")] == [
        "index_not_fresh", "served", "index_not_fresh", "served"
    ]


def test_status_follows_the_index_lifecycle(lifecycle):
    _, _, statuses = lifecycle
    assert statuses == {
        "absent": ("absent", "absent"),
        "built": ("fresh", "fresh"),
        "mutated": ("stale", "stale"),
        "repaired": ("repaired", "fresh"),
    }


@pytest.mark.parametrize("serve", ["graph", "filtered", "ivfpq", "named"])
@pytest.mark.parametrize("bad", [float("nan"), float("inf")])
def test_non_finite_query_refused_before_sql(lifecycle, serve, bad, monkeypatch):
    """A NaN/Inf query element has no SQL literal: the gate refuses it with
    the width code before any SQL text reaches the session."""
    eng, _, _ = lifecycle

    def no_sql(*_a, **_k):
        raise AssertionError("SQL rendered for a non-finite query")

    monkeypatch.setattr(eng.spark, "sql", no_sql)
    with pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
        SERVES[serve](eng, [bad, 0.0, 0.0, 0.0])


def test_prepared_builders_reject_non_finite_and_empty_batches():
    from vector_mcp_spark.operators.graph_ann import (
        ann_hnsw_multi_prepared_sql,
        ann_hnsw_prepared_sql,
    )

    with pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
        ann_hnsw_prepared_sql("n", "e", "a", [1.0, float("nan")], k=2)
    with pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
        ann_hnsw_multi_prepared_sql("n", "e", 1, [(1, [float("-inf"), 0.0])], k=2)
    with pytest.raises(EngineError, match="collection_vector_schema_mismatch"):
        ann_hnsw_multi_prepared_sql("n", "e", 1, [], k=2)


def test_serve_set_cache_is_bounded_and_purged(lifecycle, spark, tmp_path, monkeypatch):
    """More served graph roots than the cap keep the cache at the cap and
    the evicted set's views stop resolving; delete_collection forgets the
    dropped collection's sets. Runs on a copy of the lifecycle warehouse
    (mtimes kept, so the copy's index is as servable as the original)."""
    from vector_mcp_spark import engine as engine_mod
    from vector_mcp_spark.engine import CollectionEngine

    src, _, _ = lifecycle
    shutil.copytree(src.root, tmp_path / "wh")
    eng = CollectionEngine(spark, str(tmp_path / "wh"))
    monkeypatch.setattr(engine_mod, "_SERVE_SET_CAP", 1)

    assert eng.indexed_graph_search("g", QUERY, k=2).count() > 0
    (graph_key, graph_set), = eng._graph_serve_sets.items()
    assert all(spark.catalog.tableExists(v) for v in graph_set[2:4])
    assert eng.named_vector_search("g", "t", QUERY, k=2, indexed=True).count() > 0
    assert len(eng._graph_serve_sets) == 1 and graph_key not in eng._graph_serve_sets
    assert not any(spark.catalog.tableExists(v) for v in graph_set[2:4])

    eng.delete_collection("g", confirm=True)
    assert eng._graph_serve_sets == {}


def test_racing_misses_share_one_serve_set(lifecycle, spark, tmp_path, monkeypatch):
    """Two threads that miss on the same build at once end with one cached
    set: the later insert drops its own views and returns the cached set,
    and neither miss drops the other's views."""
    import threading

    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.operators import graph_ann

    src, _, _ = lifecycle
    shutil.copytree(src.root, tmp_path / "wh")
    eng = CollectionEngine(spark, str(tmp_path / "wh"))
    both_building = threading.Barrier(2, timeout=60)
    build = graph_ann.hnsw_serve_set

    def racing_build(*a, **kw):
        both_building.wait()
        return build(*a, **kw)

    monkeypatch.setattr(graph_ann, "hnsw_serve_set", racing_build)
    views_before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    hits = [None, None]

    def serve(i):
        hits[i] = eng.indexed_graph_search("g", QUERY, k=2).collect()

    threads = [threading.Thread(target=serve, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert hits[0] and hits[0] == hits[1]
    (cached,) = eng._graph_serve_sets.values()
    views_after = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert views_after - views_before == set(cached[2:4])
