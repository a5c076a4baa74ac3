"""The one HNSW beam descent (graph_ann.ann_hnsw_sql) and the caches of
the serve sets and indexes it descends.

The golden rows below are the ranks, neighbors and scores the retired DataFrame
descent returned on a seeded 24×8 corpus with one zero-norm row (id0003),
k=4, ef=6, graph built by hnsw_build under each metric. The renderer must
reproduce them exactly in every query form (one literal query, a literal
VALUES batch and a registered query view), with and without an allowed-ids
post-filter.
"""

from __future__ import annotations

import random
from pathlib import Path

import pytest

# fmt: off
GOLDEN = {
    "cosine": {
        "synthetic": [
            ("__q__", 1, "id0009", 0.840816),
            ("__q__", 2, "id0015", 0.77406),
            ("__q__", 3, "id0001", 0.756677),
            ("__q__", 4, "id0020", 0.533924),
        ],
        "drawn": [
            ("id0000", 1, "id0022", 0.486741),
            ("id0000", 2, "id0023", 0.313905),
            ("id0000", 3, "id0002", 0.012482),
            ("id0000", 4, "id0021", 0.008908),
            ("id0001", 1, "id0016", 0.653384),
            ("id0001", 2, "id0015", 0.579659),
            ("id0001", 3, "id0009", 0.475696),
            ("id0001", 4, "id0013", 0.422437),
            ("id0003", 1, "id0000", 0.0),
            ("id0003", 2, "id0001", 0.0),
            ("id0003", 3, "id0002", 0.0),
            ("id0003", 4, "id0004", 0.0),
        ],
        "allowed": [
            ("id0000", 1, "id0022", 0.486741),
            ("id0000", 2, "id0002", 0.012482),
            ("id0001", 1, "id0016", 0.653384),
            ("id0001", 2, "id0006", 0.409558),
            ("id0003", 1, "id0000", 0.0),
            ("id0003", 2, "id0002", 0.0),
            ("id0003", 3, "id0004", 0.0),
        ],
    },
    "dot": {
        "synthetic": [
            ("__q__", 1, "id0001", 2.219568),
            ("__q__", 2, "id0015", 2.180038),
            ("__q__", 3, "id0009", 2.105153),
            ("__q__", 4, "id0020", 1.485107),
        ],
        "drawn": [
            ("id0000", 1, "id0023", 0.573751),
            ("id0000", 2, "id0022", 0.555684),
            ("id0000", 3, "id0002", 0.027525),
            ("id0000", 4, "id0021", 0.016293),
            ("id0001", 1, "id0016", 1.833753),
            ("id0001", 2, "id0015", 1.818391),
            ("id0001", 3, "id0006", 1.534856),
            ("id0001", 4, "id0013", 1.354704),
            ("id0003", 1, "id0000", 0.0),
            ("id0003", 2, "id0001", 0.0),
            ("id0003", 3, "id0002", 0.0),
            ("id0003", 4, "id0004", 0.0),
        ],
        "allowed": [
            ("id0000", 1, "id0022", 0.555684),
            ("id0000", 2, "id0002", 0.027525),
            ("id0001", 1, "id0016", 1.833753),
            ("id0001", 2, "id0006", 1.534856),
            ("id0003", 1, "id0000", 0.0),
            ("id0003", 2, "id0002", 0.0),
            ("id0003", 3, "id0004", 0.0),
        ],
    },
    "l2": {
        "synthetic": [
            ("__q__", 1, "id0009", 0.896379),
            ("__q__", 2, "id0015", 1.133736),
            ("__q__", 3, "id0001", 1.208973),
            ("__q__", 4, "id0020", 1.612791),
        ],
        "drawn": [
            ("id0000", 1, "id0022", 1.083043),
            ("id0000", 2, "id0003", 1.084903),
            ("id0000", 3, "id0023", 1.693483),
            ("id0000", 4, "id0021", 1.996655),
            ("id0001", 1, "id0016", 1.41794),
            ("id0001", 2, "id0015", 1.62555),
            ("id0001", 3, "id0009", 1.730427),
            ("id0001", 4, "id0003", 1.807556),
            ("id0003", 1, "id0022", 1.052301),
            ("id0003", 2, "id0000", 1.084903),
            ("id0003", 3, "id0012", 1.386894),
            ("id0003", 4, "id0005", 1.483568),
        ],
        "allowed": [
            ("id0000", 1, "id0022", 1.083043),
            ("id0001", 1, "id0016", 1.41794),
            ("id0001", 2, "id0012", 1.916558),
            ("id0003", 1, "id0022", 1.052301),
            ("id0003", 2, "id0000", 1.084903),
            ("id0003", 3, "id0012", 1.386894),
        ],
    },
}
# fmt: on

DRAWN = ("id0000", "id0001", "id0003")


@pytest.fixture(scope="module")
def golden_corpus(spark):
    rng = random.Random(11)
    dim, n = 8, 24
    rows = [(f"id{i:04d}", [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    rows[3] = (rows[3][0], [0.0] * dim)  # zero-norm guard
    qv = [rng.uniform(-1, 1) for _ in range(dim)]
    corpus = spark.createDataFrame(rows, "id string, embedding array<float>")
    allowed = spark.createDataFrame([(f"id{i:04d}",) for i in range(0, n, 2)], "id string")
    return corpus, qv, allowed


def _rows(df):
    return sorted((r.query_id, r.rank, r.neighbor_id, r.score) for r in df.collect())


@pytest.mark.parametrize("metric", ["cosine", "dot", "l2"])
def test_descent_reproduces_golden_rows(spark, golden_corpus, metric):
    from pyspark.sql import functions as F

    from vector_mcp_spark.operators.graph_ann import (
        ann_hnsw_sql,
        hnsw_build,
        hnsw_serve_set,
        temp_views,
    )
    from vector_mcp_spark.operators.similarity import ivf_build

    corpus, qv, allowed = golden_corpus
    coarse = "l2" if metric == "l2" else "cosine"
    assigned, _ = ivf_build(corpus, n_centroids=4, id_col="id", emb_col="embedding", metric=coarse)
    edges, meta = hnsw_build(assigned, id_col="id", emb_col="embedding", metric=metric)
    assert meta["entry"] == "id0000"
    ss = hnsw_serve_set(corpus, edges, metric=metric)
    want = GOLDEN[metric]

    def serve(queries, exclude_self=True, allowed_view=None):
        return _rows(spark.sql(ann_hnsw_sql(
            ss, meta["entry"], queries, k=4, ef=6, exclude_self=exclude_self,
            allowed_view=allowed_view,
        )))

    drawn = corpus.where(F.col("id").isin(*DRAWN))
    literals = [(r.id, list(r.embedding)) for r in drawn.collect()]
    try:
        assert serve([("__q__", qv)], exclude_self=False) == want["synthetic"]
        assert serve(literals) == want["drawn"]
        for qid, vec in literals:  # the one-query form, self excluded
            assert serve([(qid, vec)]) == [r for r in want["drawn"] if r[0] == qid]
        with temp_views(
            drawn.select(F.col("id").alias("query_id"), F.col("embedding").alias("qv")), allowed
        ) as (query_view, allowed_view):
            assert serve(query_view) == want["drawn"]
            assert serve(query_view, allowed_view=allowed_view) == want["allowed"]
    finally:
        ss.drop()
    assert not spark.catalog.tableExists(ss.nodes_view)



def test_suite_beam_serves_from_a_new_session(spark, sf_dir):
    """Temp views belong to one session: a sibling session must get serve
    views of its own, not the cached set of the session that built first."""
    from vector_mcp_spark.suite import SUITE

    fn = SUITE["ann_hnsw_topk"].spark_fn
    want = sorted(fn(spark, sf_dir).collect())
    assert want
    assert sorted(fn(spark.newSession(), sf_dir).collect()) == want


def test_index_cache_keys_on_table_content(tmp_path):
    """Two tables under the same directory base name get different index
    caches, and a table rewritten in place gets a new one; the base name
    stays the suffix the cleanup of ``.tmp/*_<table dir>`` matches."""
    from vector_mcp_spark.suite_pipeline import _index_cache

    dirs = []
    for sub, payload in (("a", b"one"), ("b", b"two")):
        d = tmp_path / sub / "sf_same"
        d.mkdir(parents=True)
        (d / "embeddings.parquet").write_bytes(payload)
        dirs.append(str(d))
    a, b = (_index_cache(d, "hnsw_m12") for d in dirs)
    assert a != b
    assert Path(a).name.startswith("hnsw_m12_") and a.endswith("_sf_same") and b.endswith("_sf_same")
    assert _index_cache(dirs[0], "hnsw_m12") == a
    (Path(dirs[0]) / "embeddings.parquet").write_bytes(b"rewritten")
    assert _index_cache(dirs[0], "hnsw_m12") != a
