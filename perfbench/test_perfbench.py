"""Self-tests of the benchmark's own arithmetic and inputs; no Spark session.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import random
from pathlib import Path

import pytest

import gen
import run
import spans
import workloads

BENCH_DIR = Path(__file__).resolve().parent


def test_same_seed_same_inputs(tmp_path):
    assert gen.texts(5, 50) == gen.texts(5, 50)
    assert gen.texts(5, 50) != gen.texts(6, 50)
    for d in ("a", "b"):
        (tmp_path / d).mkdir()
        gen.batch_tables(9, tmp_path / d, 40, 30)
    for name in ("documents.parquet", "embeddings.parquet"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    r1, r2 = random.Random(3), random.Random(3)
    terms = gen.Corpus(gen.texts(1, 20)).terms
    assert [gen.question(r1, terms) for _ in range(5)] == [gen.question(r2, terms) for _ in range(5)]


def test_texts_are_distinct_and_sanitize_to_themselves():
    from vector_mcp_spark.sanitize import sanitize_text_py

    docs = gen.texts(11, 300)
    assert len(set(docs)) == 300
    assert all(sanitize_text_py(t) == t for t in docs)
    batch = gen.texts(12, 50, avoid=set(docs))
    assert not set(batch) & set(docs)


def test_oracle_matches_the_engine_embedder_and_id_rule():
    from vector_mcp_spark.functions.embedder import hash_embed

    text = gen.texts(2, 1)[0]
    assert list(gen.hash_embed(text)) == hash_embed(text, gen.DIM)
    corpus = gen.Corpus([text, "spark join"])
    assert corpus.by_id[gen.content_id(text)] == text
    assert corpus.exact_topk(text, 1) == [gen.content_id(text)]


def test_unknown_result_id_fails_the_check_without_raising():
    harness = workloads.Harness(None, spans.Tracer(), False)
    checks = workloads.Checks(harness, gen.Corpus(gen.texts(3, 20)))
    checks.search("semantic_search", "spark join vector", {"results": [{"id": "nope", "content": "x"}]})
    assert any("not in the collection" in f for f in harness.failures)
    assert any("exact cosine oracle" in f for f in harness.failures)


def test_tail_has_ten_samples_beyond_it():
    assert spans.tail(list(range(10))) is None
    pct, value, n = spans.tail([float(x) for x in range(1, 21)])
    assert (pct, value, n) == (50.0, 10.0, 20)
    samples = [float(x) for x in range(100)]
    pct, value, n = spans.tail(samples)
    assert pct == 90.0 and sum(s > value for s in samples) == 10


def test_self_time_subtracts_children():
    def span(i, parent, name, start, end):
        return spans.Span(i, parent, 0, name, start, end)

    tree = [
        span(0, None, "root", 0.0, 10.0),
        span(1, 0, "a", 1.0, 4.0),
        span(2, 1, "leaf", 2.0, 3.0),
        span(3, 0, "b", 5.0, 7.0),
        span(4, 0, "b", 7.5, 8.5),
    ]
    assert spans.self_times(tree) == pytest.approx({"root": 4.0, "a": 2.0, "leaf": 1.0, "b": 3.0})


def test_tracer_records_nesting_and_costs_nothing_disabled():
    tracer = spans.Tracer()
    inner = tracer.wrap(lambda: 1, "inner")
    outer = tracer.wrap(lambda: inner() + 1, "outer")
    assert outer() == 2 and tracer.spans == []
    tracer.enabled, tracer.request = True, 7
    assert outer() == 2
    assert [(s.name, s.parent, s.request) for s in tracer.spans] == [("outer", None, 7), ("inner", 0, 7)]


def test_metric_names_match_benchmark_json():
    spec = json.loads((BENCH_DIR.parent / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
