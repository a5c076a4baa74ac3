"""The workloads, their fixture, correctness checks and counters.

Load: one process, one client thread, a closed loop (each request is sent
after the previous reply). Requests go through ``mcp_stdio.handle_message``
in-process, with the request and response encoded to and decoded from JSON
text as ``mcp_stdio.serve`` does per line.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from gen import Corpus, batch_tables, question, texts
from spans import Tracer

COLL_TOOL = "vector_collection_management"
SEARCH_TOOL = "vector_search"
COLLECTION = "bench_docs"
K = 10
RECALL_GATE = 0.85  # the HNSW recall gate of RECALL.md

# The starting collection does not depend on the run's seed: building its
# index takes tens of seconds, so it is built once per checkout (keyed by
# these parameters and a digest of the package source) and copied into
# each run. The seed drives the ingested batches and the questions.
FIXTURE = {"seed": 7001, "docs": 200}
INGEST_BATCH = 50
# the reads of each round, after the batch is ingested and the index repaired
ROUND_READS = ("indexed_search", "semantic_search")
BATCH_DOCS, BATCH_VECS = 300, 300
BATCH_ENTRIES = (
    "ann_hnsw_topk",
    "ann_ivfpq_rerank_topk",
    "corpus_semdedup",
    "dedup_clusters",
    "dedup_minhash_lsh",
    "embedding_near_dup",
    "hybrid_rrf",
    "lexical_bm25",
    "semantic_topk",
    "simjoin_top1",
    "text_stats",
    "top_bigrams",
)


class OpFailed(Exception):
    """A request answered with an error."""


@dataclass
class Op:
    label: str
    seconds: float
    cpu_seconds: float
    response_bytes: int
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


@dataclass
class Harness:
    """Runs operations one at a time, each under its own Spark job group,
    and keeps their latencies, failures and Spark counts."""

    spark: object
    tracer: Tracer
    trace: bool
    ops: list[Op] = field(default_factory=list)
    cycles: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    attempted: int = 0
    last_response_bytes: int = 0

    def run(self, label: str, fn, timed: bool = True):
        """Call ``fn`` as one operation; returns its result, or None when it
        raised (the failure is recorded)."""
        sc = self.spark.sparkContext
        seq = self.attempted
        self.attempted += 1
        group = f"perfbench-{seq}"
        sc.setJobGroup(group, label)
        self.tracer.enabled = self.trace and timed
        self.tracer.request = seq
        self.last_response_bytes = 0
        c0 = tree_cpu_seconds()
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as e:  # the run goes on; the failure is counted
            result = None
            self.failures.append(f"{label}: {type(e).__name__}: {str(e)[:200]}")
        seconds = time.perf_counter() - t0
        cpu = tree_cpu_seconds() - c0
        self.tracer.enabled = False
        self.tracer.request = None
        if timed:
            op = Op(label, seconds, cpu, self.last_response_bytes)
            if self.trace:
                op.jobs, op.stages, op.tasks = spark_counts(sc, group)
            self.ops.append(op)
        return result

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(f"check failed: {what}")


def tree_cpu_seconds() -> float:
    """CPU seconds used so far by this process and all its descendants (the
    Spark JVM and its Python workers), from /proc."""
    tick = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        parent[pid] = int(fields[1])
        cpu[pid] = (int(fields[11]) + int(fields[12])) / tick
    total = 0.0
    for pid, c in cpu.items():
        p = pid
        while p not in (0, 1, me) and p in parent:
            p = parent[p]
        if p == me:
            total += c
    return total


def spark_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the job group launched, from the status
    tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            stages += 1
            sinfo = st.getStageInfo(s)
            tasks += sinfo.numTasks if sinfo else 0
    return len(jobs), stages, tasks


class Client:
    """The MCP client side of one in-process stdio session."""

    def __init__(self, agent, harness: Harness):
        self.agent = agent
        self.harness = harness
        self.next_id = 0

    def call(self, tool: str, arguments: dict) -> dict:
        from vector_mcp_spark import mcp_stdio

        tracer = self.harness.tracer
        self.next_id += 1
        line = json.dumps(
            {
                "jsonrpc": "2.0",
                "id": self.next_id,
                "method": "tools/call",
                "params": {"name": tool, "arguments": arguments},
            }
        )
        span = tracer.open("transport") if tracer.enabled else None
        try:
            resp = mcp_stdio.handle_message(self.agent, json.loads(line))
            out = json.dumps(resp)
            reply = json.loads(out)
        finally:
            if span is not None:
                tracer.close(span)
        self.harness.last_response_bytes = len(out) + 1
        if "error" in reply:
            raise OpFailed(reply["error"].get("message"))
        body = json.loads(reply["result"]["content"][0]["text"])
        if reply["result"].get("isError"):
            raise OpFailed(str(body.get("error")))
        return body

    def manage(self, action: str, **kw) -> dict:
        return self.call(COLL_TOOL, {"action": action, **kw})

    def search(self, action: str, **kw) -> dict:
        return self.call(SEARCH_TOOL, {"action": action, **kw})


def make_agent(spark, root: Path):
    from vector_mcp_spark.agent_card import AgentCardVeneer
    from vector_mcp_spark.api import VectorSearchApi
    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.mcp import McpVeneer

    engine = CollectionEngine(spark, str(root))
    api = VectorSearchApi(engine)
    return AgentCardVeneer(McpVeneer(engine, api)), api


# -- traced run: spans around public functions, installed from outside ------


def install_spans(tracer: Tracer, api=None) -> list:
    """Wrap the public functions of each layer (and the query embedder of
    ``api``, when given); returns the undo list."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from vector_mcp_spark import mcp_stdio
    from vector_mcp_spark.agent_card import AgentCardVeneer
    from vector_mcp_spark.api import VectorSearchApi
    from vector_mcp_spark.engine import CollectionEngine
    from vector_mcp_spark.mcp import McpVeneer
    from vector_mcp_spark.operators import graph_ann

    undo: list = []
    targets = [
        (mcp_stdio, "handle_message", "mcp_stdio"),
        (AgentCardVeneer, "dispatch", "agent_card"),
        (McpVeneer, "vector_search", "mcp"),
        (McpVeneer, "vector_collection_management", "mcp"),
        (CollectionEngine, "read", "engine.catalog"),
        (CollectionEngine, "needs_embed", "engine.catalog"),
        (CollectionEngine, "collection_distance", "engine.catalog"),
        (CollectionEngine, "index_status", "engine.freshness"),
        (CollectionEngine, "indexed_graph_search", "engine.serve_plan"),
        (CollectionEngine, "add_documents", "engine.add_documents"),
        (CollectionEngine, "repair_search_index", "engine.repair"),
        (graph_ann, "hnsw_serve_set", "graph_ann.serve_set_build"),
        (VectorSearchApi, "semantic_search", "api.plan"),
        (DataFrame, "collect", "spark.execute"),
        (DataFrame, "count", "spark.execute"),
        (DataFrameWriter, "save", "spark.execute"),
        (DataFrameWriter, "parquet", "spark.execute"),
    ]
    if api is not None:
        targets.append((api, "_embed_query", "api.embed_query"))
    for owner, attr, name in targets:
        tracer.patch(owner, attr, name, undo)
    return undo


def remove_spans(undo: list) -> None:
    for owner, attr, original in reversed(undo):
        setattr(owner, attr, original)


# -- fixture ------------------------------------------------------------------


def source_digest(package: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(package.rglob("*.py")):
        h.update(str(p.relative_to(package)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def fixture_corpus() -> Corpus:
    return Corpus(texts(FIXTURE["seed"], FIXTURE["docs"]))


def prepare_fixture(spark, cache: Path, harness: Harness) -> dict:
    """Build the fixture warehouse under ``cache`` unless it is there
    already: the collection ingested through ``add_documents`` (content
    only, as the MCP surface stores it), then indexed. Returns the fixture
    record with its build timings."""
    record = cache / "fixture.json"
    if record.exists():
        return json.loads(record.read_text())
    corpus = fixture_corpus()
    staging = cache.with_name(cache.name + f".tmp-{time.time_ns()}")
    warehouse = staging / "warehouse"
    warehouse.mkdir(parents=True)
    agent, _ = make_agent(spark, warehouse)
    client = Client(agent, harness)
    t0 = time.perf_counter()
    client.manage("create_collection", collection_name=COLLECTION)
    out = client.manage("add_documents", collection_name=COLLECTION, document_contents=corpus.docs)
    if out.get("documents_added") != len(corpus.docs):
        raise RuntimeError(f"fixture ingest answered {out}")
    t1 = time.perf_counter()
    client.manage("build_search_index", collection_name=COLLECTION)
    t2 = time.perf_counter()
    info = {"ingest_s": t1 - t0, "index_build_s": t2 - t1, **FIXTURE}
    (staging / "fixture.json").write_text(json.dumps(info))
    try:
        staging.rename(cache)
    except OSError:  # another run finished first; keep its copy
        shutil.rmtree(staging, ignore_errors=True)
    return info


def restore_fixture(cache: Path, dest: Path) -> Path:
    """Copy the fixture warehouse, keeping file times (the index freshness
    fingerprint is made of relative paths and modification times)."""
    shutil.copytree(cache / "warehouse", dest, copy_function=shutil.copy2)
    return dest


def storage(root: Path) -> dict:
    """File and byte counts of the warehouse's tables, indexes and logs."""
    out = {"table_files": 0, "table_bytes": 0, "index_files": 0, "stored_bytes": 0}
    for d in (root / "collections").iterdir():
        kind = "index" if d.name.endswith("_index") else "log" if d.name.endswith("_changelog") else "table"
        for p in d.rglob("*"):
            if not p.is_file():
                continue
            size = p.stat().st_size
            out["stored_bytes"] += size
            if kind == "table":
                out["table_bytes"] += size
                out["table_files"] += p.suffix == ".parquet"
            elif kind == "index":
                out["index_files"] += p.suffix == ".parquet"
    return out


# -- correctness checks -------------------------------------------------------


@dataclass
class Checks:
    harness: Harness
    corpus: Corpus
    recall_hits: int = 0
    recall_total: int = 0

    def search(self, action: str, q: str, body: dict | None) -> None:
        h, c = self.harness, self.corpus
        if body is None:
            return  # the failed request is already counted
        rows = body.get("results") or []
        h.check(
            all(c.by_id.get(r["id"]) == r["content"] for r in rows),
            f"{action} returned an id/content pair not in the collection",
        )
        h.check(len({r["id"] for r in rows}) == len(rows), f"{action} returned duplicate ids")
        if action == "semantic_search":
            scores = c.cosine(q)
            exact = sorted(scores, reverse=True)[:K]
            by_id = dict(zip(c.ids, scores))
            got = [float(by_id.get(r["id"], -math.inf)) for r in rows]
            h.check(
                len(got) == len(exact) and all(abs(a - b) <= 1e-6 for a, b in zip(got, exact)),
                f"semantic_search top-{K} differs from the exact cosine oracle",
            )
        else:
            h.check(len(rows) == K, f"indexed_search returned {len(rows)} rows")
            self.recall_hits += len(set(c.exact_topk(q, K)) & {r["id"] for r in rows})
            self.recall_total += K

    def recall(self) -> float | None:
        return self.recall_hits / self.recall_total if self.recall_total else None

    def finish(self) -> None:
        r = self.recall()
        if r is not None:
            self.harness.check(r >= RECALL_GATE, f"indexed_search recall@{K} {r:.3f} < {RECALL_GATE}")


# -- workloads ----------------------------------------------------------------


def _read(h: Harness, client: Client, checks: Checks, action: str, q: str) -> None:
    body = h.run(
        action, lambda: client.search(action, collection_name=COLLECTION, question=q, number_results=K)
    )
    checks.search(action, q, body)


def _round(h: Harness, client: Client, checks: Checks, rng: random.Random) -> None:
    """Ingest a batch, repair the index, read after the write, count."""
    corpus = checks.corpus
    batch = texts(rng.randrange(2**31), INGEST_BATCH, avoid=set(corpus.docs))
    out = h.run(
        "add_documents",
        lambda: client.manage("add_documents", collection_name=COLLECTION, document_contents=batch),
    )
    if out is not None:
        corpus.extend(batch)
        got = out.get("documents_added")
        h.check(got == len(batch), f"documents_added {got} != {len(batch)}")
    h.run("repair_search_index", lambda: client.manage("repair_search_index", collection_name=COLLECTION))
    status = h.run(
        "index_status", lambda: client.manage("index_status", collection_name=COLLECTION), timed=False
    )
    h.check(
        status is not None and status.get("status") in ("fresh", "repaired"),
        f"index status after repair is {status and status.get('status')}",
    )
    for action in ROUND_READS:
        _read(h, client, checks, action, question(rng, corpus.terms))
    out = h.run("count_documents", lambda: client.manage("count_documents", collection_name=COLLECTION))
    got = out and out.get("count")
    h.check(got == len(corpus.docs), f"count_documents {got} != {len(corpus.docs)}")


def ingest_serve(ctx) -> Checks:
    """Write then read-after-write on one growing collection. Setup copies
    the indexed fixture; each timed round then ingests a batch, repairs the
    index and serves from it. There is no warm round: on a 4-core host one
    round takes most of a run's time budget, so a run measures one round in
    a fresh JVM."""
    h, rng = ctx.harness, random.Random(ctx.seed)
    client = Client(ctx.agent, h)
    checks = Checks(h, fixture_corpus())
    ctx.end_setup()
    while True:
        start = len(h.ops)
        _round(h, client, checks, rng)
        h.cycles.append(sum(op.seconds for op in h.ops[start:]))
        if ctx.elapsed() >= ctx.seconds:
            break
    ctx.user_bytes = checks.corpus.user_bytes()
    checks.finish()
    return checks


def batch_pipeline(ctx) -> None:
    """Declared suite entries over seeded tables through the noop sink. The
    untimed warm pass runs the repository's oracle gate on each entry
    (``tools/verify_local.verify_entry``: rows, columns and the 6-dp value
    multiset against the entry's DuckDB oracle)."""
    import vector_mcp_spark

    # The suite caches ANN index builds across processes in
    # <repo>/.tmp/<index>_<table dir name>, and names views after the text
    # that follows the dir's last "sf" (as in sf0.01). A name of this run's
    # own makes every run build its indexes, with the code under test, in
    # its warm pass; the entries are removed when the run ends.
    data = ctx.work / f"sf{ctx.seed}_{os.getpid()}_{time.time_ns()}"
    data.mkdir()
    try:
        _batch_pipeline(ctx, data)
    finally:
        index_cache = Path(vector_mcp_spark.__file__).resolve().parent.parent / ".tmp"
        for p in index_cache.glob(f"*_{data.name}"):
            shutil.rmtree(p, ignore_errors=True)


def _batch_pipeline(ctx, data: Path) -> None:
    import duckdb

    from tools.verify_local import verify_entry
    from vector_mcp_spark.suite import SUITE

    h, spark = ctx.harness, ctx.spark
    batch_tables(ctx.seed, data, BATCH_DOCS, BATCH_VECS)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for name in BATCH_ENTRIES:
        out = h.run(name, lambda: verify_entry(spark, con, SUITE[name], str(data)), timed=False)
        if out is not None:
            h.check(out[0], f"{name}: {out[2]}")
    con.close()
    ctx.end_setup()
    while True:
        start = len(h.ops)
        for name in BATCH_ENTRIES:
            fn = SUITE[name].spark_fn
            h.run(name, lambda: fn(spark, str(data)).write.format("noop").mode("overwrite").save())
        h.cycles.append(sum(op.seconds for op in h.ops[start:]))
        if ctx.elapsed() >= ctx.seconds:
            break
    return None


WORKLOADS = {
    "ingest_serve": (ingest_serve, True),
    "batch_pipeline": (batch_pipeline, False),
}
