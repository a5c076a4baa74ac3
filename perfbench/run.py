"""Benchmark of the MCP retrieval surface and the declared batch suite.

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 5 --trace 0

Workloads (see workloads.py): ``ingest_serve`` (ingest, index repair and
read-after-write through the MCP stdio surface) and ``batch_pipeline``
(declared suite entries through the noop sink). Spark runs on
``local[<usable cores>]`` through the package's own ``session.get_spark``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
The line before it is a report with the host facts, per-action latencies,
the tail percentile and every failure. A failed request or correctness
check makes the exit code 1; a run that cannot start exits with 2 and
prints no result. Files the run writes stay in the checkout: its scratch
and the fixture cache under ``perfbench/``, and the suite's own ANN index
cache under ``.tmp/``, whose entries for the run's tables it removes at the
end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent

# Every workload reports every one of these; none of them can be 0.
END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_ms", "ms"),
    ("cycle_s", "s"),
    ("cycle_cpu_s", "s"),
)
ROUND_ACTIONS = (
    "add_documents",
    "repair_search_index",
    "indexed_search",
    "semantic_search",
    "count_documents",
)
# (metric, span name): self time as a share of the timed operations' wall time
SHARE_LAYERS = (
    ("transport.self_pct", "transport"),
    ("mcp_stdio.self_pct", "mcp_stdio"),
    ("agent_card.self_pct", "agent_card"),
    ("mcp.self_pct", "mcp"),
    ("api.plan_pct", "api.plan"),
    ("api.embed_query_pct", "api.embed_query"),
    ("engine.catalog_pct", "engine.catalog"),
    ("engine.freshness_pct", "engine.freshness"),
    ("engine.serve_plan_pct", "engine.serve_plan"),
    ("engine.add_documents_pct", "engine.add_documents"),
    ("engine.repair_pct", "engine.repair"),
    ("spark.execute_pct", "spark.execute"),
)
STORAGE = ("table_files", "index_files", "table_bytes")


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, in output order, with its unit. Times in ms
    are only those both workloads exercise; layers one workload bypasses
    are reported as shares or counts, which read 0 there."""
    from workloads import BATCH_ENTRIES

    out = [
        ("spark.execute_ms", "ms"),
        ("outside_spark_ms", "ms"),
        ("trace.overhead_ms", "ms"),
        ("trace.spans_per_op", "count"),
    ]
    out += [(name, "%") for name, _ in SHARE_LAYERS]
    out += [
        ("mcp_stdio.response_bytes", "bytes"),
        ("graph_ann.serve_set_builds", "count"),
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
    ]
    out += [
        (f"storage.{s}.{when}", "count" if s.endswith("files") else "bytes")
        for s in STORAGE
        for when in ("setup", "end")
    ]
    out += [("storage.bytes_per_user_byte", "ratio")]
    out += [(f"round.{a}_pct", "%") for a in ROUND_ACTIONS]
    out += [(f"suite.{e}_pct", "%") for e in BATCH_ENTRIES]
    out += [(f"suite.{e}_jobs", "count") for e in BATCH_ENTRIES]
    out += [("rss.jvm_mb", "MB"), ("rss.python_mb", "MB"), ("heap.live_mb", "MB")]
    return out


@dataclass
class Context:
    """What a workload function gets: its inputs, the Spark session, the
    harness that times operations, and the run's scratch directory."""

    seed: int
    seconds: float
    spark: object
    harness: object
    work: Path
    t_start: float
    agent: object = None
    warehouse: Path | None = None
    setup_s: float = 0.0
    t_measure: float = 0.0
    user_bytes: int = 0
    storage_setup: dict = field(default_factory=dict)

    def end_setup(self) -> None:
        now = time.perf_counter()
        self.setup_s = now - self.t_start
        self.t_measure = now
        if self.warehouse is not None:
            from workloads import storage

            self.storage_setup = storage(self.warehouse)

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_measure


def usable_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def vm_hwm_mb(pid: int) -> float:
    """Resident high-water mark of a live process, in MB (0 if unknown)."""
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def host_facts(workload: str, seed: int, trace: int) -> dict:
    import pyspark

    from workloads import source_digest

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None  # not a git checkout; source_sha256 identifies the code
    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "nproc": usable_cores(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "git_commit": commit,
        "source_sha256": source_digest(REPO / "vector_mcp_spark"),
    }


def jvm_live_heap_mb(spark) -> float:
    """JVM heap in use after a full collection, in MB."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def stop_spark(spark) -> float:
    """Stop Spark and wait for the JVM to exit; returns its RSS high-water
    mark in MB, read just before the stop."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    jvm_mb = vm_hwm_mb(proc.pid) if proc is not None else 0.0
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at the end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)
    return jvm_mb


def layer_metrics(ctx: Context, jvm_mb: float, py_mb: float, heap_mb: float) -> dict[str, float]:
    from spans import cost_per_span, median, self_times

    h = ctx.harness
    ops = h.ops
    n = max(len(ops), 1)
    wall = sum(op.seconds for op in ops) or 1.0
    spans = h.tracer.spans
    own = self_times(spans)
    values = {name: 100 * own.get(span, 0.0) / wall for name, span in SHARE_LAYERS}
    execute = own.get("spark.execute", 0.0)
    values["spark.execute_ms"] = 1000 * execute / n
    values["outside_spark_ms"] = 1000 * (wall - execute) / n
    values["trace.spans_per_op"] = len(spans) / n
    values["trace.overhead_ms"] = 1000 * cost_per_span() * len(spans) / n
    indexed = sum(op.label == "indexed_search" for op in ops)
    builds = sum(s.name == "graph_ann.serve_set_build" for s in spans)
    values["graph_ann.serve_set_builds"] = builds / indexed if indexed else 0.0
    values["mcp_stdio.response_bytes"] = sum(op.response_bytes for op in ops) / n
    for c in ("jobs", "stages", "tasks"):
        values[f"spark.{c}"] = sum(getattr(op, c) for op in ops) / n
    if ctx.warehouse is not None:
        from workloads import storage

        end = storage(ctx.warehouse)
        for s in STORAGE:
            values[f"storage.{s}.setup"] = ctx.storage_setup[s]
            values[f"storage.{s}.end"] = end[s]
        values["storage.bytes_per_user_byte"] = end["stored_bytes"] / ctx.user_bytes
    for label in {op.label for op in ops}:
        mine = [op for op in ops if op.label == label]
        share = 100 * sum(op.seconds for op in mine) / wall
        values[f"round.{label}_pct"] = values[f"suite.{label}_pct"] = share
        values[f"suite.{label}_jobs"] = median([op.jobs for op in mine])
    values["rss.jvm_mb"] = jvm_mb
    values["rss.python_mb"] = py_mb
    values["heap.live_mb"] = heap_mb
    return {name: values.get(name, 0.0) for name, _ in per_layer_names()}


def report(ctx: Context, facts: dict, e2e: dict, fixture: dict | None, recall) -> dict:
    from spans import median, tail

    h = ctx.harness
    actions = {}
    for label in dict.fromkeys(op.label for op in h.ops):
        secs = [op.seconds for op in h.ops if op.label == label]
        actions[label] = {"p50_ms": median(secs) * 1000, "n": len(secs)}
    t = tail([op.seconds for op in h.ops])
    return {
        "report": {
            **facts,
            "seconds": ctx.seconds,
            "end_to_end": e2e,
            "actions": actions,
            "op_tail": None if t is None else {"percentile": t[0], "ms": t[1] * 1000, "n": t[2]},
            "cycles": len(h.cycles),
            "failed_op_share": len(h.failures) / max(h.attempted, 1),
            "indexed_recall": recall,
            "fixture": fixture,
            "failures": h.failures[:20],
            # the traced run's span tree: (id, parent, request, name, start, end)
            "spans": [
                (sp.span_id, sp.parent, sp.request, sp.name, sp.start - ctx.t_start, sp.end - ctx.t_start)
                for sp in h.tracer.spans
            ],
        }
    }


def ensure_fixture(cache: Path) -> dict:
    """The fixture record. When the checkout has none for this source yet,
    the fixture is built first by ``fixture.py`` in a child process, with a
    JVM of its own, so the JVM a run measures always starts cold."""
    record = cache / "fixture.json"
    if not record.exists():
        subprocess.run(
            [sys.executable, str(BENCH_DIR / "fixture.py"), str(cache)],
            stdout=sys.stderr,
            check=True,
            timeout=800,
        )
    return json.loads(record.read_text())


def run(args, work: Path) -> int:
    from spans import Tracer, median
    from workloads import (
        COLLECTION,
        FIXTURE,
        WORKLOADS,
        Harness,
        install_spans,
        make_agent,
        remove_spans,
        restore_fixture,
        source_digest,
    )

    fn, uses_fixture = WORKLOADS[args.workload]
    fixture = cache = api = None
    if uses_fixture:  # built once per checkout and source, not part of setup
        key = json.dumps([FIXTURE, COLLECTION, source_digest(REPO / "vector_mcp_spark")])
        cache = BENCH_DIR / ".cache" / f"fixture-{hashlib.sha256(key.encode()).hexdigest()[:16]}"
        fixture = ensure_fixture(cache)
    t_start = time.perf_counter()
    from vector_mcp_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer()
        ctx = Context(args.seed, args.seconds, spark, Harness(spark, tracer, bool(args.trace)), work, t_start)
        if uses_fixture:
            ctx.warehouse = restore_fixture(cache, work / "warehouse")
            ctx.agent, api = make_agent(spark, ctx.warehouse)
        undo = install_spans(tracer, api) if args.trace else []
        try:
            checks = fn(ctx)
        finally:
            remove_spans(undo)
        facts = host_facts(args.workload, args.seed, args.trace)
        py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        heap_mb = jvm_live_heap_mb(spark) if args.trace else None
    finally:
        jvm_mb = stop_spark(spark)
    h = ctx.harness
    e2e = {
        "setup_s": ctx.setup_s,
        "op_p50_ms": median([op.seconds for op in h.ops]) * 1000,
        "cycle_s": median(h.cycles),
        "cycle_cpu_s": sum(op.cpu_seconds for op in h.ops) / len(h.cycles),
    }
    recall = checks.recall() if checks is not None else None
    print(json.dumps(report(ctx, facts, e2e, fixture, recall)))
    if args.trace:
        metrics, units = layer_metrics(ctx, jvm_mb, py_mb, heap_mb), dict(per_layer_names())
    else:
        metrics, units = e2e, dict(END_TO_END)
    failed = len(h.failures)
    result = {
        "correct": failed == 0,
        "attempted": h.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    sys.path.insert(0, str(BENCH_DIR))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not (REPO / "vector_mcp_spark" / "__init__.py").is_file():
        print(f"no vector_mcp_spark package beside {BENCH_DIR.name}/", file=sys.stderr)
        return 2
    work = BENCH_DIR / ".work" / f"run-{os.getpid()}-{time.time_ns()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # keep the files Spark, the JVMs and the Python workers write in the run dir
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(usable_cores())
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    sys.path.insert(0, str(REPO))
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
