"""Builds the ``ingest_serve`` fixture in a Spark JVM of its own.

    python3 perfbench/fixture.py <cache dir>

``run.py`` calls this in a child process when the checkout has no fixture
for the current package source yet, so the JVM a run measures always
starts cold. Prints the fixture record (with its build timings) as JSON.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent


def main(argv: list[str]) -> int:
    sys.path.insert(0, str(BENCH_DIR.parent))
    from run import stop_spark
    from spans import Tracer
    from vector_mcp_spark.session import get_spark
    from workloads import Harness, prepare_fixture

    spark = get_spark("perfbench-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        info = prepare_fixture(spark, Path(argv[0]), Harness(spark, Tracer(), False))
    finally:
        stop_spark(spark)
    print(json.dumps(info))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
