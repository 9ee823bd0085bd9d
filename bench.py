"""Seconds per registered contract query.

Times every ``contract.QUERIES`` entry, or the names given on the command
line, on the tables at $SPARK_GRAFT_SF_DIR.  Each pass runs every selected
query once, in registry order, to a noop sink; passes are interleaved so a
slow phase of the host spreads over all queries instead of landing on one.
Each run has its own Spark job group, and straight after it the group's
shuffle bytes and per-operator SQL time are read from Spark's status stores
(``perfbench/sparkstats.py``), which keep only the last 1000 executions.
Persisted intermediates are released after every run, so each pass does the
same work.

Prints ONE JSON line: {"metric": "query_sec_total", "value": sum of the
per-query minimums, "unit": "sec", "sf", "cpus", "passes", "queries":
{name: {"sec_min", "sec_median", "sec": per-pass seconds, "shuffle_bytes",
"operators_ms": {SQL node: summed time metrics}}}}.

Usage: python bench.py [query ...]
Env:   SPARK_GRAFT_SF_DIR  tables to read (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS    local[N] master (default: this host's CPUs)
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.append(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "perfbench"))

from sparkstats import SparkStats  # noqa: E402

from vlm_ocr_doc_reader_spark.contract import QUERIES  # noqa: E402
from vlm_ocr_doc_reader_spark.datapipe.cache import \
    release_all_cached  # noqa: E402
from vlm_ocr_doc_reader_spark.sources.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
PASSES = 3
# "WholeStageCodegen (3)" and "WholeStageCodegen (7)" are one operator
_CODEGEN_ID = re.compile(r"\s*\(\d+\)$")


def select(names: list[str]) -> list[str]:
    """The queries to time: ``names`` in the order given, or the whole
    registry when none are given."""
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"bench.py: not in contract.QUERIES: {unknown}")
    return list(names) or list(QUERIES)


def run_once(spark, stats: SparkStats, name: str, sf_dir: str,
             group: str) -> dict:
    """One timed run of one query under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite") \
        .save()
    sec = time.perf_counter() - t0
    sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ops: dict[str, float] = {}
    for e in stats.executions(group):
        for node, metrics in e["nodes"]:
            times = [v for k, v in metrics.items()
                     if "time" in k or "duration" in k]
            if times:
                node = _CODEGEN_ID.sub("", node)
                ops[node] = ops.get(node, 0.0) + sum(times)
    shuffle = stats.stages(group)["shuffle_write_bytes"]
    release_all_cached()
    return {"sec": sec, "shuffle_bytes": shuffle, "operators_ms": ops}


def time_queries(spark, sf_dir: str, names: list[str],
                 passes: int = PASSES) -> dict[str, dict]:
    """{name: record} over ``passes`` interleaved passes.  Shuffle bytes
    and each operator's time are medians over the passes."""
    stats = SparkStats(spark)
    runs: dict[str, list[dict]] = {n: [] for n in names}
    for p in range(passes):
        for n in names:
            runs[n].append(run_once(spark, stats, n, sf_dir,
                                    f"bench-{p}-{n}"))
    out = {}
    for n, rs in runs.items():
        secs = [r["sec"] for r in rs]
        nodes = sorted({k for r in rs for k in r["operators_ms"]})
        out[n] = {
            "sec_min": round(min(secs), 3),
            "sec_median": round(statistics.median(secs), 3),
            "sec": [round(s, 3) for s in secs],
            "shuffle_bytes": int(statistics.median(
                r["shuffle_bytes"] for r in rs)),
            "operators_ms": {k: round(statistics.median(
                r["operators_ms"].get(k, 0.0) for r in rs), 1)
                for k in nodes},
        }
    return out


def main(argv: list[str]) -> None:
    names = select(argv)
    spark = get_spark(master=f"local[{CPUS}]", app_name="bench-queries",
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        queries = time_queries(spark, SF_DIR, names)
    finally:
        spark.stop()
    print(json.dumps({
        "metric": "query_sec_total",
        "value": round(sum(q["sec_min"] for q in queries.values()), 3),
        "unit": "sec",
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "cpus": CPUS,
        "passes": PASSES,
        "queries": queries,
    }))


if __name__ == "__main__":
    main(sys.argv[1:])
