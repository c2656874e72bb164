"""Headline benchmark: ``python bench.py``.

Runs the headline queries over the parquet scale-factor directory
``$SPARK_GRAFT_SF_DIR`` (default: sf0.1) on ``local[$SPARK_GRAFT_CPUS]``
(default: the CPUs this process may run on) and prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline number is the end-to-end parse→enrich→route→aggregate wall
time over a synthesized pages table sized to the scale factor (pure-JVM
row generation, so the measurement is dominated by the pipeline, not the
generator). ``rows_per_sec`` (parsed+routed lines/sec — the BASELINE.json
metric) is included as an extra key.

Per-layer attribution, steadiness and the gated end-to-end metrics live
in ``perfbench/`` (``python3 perfbench/run.py --workload flagship_agg``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
# pages per unit scale factor for the synthetic throughput leg;
# sf0.1 -> 60k pages (~1.9M lines), override with SPARK_GRAFT_BENCH_PAGES
PAGES_PER_SF = 600_000


def _sf_of(path: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else 0.0


def make_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("logparser-spark-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # size JVM internal pools (GC, netty, codegen) for the granted
        # cores, exactly like a real N-core executor. Without this every
        # local JVM sizes for all host cores; concurrent executors then
        # thrash each other 7x on string/GC-heavy stages (measured).
        .config("spark.driver.extraJavaOptions",
                f"-XX:ActiveProcessorCount={cpus}")
        # leaves room for the Python workers on a ~16 GB host
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 65536 sat on the plateau of the Arrow batch-size sweep
        # (BENCH/BASELINE.md)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def pipeline_throughput(spark, n_pages: int, partitions: int):
    """One full pass: synth pages -> explode -> parse -> enrich -> route
    (all 7 sinks as mask columns) -> per-sink counts + level histogram.
    Returns (lines_total, seconds, sink_counts)."""
    from pyspark.sql import functions as F

    from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
    from logparser_spark.operators import enrich
    from logparser_spark.operators.parse import explode_lines, parse_lines_arrow
    from logparser_spark.operators.route import fixture_sinks, sink_column
    from logparser_spark.sources.pages import synth_pages

    spec = compile_format(DEFAULT_FORMAT)
    sinks = fixture_sinks()

    pages = enrich.page_host_cols(synth_pages(spark, n_pages, partitions))
    # host/tld derived per PAGE (30x fewer rows than lines); the full url
    # never enters the per-line stream or the Arrow boundary
    lines = explode_lines(pages, keep_cols=["doc_id", "tld", "lang"])
    # raw_line is not read downstream of the parse in this pipeline:
    # dropping it from the Arrow return stream saves ~half the transfer
    parsed = parse_lines_arrow(lines, spec, drop_cols=["raw_line"])
    enriched = enrich.enrich_all(parsed, spark)

    aggs = [F.count(F.lit(1)).alias("total_lines")]
    for s in sinks:
        aggs.append(F.sum(sink_column(s, spec).cast("long")).alias(s.name))
    aggs.append(F.sum(F.col("severity").cast("long")).alias("severity_sum"))

    t0 = time.time()
    row = enriched.agg(*aggs).collect()[0]
    dt = time.time() - t0
    return int(row["total_lines"]), dt, {s.name: int(row[s.name]) for s in sinks}


def run_bench() -> dict:
    import __spark_entry__ as E

    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    qtimes: dict[str, float] = {}
    headline = [
        "parse_metrics",
        "sink_counts",
        "level_histogram",
        "enriched_counts",
        "route_info_rows",
        "local_global_map",
        "search_first",
        "host_tally",
    ]
    qs = E.queries()
    # pre-warm python workers/JIT so the first query isn't charged for them
    pipeline_throughput(spark, 2000, CPUS)
    for name in headline:
        # best of 3, same noisy-host policy as the throughput legs
        # below; the callable REBUILDS the DataFrame each iteration, so
        # every timing executes the full plan (never a cached-shuffle
        # rerun — measurement trap #1)
        t_best = None
        for _ in range(3):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.count()
            dt = time.time() - t0
            t_best = dt if t_best is None else min(t_best, dt)
        qtimes[name] = round(t_best, 3)

    n_pages = int(
        os.environ.get(
            "SPARK_GRAFT_BENCH_PAGES", int(PAGES_PER_SF * max(_sf_of(SF_DIR), 0.01))
        )
    )
    # the environment is noisy (virtualized host): report best of 3
    best = None
    for _ in range(3):
        lines, dt, _ = pipeline_throughput(spark, n_pages, CPUS * 8)
        if best is None or dt < best[0]:
            best = (dt, lines)
    dt, lines = best
    qtimes["e2e_pipeline"] = round(dt, 3)

    # steady-state throughput: a long job (38M lines) amortizing the
    # constant driver work that dominates the short sf-scaled run
    steady_best = None
    for _ in range(3):
        s_lines, s_dt, _ = pipeline_throughput(spark, 1_200_000, CPUS * 8)
        if steady_best is None or s_dt < steady_best[0]:
            steady_best = (s_dt, s_lines)

    result = {
        "metric": "e2e_parse_enrich_route_agg",
        "value": round(dt, 3),
        "unit": "sec",
        "queries": qtimes,
        "sf": _sf_of(SF_DIR),
        "lines": lines,
        "rows_per_sec": int(lines / dt),
        "rows_per_sec_steady": int(steady_best[1] / steady_best[0]),
        "steady_lines": steady_best[1],
        "steady_sec": round(steady_best[0], 3),
        "cpus": CPUS,
        "n_pages": n_pages,
    }
    spark.stop()
    return result


if __name__ == "__main__":
    print(json.dumps(run_bench()))
