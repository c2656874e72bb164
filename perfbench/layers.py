"""The traced run: per-layer attribution of a workload's pass.

Each traced pass times one action per prefix stage (the plan cut after
sources, explode, parse, enrich, and the full pass); a layer's self time
is its prefix's time minus the previous prefix's. Spans wrap the public
layer functions; the Spark SQL metrics of the full pass are read from the
status store afterwards. Untraced passes run alternately with the traced
ones, so the tracing overhead is measured in the same run. Kernel tiers
are timed in process without Spark, and flagship_agg's 1->4 core
efficiency from one more pass on a local[1] session.
"""

from __future__ import annotations

import statistics
import time

from perfbench import trace as T
from perfbench import workloads as W

BATCH = 65_536
ORACLE_ROWS = 8_192
WARM_ROWS = 1_024
# Traced passes per run, whatever --seconds allows, so that the medians
# over them are not single samples.
MIN_TRACED = 2
LAYERS = ["sources", "explode", "parse", "enrich", "route_agg"]
WRITE_SPANS = {
    "write.route_checkpointed_s": {"plans.checkpoint.route_checkpointed"},
    "write.sink_hist_s": {"plans.checkpoint.read_routed",
                          "operators.aggregate.field_histogram",
                          "sources.sinks.write_sink"},
    "write.lineage_s": {"plans.checkpoint.lineage_metrics"},
}


def _targets():
    """(module, function) pairs wrapped in spans: each layer's public
    functions that the workloads and ``run_job`` call."""
    from logparser_spark.operators import aggregate as A
    from logparser_spark.plans import checkpoint as C
    from logparser_spark.plans import skew

    return [(W.S, "synth_pages"), (W.E, "page_host_cols"),
            (W.SK, "read_source"), (W.P, "explode_lines"),
            (W.P, "parse_lines"), (W.P, "parse_lines_arrow"),
            (W.E, "enrich_all"), (W.R, "sink_column"),
            (W.J, "run_job"), (skew, "skew_conf"),
            (C, "route_checkpointed"), (C, "read_routed"),
            (C, "lineage_metrics"), (A, "field_histogram"),
            (W.SK, "write_sink")]


def _rate(fn, batch, budget_s: float = 1.0, reps: int = 3) -> float:
    """rows/s of ``fn`` over ``batch``, after one call on a small slice (so
    lazy set-up is not timed): the median of up to ``reps`` calls, stopping
    once ``budget_s`` has been spent, so slow tiers are timed once."""
    fn(batch[:WARM_ROWS])
    times = []
    while len(times) < reps and sum(times) < budget_s:
        t0 = time.perf_counter()
        fn(batch)
        times.append(time.perf_counter() - t0)
    return len(batch) / statistics.median(times)


def kernel_rates(wl) -> dict:
    """Single-thread rows/s of each parse tier over an in-RAM batch of the
    workload's own lines."""
    import pandas as pd
    import pyarrow as pa

    from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
    from logparser_spark.functions.oracle import parse_line
    from logparser_spark.operators.walker_np import batch_walk_arrow

    lines = W.workload_lines(wl.start, BATCH)
    arr = pa.array(lines, pa.string())
    flat = W.P.make_arrow_parse_udf(compile_format(DEFAULT_FORMAT)).func
    nested = W.P.make_parse_udf(compile_format(W.NESTED_FORMAT)).func
    return {
        "flat": _rate(flat, arr),
        "nested": _rate(nested, pd.Series(lines)),
        "walker": _rate(lambda a: batch_walk_arrow(a, wl.spec), arr),
        "oracle": _rate(lambda xs: [parse_line(x, wl.spec) for x in xs],
                        lines[:ORACLE_ROWS]),
    }


def traced(spark, wl, seconds, loop, start_session, cores, work, scale):
    """Returns (metrics, tracer, spark); ``spark`` is the session left
    open. ``scale`` adds the 1->4 core efficiency."""
    tr = T.Tracer()
    status = T.SqlStatus(spark)
    base, stage_t, sql, write, gc = [], [], [], [], []

    def reference():
        """One untraced pass, with the JVM GC time it took."""
        g0 = T.gc_seconds(spark)
        r = loop.run(lambda: wl.run_pass(spark, work, cores))
        gc.append(T.gc_seconds(spark) - g0)
        if r:
            base.append(r[1])

    # The prefix plans are new to the JVM: run each once, untimed, so that
    # their generated code is as warm as the full pass's.
    for stage in W.STAGES[:-1]:
        wl.run_pass(spark, work, cores, stage)
    end = time.perf_counter() + seconds
    tries = 0
    while time.perf_counter() < end or (len(stage_t) < MIN_TRACED
                                        and tries < MIN_TRACED + 2):
        tries += 1
        reference()
        # traced pass: one span per prefix stage, one pass id
        tr.pass_id += 1
        times, ok = {}, True
        with tr.wrapping(_targets()), tr.span("pass"):
            for stage in W.STAGES:
                mark = status.mark() if stage == "full" else None
                with tr.span(f"stage.{stage}") as sp:
                    run = lambda: wl.run_pass(spark, work, cores, stage)  # noqa: E731
                    res = loop.run(run) if stage == "full" else run()[:2]
                # the pass's own time: it leaves out the count check
                times[stage] = res[1] if res else 0.0
                ok = ok and bool(res)
        if not ok:
            continue
        sql.append(status.since(mark))
        stage_t.append(times)
        write.append(_write_spans(tr, sp))
    reference()  # so untraced passes bracket the traced ones
    if not base or not stage_t:
        raise SystemExit("perfbench: no traced pass succeeded")
    lines = wl.expected["lines"]

    med = statistics.median
    t4 = med(base)
    selfs = {}
    prev = "sources"
    selfs["sources"] = med([t["sources"] for t in stage_t])
    for layer, stage in zip(LAYERS[1:], W.STAGES[1:]):
        selfs[layer] = med([t[stage] - t[prev] for t in stage_t])
        prev = stage
    q = {k: med([s[k] for s in sql]) for k in sql[0]}
    m = {f"{layer}.self_s": (selfs[layer], "s") for layer in LAYERS}
    m["layers.sum_over_pass"] = (sum(selfs.values()) / t4, "ratio")
    m["trace.rows_per_s"] = (lines / med([t["full"] for t in stage_t]), "1/s")
    m["trace.untraced_rows_per_s"] = (lines / t4, "1/s")
    m.update({
        "arrow.python_total_s": (q["python_total_s"], "s"),
        "arrow.boot_s": (q["python_boot_s"], "s"),
        "arrow.init_s": (q["python_init_s"], "s"),
        "arrow.bytes_sent_per_row": (q["python_bytes_sent"] / lines, "B/row"),
        "arrow.bytes_received_per_row": (q["python_bytes_received"] / lines, "B/row"),
        "arrow.parse_evals_per_row": (q["python_rows"] / lines, "ratio"),
        "enrich.broadcast_collect_s": (q["broadcast_collect_s"], "s"),
        "agg.time_s": (q["agg_s"], "s"),
        "shuffle.write_s": (q["shuffle_write_s"], "s"),
        "codegen.pipeline_s": (q["codegen_s"], "s"),
        "jobs_per_pass": (q["jobs"], "count"),
        "tasks.max_over_median": (q["task_skew"], "ratio"),
        "jvm.gc_s": (med(gc), "s"),
        "write.executions_per_pass": (q["executions"], "count"),
        "write.cache_scans": (q["cache_scans"], "count"),
        "write.parse_evals_per_row": (q["python_rows"] / lines, "ratio"),
        "write.bytes_out_per_row": (q["bytes_out"] / lines, "B/row"),
        "write.files_out": (q["files_out"], "count"),
        "write.task_commit_s": (q["task_commit_s"], "s"),
        "write.job_commit_s": (q["job_commit_s"], "s"),
        "source.scan_s": (q["scan_s"], "s"),
    })
    for name in list(WRITE_SPANS) + ["write.spans_over_pass"]:
        m[name] = (med([w[name] for w in write]),
                   "ratio" if name.endswith("over_pass") else "s")

    k = kernel_rates(wl)
    for tier, rps in k.items():
        m[f"kernel.{tier}_rows_per_s"] = (rps, "1/s")
    tier = "flat" if wl.spec.to_fast_regex() is not None else "nested"
    m["kernel.share_of_parse"] = (
        (lines / k[tier]) / (selfs["parse"] * cores), "ratio")

    # 1 -> 4 core efficiency: the same pass on a local[1] session. Only
    # asked of flagship_agg; the other workloads report 0 and save the
    # two single-core passes.
    m["scale.eff_1to4"] = (0.0, "ratio")
    if scale:
        spark.stop()
        spark = start_session(1)
        loop.run(lambda: wl.run_pass(spark, work, cores))  # warm the workers
        r = loop.run(lambda: wl.run_pass(spark, work, cores))
        if r:
            m["scale.eff_1to4"] = (r[1] / (cores * t4), "ratio")
    return m, tr, spark


def _write_spans(tr, full_stage) -> dict:
    """Writer span totals inside the full stage and their sum over the
    run_job span (0 when the workload does not call run_job)."""
    out = {name: tr.total(full_stage, names) for name, names in WRITE_SPANS.items()}
    job = [c for c in tr.children(full_stage) if c[2] == "plans.job.run_job"]
    if job:
        covered = sum(tr.duration(c) for c in tr.children(job[0]))
        out["write.spans_over_pass"] = covered / tr.duration(job[0])
    else:
        out["write.spans_over_pass"] = 0.0
    return out
