"""logparser_spark benchmark: one closed-loop client, one process, local[4].

    python3 perfbench/run.py --workload flagship_agg --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See perfbench/README.md for what each workload and metric means.
"""

import time

T_PROCESS = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(OUT, "work")
CORES = min(4, len(os.sched_getaffinity(0)))
# Fixed heap (-Xms = -Xmx), sized for a 15 GB box shared with others, and
# touched at start so that peak memory does not depend on how much of it
# the collector happened to use.
HEAP = "1g"
# Set-up (input build + one full-size checked pass) is repeated this many
# times; setup_s reports the session start plus the median round, which
# for two rounds weighs the cold first round by half. A third round would
# cost the time that the timed window needs to be steady.
SETUP_ROUNDS = 2
# BENCHMARK.json gates flagship_agg and route_write. nested_spec runs the
# same way but is left out there: at a window long enough to be steady, a
# comparison of two commits over three workloads does not fit in an hour.
WORKLOADS = ["flagship_agg", "nested_spec", "route_write"]


def prepare_env() -> None:
    if not os.path.isdir(os.path.join(ROOT, "logparser_spark")):
        sys.exit("perfbench: no logparser_spark package next to perfbench/")
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    # Spark, the JVM and the Python workers keep every scratch file here.
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["PYTHONPATH"] = ROOT
    sys.path.insert(0, ROOT)


def start_session(cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:ActiveProcessorCount={CORES} "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(WORK, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, the JVM and every process they started, and wait."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for _ in range(100):
        if not descendants(os.getpid()):
            break
        time.sleep(0.1)


class Loop:
    """Closed-loop pass accounting: operations attempted and failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, fn):
        """One checked operation. Returns (lines, seconds) or None."""
        self.attempted += 1
        try:
            lines, dt, ok = fn()
        except Exception:  # a pass that raises is a failed operation
            print("perfbench: pass failed:", file=sys.stderr)
            traceback.print_exc()
            self.failed += 1
            return None
        if not ok:
            print("perfbench: pass counts mismatch", file=sys.stderr)
            self.failed += 1
            return None
        print(f"perfbench: pass {lines} lines {dt:.3f}s", file=sys.stderr)
        return lines, dt


def setup(spark, wl, start: int) -> list[float]:
    rounds = []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        wl.setup(spark, WORK, start)
        _lines, _dt, ok = wl.run_pass(spark, WORK, CORES)
        if not ok:
            sys.exit("perfbench: warm-up pass gave wrong counts")
        rounds.append(time.perf_counter() - t0)
    return rounds


def untraced(spark, wl, seconds: float, loop: Loop) -> dict:
    rates = []
    end = time.perf_counter() + seconds
    while not rates or time.perf_counter() < end:
        r = loop.run(lambda: wl.run_pass(spark, WORK, CORES))
        if r:
            rates.append(r[0] / r[1])
        elif time.perf_counter() >= end:
            break
    return {"rows_per_s": (statistics.median(rates) if rates else 0.0, "1/s")}


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    prepare_env()
    from perfbench import trace as T
    from perfbench import workloads as W

    rss = T.PeakRss()
    rss.start()
    wl = W.make(args.workload)
    start = W.key_offset(args.seed)
    loop = Loop()
    spark = start_session(CORES)
    try:
        session_s = time.perf_counter() - T_PROCESS
        rounds = setup(spark, wl, start)
        if args.trace:
            from perfbench.layers import traced

            metrics, tracer, spark = traced(
                spark, wl, args.seconds, loop, start_session, CORES, WORK,
                scale=args.workload == "flagship_agg")
            metrics["setup.session_s"] = (session_s, "s")
            metrics["setup.cold_round_s"] = (rounds[0], "s")
            os.makedirs(OUT, exist_ok=True)
            tracer.dump(os.path.join(
                OUT, f"spans_{args.workload}_seed{args.seed}.jsonl"))
        else:
            metrics = untraced(spark, wl, args.seconds, loop)
            metrics["setup_s"] = (session_s + statistics.median(rounds), "s")
            metrics["peak_rss_mb"] = (rss.peak_mb(), "MB")
    finally:
        rss.stop()
        shutdown(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(f"perfbench: session {session_s:.2f}s rounds "
          f"{[round(r, 2) for r in rounds]} total "
          f"{time.perf_counter() - T_PROCESS:.2f}s", file=sys.stderr)
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
