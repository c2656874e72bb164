"""The three benchmark workloads and their exact expected counts.

Every workload is driven as a closed loop by one client: a pass starts
only after the previous one has finished and been checked. The seed picks
the key-range offset handed to ``synth_pages(start=)``; the program only
ever sees the generated pages.

Layer functions are called through their modules (``P.explode_lines``,
not a bound name) so that the traced run can wrap them from outside.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import Counter

from logparser_spark.functions import oracle
from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
from logparser_spark.operators import enrich as E
from logparser_spark.operators import parse as P
from logparser_spark.operators import route as R
from logparser_spark.plans import job as J
from logparser_spark.sources import pages as S
from logparser_spark.sources import sinks as SK
from logparser_spark.sources.corpus import GOLDEN_LINES

# A DBL field has no flat fast regex, so this spec takes the pandas
# nested tier instead of the Arrow flat kernel.
NESTED_FORMAT = (
    "{DBL:Date} {INT:Time} {STR:Level} :{CHR:,.,1}{STR:Source}: {STR:Mesg}"
)
# The stage cut after each layer; "full" is the workload's own pass.
STAGES = ["sources", "explode", "parse", "enrich", "full"]
SEVERITY = {level: sev for level, sev, _ in E.STATUS_DIM}


def key_offset(seed: int) -> int:
    """Seed -> first page key. Page content depends only on key % 62,
    host/lang/tld on small moduli, so any offset gives a valid input."""
    return random.Random(seed).randrange(1 << 30)


def page_lines(key: int) -> list[str]:
    """The lines ``explode_lines`` yields for page ``key`` (see
    ``sources/pages.py``: n_lines = key % 62 + 1, line j is golden line
    (7 * key + j) % 62)."""
    text = "\n".join(
        GOLDEN_LINES[(key * 7 + j) % 62] for j in range(key % 62 + 1)
    )
    return oracle.split_lines(text)


def _residue_counts(spec, sinks) -> list[Counter]:
    """Oracle counts for one page of each residue class key % 62."""
    level = spec.column_names().index("Level")
    out = []
    for r in range(62):
        c = Counter()
        for j, raw in enumerate(page_lines(r)):
            vals, wf = oracle.parse_line(raw, spec)
            line = oracle.OracleLine(raw, j, vals, wf)
            c["lines"] += 1
            c["well_formed"] += int(wf)
            c["severity"] += SEVERITY.get(vals[level], 0)
            for s in sinks:
                c[s.name] += int(
                    oracle.accepts(s.ast(spec), line, spec, s.accept_bad_format)
                )
        out.append(c)
    return out


def expected_counts(spec, sinks, start: int, n_pages: int) -> dict:
    """Exact totals over keys [start, start + n_pages)."""
    per = _residue_counts(spec, sinks)
    total = Counter()
    full, rest = divmod(n_pages, 62)
    for r in range(62):
        pages = full + (1 if (r - start) % 62 < rest else 0)
        for k, v in per[r].items():
            total[k] += pages * v
    return dict(total)


def workload_lines(start: int, n: int) -> list[str]:
    """The first ``n`` lines of the workload's input, in page order."""
    out: list[str] = []
    key = start
    while len(out) < n:
        out.extend(page_lines(key))
        key += 1
    return out[:n]


class AggWorkload:
    """synth_pages -> page_host_cols -> explode_lines -> parse -> enrich_all
    -> the 7 fixture sink masks, a line count, the well-formed count and
    the severity sum, all in one ``agg`` action."""

    def __init__(self, fmt: str, n_pages: int, arrow: bool):
        self.spec = compile_format(fmt)
        self.n_pages = n_pages
        self.arrow = arrow
        self.sinks = R.fixture_sinks()
        self.start = 0
        self.expected: dict = {}

    def setup(self, spark, work: str, start: int) -> None:
        self.start = start
        self.expected = expected_counts(self.spec, self.sinks, start, self.n_pages)

    def stage_frame(self, spark, stage: str, parts: int):
        from pyspark.sql import functions as F

        pages = E.page_host_cols(S.synth_pages(spark, self.n_pages, parts,
                                               start=self.start))
        if stage == "sources":
            return pages.agg(F.sum(F.length("text") + F.length("tld")
                                   + F.length("lang") + F.col("doc_id")))
        lines = P.explode_lines(pages, keep_cols=["doc_id", "tld", "lang"])
        if stage == "explode":
            return lines.agg(F.sum(F.length("raw_line") + F.col("line_no")))
        if self.arrow:
            parsed = P.parse_lines_arrow(lines, self.spec, drop_cols=["raw_line"])
        else:
            parsed = P.parse_lines(lines, self.spec)
        if stage == "parse":
            return parsed.agg(F.sum(F.col("parsed.well_formed").cast("long")))
        enriched = E.enrich_all(parsed, spark)
        if stage == "enrich":
            return enriched.agg(F.sum("severity"), F.count("lang_name"),
                                F.count("region"))
        aggs = [F.count(F.lit(1)).alias("lines"),
                F.sum(F.col("parsed.well_formed").cast("long")).alias("well_formed"),
                F.sum(F.col("severity").cast("long")).alias("severity")]
        aggs += [F.sum(R.sink_column(s, self.spec).cast("long")).alias(s.name)
                 for s in self.sinks]
        return enriched.agg(*aggs)

    def run_pass(self, spark, work: str, parts: int, stage: str = "full"):
        """One pass (or one prefix stage). Returns (lines, seconds, ok)."""
        t0 = time.perf_counter()
        row = self.stage_frame(spark, stage, parts).collect()[0]
        dt = time.perf_counter() - t0
        if stage != "full":
            return self.expected["lines"], dt, True
        got = {k: int(row[k] or 0) for k in self.expected}
        return got["lines"], dt, got == self.expected


class RouteWriteWorkload:
    """Setup writes the seed's pages to parquet; each pass runs
    ``plans.job.run_job`` with the checkpoint route strategy into a fresh
    output directory, which is checked and deleted outside the timing."""

    BUCKETS = 4

    def __init__(self, n_pages: int):
        self.spec = compile_format(DEFAULT_FORMAT)
        self.n_pages = n_pages
        self.sinks = R.fixture_sinks()
        self.start = 0
        self.expected: dict = {}
        self.input = ""
        self.out = ""
        self.n_out = 0

    def setup(self, spark, work: str, start: int) -> None:
        self.start = start
        self.expected = expected_counts(self.spec, self.sinks, start, self.n_pages)
        self.input = os.path.join(work, "input")
        self.out = os.path.join(work, "out")
        shutil.rmtree(self.input, ignore_errors=True)
        S.synth_pages(spark, self.n_pages, None, start=start).write.parquet(
            self.input)

    def config(self, out: str):
        return J.JobConfig(input=f"parquet:{self.input}", output=out,
                           sinks=self.sinks, route_strategy="checkpoint",
                           buckets=self.BUCKETS)

    def stage_frame(self, spark, stage: str):
        """run_job's own plan, cut after ``stage`` (not ``full``)."""
        from pyspark.sql import functions as F

        pages = SK.read_source(spark, SK.SinkTarget.parse(f"parquet:{self.input}"))
        if stage == "sources":
            return pages.agg(F.sum(F.length("text") + F.length("url")
                                   + F.length("lang") + F.col("doc_id")))
        lines = P.explode_lines(pages, keep_cols=["doc_id", "url", "lang"])
        if stage == "explode":
            return lines.agg(F.sum(F.length("raw_line") + F.col("line_no")))
        parsed = P.parse_lines(lines, self.spec)
        if stage == "parse":
            return parsed.agg(F.sum(F.col("parsed.well_formed").cast("long")))
        return E.enrich_all(parsed, spark).agg(
            F.sum("severity"), F.count("lang_name"), F.count("region"))

    def run_pass(self, spark, work: str, parts: int, stage: str = "full"):
        if stage != "full":
            t0 = time.perf_counter()
            self.stage_frame(spark, stage).collect()
            return self.expected["lines"], time.perf_counter() - t0, True
        out = f"{self.out}/pass_{self.n_out}"
        self.n_out += 1
        t0 = time.perf_counter()
        metrics = J.run_job(spark, self.config(out))
        dt = time.perf_counter() - t0
        ok = self.check(out, metrics)
        shutil.rmtree(out, ignore_errors=True)
        return metrics["rows"], dt, ok

    def check(self, out: str, metrics: dict) -> bool:
        exp = self.expected
        got = {"buckets": metrics["buckets"], "lines": metrics["rows"],
               "well_formed": metrics["well_formed_rows"]}
        got.update({s.name: parquet_rows(os.path.join(out, s.name))
                    for s in self.sinks})
        want = {"buckets": self.BUCKETS, "lines": exp["lines"],
                "well_formed": exp["well_formed"]}
        want.update({s.name: exp[s.name] for s in self.sinks})
        return got == want


def parquet_rows(path: str) -> int:
    """Rows in every parquet part file under ``path``, from the footers
    (read with pyarrow, so the check does not go through Spark)."""
    import pyarrow.parquet as pq

    n = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(dirpath, fn)).metadata.num_rows
    return n


def make(name: str):
    if name == "flagship_agg":
        return AggWorkload(DEFAULT_FORMAT, FLAGSHIP_PAGES, arrow=True)
    if name == "nested_spec":
        return AggWorkload(NESTED_FORMAT, NESTED_PAGES, arrow=False)
    if name == "route_write":
        return RouteWriteWorkload(ROUTE_PAGES)
    raise SystemExit(f"unknown workload {name!r}")


# Input sizes in pages (a page averages 31.5 lines), chosen so that a run
# with its set-up and a 20 s window stays near a minute on a 4-core box.
# nested_spec reads the same input as flagship_agg, so that only the parse
# tier differs. route_write's pass is mostly fixed per-job cost at any
# size.
FLAGSHIP_PAGES = 20_000
NESTED_PAGES = FLAGSHIP_PAGES
ROUTE_PAGES = 2_000
