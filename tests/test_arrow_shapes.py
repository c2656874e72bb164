"""Input-shape robustness of the Arrow parse kernel: every Arrow string
shape Spark can hand the UDF must give the oracle's answer.

Spark sends ``large_string`` (int64 offsets) instead of ``string`` when
``spark.sql.execution.arrow.useLargeVarTypes=true``, and a batch may be a
slice (offset != 0) of a larger array. The kernels read offsets as
int32, so both entry points (``_batch_parse_arrow``, ``batch_walk_arrow``)
normalise their input first."""

from __future__ import annotations

import pyarrow as pa
import pytest

from logparser_spark.functions.formats import DEFAULT_FORMAT, compile_format
from logparser_spark.functions.oracle import parse_line
from logparser_spark.operators import parse as P
from logparser_spark.operators.walker_np import batch_walk_arrow
from logparser_spark.sources.corpus import GOLDEN_LINES

LINES = list(GOLDEN_LINES) + [None]

# DEFAULT_FORMAT runs the split plan; the NCHAR spec runs extract_regex
# and sends most golden lines to the walker
SPECS = [DEFAULT_FORMAT, "{STR:A,4}:{CHR:,-,1}{INT:N}"]


def _shape(kind: str) -> pa.Array:
    if kind == "string":
        return pa.array(LINES, pa.string())
    if kind == "large_string":
        return pa.array(LINES, pa.large_string())
    pad = ["pad 1 X :.a: b"] * 3
    typ = pa.large_string() if kind == "sliced_large" else pa.string()
    arr = pa.array(pad + LINES + pad, typ).slice(len(pad), len(LINES))
    assert arr.offset == len(pad)
    return arr


def _want(spec):
    out = []
    for line in LINES:
        if line is None:
            out.append(([None] * len(spec.column_names()), False))
        else:
            vals, wf = parse_line(line, spec)
            out.append((list(vals), wf))
    return out


def _rows(outs, wf):
    cols = [o.to_pylist() for o in outs]
    return [([c[r] for c in cols], w) for r, w in enumerate(wf.to_pylist())]


@pytest.mark.parametrize(
    "kind", ["string", "large_string", "sliced", "sliced_large"]
)
@pytest.mark.parametrize("fmt", SPECS, ids=["default", "nchar"])
def test_kernel_input_shapes_match_oracle(fmt, kind):
    spec = compile_format(fmt)
    arr = _shape(kind)
    want = _want(spec)
    rx, unset_suffix = P._fast_plan(spec)
    got = _rows(*P._batch_parse_arrow(arr, spec, rx, unset_suffix))
    walked = _rows(*batch_walk_arrow(arr, spec))
    for line, g, w, e in zip(LINES, got, walked, want):
        assert g == e, (kind, line)
        assert w == e, (kind, line)


def test_large_var_types_spark_parse_matches_oracle(spark):
    """A real parse job with ``useLargeVarTypes=true`` (the setting fat
    text columns need) gives the oracle's answer row for row."""
    from logparser_spark.operators.parse import parse_lines_arrow

    spec = compile_format(DEFAULT_FORMAT)
    cols = spec.column_names()
    df = spark.createDataFrame(
        list(enumerate(LINES)), "rid LONG, raw_line STRING"
    )
    key = "spark.sql.execution.arrow.useLargeVarTypes"
    spark.conf.set(key, "true")
    try:
        rows = parse_lines_arrow(df, spec).collect()
    finally:
        spark.conf.unset(key)
    assert len(rows) == len(LINES)
    want = _want(spec)
    for r in rows:
        p = r["parsed"]
        assert ([p[c] for c in cols], p["well_formed"]) == want[r["rid"]], (
            r["raw_line"]
        )
    assert sum(r["parsed"]["well_formed"] for r in rows) == 58
