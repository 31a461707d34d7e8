"""QL twins of the NAMED conformance inputs — completes the byte-level
replay of the reference's query input corpus (289 ``.ql`` files total:
123 gen twins in ``test_golden_gen_ql.py`` + the 166 named twins here).

Same contract as the gen QL suite: each ``.ql`` file is read from disk
verbatim against the twin catalog, with the relative ``TIME`` clause
re-anchored to the absolute window the YAML path injects, and must
produce the same rows as the YAML form. The five ``params_bind.ql``
files carry a ``#!params:`` JSON line (protobuf TagValue list — the
reference's ``helpers.ExtractQL`` contract); those replay through the
positional binder (``bydbql/binder.prepare(...).bind(...)``), with the
relative-time parameter re-anchored the same way (the TIME ``?`` is
dropped and the clause inlined, since the YAML twin uses the absolute
window).

WantErr twins are pinned to fail loudly, mirroring the gen suite; the
reference itself skips QL verification for WantErr
(``data.go verifyQLWithRequest``).
"""

from __future__ import annotations

import datetime as dt
import re

import pytest

from skywalking_banyandb_spark.bydbql.binder import execute_prepared
from skywalking_banyandb_spark.errors import QueryAnalyzeError
from skywalking_banyandb_spark.plans.measure import compile_measure
from skywalking_banyandb_spark.plans.property import compile_property
from skywalking_banyandb_spark.plans.stream import compile_stream
from skywalking_banyandb_spark.plans.topn import compile_topn
from skywalking_banyandb_spark.plans.trace import compile_trace
from skywalking_banyandb_spark.request_loader import (
    _tag_value,
    load_measure_request,
    load_property_request,
    load_stream_request,
    load_topn_request,
    load_trace_request,
)

from conftest import HAVE_REFERENCE, REFERENCE_CASES, REFERENCE_MISSING

if not HAVE_REFERENCE:
    pytest.skip(REFERENCE_MISSING, allow_module_level=True)

from test_golden_gen_ql import _TIME_ABS, _assert_same  # noqa: E402
from test_golden_gen_verbatim import _load_case, twin_catalog  # noqa: E402
from test_golden_named_verbatim import (  # noqa: E402
    MEASURE_CASES,
    MEASURE_ERR,
    PROPERTY_CASES,
    STREAM_CASES,
    STREAM_ERR,
    TOPN_CASES,
    TRACE_CASES,
    TRACE_ERR,
)
from conftest import SF_SMALL  # noqa: E402

_NOW = dt.datetime(2024, 2, 1)
_TIME_RE = re.compile(r"TIME\s*(?:>|>=)\s*('-[^']*'|\?)", re.IGNORECASE)

# named cases whose .ql twin does not exist (the reference could not or
# did not express them in QL)
_NO_QL = {("measure", "err_invalid_le"), ("trace", "err_in_arr")}


@pytest.fixture(scope="module")
def cat():
    return twin_catalog(SF_SMALL)


def _read_named_ql(kind: str, name: str):
    """Returns (ql_text with absolute TIME, params list)."""
    params = []
    lines = []
    with open(f"{REFERENCE_CASES}/{kind}/data/input/{name}.ql") as fh:
        for ln in fh:
            if ln.startswith("#!params:"):
                import json

                params = [
                    _tag_value(v)
                    for v in json.loads(ln[len("#!params:"):].strip())
                ]
            elif ln.strip() and not ln.lstrip().startswith("#"):
                lines.append(ln.strip())
    text = " ".join(lines)
    m = _TIME_RE.search(text)
    if m is None:   # properties are timeless documents — no TIME clause
        return text, params
    if m.group(1) == "?":
        # drop the positional param the TIME ? would consume
        idx = text[: m.start()].count("?")
        assert isinstance(params[idx], str) and params[idx].startswith("-")
        params = params[:idx] + params[idx + 1:]
    text = text[: m.start()] + _TIME_ABS + text[m.end():]
    return text, params


def _check(spark, cat, kind, case, ext, loader, compiler, err_names,
           drop=("spans",)):
    if (kind, case) in _NO_QL:
        pytest.skip("reference ships no QL twin for this case")
    ql, params = _read_named_ql(kind, case)
    if case in err_names:
        with pytest.raises(QueryAnalyzeError):
            execute_prepared(spark, cat, ql, params, now=_NOW).collect()
        return
    doc = _load_case(kind, case, ext)
    if kind == "property":
        doc.pop("timeRange", None)
    q = loader(doc)
    yaml_df = compiler(spark, cat, q)
    ql_df = execute_prepared(spark, cat, ql, params, now=_NOW)
    _assert_same(yaml_df, ql_df, drop=drop)


@pytest.mark.parametrize("case", MEASURE_CASES)
def test_named_measure_ql(spark, cat, case):
    _check(spark, cat, "measure", case, "yaml",
           load_measure_request, compile_measure, MEASURE_ERR)


@pytest.mark.parametrize("case", STREAM_CASES)
def test_named_stream_ql(spark, cat, case):
    _check(spark, cat, "stream", case, "yaml",
           load_stream_request, compile_stream, STREAM_ERR)


@pytest.mark.parametrize("case", TRACE_CASES)
def test_named_trace_ql(spark, cat, case):
    _check(spark, cat, "trace", case, "yml",
           load_trace_request, compile_trace, TRACE_ERR)


@pytest.mark.parametrize("case", TOPN_CASES)
def test_named_topn_ql(spark, cat, case):
    _check(spark, cat, "topn", case, "yaml",
           load_topn_request, compile_topn, set())


@pytest.mark.parametrize("case", PROPERTY_CASES)
def test_named_property_ql(spark, cat, case):
    _check(spark, cat, "property", case, "yaml",
           load_property_request, compile_property, set())
