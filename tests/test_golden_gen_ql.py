"""QL twins of the machine-generated golden inputs — the other half of the
verbatim replay (``test_golden_gen_verbatim.py``).

The reference ships every ``gen_*`` case in TWO forms: the protobuf-JSON
``.yaml`` request and a ``.ql`` BydbQL text, and its conformance runner
asserts the transformed QL equals the YAML request and executes both
(``test/cases/measure/data/data.go:152-216`` verifyQLWithRequest; WantErr
cases skip the QL verification, which this suite mirrors). Here each
``.ql`` file is read from disk verbatim — same twin catalog, zero
renaming — with ONE mechanical substitution: the relative ``TIME >
'-15m'`` clause becomes the absolute ``TIME BETWEEN`` range the YAML path
injects (the reference harness likewise re-anchors case time windows at
run time). Both front ends compile through this engine and must produce
identical row sets.

Error twins: for the YAML-WantErr cases the reference skips QL; here the
``.ql`` text is additionally asserted to fail loudly (syntax or analyze)
rather than silently succeed — e.g. ``layer MATCH 1`` (unparenthesized
MATCH operand) is a BydbQL syntax error, entity-op violations raise at
analyze time.
"""

from __future__ import annotations

import datetime as dt
import re

import pytest

from skywalking_banyandb_spark.bydbql.transformer import execute
from skywalking_banyandb_spark.errors import QueryAnalyzeError
from skywalking_banyandb_spark.plans.measure import compile_measure
from skywalking_banyandb_spark.plans.stream import compile_stream
from skywalking_banyandb_spark.plans.trace import compile_trace
from skywalking_banyandb_spark.request_loader import (
    load_measure_request,
    load_stream_request,
    load_trace_request,
)

from conftest import HAVE_REFERENCE, REFERENCE_CASES, REFERENCE_MISSING

if not HAVE_REFERENCE:
    pytest.skip(REFERENCE_MISSING, allow_module_level=True)

from test_golden_gen_verbatim import (  # noqa: E402
    MEASURE_CASES,
    MEASURE_ERR,
    STREAM_CASES,
    STREAM_ERR,
    T0,
    T1,
    TRACE_CASES,
    TRACE_ERR,
    _load_case,
    twin_catalog,
)
from conftest import SF_SMALL  # noqa: E402

_NOW = dt.datetime(2024, 2, 1)
_TIME_RE = re.compile(r"TIME\s*(?:>|>=)\s*'-[^']*'", re.IGNORECASE)
_TIME_ABS = f"TIME BETWEEN '{T0}Z' AND '{T1}Z'"


@pytest.fixture(scope="module")
def cat():
    return twin_catalog(SF_SMALL)


def _read_ql(kind: str, name: str) -> str:
    with open(f"{REFERENCE_CASES}/{kind}/data/input/{name}.ql") as fh:
        text = " ".join(
            ln.strip() for ln in fh
            if ln.strip() and not ln.lstrip().startswith("#")
        )
    out, n = _TIME_RE.subn(_TIME_ABS, text)
    assert n == 1, f"{name}: expected one relative TIME clause in {text!r}"
    return out


def _rows(df, cols):
    return sorted(
        tuple((v is None, str(v)) for v in (r[c] for c in cols))
        for r in df.collect()
    )


def _assert_same(yaml_df, ql_df, drop=("spans",)):
    common = sorted(
        (set(yaml_df.columns) & set(ql_df.columns)) - set(drop))
    assert common, (yaml_df.columns, ql_df.columns)
    a, b = _rows(yaml_df, common), _rows(ql_df, common)
    assert a == b, f"cols={common}\nyaml={a[:4]}\nql={b[:4]}"


# WantErr cases whose QL twin is nevertheless LEGAL: the scalar-IN error
# is unexpressible in BydbQL (``IN ('svc1')`` is a one-element list), so
# the reference generator emitted a well-formed query there. Pinned to
# execute cleanly rather than silently asserted to fail.
_QL_LEGAL_ERR = {("measure", "gen_err_in_scalar")}


def _check(spark, cat, kind, case, ext, loader, compiler, err_names):
    ql = _read_ql(kind, case)
    if case in err_names:
        if (kind, case) in _QL_LEGAL_ERR:
            execute(spark, cat, ql, now=_NOW).collect()
            return
        # reference skips QL for WantErr; we additionally pin that the QL
        # twin errs too (never a silent wrong-answer success)
        with pytest.raises(QueryAnalyzeError):
            execute(spark, cat, ql, now=_NOW).collect()
        return
    q = loader(_load_case(kind, case, ext))
    yaml_df = compiler(spark, cat, q)
    ql_df = execute(spark, cat, ql, now=_NOW)
    _assert_same(yaml_df, ql_df)


@pytest.mark.parametrize("case", MEASURE_CASES)
def test_gen_measure_ql_differential(spark, cat, case):
    _check(spark, cat, "measure", case, "yaml",
           load_measure_request, compile_measure, MEASURE_ERR)


@pytest.mark.parametrize("case", STREAM_CASES)
def test_gen_stream_ql_differential(spark, cat, case):
    _check(spark, cat, "stream", case, "yaml",
           load_stream_request, compile_stream, STREAM_ERR)


@pytest.mark.parametrize("case", TRACE_CASES)
def test_gen_trace_ql_differential(spark, cat, case):
    _check(spark, cat, "trace", case, "yml",
           load_trace_request, compile_trace, TRACE_ERR)
