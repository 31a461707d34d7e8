"""VERBATIM replay of the reference's machine-generated golden inputs —
every ``gen_*`` file under ``test/cases/{measure,stream,trace}/data/input``
is read from disk (``yaml.safe_load`` of the original bytes) and replayed
through ``request_loader`` -> plan compiler -> dual execution vs DuckDB.

Unlike the named-case replays (``test_golden_corpus*.py``), which
mechanically TRANSLATE each request onto the synthetic catalog, this suite
performs ZERO translation: group names (``sw_metric`` / ``index_mode`` /
``default`` / ``updated`` / ``test-trace-group``), resource names
(``service_cpm_minute`` / ``service_traffic`` / ``service_instance_traffic``
/ ``sw``), tag names, operators, and operand VALUES are the reference's
bytes. Two things make that possible:

1. A TWIN CATALOG registers the reference schemas verbatim
   (``pkg/test/{measure,stream,trace}/testdata``: tag lists, entity tags,
   index-rule analyzers) with every tag a DERIVED column
   (``TagSpec.expr`` / ``FieldSpec.expr``) over the synthetic events
   table, value domains chosen so the corpus's operands discriminate
   (``webapp_id``, ``trace_001``, ``entity_2``, ``svc1``, ``state`` 0/1,
   ``duration`` thresholds 30..1000 all hit real rows).
2. A concrete ``timeRange`` is injected — the reference harness supplies
   one at run time as well (``test/cases/*/...go`` ``helpers.Args``).

Verify semantics per the reference registrations
(``test/cases/{measure/measure.go,stream/stream.go,trace/trace.go}``):
``gen_err_*`` => analyze-time error (entity-tag op restriction on the
stream ``sw`` entity (service_id, service_instance_id, state) —
``layer1_leaf.go:137-151``; MATCH on unanalyzed/INT tags; IN with a
scalar operand); everything else dual-executes against a DuckDB twin
built from the same derived-column expressions.

Protobuf-JSON fidelity exercised verbatim here (request_loader._tag_value):
int64 operands as JSON strings (``int: {value: "1000"}``) and proto3
defaults for empty messages (``int: {}`` == 0, NOT null).
"""

from __future__ import annotations

import glob
import os

import duckdb
import pytest
import yaml

from skywalking_banyandb_spark.errors import QueryAnalyzeError
from skywalking_banyandb_spark.functions.analyzers import analyze_term, tokens_sql
from skywalking_banyandb_spark.model import (
    AggFunc,
    BinaryOp,
    Condition,
    LogicalOp,
    Sort,
)
from skywalking_banyandb_spark.plans.measure import compile_measure
from skywalking_banyandb_spark.plans.stream import compile_stream
from skywalking_banyandb_spark.plans.trace import compile_trace
from skywalking_banyandb_spark.request_loader import (
    load_measure_request,
    load_stream_request,
    load_trace_request,
)

from conftest import HAVE_REFERENCE, REFERENCE_CASES, REFERENCE_MISSING, SF_SMALL

if not HAVE_REFERENCE:
    pytest.skip(REFERENCE_MISSING, allow_module_level=True)

from test_golden_corpus import T0, T1, _run_dual  # noqa: E402

T0S, T1S = T0.replace("T", " "), T1.replace("T", " ")

# ---------------------------------------------------------------------------
# Twin catalog + oracle views live in tests/twin_catalog.py (shared with
# the named-case verbatim suite and the QL differential).
# ---------------------------------------------------------------------------

from twin_catalog import (  # noqa: E402
    CPM_TAGS as _CPM_TAGS,
    SIT_TAGS as _SIT_TAGS,
    STREAM_TAGS as _STREAM_TAGS,
    TRACE_TAGS as _TRACE_TAGS,
    TRAFFIC_TAGS as _TRAFFIC_TAGS,
    build_views,
    twin_catalog,
)


@pytest.fixture(scope="module")
def env(spark):
    con = duckdb.connect()
    build_views(con, SF_SMALL)
    return spark, twin_catalog(SF_SMALL), con


# ---------------------------------------------------------------------------
# Case discovery + loading (the reference bytes; comments drop in safe_load)
# ---------------------------------------------------------------------------

def _cases(kind: str, ext: str) -> list:
    return sorted(
        os.path.basename(p)[: -(len(ext) + 1)]
        for p in glob.glob(f"{REFERENCE_CASES}/{kind}/data/input/gen_*.{ext}")
    )


MEASURE_CASES = _cases("measure", "yaml")
STREAM_CASES = _cases("stream", "yaml")
TRACE_CASES = _cases("trace", "yml")

MEASURE_ERR = {"gen_err_in_scalar", "gen_err_match_int"}
STREAM_ERR = {c for c in STREAM_CASES if c.startswith("gen_err_")}
TRACE_ERR = {"gen_err_match_sw"}


def _load_case(kind: str, name: str, ext: str) -> dict:
    with open(f"{REFERENCE_CASES}/{kind}/data/input/{name}.{ext}") as fh:
        d = yaml.safe_load(fh.read())
    d["timeRange"] = {"begin": f"{T0}Z", "end": f"{T1}Z"}
    return d


def test_corpus_is_fully_enumerated():
    # the reference ships 38 + 47 + 38 generated YAML inputs (plus a .ql
    # twin each); a reference upgrade that adds cases must fail loudly
    assert len(MEASURE_CASES) == 38
    assert len(STREAM_CASES) == 47
    assert len(TRACE_CASES) == 38
    assert len(STREAM_ERR) == 9


# ---------------------------------------------------------------------------
# Criteria -> DuckDB SQL (null / MATCH / arrays / dotted names)
# ---------------------------------------------------------------------------

def _q(name: str) -> str:
    return '"%s"' % name


def _lit(v) -> str:
    return repr(v) if isinstance(v, str) else str(v)


def _cond_sql(c: Condition, analyzers: dict) -> str:
    tag, op, v = c.tag, c.op, c.value
    col = _q(tag)
    if op is BinaryOp.EQ and v is None:
        return f"{col} IS NULL"
    if op is BinaryOp.NE and v is None:
        return f"{col} IS NOT NULL"
    if op in (BinaryOp.IN, BinaryOp.NOT_IN):
        if not v:   # IN () matches nothing (in_empty_span_ids WantEmpty)
            return "FALSE" if op is BinaryOp.IN else "TRUE"
        vals = ", ".join(_lit(x) for x in v)
        return f"{col} {'NOT ' if op is BinaryOp.NOT_IN else ''}IN ({vals})"
    if op in (BinaryOp.HAVING, BinaryOp.NOT_HAVING):
        vals = ", ".join(
            _lit(x) for x in (v if isinstance(v, (list, tuple)) else [v]))
        neg = "NOT " if op is BinaryOp.NOT_HAVING else ""
        return f"{neg}list_has_all({col}, [{vals}])"
    if op is BinaryOp.MATCH:
        analyzer = analyzers[tag]
        toks = tokens_sql(col, analyzer)
        terms = []
        for x in (v if isinstance(v, (list, tuple)) else [v]):
            terms.extend(analyze_term(str(x), analyzer))
        if not terms:
            return "FALSE"
        glue = " AND " if c.match_operator is LogicalOp.AND else " OR "
        return "(" + glue.join(
            f"list_contains({toks}, {_lit(t)})" for t in terms) + ")"
    sym = {BinaryOp.EQ: "=", BinaryOp.NE: "<>", BinaryOp.LT: "<",
           BinaryOp.GT: ">", BinaryOp.LE: "<=", BinaryOp.GE: ">="}[op]
    return f"{col} {sym} {_lit(v)}"


def _crit_sql(node, analyzers: dict) -> str:
    if isinstance(node, Condition):
        return _cond_sql(node, analyzers)
    return (f"({_crit_sql(node.left, analyzers)} {node.op.value} "
            f"{_crit_sql(node.right, analyzers)})")


def _where(q, analyzers: dict) -> str:
    if q.criteria is None:
        return ""
    return f" AND ({_crit_sql(q.criteria, analyzers)})"


_TIME = f"ts >= TIMESTAMP '{T0S}' AND ts < TIMESTAMP '{T1S}'"


# ---------------------------------------------------------------------------
# Measure (service_cpm_minute / service_instance_traffic / service_traffic)
# ---------------------------------------------------------------------------

_SUM6 = 'CAST(SUM(CAST("value" AS DECIMAL(24,6))) AS DOUBLE)'
_AGG_SQL = {
    AggFunc.MIN: 'MIN("value")',
    AggFunc.MAX: 'MAX("value")',
    AggFunc.SUM: _SUM6,
    AggFunc.COUNT: 'COUNT("value")',
    AggFunc.MEAN: f'{_SUM6} / COUNT("value")',
}

_MEASURE_TWINS = {
    # name -> (view, entity tags, version dedup?, all tags, fields, analyzers)
    "service_cpm_minute": (
        "v_cpm", ["entity_id"], True,
        [n for (n, *_13) in _CPM_TAGS], ["total", "value"], {}),
    "service_instance_traffic": (
        "v_sit", ["id"], True,
        [n for (n, *_13) in _SIT_TAGS], [], {"name": "url"}),
    "service_traffic": (
        "v_traffic", ["id"], False,
        [n for (n, *_13) in _TRAFFIC_TAGS], [], {}),
}


def measure_twin_oracle(q) -> tuple:
    """Generic DuckDB twin of compile_measure over the verbatim twins.
    Returns (sql, ordered_compare)."""
    view, entity, dedup, tags, fields, analyzers = _MEASURE_TWINS[q.name]
    if dedup:
        part = ", ".join(_q(e) for e in entity)
        cols = ", ".join(
            ["ts"] + [_q(c) for c in tags + fields])
        src = (f"(SELECT {cols} FROM (SELECT *, row_number() OVER "
               f"(PARTITION BY {part}, ts ORDER BY event_id DESC) AS rn "
               f"FROM {view} WHERE {_TIME}) WHERE rn = 1 "
               f"AND TRUE{_where(q, analyzers)})")
    else:
        src = (f"(SELECT * FROM {view} WHERE {_TIME}"
               f"{_where(q, analyzers)})")
    limit = q.limit if q.limit is not None else 100
    page = f" LIMIT {limit} OFFSET {q.offset}"
    if q.agg is not None or q.group_by:
        gb = [_q(g) for g in q.group_by]
        # projected tags beyond the group keys carry the group's FIRST
        # point's values (measure_plan_aggregation.go:286-288; the
        # gen_feat_*_group_* wants project entity_id beside groupBy id) —
        # unique ts makes arg_min by ts the deterministic twin of the
        # engine's min_by(ts, version)
        extras = [f"arg_min({_q(t)}, ts) AS {_q(t)}"
                  for t in q.tag_projection if t not in q.group_by]
        if q.agg is not None:
            parts = gb + extras + [f'{_AGG_SQL[q.agg.function]} AS "value"']
            inner = (f"SELECT {', '.join(parts)} FROM {src}"
                     + (f" GROUP BY {', '.join(gb)}" if gb else ""))
        elif extras:
            inner = (f"SELECT {', '.join(gb + extras)} FROM {src} "
                     f"GROUP BY {', '.join(gb)}")
        else:
            inner = f"SELECT DISTINCT {', '.join(gb)} FROM {src}"
        if q.top is not None:
            d = "DESC" if q.top.sort is Sort.DESC else "ASC"
            tie = "".join(f", {g} ASC" for g in gb)
            return (f'SELECT * FROM ({inner} ORDER BY "value" {d}{tie} '
                    f"LIMIT {q.top.number}){page}", True)
        if q.order_by is not None and q.order_by.tag is not None:
            d = "DESC" if q.order_by.sort is Sort.DESC else "ASC"
            tie = "".join(
                f", {_q(g)} ASC" for g in q.group_by if g != q.order_by.tag)
            return f"{inner} ORDER BY {_q(q.order_by.tag)} {d}{tie}{page}", True
        return f"SELECT * FROM ({inner}){page}", False

    proj = list(q.tag_projection) + list(q.field_projection)
    if not proj:
        proj = list(fields)  # all twin tags are derived; fields still project
    cols = ["ts"] + [_q(c) for c in proj if c != "ts"]
    # raw ordering: ts first (no gen measure raw case carries orderBy),
    # entity tiebreak — compile_measure's total-order contract
    tie = "".join(f", {_q(e)} ASC" for e in entity)
    return (f"SELECT {', '.join(cols)} FROM {src} "
            f"ORDER BY ts ASC{tie}{page}", True)


@pytest.mark.parametrize("case", MEASURE_CASES)
def test_gen_measure_verbatim(env, case):
    spark, cat, con = env
    doc = _load_case("measure", case, "yaml")
    if case in MEASURE_ERR:
        with pytest.raises(QueryAnalyzeError):
            compile_measure(spark, cat, load_measure_request(doc))
        return
    q = load_measure_request(doc)
    df = compile_measure(spark, cat, q)
    sql, ordered = measure_twin_oracle(q)
    _run_dual(env, df, sql, ordered)


# ---------------------------------------------------------------------------
# Stream (sw in default [+ updated])
# ---------------------------------------------------------------------------

_STREAM_ANALYZERS = {n: a for (n, _, a, _, _) in _STREAM_TAGS}


def stream_twin_oracle(q) -> str:
    # multi-group [default, updated] unions two byte-identical copies and
    # dedups by element id (stream_plan_indexscan_local.go:157-166) — the
    # oracle is the single-copy view either way
    proj = list(q.projection)
    cols = ["ts", "event_id"] + [
        _q(c) for c in proj if c not in ("ts", "event_id")]
    order = q.order_by
    key = "ts" if (order is None or order.tag is None) else _q(order.tag)
    d = "DESC" if (order is not None and order.sort is Sort.DESC) else "ASC"
    limit = q.limit if q.limit is not None else 100
    return (f"SELECT {', '.join(cols)} FROM v_sw WHERE {_TIME}"
            f"{_where(q, _STREAM_ANALYZERS)} "
            f"ORDER BY {key} {d}, event_id ASC "
            f"LIMIT {limit} OFFSET {q.offset}")


@pytest.mark.parametrize("case", STREAM_CASES)
def test_gen_stream_verbatim(env, case):
    spark, cat, con = env
    doc = _load_case("stream", case, "yaml")
    if case in STREAM_ERR:
        with pytest.raises(QueryAnalyzeError):
            compile_stream(spark, cat, load_stream_request(doc))
        return
    q = load_stream_request(doc)
    df = compile_stream(spark, cat, q)
    _run_dual(env, df, stream_twin_oracle(q), True)


# ---------------------------------------------------------------------------
# Trace (sw in test-trace-group)
# ---------------------------------------------------------------------------

_TRACE_ANALYZERS = {n: a for (n, _, a, _, _) in _TRACE_TAGS}


def trace_twin_oracle(q) -> str:
    where = _where(q, _TRACE_ANALYZERS)
    ids = ""
    if q.trace_ids:
        ids = (" AND " + _q("trace_id") + " IN ("
               + ", ".join(_lit(str(i)) for i in q.trace_ids) + ")")
    order = q.order_by
    if order is None or order.tag is None or order.tag == "timestamp":
        key = "MIN(ts)"   # time ordering: trace start, both directions
        d = "DESC" if (order and order.sort is Sort.DESC) else "ASC"
    else:
        desc = order.sort is Sort.DESC
        key = f"MAX({_q(order.tag)})" if desc else f"MIN({_q(order.tag)})"
        d = "DESC" if desc else "ASC"
    limit = q.limit if q.limit is not None else 100
    return (
        f'SELECT "trace_id", COUNT(*) AS span_count, MIN(ts) AS start_ts, '
        f"MAX(ts) AS end_ts FROM v_swt WHERE {_TIME}{where}{ids} "
        f'GROUP BY "trace_id" ORDER BY {key} {d}, "trace_id" ASC '
        f"LIMIT {limit} OFFSET {q.offset}"
    )


@pytest.mark.parametrize("case", TRACE_CASES)
def test_gen_trace_verbatim(env, case):
    spark, cat, con = env
    doc = _load_case("trace", case, "yml")
    if case in TRACE_ERR:
        with pytest.raises(QueryAnalyzeError):
            compile_trace(spark, cat, load_trace_request(doc))
        return
    q = load_trace_request(doc)
    df = compile_trace(spark, cat, q).select(
        "trace_id", "span_count", "start_ts", "end_ts")
    _run_dual(env, df, trace_twin_oracle(q), True)
