"""VERBATIM replay of every NAMED conformance input — the companion of
``test_golden_gen_verbatim.py`` (which replays the machine-generated
``gen_*`` family): all remaining ``.yaml``/``.yml`` files under
``test/cases/{measure,stream,trace,topn,property}/data/input`` load from
disk with ZERO renaming and dual-execute against DuckDB twins built from
the same derived-column expressions (``tests/twin_catalog.py``).

Together with the gen suites this replays the reference's full query
input corpus byte-for-byte: the only inputs excluded are the three
``write_mixed`` files (WriteRequest streams, not queries — replayed
through the write boundary in ``tests/test_write_mixed.py``).

Oracle notes:

- The synthetic events table has UNIQUE timestamps at sf0.001 (asserted
  below), so (a) version dedup is the identity — the oracle reads the
  raw view — and (b) ``ORDER BY <key>, ts`` is a total order that both
  engines share under every LIMIT/OFFSET.
- Multi-group queries union per-group results. Measures replay the union
  with NULL-filled schema merge (``multi_group_new_tag_field``); streams
  dedup by element id with the FIRST group's copy winning, so tags only
  the second group declares come back NULL; traces double span counts.
  Multi-group RAW unions interleave two same-ts rows, so those compare
  order-insensitively (the reference's own DisOrder verify mode —
  ``test/cases/measure/measure.go:36-43``).
- TopN queries resolve the verbatim TopNAggregation DECLARATIONS
  (``topn_aggregations/*.json``): window = 1h buckets, per-window latest
  per groupBy key, ranked <= N, declaration criteria as pre-filter,
  query conditions on the groupBy tags, post-agg across windows.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pytest
import yaml

from skywalking_banyandb_spark.errors import QueryAnalyzeError
from skywalking_banyandb_spark.model import AggFunc, Sort
from skywalking_banyandb_spark.plans.measure import compile_measure
from skywalking_banyandb_spark.plans.property import compile_property
from skywalking_banyandb_spark.plans.stream import compile_stream
from skywalking_banyandb_spark.plans.topn import compile_topn
from skywalking_banyandb_spark.plans.trace import compile_trace
from skywalking_banyandb_spark.request_loader import (
    load_measure_request,
    load_property_request,
    load_stream_request,
    load_topn_request,
    load_trace_request,
)

from conftest import HAVE_REFERENCE, REFERENCE_CASES, REFERENCE_MISSING, SF_SMALL

if not HAVE_REFERENCE:
    pytest.skip(REFERENCE_MISSING, allow_module_level=True)

from test_golden_corpus import _run_dual  # noqa: E402
from test_golden_gen_verbatim import (  # noqa: E402
    T0S,
    T1S,
    _TIME,
    _load_case,
    _q,
    _lit,
    _crit_sql,
    _where,
    env,           # noqa: F401 (module fixture: spark + twin catalog + views)
)
import twin_catalog as tc

# ---------------------------------------------------------------------------
# Case discovery
# ---------------------------------------------------------------------------


def _named(kind: str, ext: str) -> list:
    out = []
    for p in sorted(glob.glob(f"{REFERENCE_CASES}/{kind}/data/input/*.{ext}")):
        b = os.path.basename(p)[: -(len(ext) + 1)]
        if not b.startswith("gen_") and b != "write_mixed":
            out.append(b)
    return out


MEASURE_CASES = _named("measure", "yaml")
STREAM_CASES = _named("stream", "yaml")
TRACE_CASES = _named("trace", "yml")
TOPN_CASES = _named("topn", "yaml")
PROPERTY_CASES = _named("property", "yaml")

# (tag_filter_unknown is an unknown VALUE, not an unknown tag —
# measure.go:51 registers it WantEmpty; it dual-executes below)
MEASURE_ERR = {"filter_non_existent_tag", "project_non_existent_tag",
               "project_non_existent_field", "err_invalid_le"}
STREAM_ERR = {"filter_non_existent_tag", "project_non_existent_tag",
              "err_in_arr"}
TRACE_ERR = {"filter_non_existent_tag", "project_non_existent_tag",
             "err_in_arr"}


def test_named_corpus_is_fully_enumerated():
    # 291 unique reference conformance inputs = 168 named (non-gen,
    # non-write) + 3 write_mixed + 123 gen_* (gen suite); a reference
    # upgrade that adds cases must fail loudly
    assert len(MEASURE_CASES) == 66
    assert len(STREAM_CASES) == 44
    assert len(TRACE_CASES) == 25
    assert len(TOPN_CASES) == 20
    assert len(PROPERTY_CASES) == 10


@pytest.fixture(scope="module", autouse=True)
def _ts_unique(env):
    # the oracle identities above require unique timestamps
    spark, cat, con = env
    n, d = con.execute(
        f"SELECT count(*), count(DISTINCT ts) FROM '{SF_SMALL}/events.parquet'"
    ).fetchone()
    assert n == d


# ---------------------------------------------------------------------------
# Measure
# ---------------------------------------------------------------------------

def _agg_sql(func: AggFunc, field: str) -> str:
    s6 = f"CAST(SUM(CAST({_q(field)} AS DECIMAL(24,6))) AS DOUBLE)"
    return {
        AggFunc.MIN: f"MIN({_q(field)})",
        AggFunc.MAX: f"MAX({_q(field)})",
        AggFunc.SUM: s6,
        AggFunc.COUNT: f"COUNT({_q(field)})",
        AggFunc.MEAN: f"{s6} / COUNT({_q(field)})",
    }[func]


# measure name -> (per-group view by group, analyzers, all fields)
_M_VIEWS = {
    "service_cpm_minute": {"sw_metric": "v_cpm", "sw_updated": "v_cpm_upd"},
    "service_latency_minute": {"sw_metric": "v_slm"},
    "service_instance_latency_minute": {"sw_metric": "v_silm"},
    "instance_clr_cpu_minute": {"sw_metric": "v_clr"},
    "service_instance_float_metric": {"sw_metric": "v_sifm"},
    "service_instance_cpm_minute": {"sw_metric": "v_sicm",
                                    "sw_updated": "v_sicm"},
    "service_instance_endpoint_cpm_minute": {"sw_metric": "v_siecm"},
    "endpoint_resp_time_minute": {"sw_metric": "v_ertm"},
    "service_instance_metric_topn_test": {"sw_metric": "v_simtt"},
    "service_instance_traffic": {"sw_metric": "v_sit"},
    "endpoint_traffic": {"sw_metric": "v_et"},
    "duplicated": {"exception": "v_cpm"},
    "service_traffic": {"index_mode": "v_traffic",
                        "replicated_group": "v_traffic"},
}
_M_ANALYZERS = {
    "service_instance_traffic": {"name": "url"},
    "endpoint_traffic": {"endpoint_name": "url"},
}


def _view_cols(con, view) -> set:
    return {r[0] for r in con.execute(f"DESCRIBE {view}").fetchall()}


def measure_named_oracle(con, q) -> tuple:
    """(sql, ordered) twin of compile_measure over the named verbatim
    twins. Version dedup is the identity here (unique ts)."""
    analyzers = _M_ANALYZERS.get(q.name, {})
    views = [_M_VIEWS[q.name][g] for g in q.groups]
    limit = q.limit if q.limit is not None else 100
    page = f" LIMIT {limit} OFFSET {q.offset}"

    if q.agg is not None or q.group_by:
        src = f"(SELECT * FROM {views[0]} WHERE {_TIME}{_where(q, analyzers)})"
        gb = [_q(g) for g in q.group_by]
        # projected tags beyond the group keys carry the group's FIRST
        # point's values (measure_plan_aggregation.go:286-288; wants
        # bottom_entity_svc / float_agg_min) — unique ts makes arg_min
        # by ts the deterministic twin of the engine's min_by(ts, version)
        extras = [f"arg_min({_q(t)}, ts) AS {_q(t)}"
                  for t in q.tag_projection if t not in q.group_by]
        field = q.agg.field_name if q.agg else None
        if q.agg is not None:
            parts = gb + extras + [
                f"{_agg_sql(q.agg.function, field)} AS {_q(field)}"]
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
            return (f"SELECT * FROM ({inner} ORDER BY {_q(field)} {d}{tie} "
                    f"LIMIT {q.top.number}){page}", True)
        if q.order_by is not None and q.order_by.tag is not None:
            d = "DESC" if q.order_by.sort is Sort.DESC else "ASC"
            tie = "".join(
                f", {_q(g)} ASC" for g in q.group_by if g != q.order_by.tag)
            return (f"{inner} ORDER BY {_q(q.order_by.tag)} {d}{tie}{page}",
                    True)
        return f"SELECT * FROM ({inner}){page}", False

    # raw data points
    proj = list(q.tag_projection) + list(q.field_projection)
    cols = ["ts"] + [c for c in proj if c != "ts"]
    if q.top is not None and q.top.field_name not in cols:
        cols.append(q.top.field_name)
    union = []
    for v in views:
        have = _view_cols(con, v)
        sel = ", ".join(
            "ts" if c == "ts" else
            (_q(c) if c in have else f"NULL AS {_q(c)}") for c in cols)
        union.append(
            f"SELECT {sel} FROM {v} WHERE {_TIME}{_where(q, analyzers)}")
    src = union[0] if len(union) == 1 else " UNION ALL ".join(union)

    if q.top is not None:
        d = "DESC" if q.top.sort is Sort.DESC else "ASC"
        inner = (f"SELECT * FROM ({src}) ORDER BY {_q(q.top.field_name)} {d}, "
                 f"ts ASC LIMIT {q.top.number}")
        return f"SELECT * FROM ({inner}){page}", True
    order = q.order_by
    key = "ts" if (order is None or order.tag is None) else _q(order.tag)
    d = "DESC" if (order is not None and order.sort is Sort.DESC) else "ASC"
    # multi-group raw unions interleave same-ts rows -> DisOrder compare
    ordered = len(views) == 1
    return (f"SELECT * FROM ({src}) ORDER BY {key} {d}, ts ASC{page}",
            ordered)


@pytest.mark.parametrize("case", MEASURE_CASES)
def test_named_measure_verbatim(env, case):
    spark, cat, con = env
    doc = _load_case("measure", case, "yaml")
    if case in MEASURE_ERR:
        with pytest.raises(QueryAnalyzeError):
            compile_measure(spark, cat, load_measure_request(doc))
        return
    q = load_measure_request(doc)
    df = compile_measure(spark, cat, q)
    sql, ordered = measure_named_oracle(con, q)
    _run_dual(env, df, sql, ordered)


# ---------------------------------------------------------------------------
# Stream
# ---------------------------------------------------------------------------

_S_VIEWS = {"sw": "v_sw", "duplicated": "v_dup",
            "deduplication_test": "v_dup"}
_S_ANALYZERS = {n: a for (n, _, a, _, _) in tc.STREAM_TAGS}


def stream_named_oracle(con, q) -> str:
    # multi-group [default, updated]: identical element ids dedup with the
    # FIRST group's copy winning -> single-copy view; tags only the second
    # group declares (new_tag) come back NULL
    view = _S_VIEWS[q.name]
    have = _view_cols(con, view)
    proj = list(q.projection)
    cols = ["ts", "event_id"] + [
        (_q(c) if c in have else f"NULL AS {_q(c)}")
        for c in proj if c not in ("ts", "event_id")]
    order = q.order_by
    key = "ts" if (order is None or order.tag is None) else _q(order.tag)
    d = "DESC" if (order is not None and order.sort is Sort.DESC) else "ASC"
    limit = q.limit if q.limit is not None else 100
    return (f"SELECT {', '.join(cols)} FROM {view} WHERE {_TIME}"
            f"{_where(q, _S_ANALYZERS)} "
            f"ORDER BY {key} {d}, event_id ASC "
            f"LIMIT {limit} OFFSET {q.offset}")


@pytest.mark.parametrize("case", STREAM_CASES)
def test_named_stream_verbatim(env, case):
    spark, cat, con = env
    doc = _load_case("stream", case, "yaml")
    if case in STREAM_ERR:
        with pytest.raises(QueryAnalyzeError):
            compile_stream(spark, cat, load_stream_request(doc))
        return
    q = load_stream_request(doc)
    df = compile_stream(spark, cat, q)
    _run_dual(env, df, stream_named_oracle(con, q), True)


# ---------------------------------------------------------------------------
# Trace
# ---------------------------------------------------------------------------

_T_VIEWS = {"sw": "v_swt", "zipkin": "v_zipkin"}
# each trace schema's timestamp sidx alias (TraceSchema.ts_tag_alias)
_T_TS_ALIAS = {"sw": "timestamp", "zipkin": "zipkin-timestamp"}
_T_ANALYZERS = {n: a for (n, _, a, _, _) in tc.TRACE_TAGS}


def trace_named_oracle(q) -> str:
    view = _T_VIEWS[q.name]
    mult = len(q.groups)    # spans merge across groups, no dedup
    where = _where(q, _T_ANALYZERS)
    ids = ""
    if q.trace_ids:
        ids = (" AND " + _q("trace_id") + " IN ("
               + ", ".join(_lit(str(i)) for i in q.trace_ids) + ")")
    order = q.order_by
    if order is None or order.tag is None or order.tag == _T_TS_ALIAS[q.name]:
        key = "MIN(ts)"
        d = "DESC" if (order and order.sort is Sort.DESC) else "ASC"
    else:
        desc = order.sort is Sort.DESC
        key = f"MAX({_q(order.tag)})" if desc else f"MIN({_q(order.tag)})"
        d = "DESC" if desc else "ASC"
    limit = q.limit if q.limit is not None else 100
    return (
        f'SELECT "trace_id", {mult} * COUNT(*) AS span_count, '
        f"MIN(ts) AS start_ts, MAX(ts) AS end_ts FROM {view} "
        f"WHERE {_TIME}{where}{ids} "
        f'GROUP BY "trace_id" ORDER BY {key} {d}, "trace_id" ASC '
        f"LIMIT {limit} OFFSET {q.offset}"
    )


@pytest.mark.parametrize("case", TRACE_CASES)
def test_named_trace_verbatim(env, case):
    spark, cat, con = env
    doc = _load_case("trace", case, "yml")
    if case in TRACE_ERR:
        with pytest.raises(QueryAnalyzeError):
            compile_trace(spark, cat, load_trace_request(doc))
        return
    q = load_trace_request(doc)
    df = compile_trace(spark, cat, q).select(
        "trace_id", "span_count", "start_ts", "end_ts")
    _run_dual(env, df, trace_named_oracle(q), True)


# ---------------------------------------------------------------------------
# TopN (declaration-resolved; topn inputs carry no timeRange, so inject
# the standard window like the other kinds)
# ---------------------------------------------------------------------------

# declaration name ->
#   (source view, field, groupBy keys, source entity, decl criteria SQL)
_TOPN_DECLS = {
    "service_instance_cpm_minute_top_bottom_100":
        ("v_sicm", "value", ["service_id"],
         ["service_id", "entity_id"], None),
    "endpoint_resp_time_minute_top_bottom_100":
        ("v_ertm", "value", ["entity_id"], ["entity_id"], None),
    "service_instance_float_metric_top_bottom_3":
        ("v_sifm", "value", ["service_id", "entity_id"],
         ["service_id", "entity_id"], None),
    "service_instance_endpoint_cpm_minute_top_bottom_100":
        ("v_siecm", "total", ["http.uri"],
         ["service_id", "entity_id"], None),
    "topn_agg_test": ("v_simtt", "value", ["service_id"],
                      ["service_id"], None),
    "eq_svc1": ("v_siecm", "total", ["http.uri"],
                ["service_id", "entity_id"],
                "\"service_id\" = 'svc_1'"),
    "ne_svc1": ("v_siecm", "total", ["http.uri"],
                ["service_id", "entity_id"],
                "\"service_id\" <> 'svc_1'"),
    "in_svc2_svc4": ("v_siecm", "total", ["http.uri"],
                     ["service_id", "entity_id"],
                     "\"service_id\" IN ('svc_2', 'svc_4')"),
    "not_in_svc2_svc4": ("v_siecm", "total", ["http.uri"],
                         ["service_id", "entity_id"],
                         "\"service_id\" NOT IN ('svc_2', 'svc_4')"),
}

# the declarations all store counters_number=1000 series per (window, group)
# (pkg/test/measure/testdata/topn_aggregations/*.json)
_COUNTERS = 1000


def topn_named_oracle(q) -> str:
    """Twin of the corrected TopN read path (topn.go write keying +
    topn_plan_localscan.go pinning + processor_topn.go per-entity agg):
    latest per (window, group, SOURCE SERIES) → series rank to
    counters_number within (window, groupBy) → conditions pin the group →
    re-rank to the query's N per window → aggregate per source entity —
    output = entity tags + value (the want/*.yaml item shape)."""
    view, field, keys, entity, decl_where = _TOPN_DECLS[q.name]
    extra = [e for e in entity if e not in keys]
    series = keys + extra
    sd = ", ".join(_q(c) for c in series)
    ks = ", ".join(_q(k) for k in keys)
    es = ", ".join(_q(e) for e in entity)
    d = "DESC" if q.sort is Sort.DESC else "ASC"
    tie = "".join(f", {_q(c)} ASC" for c in series)
    etie = "".join(f", {_q(e)} ASC" for e in entity)
    w = f" WHERE {decl_where}" if decl_where else ""
    latest = f"""
      SELECT window_start, {sd}, {_q(field)} FROM (
        SELECT date_trunc('hour', ts) AS window_start, {sd}, {_q(field)},
               row_number() OVER (
                 PARTITION BY date_trunc('hour', ts), {sd}
                 ORDER BY ts DESC, event_id DESC) AS lrn
        FROM {view}{w}) WHERE lrn = 1"""
    if extra:
        # series rank within (window, group) to the declaration width
        latest += f"""
      QUALIFY row_number() OVER (
        PARTITION BY window_start, {ks}
        ORDER BY {_q(field)} {d}{tie}) <= {_COUNTERS}"""
    unioned = " UNION ALL ".join([f"({latest})"] * len(q.groups))
    if len(q.groups) > 1:
        # cross-group candidate merge keeps the best value per series
        # (entityDedupTopN.isBetter: DESC -> max, ASC -> min)
        best = "MAX" if q.sort is Sort.DESC else "MIN"
        unioned = (
            f"SELECT window_start, {sd}, {best}({_q(field)}) AS {_q(field)} "
            f"FROM ({unioned}) GROUP BY window_start, {sd}"
        )
    conds = []
    if q.conditions:
        conds += [
            f"{_q(c.tag)} IS NULL" if c.value is None
            else f"{_q(c.tag)} = {_lit(c.value)}"
            for c in q.conditions]
    if q.time_range.begin is not None:
        conds += [f"window_start >= TIMESTAMP '{T0S}'",
                  f"window_start < TIMESTAMP '{T1S}'"]
    where = f" WHERE {' AND '.join(conds)}" if conds else ""
    reranked = f"""
      SELECT window_start, {sd}, {_q(field)} FROM ({unioned}){where}
      QUALIFY row_number() OVER (
        PARTITION BY window_start ORDER BY {_q(field)} {d}{tie}) <= {q.top_n}
    """
    assert q.agg is not None  # every reference topn conformance input aggs
    return (
        f"SELECT {es}, {_agg_sql(q.agg, field)} AS {_q(field)} "
        f"FROM ({reranked}) GROUP BY {es} "
        f"ORDER BY {_q(field)} {d}{etie} LIMIT {q.top_n}"
    )


@pytest.mark.parametrize("case", TOPN_CASES)
def test_named_topn_verbatim(env, case):
    spark, cat, con = env
    doc = _load_case("topn", case, "yaml")
    q = load_topn_request(doc)
    df = compile_topn(spark, cat, q)
    _run_dual(env, df, topn_named_oracle(q), True)


# ---------------------------------------------------------------------------
# Property (ui_menu in group sw; no time dimension, so no injection)
# ---------------------------------------------------------------------------

def property_named_oracle(q) -> str:
    proj = list(q.projection)
    order_extra = None
    if q.order_by and q.order_by.tag and q.order_by.tag not in proj:
        order_extra = q.order_by.tag
    cols = ['"prop_id"'] + [_q(c) for c in proj if c != "prop_id"]
    where = ""
    conds = []
    if q.ids:
        conds.append('"prop_id" IN ('
                     + ", ".join(_lit(str(i)) for i in q.ids) + ")")
    if q.criteria is not None:
        conds.append(f"({_crit_sql(q.criteria, {})})")
    if conds:
        where = " WHERE " + " AND ".join(conds)
    if q.order_by and q.order_by.tag:
        d = "DESC" if q.order_by.sort is Sort.DESC else "ASC"
        order = f'{_q(q.order_by.tag)} {d}, "prop_id" ASC'
    else:
        order = '"prop_id" ASC'
    limit = q.limit if q.limit is not None else 100
    sel = cols + ([_q(order_extra)] if order_extra else [])
    inner = (f"SELECT {', '.join(sel)} FROM v_uimenu{where} "
             f"ORDER BY {order} LIMIT {limit} OFFSET {q.offset}")
    if order_extra:
        return f"SELECT {', '.join(cols)} FROM ({inner})"
    return inner


@pytest.mark.parametrize("case", PROPERTY_CASES)
def test_named_property_verbatim(env, case):
    spark, cat, con = env
    doc = _load_case("property", case, "yaml")
    doc.pop("timeRange", None)   # properties are timeless documents
    q = load_property_request(doc)
    df = compile_property(spark, cat, q)
    _run_dual(env, df, property_named_oracle(q), True)
