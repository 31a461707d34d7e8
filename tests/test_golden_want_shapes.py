"""Want-file ENVELOPE SHAPE assertions (VERDICT r10 Next #6) — the one
axis of the reference's golden corpus the dual-execution suites cannot
exercise: the proto response STRUCTURE. Values cannot transfer across
datasets, but for a replayed input the shaped response must nest exactly
like the reference's recorded ``want/*.yaml``:

- measure ``dataPoints``: tag-family nesting (family names, tag keys in
  the request's PROJECTION order — ``want/entity.yaml`` proves the
  reference echoes projection order, not declaration order) and field
  NAME ordering;
- stream ``elements``: the family split (``sw.json`` keeps
  ``data_binary`` in family ``data`` beside ``searchable``) and
  elementId presence;
- trace ``traces``: span grouping under traceId, spanId + span payload
  presence, and the projected tag KEY SET (the reference orders span
  tags by its sidx storage order — ``having_query_tag`` returns
  ``operation_name, query, trace_id, span_id`` for a projection that
  listed trace_id first — so keys compare order-insensitively);
- property ``properties``: metadata keys, id as its own field (never
  repeated in tags), tag key order;
- topn ``lists``: items carrying the SOURCE entity keys in entity order
  (``want/condition_aggr_desc.yaml``: service_id + entity_id) + value.

Value flavors (int/float/str oneof) are deliberately NOT compared: the
synthetic fixture types differ from the reference's (its ``value``
fields are INT where the twin's are FLOAT) — that axis is dataset, not
shape. Every case asserted here is a verbatim reference input file.
"""

from __future__ import annotations

import pytest
import yaml

from skywalking_banyandb_spark.catalog import merged_schema
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
from skywalking_banyandb_spark.response import (
    measure_response,
    property_response,
    stream_response,
    topn_response,
    trace_response,
)

from conftest import HAVE_REFERENCE, REFERENCE_CASES, REFERENCE_MISSING

if not HAVE_REFERENCE:
    pytest.skip(REFERENCE_MISSING, allow_module_level=True)

from test_golden_gen_verbatim import (  # noqa: F401,E402 (env fixture)
    _load_case,
    env,
)

# full fixture range (wider than the dual-execution suites' window: shape
# cases like filter_tag pin event_id 1, whose timestamp precedes Jan 3)
_B, _E = "2024-01-01T00:00:00Z", "2024-02-01T00:00:00Z"


def _want(kind: str, case: str, ext: str) -> dict:
    with open(f"{REFERENCE_CASES}/{kind}/data/want/{case}.{ext}") as f:
        return yaml.safe_load(f)


def _inject_time(doc: dict) -> dict:
    # _load_case pins the dual-execution window (Jan 3-27); shape cases
    # like filter_tag pin event_id 1 whose ts precedes it, so widen
    doc["timeRange"] = {"begin": _B, "end": _E}
    return doc


def _fams(item) -> tuple:
    """(family name, tag keys in order) per non-empty family — protojson
    omits empty lists, so empty families drop on both sides."""
    return tuple(
        (f["name"], tuple(t["key"] for t in f.get("tags") or []))
        for f in item.get("tagFamilies") or [] if f.get("tags")
    )


# ---------------------------------------------------------------------------
# Measure — family nesting + projection-ordered tags + field ordering
# ---------------------------------------------------------------------------

MEASURE_SHAPE_CASES = [
    "all",              # default family, both fields, timestamp
    "all_latency",      # SPLIT families: default(id) + storage_only(entity_id)
    "entity",           # projection order != declaration order
    "complex_and_or",
    "group_max",
    "float_top_mean",
    "index_mode_all",
    "no_field",
    "order_tag_asc",
    "top_with_filter",
    # agg results carry projected tags BEYOND the group keys (first
    # point's values — measure_plan_aggregation.go:286-288)
    "bottom_entity_svc",
    "float_agg_min",
]


def _measure_sig(item) -> tuple:
    return (_fams(item),
            tuple(f["name"] for f in item.get("fields") or []))


@pytest.mark.parametrize("case", MEASURE_SHAPE_CASES)
def test_measure_want_shape(env, case):
    spark, cat, _ = env
    q = load_measure_request(_inject_time(_load_case("measure", case, "yaml")))
    df = compile_measure(spark, cat, q)
    got = measure_response(
        df.limit(3), merged_schema(cat, q.groups, "measure", q.name),
        q.tag_projection)
    want = _want("measure", case, "yaml")
    assert got["dataPoints"], "engine produced no rows to shape"
    assert _measure_sig(got["dataPoints"][0]) == \
        _measure_sig(want["dataPoints"][0])


# ---------------------------------------------------------------------------
# Stream — searchable/data family split + elementId
# ---------------------------------------------------------------------------

STREAM_SHAPE_CASES = [
    "all",                          # data_binary lands in family "data"
    "all_with_http_method",
    "deduplication_test_limit_10",
    "duplicated_all",
    "filter_tag",
    "filter_no_indexed_or",
    # a tag only the SECOND group declares still appears in the envelope
    # (merged schema, NULL-filled for first-group rows)
    "multi_group_new_tag",
]


def _stream_sig(item) -> tuple:
    return (_fams(item), "elementId" in item)


@pytest.mark.parametrize("case", STREAM_SHAPE_CASES)
def test_stream_want_shape(env, case):
    spark, cat, _ = env
    q = load_stream_request(_inject_time(_load_case("stream", case, "yaml")))
    df = compile_stream(spark, cat, q)
    got = stream_response(
        df.limit(3), merged_schema(cat, q.groups, "stream", q.name),
        q.projection)
    want = _want("stream", case, "yaml")
    assert got["elements"], "engine produced no rows to shape"
    assert _stream_sig(got["elements"][0]) == _stream_sig(want["elements"][0])


# ---------------------------------------------------------------------------
# Trace — span grouping, spanId/payload presence, projected tag key set
# ---------------------------------------------------------------------------

TRACE_SHAPE_CASES = [
    "all",                          # no projection -> spans carry NO tags
    "eq_trace_id",
    "having_query_tag",
    "order_duration_desc",
    "multi_group_unchanged",
    "eq_service_order_timestamp_desc",
    # error_message exists only in the second group's declaration
    "multi_group_new_tag",
]


def _trace_sig(tr) -> tuple:
    sp = (tr.get("spans") or [{}])[0]
    return ("traceId" in tr, "spanId" in sp, "span" in sp,
            frozenset(t["key"] for t in sp.get("tags") or []))


@pytest.mark.parametrize("case", TRACE_SHAPE_CASES)
def test_trace_want_shape(env, case):
    spark, cat, _ = env
    q = load_trace_request(_inject_time(_load_case("trace", case, "yml")))
    df = compile_trace(spark, cat, q)
    got = trace_response(
        df.limit(3), merged_schema(cat, q.groups, "trace", q.name),
        q.projection)
    want = _want("trace", case, "yml")
    assert got["traces"] and got["traces"][0]["spans"]
    assert _trace_sig(got["traces"][0]) == _trace_sig(want["traces"][0])


# ---------------------------------------------------------------------------
# Property — metadata keys, id outside tags, tag key order
# ---------------------------------------------------------------------------

PROPERTY_SHAPE_CASES = [
    "all", "limit", "order_by_asc", "query_by_criteria", "query_by_ids",
]


def _property_sig(p) -> tuple:
    return ("id" in p,
            tuple(sorted((p.get("metadata") or {}).keys())),
            tuple(t["key"] for t in p.get("tags") or []))


@pytest.mark.parametrize("case", PROPERTY_SHAPE_CASES)
def test_property_want_shape(env, case):
    spark, cat, _ = env
    doc = _load_case("property", case, "yaml")
    doc.pop("timeRange", None)
    q = load_property_request(doc)
    df = compile_property(spark, cat, q)
    got = property_response(df.limit(3), cat.get(q.group, "property", q.name))
    want = _want("property", case, "yaml")
    assert got["properties"], "engine produced no rows to shape"
    assert _property_sig(got["properties"][0]) == \
        _property_sig(want["properties"][0])


# ---------------------------------------------------------------------------
# TopN — items carry the SOURCE entity (topn.go stores entityValues)
# ---------------------------------------------------------------------------

TOPN_SHAPE_CASES = [
    "aggr_desc",            # sicm: entity = (service_id, entity_id)
    "condition_aggr_desc",  # pinned group still answers with full entity
    "eq",                   # siecm: groupBy http.uri, entity emitted anyway
    "float_min_aggr_asc",
    "topn_sum",             # topn_agg_test: single-tag entity
    "not_in",
]


def _topn_sig(lst) -> tuple:
    it = (lst.get("items") or [{}])[0]
    return (tuple(e["key"] for e in it.get("entity") or []), "value" in it)


@pytest.mark.parametrize("case", TOPN_SHAPE_CASES)
def test_topn_want_shape(env, case):
    spark, cat, _ = env
    q = load_topn_request(_inject_time(_load_case("topn", case, "yaml")))
    df = compile_topn(spark, cat, q)
    decl = cat.get(q.groups[0], "topn", q.name)
    src = cat.get(decl.source_measure[0], "measure", decl.source_measure[1])
    got = topn_response(df.limit(3), src, decl.field_name)
    want = _want("topn", case, "yaml")
    assert got["lists"] and got["lists"][0]["items"]
    assert _topn_sig(got["lists"][0]) == _topn_sig(want["lists"][0])


# ---------------------------------------------------------------------------
# Ordering (VERDICT r11 Next #6) — rank/order is a reference-recorded axis
# (the want/*.yaml ITEM SEQUENCE) that transfers across datasets whenever
# the order is value-determined: the shaped response's items must be
# sorted by the requested key, and for topn the want's own recorded items
# must satisfy the same monotonicity (congruence with the reference axis).
# ---------------------------------------------------------------------------

from skywalking_banyandb_spark.model import Sort  # noqa: E402


def _scalar(v):
    """Dig the proto oneof: {'int': {'value': '12'}} -> 12 (protojson
    string-encodes int64), {'float': ...} -> float, {'str': ...} -> str."""
    if v is None or "null" in v:
        return None
    if "int" in v:
        return int(v["int"]["value"])
    if "float" in v:
        return float(v["float"]["value"])
    if "str" in v:
        return v["str"]["value"]
    raise AssertionError(f"unhandled value flavor {v!r}")


def _tagval(item, key):
    for fam in item.get("tagFamilies") or []:
        for t in fam.get("tags") or []:
            if t["key"] == key:
                return _scalar(t["value"])
    raise AssertionError(f"ordered tag {key!r} absent from shaped item")


def _assert_monotonic(vals, sort, label):
    vals = [v for v in vals if v is not None]
    assert len(vals) >= 2, f"{label}: <2 comparable items, ordering untested"
    ok = all(a >= b for a, b in zip(vals, vals[1:])) if sort is Sort.DESC \
        else all(a <= b for a, b in zip(vals, vals[1:]))
    assert ok, f"{label}: items not {sort.name}-sorted: {vals[:10]}"


# measure: order by tag (id) and by timestamp, both directions
MEASURE_ORDER_CASES = [
    "order_tag_asc", "order_tag_desc", "order_asc", "order_desc",
]


@pytest.mark.parametrize("case", MEASURE_ORDER_CASES)
def test_measure_want_order(env, case):
    spark, cat, _ = env
    q = load_measure_request(_inject_time(_load_case("measure", case, "yaml")))
    df = compile_measure(spark, cat, q)
    got = measure_response(
        df, merged_schema(cat, q.groups, "measure", q.name),
        q.tag_projection)
    items = got["dataPoints"]
    if q.order_by is not None and q.order_by.tag is not None:
        vals = [_tagval(it, q.order_by.tag) for it in items]
    else:  # order by time: RFC3339 strings compare lexicographically
        vals = [it["timestamp"] for it in items]
    sort = q.order_by.sort if q.order_by is not None else Sort.ASC
    _assert_monotonic(vals, sort, f"measure/{case}")


# stream: order by timestamp both directions (+ a filtered limit-2 case
# and the multi-group duration sidx sort)
STREAM_ORDER_CASES = [
    "order_asc", "order_desc", "filter_order_desc",
    "multi_group_sort_duration",
]


@pytest.mark.parametrize("case", STREAM_ORDER_CASES)
def test_stream_want_order(env, case):
    spark, cat, _ = env
    q = load_stream_request(_inject_time(_load_case("stream", case, "yaml")))
    df = compile_stream(spark, cat, q)
    got = stream_response(
        df, merged_schema(cat, q.groups, "stream", q.name), q.projection)
    items = got["elements"]
    if q.order_by is not None and q.order_by.tag is not None:
        vals = [_tagval(it, q.order_by.tag) for it in items]
    else:
        vals = [it["timestamp"] for it in items]
    sort = q.order_by.sort if q.order_by is not None else Sort.ASC
    _assert_monotonic(vals, sort, f"stream/{case}")


# trace: spans scan sorted by the duration sidx key then regroup by
# trace id (first-occurrence order), so the TRACE sequence is ordered by
# each trace's best in-result span — max for DESC, min for ASC. These
# cases project `duration`, so the key is extractable from span tags.
TRACE_ORDER_CASES = [
    ("gen_feat_order_duration_asc_limit5_proj_explicit_6", Sort.ASC),
    ("gen_feat_order_duration_desc_proj_explicit_3", Sort.DESC),
    ("gen_feat_order_duration_asc_limit2_offset1_proj_explicit_1", Sort.ASC),
]


@pytest.mark.parametrize("case,sort", TRACE_ORDER_CASES)
def test_trace_want_order(env, case, sort):
    spark, cat, _ = env
    q = load_trace_request(_inject_time(_load_case("trace", case, "yml")))
    assert q.order_by is not None and q.order_by.sort is sort
    df = compile_trace(spark, cat, q)
    got = trace_response(
        df, merged_schema(cat, q.groups, "trace", q.name), q.projection)
    best = max if sort is Sort.DESC else min
    vals = []
    for tr in got["traces"]:
        durs = [d for sp in tr["spans"]
                for d in (_span_tag(sp, "duration"),) if d is not None]
        assert durs, f"trace/{case}: span without projected duration"
        vals.append(best(durs))
    _assert_monotonic(vals, sort, f"trace/{case}")


def _span_tag(span, key):
    for t in span.get("tags") or []:
        if t["key"] == key:
            return _scalar(t["value"])
    return None


# topn: per-list item values monotonic per the query's sort — asserted on
# the GOT response AND on the reference's recorded want items (the axis
# itself transfers for rank-determined cases)
@pytest.mark.parametrize("case", TOPN_SHAPE_CASES)
def test_topn_want_order(env, case):
    spark, cat, _ = env
    q = load_topn_request(_inject_time(_load_case("topn", case, "yaml")))
    df = compile_topn(spark, cat, q)
    decl = cat.get(q.groups[0], "topn", q.name)
    src = cat.get(decl.source_measure[0], "measure", decl.source_measure[1])
    got = topn_response(df, src, decl.field_name)
    want = _want("topn", case, "yaml")
    for side, resp in (("got", got), ("want", want)):
        assert resp["lists"], f"topn/{case}/{side}: no lists"
        for i, lst in enumerate(resp["lists"]):
            vals = [_scalar(it["value"]) for it in lst["items"]]
            if len(vals) >= 2:
                _assert_monotonic(vals, q.sort, f"topn/{case}/{side}[{i}]")
