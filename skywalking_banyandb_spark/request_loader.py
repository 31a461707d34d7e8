"""Request boundary: protobuf-JSON/YAML QueryRequest -> typed query model.

The reference's entry points are protobuf services
(``banyand/liaison/grpc/server.go:602`` + grpc-gateway HTTP); its golden
test corpus feeds them YAML-serialized QueryRequests
(``test/cases/*/data/input/*.yaml``, loaded by e.g.
``test/cases/measure/data/data.go`` with protojson/prototext semantics).
This module is the same boundary for the Spark engine: it accepts those
request documents (dict / YAML / JSON text) and produces the typed query
model that the plan compilers consume — which is what lets reference golden
cases be replayed against this engine.

Enum fields follow protobuf JSON rules: either the enum NAME
(``"BINARY_OP_EQ"``, ``"SORT_DESC"``) or its NUMBER (``1``) — numbers per
``api/proto/banyandb/model/v1/query.proto:54-65,104-106`` and
``common.proto:75-80``. Unknown fields are rejected (the proto parser would
too), so a typo'd request fails loudly instead of silently dropping a
clause.
"""

from __future__ import annotations

import datetime as dt
import json
from typing import Any, Dict, List, Optional, Sequence

from .errors import QueryAnalyzeError
from .model import (
    AggFunc,
    AggregationSpec,
    BinaryOp,
    Criteria,
    LogicalOp,
    MeasureQuery,
    OrderBy,
    PropertyQuery,
    Sort,
    StreamQuery,
    TimeRange,
    TopNQuery,
    TopSpec,
    TraceQuery,
    cond,
)

_BINARY_OPS = {
    1: BinaryOp.EQ, 2: BinaryOp.NE, 3: BinaryOp.LT, 4: BinaryOp.GT,
    5: BinaryOp.LE, 6: BinaryOp.GE, 7: BinaryOp.HAVING,
    8: BinaryOp.NOT_HAVING, 9: BinaryOp.IN, 10: BinaryOp.NOT_IN,
    11: BinaryOp.MATCH,
}
_LOGICAL_OPS = {1: LogicalOp.AND, 2: LogicalOp.OR}
_SORTS = {1: Sort.DESC, 2: Sort.ASC}
_AGG_FUNCS = {
    1: AggFunc.MEAN, 2: AggFunc.MAX, 3: AggFunc.MIN, 4: AggFunc.COUNT,
    5: AggFunc.SUM,
}


def _enum(v: Any, table: Dict[int, Any], prefix: str, what: str):
    if isinstance(v, int):
        if v in table:
            return table[v]
        raise QueryAnalyzeError(f"invalid {what} enum number {v}")
    if isinstance(v, str) and v.startswith(prefix):
        name = v[len(prefix):]
        for e in table.values():
            if e.name == name:
                return e
    raise QueryAnalyzeError(f"invalid {what} {v!r}")


def _sort(v: Any, default: Sort = Sort.ASC) -> Sort:
    if v in (None, 0, "SORT_UNSPECIFIED"):
        return default
    return _enum(v, _SORTS, "SORT_", "sort")


def _tag_value(v: Dict[str, Any]):
    """``model/v1/common.proto`` TagValue oneof in protobuf-JSON form.

    Protobuf-JSON fidelity (protojson spec; the conformance corpus's
    machine-generated ``gen_*`` inputs exercise both): int64 scalars
    arrive as JSON *strings* (``int: {value: "1000"}``), and an empty
    message (``int: {}``) means the field's proto3 DEFAULT — Int{value:0},
    Str{value:""}, empty array — NOT a null. A null tag value is spelled
    ``"null": null`` (NullValue), and only that maps to None here.
    """
    if not isinstance(v, dict) or len(v) != 1:
        raise QueryAnalyzeError(f"invalid tag value {v!r}")
    (kind, payload), = v.items()
    if kind == "null":
        return None
    inner = payload.get("value") if isinstance(payload, dict) else payload
    if kind == "int":
        return int(inner) if inner is not None else 0
    if kind == "float":
        return float(inner) if inner is not None else 0.0
    if kind == "str":
        return inner if inner is not None else ""
    if kind == "intArray":
        return [int(x) for x in (inner or [])]
    if kind == "floatArray":
        return [float(x) for x in (inner or [])]
    if kind == "strArray":
        return list(inner or [])
    raise QueryAnalyzeError(f"unsupported tag value kind {kind!r}")


def parse_criteria(doc: Optional[Dict[str, Any]]):
    """Criteria oneof: ``{"le": {...}}`` or ``{"condition": {...}}``."""
    if doc is None:
        return None
    if "le" in doc:
        le = doc["le"]
        op = _enum(le.get("op"), _LOGICAL_OPS, "LOGICAL_OP_", "logical op")
        left = parse_criteria(le.get("left"))
        right = parse_criteria(le.get("right"))
        return Criteria(op, left, right)
    if "condition" in doc:
        c = doc["condition"]
        op = _enum(c.get("op"), _BINARY_OPS, "BINARY_OP_", "binary op")
        match_op = None
        mo = c.get("matchOption")
        if mo and mo.get("operator") not in (
            None, 0, "LOGICAL_OP_UNSPECIFIED", "OPERATOR_UNSPECIFIED",
        ):
            # MatchOption.Operator spells its enum OPERATOR_AND/OPERATOR_OR
            # (model/v1/common.proto MatchOption; the conformance
            # entity_match.yaml uses that form), distinct from the criteria
            # tree's LOGICAL_OP_* spelling
            match_op = _enum(
                mo["operator"], _LOGICAL_OPS,
                "OPERATOR_" if str(mo["operator"]).startswith("OPERATOR_")
                else "LOGICAL_OP_",
                "match operator",
            )
        return cond(c["name"], op, _tag_value(c.get("value", {"null": {}})),
                    match_operator=match_op)
    raise QueryAnalyzeError(f"invalid criteria {doc!r}")


def _parse_ts(s: str) -> dt.datetime:
    s = s.replace("Z", "+00:00")
    t = dt.datetime.fromisoformat(s)
    if t.tzinfo is not None:
        t = t.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return t


def _time_range(doc: Optional[Dict[str, Any]]) -> TimeRange:
    if not doc:
        return TimeRange(None, None)
    b, e = doc.get("begin"), doc.get("end")
    return TimeRange(_parse_ts(b) if b else None, _parse_ts(e) if e else None)


def _flat_tags(proj) -> List[str]:
    """tagProjection{tagFamilies[{name,tags}]} -> flat tag names (the engine
    stores tags flat; family qualification is resolved at bind time).

    The trace/property protos declare ``repeated string tag_projection``
    (``trace/v1/query.proto:96``) — a flat name list — so a plain list is
    accepted as-is."""
    if not proj:
        return []
    if isinstance(proj, list):
        return list(proj)
    out: List[str] = []
    for fam in proj.get("tagFamilies", []):
        out.extend(fam.get("tags", []))
    return out


def _order_by(doc: Optional[Dict[str, Any]]) -> Optional[OrderBy]:
    if doc is None:
        return None
    # measures/streams/traces order by an index rule; the property RPC
    # orders by a plain tag name (``query_with_order.yaml`` tag_name).
    return OrderBy(
        tag=doc.get("indexRuleName") or doc.get("tagName") or None,
        sort=_sort(doc.get("sort")),
    )


def _snake_to_camel(key):
    if not isinstance(key, str) or "_" not in key:
        return key
    head, *rest = key.split("_")
    return head + "".join(p[:1].upper() + p[1:] for p in rest)


def _normalize_keys(obj):
    """protojson accepts BOTH the lowerCamelCase JSON name and the original
    snake_case proto field name (protobuf JSON spec; the reference corpus
    mixes them — e.g. ``str_array`` in measure ``in.yaml`` vs ``strArray``
    in stream ``having.yaml``). Normalize dict KEYS to camelCase; values
    (tag names, literals) are untouched. The ``null`` TagValue kind has no
    underscore and passes through."""
    if isinstance(obj, dict):
        return {_snake_to_camel(k): _normalize_keys(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_normalize_keys(v) for v in obj]
    return obj


def _as_dict(doc) -> Dict[str, Any]:
    if isinstance(doc, dict):
        return _normalize_keys(doc)
    text = doc.strip()
    if text.startswith("{"):
        return _normalize_keys(json.loads(text))
    import yaml

    return _normalize_keys(yaml.safe_load(text))


def _check_fields(doc: Dict[str, Any], allowed: Sequence[str], kind: str):
    unknown = set(doc) - set(allowed)
    if unknown:
        raise QueryAnalyzeError(
            f"unknown field(s) {sorted(unknown)} in {kind} request"
        )


def load_measure_request(doc) -> MeasureQuery:
    """``measure/v1/query.proto`` QueryRequest (YAML/JSON/dict)."""
    d = _as_dict(doc)
    _check_fields(d, (
        "name", "groups", "timeRange", "criteria", "tagProjection",
        "fieldProjection", "groupBy", "agg", "top", "orderBy", "limit",
        "offset", "trace", "stages",
    ), "measure")
    agg = None
    if "agg" in d:
        a = d["agg"]
        agg = AggregationSpec(
            _enum(a.get("function"), _AGG_FUNCS, "AGGREGATION_FUNCTION_",
                  "aggregation function"),
            a["fieldName"],
        )
    top = None
    if "top" in d:
        t = d["top"]
        top = TopSpec(
            number=t.get("number", 100),
            field_name=t["fieldName"],
            sort=_sort(t.get("fieldValueSort"), default=Sort.DESC),
        )
    group_by: List[str] = []
    if "groupBy" in d:
        group_by = _flat_tags(d["groupBy"].get("tagProjection"))
    return MeasureQuery(
        groups=list(d.get("groups", [])),
        name=d["name"],
        time_range=_time_range(d.get("timeRange")),
        criteria=parse_criteria(d.get("criteria")),
        tag_projection=_flat_tags(d.get("tagProjection")),
        field_projection=list(d.get("fieldProjection", {}).get("names", [])),
        group_by=group_by,
        agg=agg,
        top=top,
        order_by=_order_by(d.get("orderBy")),
        limit=d.get("limit"),
        offset=d.get("offset", 0),
        stages=tuple(d.get("stages", [])),
    )


def load_stream_request(doc) -> StreamQuery:
    """``stream/v1/query.proto`` QueryRequest."""
    d = _as_dict(doc)
    _check_fields(d, (
        "name", "groups", "timeRange", "criteria", "projection", "orderBy",
        "limit", "offset", "trace", "stages",
    ), "stream")
    return StreamQuery(
        groups=list(d.get("groups", [])),
        name=d["name"],
        time_range=_time_range(d.get("timeRange")),
        criteria=parse_criteria(d.get("criteria")),
        projection=_flat_tags(d.get("projection")),
        order_by=_order_by(d.get("orderBy")),
        limit=d.get("limit"),
        offset=d.get("offset", 0),
        stages=tuple(d.get("stages", [])),
    )


def load_trace_request(doc) -> TraceQuery:
    """``trace/v1/query.proto`` QueryRequest."""
    d = _as_dict(doc)
    _check_fields(d, (
        "name", "groups", "timeRange", "criteria", "tagProjection",
        "traceIds", "orderBy", "limit", "offset", "trace", "stages",
    ), "trace")
    return TraceQuery(
        groups=list(d.get("groups", [])),
        name=d["name"],
        time_range=_time_range(d.get("timeRange")),
        criteria=parse_criteria(d.get("criteria")),
        projection=_flat_tags(d.get("tagProjection")),
        trace_ids=tuple(d.get("traceIds", [])),
        order_by=_order_by(d.get("orderBy")),
        limit=d.get("limit"),
        offset=d.get("offset", 0),
        stages=tuple(d.get("stages", [])),
    )


def load_property_request(doc) -> PropertyQuery:
    """``property/v1/rpc.proto`` QueryRequest."""
    d = _as_dict(doc)
    _check_fields(d, (
        "name", "groups", "ids", "criteria", "tagProjection", "limit",
        "offset", "orderBy", "trace",
    ), "property")
    groups = d.get("groups", [])
    return PropertyQuery(
        group=groups[0] if groups else "",
        name=d["name"],
        ids=tuple(d.get("ids", [])),
        criteria=parse_criteria(d.get("criteria")),
        projection=list(d.get("tagProjection", [])),
        order_by=_order_by(d.get("orderBy")),
        limit=d.get("limit"),
        offset=d.get("offset", 0),
    )


def load_topn_request(doc) -> TopNQuery:
    """``measure/v1/topn.proto`` TopNRequest. ``agg`` / ``fieldValueSort``
    follow protobuf-JSON enum form (name or number)."""
    d = _as_dict(doc)
    _check_fields(d, (
        "name", "groups", "timeRange", "topN", "agg", "fieldValueSort",
        "conditions", "trace", "stages",
    ), "topn")
    agg = None
    if d.get("agg") not in (None, 0, "AGGREGATION_FUNCTION_UNSPECIFIED"):
        agg = _enum(d["agg"], _AGG_FUNCS, "AGGREGATION_FUNCTION_",
                    "aggregation function")
    conds = []
    for c in d.get("conditions", []):
        op = _enum(c.get("op"), _BINARY_OPS, "BINARY_OP_", "binary op")
        conds.append(cond(c["name"], op, _tag_value(c.get("value", {"null": {}}))))
    return TopNQuery(
        groups=list(d.get("groups", [])),
        name=d["name"],
        time_range=_time_range(d.get("timeRange")),
        top_n=d.get("topN", 100),
        sort=_sort(d.get("fieldValueSort"), default=Sort.DESC),
        agg=agg,
        conditions=tuple(conds),
        stages=tuple(d.get("stages", [])),
    )


# --------------------------------------------------------------------------
# Write boundary — WriteRequest streams with MIXED ordering: values in
# schema tag order when no spec accompanies the write, name-mapped
# reordering when an explicit DataPointSpec / TagSpec does, and STICKY
# metadata (requests without metadata target the previous request's
# resource). This replays the conformance corpus's write_mixed trio
# (test/cases/{measure,stream,trace}/data/data.go WriteMixed: schema-order
# batch -> spec-order batch with sticky metadata -> second group with its
# own spec; queried across both groups by write_mixed.yaml/.ql).
# --------------------------------------------------------------------------


def _spec_tag_names(spec: Dict[str, Any]) -> List[str]:
    """Flatten a DataPointSpec/ElementSpec tagFamilySpec (measure/stream)
    or a flat trace TagSpec tagNames list."""
    if "tagFamilySpec" in spec:
        out: List[str] = []
        for fam in spec.get("tagFamilySpec", []):
            out.extend(fam.get("tagNames", []))
        return out
    return list(spec.get("tagNames", []))


def _write_value(v):
    """TagValue/FieldValue oneof; plain scalars pass through (the trace
    corpus stores span bytes as a bare string)."""
    if isinstance(v, dict):
        return _tag_value(v)
    return v


def _write_ts(v) -> dt.datetime:
    """RFC3339 string or int epoch-nanos (both appear in the corpus)."""
    if isinstance(v, int):
        return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=v // 1000)
    return _parse_ts(v)


# snowflake epoch (2021-01-01), pkg/idgen/snowflake.go:12 — generated
# element ids are (ms_since_epoch << 17) | (node=0 << 10) | sequence
_ELEMENT_ID_EPOCH_MS = 1609459200000


def load_write_requests(docs: Sequence, catalog, kind: str) -> Dict[tuple, List[dict]]:
    """Parse a mixed WriteRequest stream into per-resource row dicts.

    Returns ``{(group, name): [row, ...]}`` where each row maps column
    name -> value, ready for :func:`apply_write_requests`. Ordering rules:

    - no ``spec`` since the last ``metadata``: positional values follow the
      SCHEMA's declared order (measure: tags then fields; stream: tags;
      trace: ``(trace_id, span_id, ts, *tags)`` — the reference models the
      intrinsics as regular tags, this engine stores them as columns);
    - ``spec`` present: positions follow the spec's names, mapped back to
      schema columns BY NAME (measure fieldNames likewise);
    - ``metadata`` present: switch target resource and reset the spec;
      absent: sticky previous target (first request must carry it).

    Measure rows get a monotonically increasing write sequence as the
    version column when the request carries none (the reference derives
    versions from the write stream the same way).
    """
    current = None   # (group, name, schema)
    spec_names: Optional[List[str]] = None
    field_names: Optional[List[str]] = None
    seq = 0
    _eid_seq: Dict[tuple, int] = {}  # per-request-stream, so replays match
    out: Dict[tuple, List[dict]] = {}
    for raw in docs:
        d = _as_dict(raw)
        md = d.get("metadata")
        if md is not None:
            grp, name = md["group"], md["name"]
            current = (grp, name, catalog.get(grp, kind, name))
            spec_names, field_names = None, None
        if current is None:
            raise QueryAnalyzeError("first write request must carry metadata")
        if d.get("spec") is not None:
            spec = _normalize_keys(d["spec"])
            spec_names = _spec_tag_names(spec) or None
            field_names = list(spec.get("fieldNames", [])) or None
        grp, name, schema = current
        seq += 1
        row: Dict[str, Any] = {}
        if kind == "measure":
            dp = d["dataPoint"]
            tag_order = spec_names or [t.name for t in schema.tags]
            fld_order = field_names or [f.name for f in schema.fields]
            vals = []
            for fam in dp.get("tagFamilies", []):
                vals.extend(_write_value(t) for t in fam.get("tags", []))
            if len(vals) != len(tag_order):
                raise QueryAnalyzeError(
                    f"write carries {len(vals)} tags, expected "
                    f"{len(tag_order)} ({tag_order})")
            row.update(zip(tag_order, vals))
            fvals = [_write_value(f) for f in dp.get("fields", [])]
            if len(fvals) != len(fld_order):
                raise QueryAnalyzeError(
                    f"write carries {len(fvals)} fields, expected "
                    f"{len(fld_order)} ({fld_order})")
            row.update(zip(fld_order, fvals))
            row[schema.ts_column] = _write_ts(dp["timestamp"])
            if schema.version_column and schema.version_column not in row:
                row[schema.version_column] = seq
        elif kind == "stream":
            el = d["element"]
            tag_order = spec_names or [
                t.name for t in schema.tags if t.expr is None]
            vals = []
            for fam in el.get("tagFamilies", []):
                vals.extend(_write_value(t) for t in fam.get("tags", []))
            if len(vals) != len(tag_order):
                raise QueryAnalyzeError(
                    f"write carries {len(vals)} tags, expected "
                    f"{len(tag_order)} ({tag_order})")
            row.update(zip(tag_order, vals))
            row[schema.ts_column] = _write_ts(el["timestamp"])
            eid = el.get("elementId")
            if eid is None:
                # reference 0.10: server-side element-id generation when
                # the client omits it (banyand/stream/write_standalone.go
                # :181-183 falls back to the snowflake idGen). Same bit
                # layout (pkg/idgen/snowflake.go: 47-bit ms since
                # 2021-01-01 | 7-bit node | 10-bit sequence) but seeded
                # from the element's OWN timestamp + per-ms arrival
                # sequence instead of the wall clock, so a replayed
                # request stream generates the identical ids
                # (restart-idempotent writes, like the rest of the
                # loader).
                ms = int((_write_ts(el["timestamp"])
                          - dt.datetime(1970, 1, 1)).total_seconds() * 1000)
                # pkg/idgen/snowflake.go NextID: when the 10-bit sequence
                # for one millisecond is exhausted it ADVANCES the logical
                # clock and resets the sequence — it never wraps via a
                # mask, so the 1025th id in one ms stays unique.  Mirror
                # that: spill into the next logical ms (whose counter then
                # continues from wherever the spill left it, keeping later
                # real arrivals at that ms unique too).
                while _eid_seq.get((grp, name, ms), 0) > 0x3FF:
                    ms += 1
                ms_seq = _eid_seq.get((grp, name, ms), 0)
                _eid_seq[(grp, name, ms)] = ms_seq + 1
                eid = ((ms - _ELEMENT_ID_EPOCH_MS) << 17) | ms_seq
            row[schema.element_id_column] = eid
        elif kind == "trace":
            tag_order = spec_names or [
                schema.trace_id_column, schema.span_id_column,
                schema.ts_column, *[t.name for t in schema.tags]]
            vals = [_write_value(t) for t in d.get("tags", [])]
            if len(vals) != len(tag_order):
                raise QueryAnalyzeError(
                    f"write carries {len(vals)} tags, expected "
                    f"{len(tag_order)} ({tag_order})")
            row.update(zip(tag_order, vals))
            row[schema.ts_column] = _write_ts(row[schema.ts_column])
            if schema.span_column:
                row[schema.span_column] = d.get("span")
        else:
            raise QueryAnalyzeError(f"unsupported write kind {kind!r}")
        out.setdefault((grp, name), []).append(row)
    return out


def apply_write_requests(spark, catalog, kind: str, docs: Sequence,
                         store_root: str, mode: str = "overwrite") -> Dict[tuple, str]:
    """Flush a parsed write stream as segment parts
    (:func:`..sources.writer.write_parts`; the rows are already on the
    driver, so no Spark job runs), bucketed in ``spark``'s session time
    zone. Returns ``{(group, name): store_path}`` so the caller can point
    a query catalog at the written stores."""
    from .sources.writer import write_parts

    zone = spark.conf.get("spark.sql.session.timeZone")
    paths: Dict[tuple, str] = {}
    for (grp, name), rows in load_write_requests(docs, catalog, kind).items():
        path = f"{store_root}/{grp}__{name}"
        write_parts(rows, catalog.get(grp, kind, name), kind, path, zone,
                    mode=mode)
        paths[(grp, name)] = path
    return paths
