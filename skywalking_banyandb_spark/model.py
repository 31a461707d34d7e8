"""Typed query model — the PySpark analogue of BanyanDB's protobuf requests.

The reference's query surface (``api/proto/banyandb/measure/v1/query.proto``,
``stream/v1/query.proto``, ``trace/v1/query.proto``, ``property/v1/rpc.proto``,
``model/v1/query.proto``) is a narrow algebra: time range + criteria tree +
projection + group-by + {MIN,MAX,SUM,COUNT,MEAN} + top-N + order-by +
limit/offset. These dataclasses are that algebra, engine-agnostic; the
``plans`` package compiles them to DataFrames.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Optional, Sequence, Union


class BinaryOp(str, Enum):
    """Condition ops — ``model/v1/query.proto:53-66`` (reference)."""

    EQ = "EQ"
    NE = "NE"
    LT = "LT"
    GT = "GT"
    LE = "LE"
    GE = "GE"
    IN = "IN"
    NOT_IN = "NOT_IN"
    HAVING = "HAVING"          # array tag contains ALL listed values
    NOT_HAVING = "NOT_HAVING"
    MATCH = "MATCH"            # full-text on analyzed tag


class LogicalOp(str, Enum):
    AND = "AND"
    OR = "OR"


class Sort(str, Enum):
    ASC = "ASC"
    DESC = "DESC"


class AggFunc(str, Enum):
    """The complete agg set — ``model/v1/common.proto:74-81`` (reference)."""

    MIN = "MIN"
    MAX = "MAX"
    SUM = "SUM"
    COUNT = "COUNT"
    MEAN = "MEAN"


@dataclass(frozen=True)
class Condition:
    """Leaf of the criteria tree (tag op value)."""

    tag: str
    op: BinaryOp
    value: Any = None
    # MATCH extras (model/v1/query.proto:70-79): analyzer + term operator
    match_analyzer: Optional[str] = None
    match_operator: LogicalOp = LogicalOp.OR


@dataclass(frozen=True)
class Criteria:
    """AND/OR binary tree over conditions — ``model/v1/query.proto:83-101``."""

    op: LogicalOp
    left: "CriteriaNode"
    right: "CriteriaNode"


CriteriaNode = Union[Condition, Criteria]


def cond(tag: str, op: Union[BinaryOp, str], value: Any = None, **kw: Any) -> Condition:
    return Condition(tag=tag, op=BinaryOp(op), value=value, **kw)


def and_(*nodes: CriteriaNode) -> CriteriaNode:
    assert nodes
    out = nodes[0]
    for n in nodes[1:]:
        out = Criteria(LogicalOp.AND, out, n)
    return out


def or_(*nodes: CriteriaNode) -> CriteriaNode:
    assert nodes
    out = nodes[0]
    for n in nodes[1:]:
        out = Criteria(LogicalOp.OR, out, n)
    return out


@dataclass(frozen=True)
class TimeRange:
    """Half-open ``[begin, end)`` — ``model/v1/query.proto:125-130``."""

    begin: Optional[_dt.datetime] = None
    end: Optional[_dt.datetime] = None

    @staticmethod
    def of(begin: Optional[str], end: Optional[str]) -> "TimeRange":
        p = _dt.datetime.fromisoformat
        return TimeRange(p(begin) if begin else None, p(end) if end else None)


_INTERVAL_UNITS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
    "week": 604800, "weeks": 604800,
}


def parse_interval(text: str) -> _dt.timedelta:
    """'10 minutes' / '1 hour' / '30 days' -> timedelta."""
    n, unit = text.strip().split()
    return _dt.timedelta(seconds=int(n) * _INTERVAL_UNITS[unit.lower()])


@dataclass(frozen=True)
class AggregationSpec:
    """Aggregate ``function`` over measure ``field`` —
    ``measure/v1/query.proto:108-121``."""

    function: AggFunc
    field_name: str


@dataclass(frozen=True)
class TopSpec:
    """Query-time Top-N after group/agg — ``measure/v1/query.proto:123-136``.

    ``DESC`` keeps the largest N (top), ``ASC`` the smallest (bottom) —
    ``pkg/query/logical/measure/measure_plan_top.go:44-168``.
    """

    number: int
    field_name: str
    sort: Sort = Sort.DESC


@dataclass(frozen=True)
class OrderBy:
    """Order by an (indexed) tag or timestamp —
    ``model/v1/query.proto:103-114``. ``tag=None`` means order by time."""

    tag: Optional[str] = None
    sort: Sort = Sort.ASC


# Default result cap — ``measure_analyzer.go:32`` (defaultLimit=100).
DEFAULT_LIMIT = 100


@dataclass(frozen=True)
class MeasureQuery:
    """``measure/v1/query.proto`` QueryRequest analogue."""

    groups: Sequence[str]
    name: str
    time_range: TimeRange
    criteria: Optional[CriteriaNode] = None
    tag_projection: Sequence[str] = ()
    field_projection: Sequence[str] = ()
    group_by: Sequence[str] = ()
    agg: Optional[AggregationSpec] = None
    top: Optional[TopSpec] = None
    order_by: Optional[OrderBy] = None
    limit: Optional[int] = None
    offset: int = 0
    # lifecycle stages to read (measure/v1/query.proto:147-148); empty ->
    # the group's default stages (dquery.go:161-192)
    stages: Sequence[str] = ()
    # pinned schema revisions (measure/v1/query.proto:151-154): {} = no gate
    group_mod_revisions: Optional[dict] = None


@dataclass(frozen=True)
class StreamQuery:
    """``stream/v1/query.proto`` QueryRequest analogue."""

    groups: Sequence[str]
    name: str
    time_range: TimeRange
    criteria: Optional[CriteriaNode] = None
    projection: Sequence[str] = ()
    order_by: Optional[OrderBy] = None
    limit: Optional[int] = None
    offset: int = 0
    stages: Sequence[str] = ()
    # pinned schema revisions; also the opt-in trigger for the created_at
    # time-range clamp (reference 0.11; catalog.clamp_time_range_begin)
    group_mod_revisions: Optional[dict] = None


@dataclass(frozen=True)
class TraceQuery:
    """``trace/v1/query.proto`` QueryRequest analogue — spans regrouped by
    trace id."""

    groups: Sequence[str]
    name: str
    time_range: TimeRange
    criteria: Optional[CriteriaNode] = None
    projection: Sequence[str] = ()
    trace_ids: Sequence[str] = ()
    order_by: Optional[OrderBy] = None
    limit: Optional[int] = None
    offset: int = 0
    stages: Sequence[str] = ()
    # pinned schema revisions + created_at clamp trigger (see StreamQuery)
    group_mod_revisions: Optional[dict] = None


@dataclass(frozen=True)
class PropertyQuery:
    """``property/v1/rpc.proto:74-91`` QueryRequest analogue."""

    group: str
    name: str
    ids: Sequence[str] = ()
    criteria: Optional[CriteriaNode] = None
    projection: Sequence[str] = ()
    order_by: Optional["OrderBy"] = None
    limit: Optional[int] = None
    offset: int = 0


@dataclass(frozen=True)
class TopNQuery:
    """``measure/v1/topn.proto:55-81`` TopNRequest analogue.

    ``agg`` re-aggregates per-entity values across time windows
    (``banyand/query/processor_topn.go:189-240``); without it the response
    is per-window ranked lists.
    """

    groups: Sequence[str]
    name: str
    time_range: TimeRange
    top_n: int
    sort: Sort = Sort.DESC
    agg: Optional[AggFunc] = None
    conditions: Sequence[Condition] = ()
    stages: Sequence[str] = ()
