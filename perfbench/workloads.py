"""Seeded request lists for the three workloads.

Everything here is pure Python: a workload seed yields one fixed list of
requests (a "pass"), and the same seed always yields the same list. The
engine only ever sees the generated requests.

A dashboard request carries the DuckDB statement that answers it over the
dataset of ``datagen.py``; an analytics request names a registry entry,
whose oracle is the registry's own ``oracle_sql()``; the ingest workload is
a list of write batches whose reads are checked against :class:`StoreModel`.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Dict, List, Optional, Tuple

from datagen import EVENT_TYPES, N_USERS, VOCAB

# --------------------------------------------------------------------------
# dashboard: BanyanDB-parity reads, half BydbQL text, half typed requests
# --------------------------------------------------------------------------

DASHBOARD_KINDS = ("measure_agg", "measure_top", "measure_union",
                   "stream_page", "trace_filter", "property", "topn")
FORMS = ("ql", "typed")

SUM6 = "CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)"
AGG_SQL = {
    "SUM": SUM6,
    "MEAN": f"{SUM6} / COUNT(value)",
    "MAX": "MAX(value)",
    "MIN": "MIN(value)",
    "COUNT": "COUNT(value)",
}
TRACE_COLS = ("trace_id", "span_count", "start_ts", "end_ts")


@dataclass(frozen=True)
class Request:
    """One dashboard request.

    ``kind`` is the resource family, ``form`` is ``ql`` (``payload`` is
    BydbQL text) or ``typed`` (``payload`` is a QueryRequest dict for
    ``request_loader.load_<resource>_request``). ``columns`` names the
    result columns compared with ``sql``; None compares all of them."""

    kind: str
    form: str
    resource: str
    payload: object
    sql: str
    columns: Optional[Tuple[str, ...]] = None

    @property
    def label(self) -> str:
        return f"{self.kind}/{self.form}"


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def _window(rng: random.Random, days: int):
    """A ``days``-long window at a seeded start. Events are uniform over
    January, so every seed scans and returns about as many rows: seeds
    vary what is asked, not how much work it is."""
    begin = dt.datetime(2024, 1, rng.randint(2, 28 - days))
    return begin, begin + dt.timedelta(days=days)


def _time_ql(b, e) -> str:
    return f"TIME BETWEEN '{_iso(b)}Z' AND '{_iso(e)}Z'"


def _time_doc(b, e) -> dict:
    return {"begin": f"{_iso(b)}Z", "end": f"{_iso(e)}Z"}


def _time_sql(b, e) -> str:
    return (f"ts >= TIMESTAMP '{b:%Y-%m-%d %H:%M:%S}' "
            f"AND ts < TIMESTAMP '{e:%Y-%m-%d %H:%M:%S}'")


def _dedup_sql(b, e) -> str:
    """The measure read: latest ``event_id`` wins per (user_id, ts)."""
    return (f"(SELECT ts, user_id, event_type, value, props FROM events "
            f"WHERE {_time_sql(b, e)} QUALIFY row_number() OVER ("
            f"PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)")


def _tags(*names: str) -> dict:
    return {"tagFamilies": [{"name": "default", "tags": list(names)}]}


def _cond(name: str, op: str, value: dict) -> dict:
    return {"condition": {"name": name, "op": f"BINARY_OP_{op}",
                          "value": value}}


def _quote_list(values) -> str:
    return ", ".join(f"'{v}'" for v in values)


def _measure_agg(rng, form) -> Request:
    b, e = _window(rng, 10)
    group = "user_id" if form == "ql" else "event_type"
    func = rng.choice(sorted(AGG_SQL))
    floor = rng.randint(0, 10)
    sql = (f"SELECT {group}, {AGG_SQL[func]} AS value FROM {_dedup_sql(b, e)} "
           f"WHERE user_id >= {floor} GROUP BY {group}")
    if form == "ql":
        text = (f"SELECT {group}, {func}(value) FROM MEASURE metrics IN g1 "
                f"{_time_ql(b, e)} WHERE user_id >= {floor} "
                f"GROUP BY {group} LIMIT 100000")
        return Request("measure_agg", form, "measure", text, sql)
    doc = {"name": "metrics", "groups": ["g1"], "timeRange": _time_doc(b, e),
           "criteria": _cond("user_id", "GE", {"int": {"value": floor}}),
           "groupBy": {"tagProjection": _tags(group)},
           "agg": {"function": f"AGGREGATION_FUNCTION_{func}",
                   "fieldName": "value"},
           "limit": 100000}
    return Request("measure_agg", form, "measure", doc, sql)


def _measure_top(rng, form) -> Request:
    b, e = _window(rng, 10)
    n = rng.randint(8, 12)
    if form == "ql":
        text = (f"SELECT TOP {n} value DESC, user_id FROM MEASURE metrics "
                f"IN g1 {_time_ql(b, e)}")
        sql = (f"SELECT ts, user_id, value FROM {_dedup_sql(b, e)} "
               f"ORDER BY value DESC, ts, user_id LIMIT {n}")
        return Request("measure_top", form, "measure", text, sql)
    doc = {"name": "metrics", "groups": ["g1"], "timeRange": _time_doc(b, e),
           "groupBy": {"tagProjection": _tags("user_id")},
           "agg": {"function": "AGGREGATION_FUNCTION_SUM",
                   "fieldName": "value"},
           "top": {"number": n, "fieldName": "value",
                   "fieldValueSort": "SORT_DESC"},
           "limit": 100}
    sql = (f"SELECT user_id, {SUM6} AS value FROM {_dedup_sql(b, e)} "
           f"GROUP BY user_id ORDER BY value DESC, user_id LIMIT {n}")
    return Request("measure_top", form, "measure", doc, sql)


def _measure_union(rng, form) -> Request:
    b, e = _window(rng, 10)
    func = rng.choice(["COUNT", "SUM", "MAX"])
    dd = _dedup_sql(b, e)
    sql = (f"SELECT event_type, {AGG_SQL[func]} AS value FROM "
           f"(SELECT * FROM {dd} UNION ALL SELECT * FROM {dd}) "
           f"GROUP BY event_type")
    if form == "ql":
        text = (f"SELECT event_type, {func}(value) FROM MEASURE metrics "
                f"IN g1, g2 {_time_ql(b, e)} GROUP BY event_type LIMIT 100000")
        return Request("measure_union", form, "measure", text, sql)
    doc = {"name": "metrics", "groups": ["g1", "g2"],
           "timeRange": _time_doc(b, e),
           "groupBy": {"tagProjection": _tags("event_type")},
           "agg": {"function": f"AGGREGATION_FUNCTION_{func}",
                   "fieldName": "value"},
           "limit": 100000}
    return Request("measure_union", form, "measure", doc, sql)


def _stream_page(rng, form) -> Request:
    b, e = _window(rng, 10)
    types = sorted(rng.sample(EVENT_TYPES, 2))
    limit, offset = 50, rng.randint(0, 50)
    sql = (f"SELECT ts, event_id, user_id, event_type, value FROM events "
           f"WHERE {_time_sql(b, e)} AND event_type IN ({_quote_list(types)}) "
           f"ORDER BY value DESC, event_id LIMIT {limit} OFFSET {offset}")
    if form == "ql":
        text = (f"SELECT user_id, event_type, value FROM STREAM event_log "
                f"IN g1 {_time_ql(b, e)} WHERE event_type IN "
                f"({_quote_list(types)}) ORDER BY value DESC "
                f"LIMIT {limit} OFFSET {offset}")
        return Request("stream_page", form, "stream", text, sql)
    doc = {"name": "event_log", "groups": ["g1"], "timeRange": _time_doc(b, e),
           "criteria": _cond("event_type", "IN",
                             {"strArray": {"value": types}}),
           "projection": _tags("user_id", "event_type", "value"),
           "orderBy": {"indexRuleName": "value", "sort": "SORT_DESC"},
           "limit": limit, "offset": offset}
    return Request("stream_page", form, "stream", doc, sql)


def _trace_filter(rng, form) -> Request:
    b, e = _window(rng, 7)
    if form == "ql":
        floor = rng.randint(80, 120)
        text = (f"SELECT () FROM TRACE event_trace IN g1 {_time_ql(b, e)} "
                f"WHERE value > {floor} LIMIT 5000")
        where = f"value > {floor}"
        payload = text
    else:
        types = sorted(rng.sample(EVENT_TYPES, 2))
        payload = {"name": "event_trace", "groups": ["g1"],
                   "timeRange": _time_doc(b, e),
                   "criteria": _cond("event_type", "IN",
                                     {"strArray": {"value": types}}),
                   "limit": 5000}
        where = f"event_type IN ({_quote_list(types)})"
    sql = (f"SELECT user_id AS trace_id, COUNT(*) AS span_count, "
           f"MIN(ts) AS start_ts, MAX(ts) AS end_ts FROM events "
           f"WHERE {_time_sql(b, e)} AND {where} GROUP BY user_id")
    return Request("trace_filter", form, "trace", payload, sql, TRACE_COLS)


def _property(rng, form) -> Request:
    if form == "ql":
        words = sorted(rng.sample(VOCAB, 2))
        op = "AND"
        text = (f"SELECT lang, n_chars FROM PROPERTY documents IN g1 WHERE "
                f"text MATCH(({_quote_list(words)}), 'standard', '{op}') "
                f"LIMIT 10000")
        toks = "string_split(text, ' ')"
        where = f" {op} ".join(f"list_contains({toks}, '{w}')" for w in words)
        sql = f"SELECT doc_id, lang, n_chars FROM documents WHERE {where}"
        return Request("property", form, "property", text, sql)
    ids = sorted(rng.sample(range(500), 8))
    doc = {"name": "documents", "groups": ["g1"],
           "ids": [str(i) for i in ids],
           "tagProjection": ["lang", "n_chars"], "limit": 100}
    sql = (f"SELECT doc_id, lang, n_chars FROM documents "
           f"WHERE doc_id IN ({', '.join(map(str, ids))})")
    return Request("property", form, "property", doc, sql)


def _topn(rng, form) -> Request:
    b, e = _window(rng, 4)
    n = rng.randint(4, 6)
    func = rng.choice(["SUM", "MAX", "MEAN"])
    sql = f"""WITH latest AS (
          SELECT date_trunc('hour', ts) AS window_start, user_id, value
          FROM events QUALIFY row_number() OVER (
            PARTITION BY date_trunc('hour', ts), user_id
            ORDER BY ts DESC, event_id DESC) = 1
        ), ranked AS (
          SELECT window_start, user_id, value FROM latest
          QUALIFY row_number() OVER (
            PARTITION BY window_start ORDER BY value DESC, user_id) <= {n})
        SELECT user_id, {AGG_SQL[func]} AS value FROM ranked
        WHERE window_start >= TIMESTAMP '{b:%Y-%m-%d %H:%M:%S}'
          AND window_start < TIMESTAMP '{e:%Y-%m-%d %H:%M:%S}'
        GROUP BY user_id ORDER BY value DESC, user_id LIMIT {n}"""
    if form == "ql":
        text = (f"SHOW TOP {n} FROM MEASURE metrics IN g1 {_time_ql(b, e)} "
                f"AGGREGATE BY {func} ORDER BY DESC")
        return Request("topn", form, "topn", text, sql)
    doc = {"name": "metrics", "groups": ["g1"], "timeRange": _time_doc(b, e),
           "topN": n, "agg": f"AGGREGATION_FUNCTION_{func}",
           "fieldValueSort": "SORT_DESC"}
    return Request("topn", form, "topn", doc, sql)


_MAKERS = {
    "measure_agg": _measure_agg, "measure_top": _measure_top,
    "measure_union": _measure_union, "stream_page": _stream_page,
    "trace_filter": _trace_filter, "property": _property, "topn": _topn,
}


def dashboard_pass(seed: int) -> List[Request]:
    """One request per (kind, form): every pass has the same kind mix, so
    percentiles do not move with the share of an expensive kind."""
    rng = random.Random(f"dashboard-{seed}")
    reqs = [_MAKERS[k](rng, f) for k in DASHBOARD_KINDS for f in FORMS]
    rng.shuffle(reqs)
    return reqs


# --------------------------------------------------------------------------
# analytics: execute-heavy registry entries, reshuffled every round
# --------------------------------------------------------------------------

ANALYTICS_ENTRIES = (
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue", "tpch_q17_small_quantity",
    "events_session_window", "measure_latency_percentiles",
    "events_asof_join", "text_stats", "sketch_hll_users", "dedup_exact",
)


def analytics_rounds(seed: int, rounds: int) -> List[List[str]]:
    """``rounds`` passes over :data:`ANALYTICS_ENTRIES`, each in its own
    seeded order."""
    rng = random.Random(f"analytics-{seed}")
    out = []
    for _ in range(rounds):
        names = list(ANALYTICS_ENTRIES)
        rng.shuffle(names)
        out.append(names)
    return out


# --------------------------------------------------------------------------
# ingest: typed measure WriteRequests with re-delivered points
# --------------------------------------------------------------------------

INGEST_BATCHES = 6
INGEST_POINTS = 150
INGEST_REDELIVER = 0.2
# two writes per read keep the median inside the write latencies instead
# of on the boundary between writes and reads
READ_EVERY = 2
COMPACT_EVERY = 3
INGEST_BEGIN = dt.datetime(2024, 2, 1)
INGEST_DAYS = 3
_WRITE_SPEC = {"tagFamilySpec": [{"name": "default", "tagNames": [
    "user_id", "event_type", "props", "event_id"]}],
    "fieldNames": ["value"]}


@dataclass
class Point:
    user_id: int
    ts: dt.datetime
    event_type: str
    value: float
    version: int


def _write_doc(p: Point, first: bool) -> dict:
    doc = {"dataPoint": {
        "timestamp": p.ts.strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
        "tagFamilies": [{"name": "default", "tags": [
            {"int": {"value": p.user_id}},
            {"str": {"value": p.event_type}},
            {"str": {"value": f'{{"k": {p.version % 100}}}'}},
            {"int": {"value": p.version}}]}],
        "fields": [{"float": {"value": p.value}}]}}
    if first:
        doc["metadata"] = {"group": "g1", "name": "metrics"}
        doc["spec"] = _WRITE_SPEC
    return doc


@dataclass
class IngestBatch:
    points: List[Point]
    read_after: bool
    compact_after: bool
    docs: List[dict] = field(init=False)

    def __post_init__(self):
        self.docs = [_write_doc(p, i == 0) for i, p in enumerate(self.points)]


def ingest_pass(seed: int) -> List[IngestBatch]:
    """Batches for one fresh store. Versions rise monotonically across the
    pass; a re-delivered point repeats an earlier (user_id, ts) with a new
    value at a higher version, so the read must see the upsert."""
    rng = random.Random(f"ingest-{seed}")
    written: List[Tuple[int, dt.datetime]] = []
    version = 0
    batches = []
    span_us = INGEST_DAYS * 86400 * 10**6
    for i in range(INGEST_BATCHES):
        pts = []
        for _ in range(INGEST_POINTS):
            version += 1
            if written and rng.random() < INGEST_REDELIVER:
                uid, ts = rng.choice(written)
            else:
                uid = rng.randrange(N_USERS)
                ts = INGEST_BEGIN + dt.timedelta(
                    microseconds=rng.randrange(span_us))
                written.append((uid, ts))
            pts.append(Point(uid, ts, rng.choice(EVENT_TYPES),
                             round(rng.uniform(0.01, 500.0), 2), version))
        batches.append(IngestBatch(pts, (i + 1) % READ_EVERY == 0,
                                   (i + 1) % COMPACT_EVERY == 0))
    return batches


def ingest_read_doc() -> dict:
    """The read-after-write query: per event type, the sum over the live
    (latest-version) points of the whole store."""
    end = INGEST_BEGIN + dt.timedelta(days=INGEST_DAYS)
    return {"name": "metrics", "groups": ["g1"],
            "timeRange": _time_doc(INGEST_BEGIN, end),
            "groupBy": {"tagProjection": _tags("event_type")},
            "agg": {"function": "AGGREGATION_FUNCTION_SUM",
                    "fieldName": "value"},
            "limit": 100}


class StoreModel:
    """Latest-version-wins model of the measure store."""

    def __init__(self):
        self.live: Dict[Tuple[int, dt.datetime], Point] = {}

    def apply(self, points: List[Point]) -> None:
        for p in points:
            cur = self.live.get((p.user_id, p.ts))
            if cur is None or p.version > cur.version:
                self.live[(p.user_id, p.ts)] = p

    def expected(self) -> Dict[str, float]:
        sums: Dict[str, Decimal] = {}
        for p in self.live.values():
            sums[p.event_type] = sums.get(p.event_type, Decimal(0)) + \
                Decimal(str(p.value))
        return {k: float(v) for k, v in sums.items()}
