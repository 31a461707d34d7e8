"""Query registry — the driver contract behind ``__spark_entry__.py``.

Each entry pairs a Spark query (built through the engine's typed query model
and plan compilers, NOT ad-hoc DataFrame code — so the correctness gate
exercises the engine itself) with the ANSI-SQL oracle DuckDB runs on the same
parquet.

Exactness rules shared by both sides (see ``plans/measure.py`` docstring):
- float SUM/MEAN accumulate in DECIMAL(24,6) then cast to double;
- every ordering is total (unique-key tiebreakers) so LIMIT/OFFSET picks the
  same rows in both engines;
- measure reads dedup to the highest version per (entity, ts) — expressed in
  SQL as a QUALIFY row_number() subquery.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import default_catalog
from .functions.analyzers import tokens, tokens_sql
from .model import (
    AggFunc,
    AggregationSpec,
    BinaryOp,
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
    and_,
    cond,
    or_,
)
from .plans.measure import compile_measure
from .plans.property import compile_property
from .plans.stream import compile_stream
from .plans.topn import compile_topn
from .plans.trace import compile_trace

QueryFn = Callable[[SparkSession, str], DataFrame]

# Shared time ranges (events span 2024-01-01 .. 2024-01-31).
T0, T1 = "2024-01-03T00:00:00", "2024-01-27T00:00:00"
TR = TimeRange.of(T0, T1)

# DuckDB fragment: measure read = version dedup (highest event_id per
# (user_id, ts)) inside the time range, version column dropped.
def _dedup_sql(t0: str = T0, t1: str = T1) -> str:
    return (
        "(SELECT ts, user_id, event_type, value, props FROM ("
        "SELECT * FROM events WHERE ts >= TIMESTAMP '{t0}' AND ts < TIMESTAMP '{t1}' "
        "QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1))"
    ).format(t0=t0.replace("T", " "), t1=t1.replace("T", " "))


DEDUP = _dedup_sql()
SUM6 = "CAST(SUM(CAST({x} AS DECIMAL(24,6))) AS DOUBLE)"


_QUERIES: Dict[str, QueryFn] = {}
_ORACLES: Dict[str, str] = {}


def register(name: str, fn: QueryFn, sql=None) -> None:
    """``sql`` may be a string, or a zero-arg callable resolved when the
    driver asks for ``oracle_sql()`` — for oracles that must embed
    values derived from the correctness corpus at check time (e.g. the
    PCA basis literals, which come from an eigendecomposition no SQL
    dialect can express)."""
    _QUERIES[name] = fn
    if sql is not None:
        _ORACLES[name] = sql


def queries() -> Dict[str, QueryFn]:
    """Every entry, in registration order."""
    return dict(_QUERIES)


def oracle_sql() -> Dict[str, str]:
    """Oracle SQL per entry, in the same (registration) order as
    ``queries()``; lazy oracles are resolved here."""
    return {k: (_ORACLES[k]() if callable(_ORACLES[k]) else _ORACLES[k])
            for k in _QUERIES if k in _ORACLES}


# --------------------------------------------------------------------------
# Measure path (SURVEY §2.1 scan, §2.2 criteria, §2.4 aggregations, §2.5)
# --------------------------------------------------------------------------

def _measure_scan_filter(spark: SparkSession, sf: str) -> DataFrame:
    q = MeasureQuery(
        groups=["g1"], name="metrics", time_range=TR,
        criteria=and_(cond("event_type", BinaryOp.EQ, "click"),
                      cond("value", BinaryOp.GT, 100.0)),
        tag_projection=["user_id", "event_type"], field_projection=["value"],
        order_by=OrderBy(None, Sort.ASC), limit=50, offset=10,
    )
    return compile_measure(spark, default_catalog(sf), q)


register(
    "measure_scan_filter",
    _measure_scan_filter,
    f"""SELECT ts, user_id, event_type, value FROM {DEDUP}
        WHERE event_type = 'click' AND value > 100.0
        ORDER BY ts, user_id LIMIT 50 OFFSET 10""",
)


def _mk_groupagg(func: AggFunc, group: str, alias_sql: str) -> None:
    def fn(spark: SparkSession, sf: str, func=func, group=group) -> DataFrame:
        q = MeasureQuery(
            groups=["g1"], name="metrics", time_range=TR,
            group_by=[group], agg=AggregationSpec(func, "value"), limit=100000,
        )
        return compile_measure(spark, default_catalog(sf), q)

    register(f"measure_groupby_{func.value.lower()}", fn,
             f"SELECT {group}, {alias_sql} AS value FROM {DEDUP} GROUP BY {group}")


_mk_groupagg(AggFunc.SUM, "event_type", SUM6.format(x="value"))
_mk_groupagg(AggFunc.MEAN, "event_type",
             SUM6.format(x="value") + " / COUNT(value)")
_mk_groupagg(AggFunc.MIN, "user_id", "MIN(value)")
_mk_groupagg(AggFunc.MAX, "user_id", "MAX(value)")
_mk_groupagg(AggFunc.COUNT, "event_type", "COUNT(value)")


def _measure_agg_all(spark: SparkSession, sf: str) -> DataFrame:
    q = MeasureQuery(groups=["g1"], name="metrics", time_range=TR,
                     agg=AggregationSpec(AggFunc.MAX, "value"), limit=10)
    return compile_measure(spark, default_catalog(sf), q)


register("measure_agg_all", _measure_agg_all,
         f"SELECT MAX(value) AS value FROM {DEDUP}")


def _measure_groupby_no_agg(spark: SparkSession, sf: str) -> DataFrame:
    q = MeasureQuery(groups=["g1"], name="metrics", time_range=TR,
                     group_by=["event_type"], limit=100000)
    return compile_measure(spark, default_catalog(sf), q)


register("measure_groupby_no_agg", _measure_groupby_no_agg,
         f"SELECT DISTINCT event_type FROM {DEDUP}")


def _mk_top(name: str, sort: Sort, sql_dir: str) -> None:
    def fn(spark: SparkSession, sf: str, sort=sort) -> DataFrame:
        q = MeasureQuery(
            groups=["g1"], name="metrics", time_range=TR,
            group_by=["user_id"], agg=AggregationSpec(AggFunc.SUM, "value"),
            top=TopSpec(10, "value", sort), limit=100,
        )
        return compile_measure(spark, default_catalog(sf), q)

    register(name, fn,
             f"""SELECT user_id, {SUM6.format(x='value')} AS value FROM {DEDUP}
                 GROUP BY user_id ORDER BY value {sql_dir}, user_id LIMIT 10""")


_mk_top("measure_top_desc", Sort.DESC, "DESC")
_mk_top("measure_bottom_asc", Sort.ASC, "ASC")


def _measure_multigroup(spark: SparkSession, sf: str) -> DataFrame:
    q = MeasureQuery(
        groups=["g1", "g2"], name="metrics", time_range=TR,
        group_by=["event_type"], agg=AggregationSpec(AggFunc.COUNT, "value"),
        limit=100000,
    )
    return compile_measure(spark, default_catalog(sf), q)


register(
    "measure_multigroup_union",
    _measure_multigroup,
    f"""SELECT event_type, COUNT(value) AS value
        FROM (SELECT * FROM {DEDUP} UNION ALL SELECT * FROM {DEDUP})
        GROUP BY event_type""",
)


def _measure_filter_null(spark: SparkSession, sf: str) -> DataFrame:
    # EQ NULL -> isNull (model/v1/common.proto:50); props never null here so
    # pair with NE NULL to return rows.
    q = MeasureQuery(
        groups=["g1"], name="metrics", time_range=TR,
        criteria=and_(cond("props", BinaryOp.NE, None),
                      cond("user_id", BinaryOp.LE, 5)),
        tag_projection=["user_id"], field_projection=["value"],
        limit=100000,
    )
    return compile_measure(spark, default_catalog(sf), q)


register(
    "measure_filter_not_null",
    _measure_filter_null,
    f"""SELECT ts, user_id, value FROM {DEDUP}
        WHERE props IS NOT NULL AND user_id <= 5
        ORDER BY ts, user_id LIMIT 100000""",
)


# --------------------------------------------------------------------------
# Stream path (element dedup, order by tag/time, pagination, criteria ops)
# --------------------------------------------------------------------------

def _stream_scan(spark: SparkSession, sf: str) -> DataFrame:
    q = StreamQuery(
        groups=["g1"], name="event_log", time_range=TR,
        projection=["user_id", "event_type", "value"],
        order_by=OrderBy(None, Sort.ASC), limit=200, offset=25,
    )
    return compile_stream(spark, default_catalog(sf), q)


register(
    "stream_scan_paged",
    _stream_scan,
    f"""SELECT ts, event_id, user_id, event_type, value FROM events
        WHERE ts >= TIMESTAMP '{T0.replace("T", " ")}' AND ts < TIMESTAMP '{T1.replace("T", " ")}'
        ORDER BY ts, event_id LIMIT 200 OFFSET 25""",
)


def _stream_filter_in(spark: SparkSession, sf: str) -> DataFrame:
    q = StreamQuery(
        groups=["g1"], name="event_log", time_range=TR,
        criteria=cond("event_type", BinaryOp.IN, ["signup", "purchase"]),
        projection=["user_id", "event_type", "value"],
        order_by=OrderBy("value", Sort.DESC), limit=100,
    )
    return compile_stream(spark, default_catalog(sf), q)


register(
    "stream_filter_in_orderby_tag",
    _stream_filter_in,
    f"""SELECT ts, event_id, user_id, event_type, value FROM events
        WHERE ts >= TIMESTAMP '{T0.replace("T", " ")}' AND ts < TIMESTAMP '{T1.replace("T", " ")}'
          AND event_type IN ('signup', 'purchase')
        ORDER BY value DESC, event_id LIMIT 100""",
)


def _stream_filter_not_in(spark: SparkSession, sf: str) -> DataFrame:
    q = StreamQuery(
        groups=["g1"], name="event_log", time_range=TR,
        criteria=and_(cond("event_type", BinaryOp.NOT_IN, ["view", "click", "error"]),
                      cond("value", BinaryOp.GE, 50.0),
                      cond("value", BinaryOp.LT, 500.0)),
        projection=["user_id", "event_type", "value"],
        order_by=OrderBy(None, Sort.DESC), limit=500,
    )
    return compile_stream(spark, default_catalog(sf), q)


register(
    "stream_filter_not_in_range",
    _stream_filter_not_in,
    f"""SELECT ts, event_id, user_id, event_type, value FROM events
        WHERE ts >= TIMESTAMP '{T0.replace("T", " ")}' AND ts < TIMESTAMP '{T1.replace("T", " ")}'
          AND event_type NOT IN ('view', 'click', 'error')
          AND value >= 50.0 AND value < 500.0
        ORDER BY ts DESC, event_id LIMIT 500""",
)


def _stream_or_tree(spark: SparkSession, sf: str) -> DataFrame:
    q = StreamQuery(
        groups=["g1"], name="event_log", time_range=TR,
        criteria=and_(
            or_(cond("event_type", BinaryOp.EQ, "error"),
                cond("value", BinaryOp.GT, 400.0)),
            cond("user_id", BinaryOp.NE, 3),
        ),
        projection=["user_id", "event_type", "value"],
        order_by=OrderBy(None, Sort.ASC), limit=1000,
    )
    return compile_stream(spark, default_catalog(sf), q)


register(
    "stream_criteria_or_tree",
    _stream_or_tree,
    f"""SELECT ts, event_id, user_id, event_type, value FROM events
        WHERE ts >= TIMESTAMP '{T0.replace("T", " ")}' AND ts < TIMESTAMP '{T1.replace("T", " ")}'
          AND (event_type = 'error' OR value > 400.0) AND user_id <> 3
        ORDER BY ts, event_id LIMIT 1000""",
)


# --------------------------------------------------------------------------
# Trace path (span regroup by trace id)
# --------------------------------------------------------------------------

def _trace_group(spark: SparkSession, sf: str) -> DataFrame:
    q = TraceQuery(
        groups=["g1"], name="event_trace", time_range=TR,
        criteria=cond("event_type", BinaryOp.IN, ["click", "view", "purchase"]),
        order_by=OrderBy(None, Sort.ASC), limit=5000,
    )
    df = compile_trace(spark, default_catalog(sf), q)
    return df.select("trace_id", "span_count", "start_ts", "end_ts")


register(
    "trace_regroup_stats",
    _trace_group,
    f"""SELECT user_id AS trace_id, COUNT(*) AS span_count,
               MIN(ts) AS start_ts, MAX(ts) AS end_ts
        FROM events
        WHERE ts >= TIMESTAMP '{T0.replace("T", " ")}' AND ts < TIMESTAMP '{T1.replace("T", " ")}'
          AND event_type IN ('click', 'view', 'purchase')
        GROUP BY user_id ORDER BY start_ts, trace_id LIMIT 5000""",
)


def _trace_orderby_duration(spark: SparkSession, sf: str) -> DataFrame:
    """Slowest-traces-first: order by the numeric tag ``value`` DESC — the
    sidx-key retrieval of ``trace_plan_local.go:77-120`` (trace key =
    slowest span, two-phase rank-then-collect plan)."""
    q = TraceQuery(
        groups=["g1"], name="event_trace", time_range=TR,
        order_by=OrderBy("value", Sort.DESC), limit=50,
    )
    df = compile_trace(spark, default_catalog(sf), q)
    return df.select("trace_id", "span_count", "start_ts", "end_ts")


register(
    "trace_orderby_duration",
    _trace_orderby_duration,
    f"""SELECT user_id AS trace_id, COUNT(*) AS span_count,
               MIN(ts) AS start_ts, MAX(ts) AS end_ts
        FROM events
        WHERE ts >= TIMESTAMP '{T0.replace("T", " ")}' AND ts < TIMESTAMP '{T1.replace("T", " ")}'
        GROUP BY user_id ORDER BY MAX(value) DESC, trace_id LIMIT 50""",
)


# --------------------------------------------------------------------------
# Property path (criteria + sort + limit; MATCH full-text)
# --------------------------------------------------------------------------

def _property_query(spark: SparkSession, sf: str) -> DataFrame:
    q = PropertyQuery(
        group="g1", name="documents",
        criteria=and_(cond("lang", BinaryOp.EQ, "en"),
                      cond("n_chars", BinaryOp.GE, 200)),
        projection=["lang", "source", "n_chars"], limit=10000,
    )
    return compile_property(spark, default_catalog(sf), q)


register(
    "property_filter_sort",
    _property_query,
    """SELECT doc_id, lang, source, n_chars FROM documents
       WHERE lang = 'en' AND n_chars >= 200
       ORDER BY doc_id LIMIT 10000""",
)


def _property_match_or(spark: SparkSession, sf: str) -> DataFrame:
    q = PropertyQuery(
        group="g1", name="documents",
        criteria=cond("text", BinaryOp.MATCH, ["join", "window"],
                      match_operator=LogicalOp.OR),
        projection=["lang", "n_chars"], limit=10000,
    )
    return compile_property(spark, default_catalog(sf), q)


_TOK = tokens_sql("text", "standard")
register(
    "property_match_or",
    _property_match_or,
    f"""SELECT doc_id, lang, n_chars FROM documents
        WHERE list_contains({_TOK}, 'join') OR list_contains({_TOK}, 'window')
        ORDER BY doc_id LIMIT 10000""",
)


def _property_match_and(spark: SparkSession, sf: str) -> DataFrame:
    q = PropertyQuery(
        group="g1", name="documents",
        criteria=cond("text", BinaryOp.MATCH, ["hash join"],
                      match_operator=LogicalOp.AND),
        projection=["lang", "n_chars"], limit=10000,
    )
    return compile_property(spark, default_catalog(sf), q)


register(
    "property_match_and",
    _property_match_and,
    f"""SELECT doc_id, lang, n_chars FROM documents
        WHERE list_contains({_TOK}, 'hash') AND list_contains({_TOK}, 'join')
        ORDER BY doc_id LIMIT 10000""",
)


# --------------------------------------------------------------------------
# Top-N pre-aggregation (materialized view semantics, read path, post-agg)
# --------------------------------------------------------------------------

_TOPN_T0, _TOPN_T1 = "2024-01-03T00:00:00", "2024-01-08T00:00:00"
_TOPN_TR = TimeRange.of(_TOPN_T0, _TOPN_T1)

_TOPN_LATEST = f"""
    (SELECT date_trunc('hour', ts) AS window_start, user_id, value FROM events
     QUALIFY row_number() OVER (
        PARTITION BY date_trunc('hour', ts), user_id
        ORDER BY ts DESC, event_id DESC) = 1)"""

_TOPN_RANKED = f"""
    (SELECT window_start, user_id, value FROM {_TOPN_LATEST}
     QUALIFY row_number() OVER (
        PARTITION BY window_start ORDER BY value DESC, user_id) <= 3)"""


def _topn_per_window(spark: SparkSession, sf: str) -> DataFrame:
    q = TopNQuery(groups=["g1"], name="metrics", time_range=_TOPN_TR,
                  top_n=3, sort=Sort.DESC)
    return compile_topn(spark, default_catalog(sf), q)


register(
    "topn_per_window",
    _topn_per_window,
    f"""SELECT window_start, user_id, value FROM {_TOPN_RANKED}
        WHERE window_start >= TIMESTAMP '{_TOPN_T0.replace("T", " ")}'
          AND window_start <  TIMESTAMP '{_TOPN_T1.replace("T", " ")}'
        ORDER BY window_start, value DESC, user_id""",
)


def _topn_postagg(spark: SparkSession, sf: str) -> DataFrame:
    q = TopNQuery(groups=["g1"], name="metrics", time_range=_TOPN_TR,
                  top_n=3, sort=Sort.DESC, agg=AggFunc.MEAN)
    return compile_topn(spark, default_catalog(sf), q)


register(
    "topn_postagg_mean",
    _topn_postagg,
    f"""SELECT user_id, {SUM6.format(x='value')} / COUNT(value) AS value
        FROM {_TOPN_RANKED}
        WHERE window_start >= TIMESTAMP '{_TOPN_T0.replace("T", " ")}'
          AND window_start <  TIMESTAMP '{_TOPN_T1.replace("T", " ")}'
        GROUP BY user_id ORDER BY value DESC, user_id LIMIT 3""",
)


def _topn_multigroup(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-group SHOW TOP (golden case multi_group_aggr_desc,
    ``banyand/dquery/topn.go`` + ``topn_plan_merge.go``): per-group Top-N
    materializations union'd, then cross-window post-aggregation and the
    final rank. g1/g3 share physical data, so the oracle is the same ranked
    set UNION ALL'd twice."""
    q = TopNQuery(groups=["g1", "g3"], name="metrics", time_range=_TOPN_TR,
                  top_n=3, sort=Sort.DESC, agg=AggFunc.MAX)
    return compile_topn(spark, default_catalog(sf), q)


register(
    "topn_multigroup_postagg_max",
    _topn_multigroup,
    f"""SELECT user_id, MAX(value) AS value FROM (
          SELECT * FROM {_TOPN_RANKED}
          WHERE window_start >= TIMESTAMP '{_TOPN_T0.replace("T", " ")}'
            AND window_start <  TIMESTAMP '{_TOPN_T1.replace("T", " ")}'
          UNION ALL
          SELECT * FROM {_TOPN_RANKED}
          WHERE window_start >= TIMESTAMP '{_TOPN_T0.replace("T", " ")}'
            AND window_start <  TIMESTAMP '{_TOPN_T1.replace("T", " ")}')
        GROUP BY user_id ORDER BY value DESC, user_id LIMIT 3""",
)


# Extension registries (import side effect = registration). Placed at the
# bottom so they can import `register` from this module.
from . import registry_advanced  # noqa: E402,F401
from . import registry_analytics  # noqa: E402,F401
from . import registry_bydbql  # noqa: E402,F401
from . import registry_coverage  # noqa: E402,F401
from . import registry_criteria  # noqa: E402,F401
from . import registry_observability  # noqa: E402,F401
from . import registry_pipeline  # noqa: E402,F401
from . import registry_sketches  # noqa: E402,F401
from . import registry_tpch2  # noqa: E402,F401
