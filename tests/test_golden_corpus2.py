"""Golden-corpus replay, part 2 — breadth extension of test_golden_corpus.py.

Each case name IS a reference conformance input file
(``test/cases/{measure,stream,trace,topn,property}/data/input/<case>.yaml``),
mechanically translated to the synthetic catalog (same mapping as part 1:
``sw_metric -> g1``, ``service_cpm_minute -> metrics``, ``id -> user_id``,
``entity_id/state -> event_type``, ``duration -> value``; stream
``sw -> event_log``, ``default -> g1``, ``updated -> g2``; trace
``sw -> event_trace``). Requests go through ``request_loader`` (protobuf-JSON
shape, incl. the snake_case spellings some reference inputs use:
``str_array`` in measure ``in.yaml``, ``match_option`` in
``entity_match.yaml``) and dual-execute against a DuckDB twin.

Verify semantics per ``test/cases/measure/measure.go:36-43``: want rows
(ordered or DisOrder), WantEmpty, WantErr.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest

from skywalking_banyandb_spark.catalog import default_catalog
from skywalking_banyandb_spark.errors import QueryAnalyzeError
from skywalking_banyandb_spark.functions.analyzers import tokens_sql
from skywalking_banyandb_spark.model import BinaryOp, Sort, TimeRange, TopNQuery, cond
from skywalking_banyandb_spark.operators.criteria import compile_condition
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

from conftest import SF_SMALL
from test_golden_corpus import (
    _M_PROJ,
    _S_PROJ,
    _crit_sql,
    _dd,
    _run_dual,
    measure_oracle,
    T0,
    T1,
    TIME_RANGE,
)

T0S, T1S = T0.replace("T", " "), T1.replace("T", " ")


@pytest.fixture(scope="module")
def env(spark):
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'"
        )
    return spark, default_catalog(SF_SMALL), con


def _leaf(tag, op, kind, val):
    """One condition leaf in YAML FLOW style — valid at any nesting depth,
    which block style is not when spliced into f-string templates."""
    if kind.endswith("Array"):
        inner = ", ".join(
            '"%s"' % v if isinstance(v, str) else str(v) for v in val)
        payload = f"{{{kind}: {{value: [{inner}]}}}}"
    elif kind == "str":
        esc = str(val).replace('"', '\\"')
        payload = f'{{{kind}: {{value: "{esc}"}}}}'
    else:
        payload = f"{{{kind}: {{value: {val}}}}}"
    return (f' {{condition: {{name: "{tag}", op: "BINARY_OP_{op}", '
            f"value: {payload}}}}}")


# ---------------------------------------------------------------------------
# Measure: leaf / tree / tag_filter / group / top variants (generic oracle)
# ---------------------------------------------------------------------------

def _m(criteria_yaml: str = "", extra: str = "") -> str:
    return (f'name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}{_M_PROJ}'
            + criteria_yaml + extra)


_GROUP_ET = """groupBy:
  tagProjection:
    tagFamilies:
    - name: "default"
      tags: ["event_type"]
  fieldName: "value"
"""

MEASURE_CASES2 = {
    # gen_leaf_*.yaml — one case per (op, operand type)
    "gen_leaf_eq_int": _m("criteria:" + _leaf("user_id", "EQ", "int", 7)),
    "gen_leaf_eq_str": _m("criteria:" + _leaf("event_type", "EQ", "str", "view")),
    "gen_leaf_ne_int": _m("criteria:" + _leaf("user_id", "NE", "int", 3)),
    "gen_leaf_gt_int": _m("criteria:" + _leaf("user_id", "GT", "int", 9)),
    "gen_leaf_gt_str": _m("criteria:" + _leaf("event_type", "GT", "str", "error")),
    "gen_leaf_ge_str": _m("criteria:" + _leaf("event_type", "GE", "str", "signup")),
    "gen_leaf_le_int": _m("criteria:" + _leaf("user_id", "LE", "int", 5)),
    "gen_leaf_le_str": _m("criteria:" + _leaf("event_type", "LE", "str", "error")),
    "gen_leaf_lt_str": _m("criteria:" + _leaf("event_type", "LT", "str", "error")),
    "gen_leaf_in_int_array": _m(
        "criteria:" + _leaf("user_id", "IN", "intArray", [2, 5, 8, 11])),
    # snake_case spelling, as in the reference's measure in.yaml
    "gen_leaf_in_str_array": _m("""criteria:
    condition:
      name: "event_type"
      op: "BINARY_OP_IN"
      value:
        str_array:
          value: ["view", "signup"]"""),
    "gen_leaf_not_in_int_array": _m(
        "criteria:" + _leaf("user_id", "NOT_IN", "intArray", [0, 1, 2, 3])),
    "gen_leaf_not_in_str_array": _m(
        "criteria:" + _leaf("event_type", "NOT_IN", "strArray", ["click", "view"])),
    # gen_tree_*.yaml — criteria tree shapes at increasing depth
    "gen_tree_depth1_leaf": _m("criteria:" + _leaf("user_id", "EQ", "int", 2)),
    "gen_tree_depth2_and": _m(f"""criteria:
  le:
    op: "LOGICAL_OP_AND"
    left:{_leaf("user_id", "GE", "int", 4)}
    right:{_leaf("user_id", "LE", "int", 11)}
"""),
    "gen_tree_depth2_or": _m(f"""criteria:
  le:
    op: "LOGICAL_OP_OR"
    left:{_leaf("event_type", "EQ", "str", "click")}
    right:{_leaf("event_type", "EQ", "str", "error")}
"""),
    "gen_tree_depth3_and_or": _m(f"""criteria:
  le:
    op: "LOGICAL_OP_AND"
    left:
      le:
        op: "LOGICAL_OP_OR"
        left:{_leaf("event_type", "EQ", "str", "click")}
        right:{_leaf("event_type", "EQ", "str", "view")}
    right:{_leaf("user_id", "LT", "int", 10)}
"""),
    "gen_tree_depth3_or_and": _m(f"""criteria:
  le:
    op: "LOGICAL_OP_OR"
    left:
      le:
        op: "LOGICAL_OP_AND"
        left:{_leaf("user_id", "GE", "int", 5)}
        right:{_leaf("user_id", "LE", "int", 8)}
    right:{_leaf("event_type", "EQ", "str", "error")}
"""),
    "gen_tree_depth5_deep_and": _m(f"""criteria:
  le:
    op: "LOGICAL_OP_AND"
    left:
      le:
        op: "LOGICAL_OP_AND"
        left:
          le:
            op: "LOGICAL_OP_AND"
            left:
              le:
                op: "LOGICAL_OP_AND"
                left:{_leaf("user_id", "GE", "int", 1)}
                right:{_leaf("user_id", "LE", "int", 13)}
            right:{_leaf("event_type", "NE", "str", "purchase")}
        right:{_leaf("event_type", "NE", "str", "signup")}
    right:{_leaf("user_id", "NE", "int", 7)}
"""),
    "gen_tree_depth5_deep_or": _m(f"""criteria:
  le:
    op: "LOGICAL_OP_OR"
    left:
      le:
        op: "LOGICAL_OP_OR"
        left:
          le:
            op: "LOGICAL_OP_OR"
            left:
              le:
                op: "LOGICAL_OP_OR"
                left:{_leaf("user_id", "EQ", "int", 1)}
                right:{_leaf("user_id", "EQ", "int", 5)}
            right:{_leaf("user_id", "EQ", "int", 9)}
        right:{_leaf("event_type", "EQ", "str", "signup")}
    right:{_leaf("event_type", "EQ", "str", "purchase")}
"""),
    # linked_or.yaml: right-nested OR chain of EQ on the same tag, one
    # operand matching nothing ("unknown")
    "linked_or": _m(f"""criteria:
  le:
    op: "LOGICAL_OP_OR"
    left:{_leaf("event_type", "EQ", "str", "click")}
    right:
      le:
        op: "LOGICAL_OP_OR"
        left:{_leaf("event_type", "EQ", "str", "view")}
        right:{_leaf("event_type", "EQ", "str", "unknown")}
"""),
    # in.yaml: IN with one member matching nothing
    "in": _m("criteria:" + _leaf("event_type", "IN", "strArray",
                                 ["view", "purchase", "unknown"])),
    # tag_filter*.yaml: filters with a narrowed tag projection
    "tag_filter": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
tagProjection:
  tagFamilies:
  - name: "default"
    tags: ["user_id"]
fieldProjection:
  names: ["value"]
criteria:{_leaf("user_id", "EQ", "int", 4)}
""",
    "tag_filter_ge": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
tagProjection:
  tagFamilies:
  - name: "default"
    tags: ["user_id"]
fieldProjection:
  names: ["value"]
criteria:{_leaf("user_id", "GE", "int", 12)}
""",
    "tag_filter_int": _m("criteria:" + _leaf("user_id", "EQ", "int", 13)),
    "tag_filter_ne": _m("criteria:" + _leaf("event_type", "NE", "str", "purchase")),
    "tag_filter_not_in": _m(
        "criteria:" + _leaf("user_id", "NOT_IN", "intArray", [5, 6, 7])),
    # filter_hidden_tag.yaml: filter on a tag that is NOT projected
    "filter_hidden_tag": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
tagProjection:
  tagFamilies:
  - name: "default"
    tags: ["event_type"]
fieldProjection:
  names: ["value"]
criteria:{_leaf("user_id", "LT", "int", 6)}
""",
    # duplicated_part.yaml: duplicate writes collapse via version dedup
    # (the generic oracle's _dd last-write-wins mirrors it)
    "duplicated_part": _m(),
    # no_field.yaml: tag projection only, no fieldProjection clause
    "no_field": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
tagProjection:
  tagFamilies:
  - name: "default"
    tags: ["user_id", "event_type"]
limit: 150
""",
    # group_no_field.yaml: groupBy without agg and without fieldProjection
    "group_no_field": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
tagProjection:
  tagFamilies:
  - name: "default"
    tags: ["user_id"]
groupBy:
  tagProjection:
    tagFamilies:
    - name: "default"
      tags: ["user_id"]
limit: 1000
""",
    # group_sum_with_filter.yaml
    "group_sum_with_filter": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
criteria:{_leaf("event_type", "NE", "str", "view")}
{_GROUP_ET}agg:
  function: "AGGREGATION_FUNCTION_SUM"
  fieldName: "value"
limit: 1000
""",
    # top_with_filter.yaml / top_entity.yaml / bottom_entity.yaml
    "top_with_filter": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
criteria:{_leaf("event_type", "NE", "str", "error")}
groupBy:
  tagProjection:
    tagFamilies:
    - name: "default"
      tags: ["user_id"]
  fieldName: "value"
agg:
  function: "AGGREGATION_FUNCTION_MEAN"
  fieldName: "value"
top:
  number: 4
  fieldName: "value"
  fieldValueSort: "SORT_DESC"
limit: 1000
""",
    "top_entity": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
groupBy:
  tagProjection:
    tagFamilies:
    - name: "default"
      tags: ["user_id"]
  fieldName: "value"
agg:
  function: "AGGREGATION_FUNCTION_MAX"
  fieldName: "value"
top:
  number: 5
  fieldName: "value"
  fieldValueSort: "SORT_DESC"
limit: 1000
""",
    "bottom_entity": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
groupBy:
  tagProjection:
    tagFamilies:
    - name: "default"
      tags: ["user_id"]
  fieldName: "value"
agg:
  function: "AGGREGATION_FUNCTION_MIN"
  fieldName: "value"
top:
  number: 5
  fieldName: "value"
  fieldValueSort: "SORT_ASC"
limit: 1000
""",
    # float_top.yaml / float_bottom.yaml / float_top_mean.yaml: float-field
    # ranking (decimal-deterministic SUM/MEAN both sides)
    "float_top": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
{_GROUP_ET}agg:
  function: "AGGREGATION_FUNCTION_MAX"
  fieldName: "value"
top:
  number: 3
  fieldName: "value"
  fieldValueSort: "SORT_DESC"
limit: 1000
""",
    "float_bottom": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
{_GROUP_ET}agg:
  function: "AGGREGATION_FUNCTION_MIN"
  fieldName: "value"
top:
  number: 3
  fieldName: "value"
  fieldValueSort: "SORT_ASC"
limit: 1000
""",
    "float_top_mean": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
{_GROUP_ET}agg:
  function: "AGGREGATION_FUNCTION_MEAN"
  fieldName: "value"
top:
  number: 3
  fieldName: "value"
  fieldValueSort: "SORT_DESC"
limit: 1000
""",
    # gen_feat remaining numbered combos
    "gen_feat_count_group_order_desc_8": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
groupBy:
  tagProjection:
    tagFamilies:
    - name: "default"
      tags: ["user_id"]
  fieldName: "value"
agg:
  function: "AGGREGATION_FUNCTION_COUNT"
  fieldName: "value"
orderBy:
  sort: "SORT_DESC"
  indexRuleName: "user_id"
limit: 100000
""",
    "gen_feat_min_group_order_desc_7": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
groupBy:
  tagProjection:
    tagFamilies:
    - name: "default"
      tags: ["user_id"]
  fieldName: "value"
agg:
  function: "AGGREGATION_FUNCTION_MIN"
  fieldName: "value"
orderBy:
  sort: "SORT_DESC"
  indexRuleName: "user_id"
limit: 100000
""",
    "gen_feat_sum_group_order_desc_9": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
groupBy:
  tagProjection:
    tagFamilies:
    - name: "default"
      tags: ["user_id"]
  fieldName: "value"
agg:
  function: "AGGREGATION_FUNCTION_SUM"
  fieldName: "value"
orderBy:
  sort: "SORT_DESC"
  indexRuleName: "user_id"
limit: 100000
""",
    "gen_feat_mean_top_desc_group_order_asc_0": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
groupBy:
  tagProjection:
    tagFamilies:
    - name: "default"
      tags: ["user_id"]
  fieldName: "value"
agg:
  function: "AGGREGATION_FUNCTION_MEAN"
  fieldName: "value"
top:
  number: 6
  fieldName: "value"
  fieldValueSort: "SORT_DESC"
limit: 1000
""",
    "gen_feat_mean_top_asc_group_order_asc_4": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
groupBy:
  tagProjection:
    tagFamilies:
    - name: "default"
      tags: ["user_id"]
  fieldName: "value"
agg:
  function: "AGGREGATION_FUNCTION_MEAN"
  fieldName: "value"
top:
  number: 6
  fieldName: "value"
  fieldValueSort: "SORT_ASC"
limit: 1000
""",
    "gen_feat_mean_top_asc_group_order_desc_filter_1": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
criteria:{_leaf("event_type", "NE", "str", "signup")}
groupBy:
  tagProjection:
    tagFamilies:
    - name: "default"
      tags: ["user_id"]
  fieldName: "value"
agg:
  function: "AGGREGATION_FUNCTION_MEAN"
  fieldName: "value"
top:
  number: 4
  fieldName: "value"
  fieldValueSort: "SORT_ASC"
limit: 1000
""",
    "gen_feat_mean_top_desc_group_order_desc_3": f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
groupBy:
  tagProjection:
    tagFamilies:
    - name: "default"
      tags: ["event_type"]
  fieldName: "value"
agg:
  function: "AGGREGATION_FUNCTION_MEAN"
  fieldName: "value"
top:
  number: 3
  fieldName: "value"
  fieldValueSort: "SORT_DESC"
limit: 1000
""",
}


@pytest.mark.parametrize("case", sorted(MEASURE_CASES2))
def test_measure_golden_case2(env, case):
    spark, cat, con = env
    q = load_measure_request(MEASURE_CASES2[case])
    sql, ordered = measure_oracle(q)
    df = compile_measure(spark, cat, q)
    _run_dual(env, df, sql, ordered)


# ---------------------------------------------------------------------------
# Measure: NULL-operand leaves (gen_leaf_eq_null / gen_leaf_ne_null —
# TagValue {"null": null}; EQ null -> IS NULL)
# ---------------------------------------------------------------------------

def _scan_sql(where: str, proj=("user_id", "event_type", "props"),
              limit=100, offset=0) -> str:
    cols = ["ts"] + list(proj) + ["value"]
    return (
        f"SELECT {', '.join(cols)} FROM "
        "(SELECT ts, user_id, event_type, props, value FROM ("
        "SELECT *, row_number() OVER (PARTITION BY user_id, ts "
        "ORDER BY event_id DESC) AS rn FROM events "
        f"WHERE ts >= TIMESTAMP '{T0S}' AND ts < TIMESTAMP '{T1S}') "
        f"WHERE rn = 1) WHERE {where} "
        f"ORDER BY ts ASC, user_id ASC LIMIT {limit} OFFSET {offset}"
    )


def test_measure_gen_leaf_eq_null(env):
    spark, cat, con = env
    q = load_measure_request(_m("""criteria:
    condition:
      name: "props"
      op: "BINARY_OP_EQ"
      value:
        "null": null
""") + "limit: 1000\n")
    df = compile_measure(spark, cat, q)
    assert df.count() == 0  # props is never null in the fixture


def test_measure_gen_leaf_ne_null(env):
    spark, cat, con = env
    q = load_measure_request(f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
tagProjection:
  tagFamilies:
  - name: "default"
    tags: ["user_id", "event_type", "props"]
fieldProjection:
  names: ["value"]
criteria:
  le:
    op: "LOGICAL_OP_AND"
    left:
      condition:
        name: "props"
        op: "BINARY_OP_NE"
        value:
          "null": null
    right:{_leaf("user_id", "LE", "int", 2)}
limit: 100000
""")
    df = compile_measure(spark, cat, q)
    _run_dual(env, df,
              _scan_sql("props IS NOT NULL AND user_id <= 2", limit=100000),
              True)


# ---------------------------------------------------------------------------
# Measure: MATCH (match_node / match_nodes / entity_match /
# gen_leaf_match_str). event_type is single-token under the standard
# analyzer, so the DuckDB twin is plain equality / IN.
# ---------------------------------------------------------------------------

def _match_case(term_yaml: str) -> str:
    return f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
tagProjection:
  tagFamilies:
  - name: "default"
    tags: ["user_id", "event_type"]
fieldProjection:
  names: ["value"]
{term_yaml}limit: 100000
"""


def test_measure_match_node(env):
    spark, cat, con = env
    q = load_measure_request(_match_case("""criteria:
  condition:
    name: "event_type"
    op: "BINARY_OP_MATCH"
    value:
      str:
        value: "view"
"""))
    df = compile_measure(spark, cat, q)
    _run_dual(env, df,
              _scan_sql("event_type = 'view'", proj=("user_id", "event_type"),
                        limit=100000),
              True)


def test_measure_match_nodes(env):
    """match_nodes.yaml: multi-term MATCH, default OR semantics."""
    spark, cat, con = env
    q = load_measure_request(_match_case("""criteria:
  condition:
    name: "event_type"
    op: "BINARY_OP_MATCH"
    value:
      str:
        value: "view click"
"""))
    df = compile_measure(spark, cat, q)
    _run_dual(env, df,
              _scan_sql("event_type IN ('view', 'click')",
                        proj=("user_id", "event_type"), limit=100000),
              True)


def test_measure_entity_match(env):
    """entity_match.yaml: entity EQ AND MATCH with match_option
    OPERATOR_AND (snake_case spelling, as in the reference input)."""
    spark, cat, con = env
    q = load_measure_request(_match_case("""criteria:
  le:
    op: "LOGICAL_OP_AND"
    left:
      condition:
        name: "user_id"
        op: "BINARY_OP_EQ"
        value:
          int:
            value: 3
    right:
      condition:
        name: "event_type"
        op: "BINARY_OP_MATCH"
        match_option:
          operator: "LOGICAL_OP_AND"
        value:
          str:
            value: "click"
"""))
    df = compile_measure(spark, cat, q)
    _run_dual(env, df,
              _scan_sql("user_id = 3 AND event_type = 'click'",
                        proj=("user_id", "event_type"), limit=100000),
              True)


def test_measure_gen_leaf_match_str(env):
    spark, cat, con = env
    q = load_measure_request(_match_case("""criteria:
  condition:
    name: "event_type"
    op: "BINARY_OP_MATCH"
    value:
      str:
        value: "signup"
"""))
    df = compile_measure(spark, cat, q)
    _run_dual(env, df,
              _scan_sql("event_type = 'signup'",
                        proj=("user_id", "event_type"), limit=100000),
              True)


# ---------------------------------------------------------------------------
# Measure WantErr / WantEmpty
# ---------------------------------------------------------------------------

def test_measure_err_project_non_existent_tag(env):
    spark, cat, con = env
    q = load_measure_request(f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
tagProjection:
  tagFamilies:
  - name: "default"
    tags: ["user_id", "nonexistent_tag"]
fieldProjection:
  names: ["value"]
""")
    with pytest.raises(QueryAnalyzeError):
        compile_measure(spark, cat, q)


def test_measure_err_project_non_existent_field(env):
    spark, cat, con = env
    q = load_measure_request(f"""name: "metrics"\ngroups: ["g1"]\n{TIME_RANGE}
fieldProjection:
  names: ["no_such_field"]
""")
    with pytest.raises(QueryAnalyzeError):
        compile_measure(spark, cat, q)


def test_measure_err_tag_filter_unknown(env):
    spark, cat, con = env
    q = load_measure_request(
        _m("criteria:" + _leaf("unknown_tag", "EQ", "str", "x")))
    with pytest.raises(QueryAnalyzeError):
        compile_measure(spark, cat, q)


def test_measure_err_gen_err_match_int(env):
    """gen_err_match_int.yaml: MATCH against an INT tag is illegal."""
    spark, cat, con = env
    q = load_measure_request(_m("""criteria:
    condition:
      name: "user_id"
      op: "BINARY_OP_MATCH"
      value:
        int:
          value: 1"""))
    with pytest.raises(QueryAnalyzeError):
        compile_measure(spark, cat, q)


def test_measure_offset_empty(env):
    """offset_empty.yaml: offset past the end of the result -> 0 rows."""
    spark, cat, con = env
    q = load_measure_request(_m(extra="limit: 10\noffset: 10000000\n"))
    assert compile_measure(spark, cat, q).count() == 0


# ---------------------------------------------------------------------------
# Measure: index-mode cases (metrics_idx; no version dedup, raw rows)
# ---------------------------------------------------------------------------

_IDX_PROJ = """tagProjection:
  tagFamilies:
  - name: "default"
    tags: ["user_id", "event_type"]
fieldProjection:
  names: ["value"]
"""


def _idx(criteria_yaml: str = "", extra: str = "limit: 100000\n") -> str:
    return (f'name: "metrics_idx"\ngroups: ["g1"]\n{TIME_RANGE}{_IDX_PROJ}'
            + criteria_yaml + extra)


def _idx_sql(where: str = "", order: str = "ts ASC, user_id ASC",
             limit: int = 100000, offset: int = 0) -> str:
    w = f" AND ({where})" if where else ""
    return (
        "SELECT ts, user_id, event_type, value FROM events "
        f"WHERE ts >= TIMESTAMP '{T0S}' AND ts < TIMESTAMP '{T1S}'{w} "
        f"ORDER BY {order} LIMIT {limit} OFFSET {offset}"
    )


INDEX_MODE_CASES = {
    "index_mode_all": (_idx(), _idx_sql()),
    "index_mode_le": (
        _idx("criteria:" + _leaf("user_id", "LE", "int", 6) + "\n"),
        _idx_sql("user_id <= 6")),
    "index_mode_ne": (
        _idx("criteria:" + _leaf("event_type", "NE", "str", "click") + "\n"),
        _idx_sql("event_type <> 'click'")),
    "index_mode_range": (
        _idx("criteria:" + _leaf("user_id", "GT", "int", 10) + "\n"),
        _idx_sql("user_id > 10")),
    "index_mode_by_id": (
        _idx("criteria:" + _leaf("user_id", "EQ", "int", 7) + "\n"),
        _idx_sql("user_id = 7")),
    "index_mode_order_desc": (
        _idx(extra="""orderBy:
  sort: "SORT_DESC"
  indexRuleName: "user_id"
limit: 100000
"""),
        _idx_sql(order="user_id DESC, ts ASC")),
}


@pytest.mark.parametrize("case", sorted(INDEX_MODE_CASES))
def test_measure_index_mode_case(env, case):
    spark, cat, con = env
    yaml_text, sql = INDEX_MODE_CASES[case]
    q = load_measure_request(yaml_text)
    df = compile_measure(spark, cat, q)
    _run_dual(env, df, sql, True)


def test_measure_index_mode_none(env):
    """index_mode_none.yaml: criteria matching nothing -> WantEmpty."""
    spark, cat, con = env
    q = load_measure_request(
        _idx("criteria:" + _leaf("event_type", "EQ", "str", "nosuch") + "\n"))
    assert compile_measure(spark, cat, q).count() == 0


# ---------------------------------------------------------------------------
# Measure: multi-group (multi_group_unchanged / multi_group_new_tag_field)
# ---------------------------------------------------------------------------

def test_measure_multi_group_unchanged(env):
    """groups: [g1, g2] share one schema; per-group plans run and results
    merge (measure merge keeps per-group rows — no cross-group dedup,
    measure_plan_merge.go)."""
    spark, cat, con = env
    q = load_measure_request(f"""name: "metrics"\ngroups: ["g1", "g2"]\n{TIME_RANGE}
groupBy:
  tagProjection:
    tagFamilies:
    - name: "default"
      tags: ["event_type"]
  fieldName: "value"
agg:
  function: "AGGREGATION_FUNCTION_COUNT"
  fieldName: "value"
limit: 1000
""")
    df = compile_measure(spark, cat, q)
    d = ("(SELECT event_type, value FROM (SELECT *, row_number() OVER "
         "(PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn FROM events "
         f"WHERE ts >= TIMESTAMP '{T0S}' AND ts < TIMESTAMP '{T1S}') "
         "WHERE rn = 1)")
    sql = (f"SELECT event_type, COUNT(value) AS value FROM "
           f"(SELECT * FROM {d} UNION ALL SELECT * FROM {d}) "
           "GROUP BY event_type")
    _run_dual(env, df, sql, False)


def test_measure_multi_group_new_tag_field(env):
    """groups: [g1, g3]; g3's schema lacks ``props`` so its rows come back
    NULL-filled for that column (cross_group_merge.go NULL-fill)."""
    spark, cat, con = env
    q = load_measure_request(f"""name: "metrics"\ngroups: ["g1", "g3"]\n{TIME_RANGE}
tagProjection:
  tagFamilies:
  - name: "default"
    tags: ["user_id", "props"]
fieldProjection:
  names: ["value"]
criteria:{_leaf("user_id", "LE", "int", 1)}
limit: 100000
""")
    df = compile_measure(spark, cat, q)
    d = ("(SELECT ts, user_id, props, value FROM (SELECT *, row_number() OVER "
         "(PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn FROM events "
         f"WHERE ts >= TIMESTAMP '{T0S}' AND ts < TIMESTAMP '{T1S}') "
         "WHERE rn = 1 AND user_id <= 1)")
    sql = (f"SELECT ts, user_id, props, value FROM {d} "
           "UNION ALL "
           f"SELECT ts, user_id, NULL AS props, value FROM {d} "
           "ORDER BY ts, user_id LIMIT 100000")
    _run_dual(env, df, sql, False)


@pytest.mark.parametrize("groups", [("g1", "g3"), ("g3", "g1")])
def test_measure_multi_group_criteria_on_missing_tag(env, groups):
    """Criteria on ``props``, which g3 does not declare: g3's scan pads it
    as a typed NULL, so EQ matches nothing there and only g1's rows come
    back (the stream/trace rule), in either group order."""
    spark, cat, con = env
    q = load_measure_request(f"""name: "metrics"\ngroups: {list(groups)}\n{TIME_RANGE}
tagProjection:
  tagFamilies:
  - name: "default"
    tags: ["user_id", "props"]
fieldProjection:
  names: ["value"]
criteria:{_leaf("props", "EQ", "str", '{"k": 26}')}
limit: 100000
""")
    df = compile_measure(spark, cat, q)
    sql = ("SELECT ts, user_id, props, value FROM (SELECT *, row_number() "
           "OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn "
           f"FROM events WHERE ts >= TIMESTAMP '{T0S}' "
           f"AND ts < TIMESTAMP '{T1S}') "
           """WHERE rn = 1 AND props = '{"k": 26}'""")
    assert _run_dual(env, df, sql, False)


# ---------------------------------------------------------------------------
# Stream: leaf / tree / feature-combo cases (generic oracle)
# ---------------------------------------------------------------------------

def stream_oracle(q) -> str:
    """DuckDB twin of compile_stream for replay cases."""
    where = f" AND ({_crit_sql(q.criteria)})" if q.criteria is not None else ""
    proj = list(q.projection) or ["user_id", "event_type", "value", "props"]
    cols = ["ts", "event_id"] + [
        c for c in proj if c not in ("ts", "event_id")]
    order = q.order_by
    key = "ts" if (order is None or order.tag is None) else order.tag
    d = "DESC" if (order is not None and order.sort is Sort.DESC) else "ASC"
    limit = q.limit if q.limit is not None else 100
    return (
        f"SELECT {', '.join(cols)} FROM events "
        f"WHERE ts >= TIMESTAMP '{T0S}' AND ts < TIMESTAMP '{T1S}'{where} "
        f"ORDER BY {key} {d}, event_id ASC LIMIT {limit} OFFSET {q.offset}"
    )


def _s(criteria_yaml: str = "", extra: str = "limit: 200\n",
       groups: str = '["g1"]') -> str:
    return (f'name: "event_log"\ngroups: {groups}\n{TIME_RANGE}{_S_PROJ}'
            + criteria_yaml + extra)


_S_EXPLICIT = """projection:
  tagFamilies:
  - name: "searchable"
    tags: ["user_id", "value"]
"""


def _s_explicit(criteria_yaml: str = "", extra: str = "limit: 200\n") -> str:
    return (f'name: "event_log"\ngroups: ["g1"]\n{TIME_RANGE}{_S_EXPLICIT}'
            + criteria_yaml + extra)


_ORDER_VAL_ASC = 'orderBy:\n  sort: "SORT_ASC"\n  indexRuleName: "value"\n'
_ORDER_VAL_DESC = 'orderBy:\n  sort: "SORT_DESC"\n  indexRuleName: "value"\n'
_ORDER_TS_ASC = 'orderBy:\n  sort: "SORT_ASC"\n'
_ORDER_TS_DESC = 'orderBy:\n  sort: "SORT_DESC"\n'

_DURATION_RANGE = f"""criteria:
  le:
    op: "LOGICAL_OP_AND"
    left:{_leaf("value", "GE", "float", 50.0)}
    right:{_leaf("value", "LE", "float", 150.0)}
"""

STREAM_CASES2 = {
    # gen_leaf_* — duration -> value, service_id -> user_id, state -> event_type
    "gen_leaf_eq_duration": _s("criteria:" + _leaf("value", "EQ", "float", 87.5) + "\n"),
    "gen_leaf_ge_duration": _s("criteria:" + _leaf("value", "GE", "float", 300.0) + "\n"),
    "gen_leaf_gt_duration": _s("criteria:" + _leaf("value", "GT", "float", 310.0) + "\n"),
    "gen_leaf_le_duration": _s("criteria:" + _leaf("value", "LE", "float", 1.0) + "\n"),
    "gen_leaf_lt_duration": _s("criteria:" + _leaf("value", "LT", "float", 0.5) + "\n"),
    "gen_leaf_ne_duration": _s(
        "criteria:" + _leaf("value", "NE", "float", 87.5) + "\n",
        extra="limit: 5000\n"),
    "gen_leaf_eq_service_id": _s("criteria:" + _leaf("user_id", "EQ", "int", 11) + "\n"),
    "gen_leaf_eq_state": _s("criteria:" + _leaf("event_type", "EQ", "str", "error") + "\n"),
    "gen_leaf_in_service_id": _s(
        "criteria:" + _leaf("user_id", "IN", "intArray", [3, 6, 9]) + "\n"),
    "gen_leaf_in_state": _s(
        "criteria:" + _leaf("event_type", "IN", "strArray", ["click", "view"]) + "\n",
        extra="limit: 3000\n"),
    # gen_tree_*
    "gen_tree_depth1_leaf": _s("criteria:" + _leaf("user_id", "EQ", "int", 0) + "\n"),
    "gen_tree_depth2_and": _s(f"""criteria:
  le:
    op: "LOGICAL_OP_AND"
    left:{_leaf("user_id", "GE", "int", 3)}
    right:{_leaf("user_id", "LE", "int", 5)}
""", extra="limit: 2000\n"),
    "gen_tree_depth2_contradict_and": _s(f"""criteria:
  le:
    op: "LOGICAL_OP_AND"
    left:{_leaf("event_type", "EQ", "str", "click")}
    right:{_leaf("event_type", "EQ", "str", "view")}
"""),
    "gen_tree_depth2_or": _s(f"""criteria:
  le:
    op: "LOGICAL_OP_OR"
    left:{_leaf("event_type", "EQ", "str", "signup")}
    right:{_leaf("event_type", "EQ", "str", "purchase")}
""", extra="limit: 2000\n"),
    "gen_tree_depth3_and_or": _s(f"""criteria:
  le:
    op: "LOGICAL_OP_AND"
    left:
      le:
        op: "LOGICAL_OP_OR"
        left:{_leaf("event_type", "EQ", "str", "click")}
        right:{_leaf("event_type", "EQ", "str", "error")}
    right:{_leaf("user_id", "GE", "int", 10)}
""", extra="limit: 2000\n"),
    "gen_tree_depth3_or_and": _s(f"""criteria:
  le:
    op: "LOGICAL_OP_OR"
    left:
      le:
        op: "LOGICAL_OP_AND"
        left:{_leaf("value", "GE", "float", 200.0)}
        right:{_leaf("value", "LE", "float", 210.0)}
    right:{_leaf("event_type", "EQ", "str", "signup")}
""", extra="limit: 2000\n"),
    "gen_tree_depth5_deep_and": _s(f"""criteria:
  le:
    op: "LOGICAL_OP_AND"
    left:
      le:
        op: "LOGICAL_OP_AND"
        left:
          le:
            op: "LOGICAL_OP_AND"
            left:
              le:
                op: "LOGICAL_OP_AND"
                left:{_leaf("user_id", "GE", "int", 2)}
                right:{_leaf("user_id", "LE", "int", 12)}
            right:{_leaf("value", "GE", "float", 10.0)}
        right:{_leaf("value", "LE", "float", 250.0)}
    right:{_leaf("event_type", "NE", "str", "view")}
""", extra="limit: 3000\n"),
    "gen_tree_depth5_deep_or": _s(f"""criteria:
  le:
    op: "LOGICAL_OP_OR"
    left:
      le:
        op: "LOGICAL_OP_OR"
        left:
          le:
            op: "LOGICAL_OP_OR"
            left:
              le:
                op: "LOGICAL_OP_OR"
                left:{_leaf("user_id", "EQ", "int", 0)}
                right:{_leaf("user_id", "EQ", "int", 14)}
            right:{_leaf("event_type", "EQ", "str", "purchase")}
        right:{_leaf("value", "GT", "float", 320.0)}
    right:{_leaf("value", "LT", "float", 0.1)}
""", extra="limit: 3000\n"),
    # deduplication_test_limit_N.yaml: element-id dedup under paging
    "deduplication_test_limit_10": _s(extra="limit: 10\n"),
    "deduplication_test_limit_25": _s(extra="limit: 25\n"),
    "deduplication_test_limit_40": _s(extra="limit: 40\n"),
    "deduplication_test_limit_100": _s(extra="limit: 100\n"),
    # filter shapes
    "filter_no_indexed": _s(
        'criteria:' + _leaf("props", "EQ", "str", '{"k": 3}') + "\n",
        extra="limit: 2000\n"),
    "filter_no_indexed_or": _s(f"""criteria:
  le:
    op: "LOGICAL_OP_OR"
    left:{_leaf("props", "EQ", "str", '{"k": 3}')}
    right:{_leaf("event_type", "EQ", "str", "error")}
""", extra="limit: 3000\n"),
    "filter_tag": _s("criteria:" + _leaf("event_type", "EQ", "str", "view") + "\n",
                     extra="limit: 2000\n"),
    "filter_order_desc": _s(
        "criteria:" + _leaf("event_type", "EQ", "str", "click") + "\n",
        extra=_ORDER_VAL_DESC + "limit: 60\n"),
    "less": _s("criteria:" + _leaf("value", "LT", "float", 10.0) + "\n",
               extra="limit: 2000\n"),
    "less_eq": _s("criteria:" + _leaf("value", "LE", "float", 10.0) + "\n",
                  extra="limit: 2000\n"),
    "limit": _s(extra="limit: 5\n"),
    "offset": _s(extra="limit: 20\noffset: 13\n"),
    "logical": _s(f"""criteria:
  le:
    op: "LOGICAL_OP_AND"
    left:{_leaf("event_type", "EQ", "str", "click")}
    right:{_leaf("user_id", "LE", "int", 7)}
""", extra="limit: 2000\n"),
    "order_asc": _s(extra=_ORDER_TS_ASC + "limit: 80\n"),
    "order_desc": _s(extra=_ORDER_TS_DESC + "limit: 80\n"),
    "sort_filter": _s(
        "criteria:" + _leaf("event_type", "NE", "str", "view") + "\n",
        extra='orderBy:\n  sort: "SORT_ASC"\n  indexRuleName: "user_id"\nlimit: 70\n'),
    "sort_duration_no_index_limit": _s(extra=_ORDER_VAL_DESC + "limit: 7\n"),
    # gen_feat_* numbered combos (order x filter x limit/offset x projection)
    "gen_feat_duration_asc_filter_duration_range_limit5_offset3_proj_all_group_single_12":
        _s(_DURATION_RANGE, extra=_ORDER_VAL_ASC + "limit: 5\noffset: 3\n"),
    "gen_feat_duration_asc_filter_none_limit2_offset1_proj_explicit_group_single_3":
        _s_explicit(extra=_ORDER_VAL_ASC + "limit: 2\noffset: 1\n"),
    "gen_feat_duration_asc_filter_none_limit2_proj_all_group_single_7":
        _s(extra=_ORDER_VAL_ASC + "limit: 2\n"),
    "gen_feat_duration_asc_filter_service_eq_proj_explicit_group_single_14":
        _s_explicit("criteria:" + _leaf("user_id", "EQ", "int", 4) + "\n",
                    extra=_ORDER_VAL_ASC + "limit: 100\n"),
    "gen_feat_duration_desc_filter_duration_range_proj_all_group_multi_15":
        _s(_DURATION_RANGE, extra=_ORDER_VAL_DESC + "limit: 100\n",
           groups='["g1", "g2"]'),
    "gen_feat_duration_desc_filter_none_limit2_proj_all_group_single_4":
        _s(extra=_ORDER_VAL_DESC + "limit: 2\n"),
    "gen_feat_duration_desc_filter_none_limit2_proj_explicit_group_single_13":
        _s_explicit(extra=_ORDER_VAL_DESC + "limit: 2\n"),
    "gen_feat_none_filter_none_limit2_proj_all_group_single_8":
        _s(extra="limit: 2\n"),
    "gen_feat_none_filter_none_limit2_proj_explicit_group_single_0":
        _s_explicit(extra="limit: 2\n"),
    "gen_feat_none_filter_none_proj_explicit_group_single_9":
        _s_explicit(extra="limit: 100\n"),
    "gen_feat_ts_asc_filter_none_limit2_proj_explicit_group_single_5":
        _s_explicit(extra=_ORDER_TS_ASC + "limit: 2\n"),
    "gen_feat_ts_asc_filter_none_limit5_offset1_proj_all_group_single_1":
        _s(extra=_ORDER_TS_ASC + "limit: 5\noffset: 1\n"),
    "gen_feat_ts_asc_filter_service_eq_limit2_proj_all_group_single_10":
        _s("criteria:" + _leaf("user_id", "EQ", "int", 2) + "\n",
           extra=_ORDER_TS_ASC + "limit: 2\n"),
    "gen_feat_ts_asc_filter_state_eq_proj_all_group_single_16":
        _s("criteria:" + _leaf("event_type", "EQ", "str", "view") + "\n",
           extra=_ORDER_TS_ASC + "limit: 100\n"),
    "gen_feat_ts_desc_filter_none_limit2_offset3_proj_all_group_single_2":
        _s(extra=_ORDER_TS_DESC + "limit: 2\noffset: 3\n"),
    "gen_feat_ts_desc_filter_none_limit2_proj_explicit_group_single_6":
        _s_explicit(extra=_ORDER_TS_DESC + "limit: 2\n"),
    "gen_feat_ts_desc_filter_state_eq_limit5_offset1_proj_explicit_group_single_11":
        _s_explicit("criteria:" + _leaf("event_type", "EQ", "str", "error") + "\n",
                    extra=_ORDER_TS_DESC + "limit: 5\noffset: 1\n"),
    # multi_group_unchanged.yaml: same schema in g1+g2; element dedup across
    # the merged iterators -> same elements as one group
    "multi_group_unchanged": _s(extra="limit: 150\n", groups='["g1", "g2"]'),
}


@pytest.mark.parametrize("case", sorted(STREAM_CASES2))
def test_stream_golden_case2(env, case):
    spark, cat, con = env
    q = load_stream_request(STREAM_CASES2[case])
    df = compile_stream(spark, cat, q)
    _run_dual(env, df, stream_oracle(q), True)


def test_stream_search(env):
    """search.yaml: MATCH on an analyzed tag (props tokens via the standard
    analyzer; tokens_sql is the DuckDB twin of the same analyzer)."""
    spark, cat, con = env
    q = load_stream_request(_s("""criteria:
  condition:
    name: "props"
    op: "BINARY_OP_MATCH"
    value:
      str:
        value: "42"
""", extra="limit: 3000\n"))
    df = compile_stream(spark, cat, q)
    ptok = tokens_sql("props", "standard")
    sql = (
        "SELECT ts, event_id, user_id, event_type, value, props FROM events "
        f"WHERE ts >= TIMESTAMP '{T0S}' AND ts < TIMESTAMP '{T1S}' "
        f"AND list_contains({ptok}, '42') "
        "ORDER BY ts ASC, event_id ASC LIMIT 3000"
    )
    _run_dual(env, df, sql, True)


# Stream WantEmpty
def test_stream_filter_tag_empty(env):
    spark, cat, con = env
    q = load_stream_request(
        _s("criteria:" + _leaf("event_type", "EQ", "str", "nosuch") + "\n"))
    assert compile_stream(spark, cat, q).count() == 0


def test_stream_sort_empty(env):
    spark, cat, con = env
    q = load_stream_request(
        _s("criteria:" + _leaf("user_id", "EQ", "int", 99999) + "\n",
           extra=_ORDER_VAL_DESC + "limit: 10\n"))
    assert compile_stream(spark, cat, q).count() == 0


# Stream WantErr — a NULL operand (``"null": null``) on an ordered
# comparison rejects at analyze time. (The reference's gen_err_*_state
# cases err for a different reason — entity-tag op restriction — and are
# replayed verbatim in test_golden_gen_verbatim.py; ``int: {}`` is the
# proto3 DEFAULT 0, not a null, per protojson.)
@pytest.mark.parametrize("op", ["LT", "LE", "GT", "GE"])
def test_stream_err_ordered_null_operand(env, op):
    spark, cat, con = env
    q = load_stream_request(_s(f"""criteria:
  condition:
    name: "user_id"
    op: "BINARY_OP_{op}"
    value:
      "null": null
"""))
    with pytest.raises(QueryAnalyzeError):
        compile_stream(spark, cat, q)


def test_stream_err_filter_non_existent_tag(env):
    spark, cat, con = env
    q = load_stream_request(
        _s("criteria:" + _leaf("no_such", "EQ", "str", "x") + "\n"))
    with pytest.raises(QueryAnalyzeError):
        compile_stream(spark, cat, q)


def test_stream_err_project_non_existent_tag(env):
    spark, cat, con = env
    q = load_stream_request(f"""name: "event_log"\ngroups: ["g1"]\n{TIME_RANGE}
projection:
  tagFamilies:
  - name: "searchable"
    tags: ["user_id", "no_such"]
limit: 10
""")
    with pytest.raises(QueryAnalyzeError):
        compile_stream(spark, cat, q)


def test_stream_err_in_arr():
    """err_in_arr.yaml: IN against an ARRAY-typed tag is illegal
    (tag_filter.go op/type legality)."""
    with pytest.raises(QueryAnalyzeError):
        compile_condition(
            cond("extended_tags", BinaryOp.IN, ["c", "b"]),
            {"extended_tags": None},
            tag_types={"extended_tags": "STRING_ARRAY"},
        )


# ---------------------------------------------------------------------------
# Trace: leaf / tree / ordering / ids cases
# ---------------------------------------------------------------------------

def _t(criteria_yaml: str = "", extra: str = "limit: 30\n",
       groups: str = '["g1"]') -> str:
    return (f'name: "event_trace"\ngroups: {groups}\n{TIME_RANGE}'
            + criteria_yaml + extra)


def trace_oracle(q, order_sql: str, mult: int = 1) -> str:
    where = f" AND ({_crit_sql(q.criteria)})" if q.criteria is not None else ""
    ids = ""
    if q.trace_ids:
        ids = f" AND user_id IN ({', '.join(str(i) for i in q.trace_ids)})"
    limit = q.limit if q.limit is not None else 100
    return (
        f"SELECT user_id AS trace_id, {mult} * COUNT(*) AS span_count, "
        "MIN(ts) AS start_ts, MAX(ts) AS end_ts FROM events "
        f"WHERE ts >= TIMESTAMP '{T0S}' AND ts < TIMESTAMP '{T1S}'{where}{ids} "
        f"GROUP BY user_id ORDER BY {order_sql}, trace_id ASC "
        f"LIMIT {limit} OFFSET {q.offset}"
    )


_TS_ASC = "start_ts ASC"

TRACE_CASES2 = {
    # gen_leaf_* (duration -> value, state -> event_type): criteria select
    # SPANS; matching spans regroup into their traces
    "gen_leaf_eq_duration": (_t("criteria:" + _leaf("value", "EQ", "float", 87.5) + "\n"), _TS_ASC),
    "gen_leaf_ge_duration": (_t("criteria:" + _leaf("value", "GE", "float", 300.0) + "\n"), _TS_ASC),
    "gen_leaf_gt_duration": (_t("criteria:" + _leaf("value", "GT", "float", 310.0) + "\n"), _TS_ASC),
    "gen_leaf_le_duration": (_t("criteria:" + _leaf("value", "LE", "float", 2.0) + "\n"), _TS_ASC),
    "gen_leaf_lt_duration": (_t("criteria:" + _leaf("value", "LT", "float", 1.0) + "\n"), _TS_ASC),
    "gen_leaf_ne_duration": (_t("criteria:" + _leaf("value", "NE", "float", 87.5) + "\n"), _TS_ASC),
    "gen_leaf_eq_state": (_t("criteria:" + _leaf("event_type", "EQ", "str", "error") + "\n"), _TS_ASC),
    "gen_leaf_ne_state": (_t("criteria:" + _leaf("event_type", "NE", "str", "error") + "\n"), _TS_ASC),
    "gen_leaf_ge_state": (_t("criteria:" + _leaf("event_type", "GE", "str", "signup") + "\n"), _TS_ASC),
    "gen_leaf_in_state": (
        _t("criteria:" + _leaf("event_type", "IN", "strArray", ["click", "error"]) + "\n"),
        _TS_ASC),
    "gen_leaf_not_in_state": (
        _t("criteria:" + _leaf("event_type", "NOT_IN", "strArray", ["click", "view", "error"]) + "\n"),
        _TS_ASC),
    "gen_tree_depth2_and": (_t(f"""criteria:
  le:
    op: "LOGICAL_OP_AND"
    left:{_leaf("value", "GE", "float", 100.0)}
    right:{_leaf("value", "LE", "float", 110.0)}
"""), _TS_ASC),
    "gen_tree_depth2_or": (_t(f"""criteria:
  le:
    op: "LOGICAL_OP_OR"
    left:{_leaf("event_type", "EQ", "str", "signup")}
    right:{_leaf("event_type", "EQ", "str", "purchase")}
"""), _TS_ASC),
    "gen_tree_depth3_and_or": (_t(f"""criteria:
  le:
    op: "LOGICAL_OP_AND"
    left:
      le:
        op: "LOGICAL_OP_OR"
        left:{_leaf("event_type", "EQ", "str", "click")}
        right:{_leaf("event_type", "EQ", "str", "view")}
    right:{_leaf("value", "GT", "float", 250.0)}
"""), _TS_ASC),
    "gen_tree_depth3_or_and": (_t(f"""criteria:
  le:
    op: "LOGICAL_OP_OR"
    left:
      le:
        op: "LOGICAL_OP_AND"
        left:{_leaf("value", "GE", "float", 10.0)}
        right:{_leaf("value", "LE", "float", 11.0)}
    right:{_leaf("event_type", "EQ", "str", "purchase")}
"""), _TS_ASC),
    # order variants (sidx key = numeric tag; time = MIN(ts))
    "order_timestamp_desc": (_t(extra='orderBy:\n  sort: "SORT_DESC"\nlimit: 30\n'),
                             "start_ts DESC"),
    "order_timestamp_desc_limit": (_t(extra='orderBy:\n  sort: "SORT_DESC"\nlimit: 3\n'),
                                   "start_ts DESC"),
    "eq_endpoint_order_duration_asc": (
        _t("criteria:" + _leaf("event_type", "EQ", "str", "click") + "\n",
           extra='orderBy:\n  sort: "SORT_ASC"\n  indexRuleName: "value"\nlimit: 30\n'),
        "MIN(value) ASC"),
    "duration_range_order_timestamp": (_t(f"""criteria:
  le:
    op: "LOGICAL_OP_AND"
    left:{_leaf("value", "GE", "float", 100.0)}
    right:{_leaf("value", "LE", "float", 200.0)}
""", extra='orderBy:\n  sort: "SORT_ASC"\nlimit: 30\n'), _TS_ASC),
    "state_duration_range_and_ids_order_timestamp_desc": (_t(f"""criteria:
  le:
    op: "LOGICAL_OP_AND"
    left:{_leaf("event_type", "EQ", "str", "click")}
    right:
      le:
        op: "LOGICAL_OP_AND"
        left:{_leaf("value", "GE", "float", 10.0)}
        right:{_leaf("value", "LE", "float", 300.0)}
""", extra='traceIds: [2, 4, 6, 8]\norderBy:\n  sort: "SORT_DESC"\nlimit: 30\n'),
        "start_ts DESC"),
    "in_trace_ids": (_t(extra="traceIds: [1, 5, 9]\nlimit: 30\n"), _TS_ASC),
    # multi-group: g1+g2 over the same twin data -> spans merge (2x count)
    "multi_group_unchanged": (
        _t(extra="limit: 30\n", groups='["g1", "g2"]'), _TS_ASC, 2),
}


@pytest.mark.parametrize("case", sorted(TRACE_CASES2))
def test_trace_golden_case2(env, case):
    spark, cat, con = env
    spec = TRACE_CASES2[case]
    yaml_text, order_sql = spec[0], spec[1]
    mult = spec[2] if len(spec) > 2 else 1
    q = load_trace_request(yaml_text)
    df = compile_trace(spark, cat, q).select(
        "trace_id", "span_count", "start_ts", "end_ts")
    _run_dual(env, df, trace_oracle(q, order_sql, mult), True)


def test_trace_in_empty_span_ids(env):
    """in_empty_span_ids.yaml: empty candidate set -> WantEmpty (mapped to
    trace ids matching nothing)."""
    spark, cat, con = env
    q = load_trace_request(_t(extra="traceIds: [99991, 99992]\nlimit: 10\n"))
    assert compile_trace(spark, cat, q).count() == 0


def test_trace_err_filter_non_existent_tag(env):
    spark, cat, con = env
    q = load_trace_request(
        _t("criteria:" + _leaf("no_such", "EQ", "str", "x") + "\n"))
    with pytest.raises(QueryAnalyzeError):
        compile_trace(spark, cat, q)


def test_trace_err_in_arr(env):
    """err_in_arr.yaml (trace): IN with a scalar operand is illegal."""
    spark, cat, con = env
    q = load_trace_request(_t("""criteria:
  condition:
    name: "event_type"
    op: "BINARY_OP_IN"
    value:
      str:
        value: "click"
"""))
    with pytest.raises(QueryAnalyzeError):
        compile_trace(spark, cat, q)


def test_trace_err_order_by_non_numeric(env):
    """gen_err-style: ordering traces needs an int64 sidx key; a string tag
    is rejected (banyand/internal/sidx int64 keys)."""
    spark, cat, con = env
    q = load_trace_request(
        _t(extra='orderBy:\n  sort: "SORT_DESC"\n  indexRuleName: "event_type"\nlimit: 10\n'))
    with pytest.raises(QueryAnalyzeError):
        compile_trace(spark, cat, q)


# ---------------------------------------------------------------------------
# TopN: per-agg variants (topn_count/mean/sum reference cases), null_group,
# multi-group
# ---------------------------------------------------------------------------

_TOPN_TR = """
timeRange:
  begin: "2024-01-03T00:00:00Z"
  end: "2024-01-08T00:00:00Z"
"""

# query-time conditions EQ-pin the group BEFORE the top-N truncation
# (topn_plan_localscan.go parseGroupByTags: the pinned group's stored
# ranking answers the query even when it is outside the global top N),
# so {pin} sits inside the ranked CTE, not after it.
_TOPN_SQL_BASE = """
WITH latest AS (
  SELECT date_trunc('hour', ts) AS window_start, user_id, value FROM events
  QUALIFY row_number() OVER (
    PARTITION BY date_trunc('hour', ts), user_id
    ORDER BY ts DESC, event_id DESC) = 1
), ranked AS (
  SELECT window_start, user_id, value FROM latest{pin}
  QUALIFY row_number() OVER (
    PARTITION BY window_start ORDER BY value {rankdir}, user_id) <= {n}
)
"""

_SUMD = "CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)"


def _topn_oracle2(n, rankdir, aggdir, agg_sql, pin=""):
    return (
        _TOPN_SQL_BASE.format(
            rankdir=rankdir, n=n, pin=f" WHERE {pin}" if pin else "")
        + f"""SELECT user_id, {agg_sql} AS value FROM ranked
        WHERE window_start >= TIMESTAMP '2024-01-03 00:00:00'
          AND window_start <  TIMESTAMP '2024-01-08 00:00:00'
        GROUP BY user_id ORDER BY value {aggdir}, user_id LIMIT {n}"""
    )


TOPN_AGG_CASES = {
    # topn_count.yaml: agg=4 (COUNT)
    "topn_count": (4, "DESC", "COUNT(value)"),
    # topn_mean.yaml / float_mean_aggr_desc.yaml: agg=1 (MEAN)
    "topn_mean": (1, "DESC", f"{_SUMD} / COUNT(value)"),
    # topn_sum.yaml / float_sum_aggr_desc.yaml: agg=5 (SUM)
    "topn_sum": (5, "DESC", _SUMD),
    # topn_min.yaml / float_min_aggr_asc.yaml: agg=3 (MIN), ASC
    "topn_min": (3, "ASC", "MIN(value)"),
    # topn_max.yaml / float_max_aggr_desc.yaml / aggr_desc.yaml: agg=2 (MAX)
    "topn_max": (2, "DESC", "MAX(value)"),
}


@pytest.mark.parametrize("case", sorted(TOPN_AGG_CASES))
def test_topn_agg_case(env, case):
    spark, cat, con = env
    aggnum, d, agg_sql = TOPN_AGG_CASES[case]
    sortnum = 1 if d == "DESC" else 2
    q = load_topn_request(
        f'name: "metrics"\ngroups: ["g1"]\n{_TOPN_TR}topN: 3\n'
        f"fieldValueSort: {sortnum}\nagg: {aggnum}\n"
    )
    df = compile_topn(spark, cat, q)
    _run_dual(env, df, _topn_oracle2(3, d, d, agg_sql), True)


def test_topn_null_group(env):
    """null_group.yaml: EQ-null condition on the entity tag (numeric enum
    form, snake 'null' kind) -> matches nothing in the fixture."""
    spark, cat, con = env
    q = load_topn_request(
        f"""name: "metrics"\ngroups: ["g1"]\n{_TOPN_TR}topN: 3
fieldValueSort: 1
agg: 2
conditions:
- name: user_id
  op: 1
  value:
    "null": null
"""
    )
    assert compile_topn(spark, cat, q).count() == 0


def test_topn_multi_group_aggr_desc(env):
    """multi_group_aggr_desc.yaml: groups [g1, g2] rank over the merged
    per-window winners (twin groups share data -> same winner set)."""
    spark, cat, con = env
    q = load_topn_request(
        f'name: "metrics"\ngroups: ["g1", "g2"]\n{_TOPN_TR}topN: 3\n'
        "fieldValueSort: 1\nagg: 2\n"
    )
    df = compile_topn(spark, cat, q)
    _run_dual(env, df, _topn_oracle2(3, "DESC", "DESC", "MAX(value)"), True)


def test_topn_window_edges_of_pushed_range(env):
    """The TopN scan reads ts in [begin, end + window). At begin 11:30 the
    11:00 window straddles begin and is dropped whole; at end 19:30 the
    19:00 window starts just before end and keeps its rows after end."""
    spark, cat, con = env
    b, e = "2024-01-03 11:30:00", "2024-01-05 19:30:00"
    q = TopNQuery(groups=["g1"], name="metrics", top_n=2, sort=Sort.DESC,
                  time_range=TimeRange.of(b.replace(" ", "T"),
                                          e.replace(" ", "T")))
    sql = _TOPN_SQL_BASE.format(rankdir="DESC", n=2, pin="") + f"""
        SELECT window_start, user_id, value FROM ranked
        WHERE window_start >= TIMESTAMP '{b}' AND window_start < TIMESTAMP '{e}'
        ORDER BY window_start, value DESC, user_id"""
    rows = _run_dual(env, compile_topn(spark, cat, q), sql, True)
    starts = {r[2] for r in rows}  # columns sorted: user_id, value, window_start
    assert dt.datetime(2024, 1, 5, 19) in starts
    assert dt.datetime(2024, 1, 3, 11) not in starts
    assert dt.datetime(2024, 1, 3, 12) in starts


# ---------------------------------------------------------------------------
# Property: all / limit / order_by variants
# ---------------------------------------------------------------------------

def test_property_all(env):
    spark, cat, con = env
    q = load_property_request(
        'name: "documents"\ngroups: ["g1"]\ntagProjection: ["lang", "source"]\nlimit: 100000\n'
    )
    df = compile_property(spark, cat, q)
    sql = ("SELECT doc_id, lang, source FROM documents "
           "ORDER BY doc_id ASC LIMIT 100000")
    _run_dual(env, df, sql, True)


def test_property_limit(env):
    spark, cat, con = env
    q = load_property_request(
        'name: "documents"\ngroups: ["g1"]\ntagProjection: ["lang"]\nlimit: 9\n'
    )
    df = compile_property(spark, cat, q)
    sql = "SELECT doc_id, lang FROM documents ORDER BY doc_id ASC LIMIT 9"
    _run_dual(env, df, sql, True)


def test_property_order_by_asc(env):
    spark, cat, con = env
    q = load_property_request(
        """name: "documents"\ngroups: ["g1"]
tagProjection: ["lang", "n_chars"]
orderBy:
  sort: "SORT_ASC"
  indexRuleName: "n_chars"
limit: 50
"""
    )
    df = compile_property(spark, cat, q)
    sql = ("SELECT doc_id, lang, n_chars FROM documents "
           "ORDER BY n_chars ASC, doc_id ASC LIMIT 50")
    _run_dual(env, df, sql, True)


def test_property_order_by_desc(env):
    spark, cat, con = env
    q = load_property_request(
        """name: "documents"\ngroups: ["g1"]
tagProjection: ["lang", "n_chars"]
orderBy:
  sort: "SORT_DESC"
  indexRuleName: "n_chars"
limit: 50
"""
    )
    df = compile_property(spark, cat, q)
    sql = ("SELECT doc_id, lang, n_chars FROM documents "
           "ORDER BY n_chars DESC, doc_id ASC LIMIT 50")
    _run_dual(env, df, sql, True)


def test_property_order_by_with_limit(env):
    spark, cat, con = env
    q = load_property_request(
        """name: "documents"\ngroups: ["g1"]
tagProjection: ["n_chars"]
orderBy:
  sort: "SORT_DESC"
  indexRuleName: "n_chars"
limit: 7
"""
    )
    df = compile_property(spark, cat, q)
    sql = ("SELECT doc_id, n_chars FROM documents "
           "ORDER BY n_chars DESC, doc_id ASC LIMIT 7")
    _run_dual(env, df, sql, True)


def test_property_order_without_projection(env):
    """order_without_projection.yaml: orderBy tag not in the projection."""
    spark, cat, con = env
    q = load_property_request(
        """name: "documents"\ngroups: ["g1"]
tagProjection: ["lang"]
orderBy:
  sort: "SORT_ASC"
  indexRuleName: "n_chars"
limit: 25
"""
    )
    df = compile_property(spark, cat, q)
    sql = ("SELECT doc_id, lang FROM "
           "(SELECT * FROM documents ORDER BY n_chars ASC, doc_id ASC LIMIT 25)")
    _run_dual(env, df, sql, False)
