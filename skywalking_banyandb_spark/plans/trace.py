"""Trace query compiler — TraceQuery -> DataFrame of spans grouped by trace.

Reference: ``pkg/query/logical/trace/trace_plan_local.go:43-120`` scans spans
by time/tags/trace-ids (sidx-ordered) and regroups them into ``Trace``
messages (``trace/v1/query.proto:31-57``). The regroup is the reference's
only join-like operation; on Spark it is ``groupBy(trace_id)`` +
``collect_list`` over spans sorted within each trace.

Ordering: the reference retrieves spans ordered by an int64 secondary-index
(sidx) key — time by default, or any indexed int tag such as duration
(``banyand/internal/sidx/``, ``trace_plan_local.go:77-120``) — and a trace
is emitted at the position of its first-encountered span.  On Spark that
means the trace's effective sort key is MIN(tag) for ASC and MAX(tag) for
DESC over its spans ("slowest traces first" = order by the slowest span).

Scale: the regroup is TWO-PHASE so full span payloads are never shuffled
for losing traces.  Phase 1 ranks trace ids only — groupBy(trace_id) over
(key, ts) aggregates (map-side partial combine, a few bytes per trace) and
takes the top ``offset+limit`` ids.  Phase 2 broadcast-semi-joins the winner
ids back to the span scan and collects span lists for just those traces.
At 100 TB phase 1 shuffles O(#traces) tiny rows; the payload
``collect_list`` touches only ``limit`` traces' spans.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog, TraceSchema
from ..errors import QueryAnalyzeError
from ..model import Sort, TraceQuery, DEFAULT_LIMIT
from ..operators.criteria import compile_criteria, qcol, types_of
from ..operators.merge import resolve_groups, scan_groups
from ..operators.topk import limit_offset


def _tagmap(schema: TraceSchema) -> Dict[str, Optional[str]]:
    out: Dict[str, Optional[str]] = {
        schema.ts_column: None,
        schema.trace_id_column: None,
        schema.span_id_column: None,
    }
    for t in schema.tags:
        out[t.name] = t.analyzer
    return out


def _order_key(ref: TraceSchema, q: TraceQuery):
    """Per-trace sort-key aggregate implementing sidx ordering.

    Returns (agg_expr, descending).  Time ordering uses MIN(ts) (trace start)
    in both directions — the reference's default key is the span's timestamp
    and UIs sort traces by start time.  Tag ordering uses MIN/MAX per
    direction per the sidx first-encounter semantics above.
    """
    order = q.order_by
    desc = bool(order and order.sort is Sort.DESC)
    # the timestamp tag alias (TraceSchema.ts_tag_alias, the reference's
    # timestamp_tag_name) addresses the time column by its tag name
    if order is None or order.tag is None or order.tag in (
        ref.ts_column, ref.ts_tag_alias,
    ):
        return F.min(F.col(ref.ts_column)), desc
    tspec = ref.tag(order.tag)
    if tspec is None:
        raise QueryAnalyzeError(
            f"trace order-by tag {order.tag!r} is not an indexed tag of "
            f"{ref.name!r} (available: {[t.name for t in ref.tags]})"
        )
    if tspec.type not in ("INT", "FLOAT"):
        # sidx keys are int64 (banyand/internal/sidx); numeric tags only.
        raise QueryAnalyzeError(
            f"trace order-by tag {order.tag!r} must be numeric "
            f"(sidx int64 key), got {tspec.type}"
        )
    col = F.col(order.tag)
    return (F.max(col) if desc else F.min(col)), desc


def compile_trace(spark: SparkSession, catalog: Catalog, q: TraceQuery) -> DataFrame:
    g = resolve_groups(catalog, q, "trace")
    q, ref, merged = g.q, g.schemas[0], g.merged
    tagmap = _tagmap(merged)
    pred = compile_criteria(q.criteria, tagmap, types_of(merged))

    def each(df: DataFrame, s: TraceSchema, _i: int) -> DataFrame:
        if pred is not None:
            df = df.where(pred)
        if q.trace_ids:
            df = df.where(F.col(s.trace_id_column).isin(*list(q.trace_ids)))
        return df

    tid_col = ref.trace_id_column
    # a span without a trace id belongs to no trace
    df = scan_groups(spark, g, each).where(F.col(tid_col).isNotNull())
    key_agg, desc = _order_key(ref, q)
    limit = q.limit if q.limit is not None else DEFAULT_LIMIT

    # Phase 1: rank trace ids on the tiny (trace_id, key) aggregate.
    # orderBy+limit lowers to TakeOrderedAndProject — no full sort.
    # The per-trace STATS (span_count / start_ts / end_ts) ride this same
    # aggregate since r16 — a few more map-side-combined bytes per trace —
    # so the span-payload pass below contributes ONLY the spans column,
    # and a consumer that drops `spans` (the reference's trace-LIST shape:
    # trace_regroup_stats, trace_orderby_duration) gets the whole phase-2
    # subtree ELIMINATED: the left join below is on a unique key (an
    # aggregate's grouping column) with no referenced output, which
    # Catalyst removes, leaving a ONE-SCAN plan (guide §1.2; pinned by
    # test_trace_two_phase_regroup / test_trace_stats_only_single_scan).
    keys = df.groupBy(F.col(tid_col).alias("trace_id")).agg(
        key_agg.alias("_order_key"),
        F.count(F.lit(1)).alias("span_count"),
        F.min(F.col(ref.ts_column)).alias("start_ts"),
        F.max(F.col(ref.ts_column)).alias("end_ts"),
    )
    kcol = F.col("_order_key").desc() if desc else F.col("_order_key").asc()
    # offset pages the ranked trace list (trace_plan_local.go pages traces,
    # not spans); orderBy+offset+limit lowers to TakeOrderedAndProject.
    winners = limit_offset(
        keys.orderBy(kcol, F.col("trace_id").asc()), limit, q.offset
    )

    # Phase 2: collect span payloads for winner traces only.
    # tagProjection restricts the per-span tags (trace/v1/query.proto);
    # ts + span id always ride along (the regroup sort key).
    if q.projection:
        # trace_id / span_id / ts are intrinsic columns and legal projection
        # names (``trace/v1/query.proto`` tag_projection lists them flat —
        # e.g. the zipkin golden cases project trace_id + span_id).
        intrinsic = {ref.ts_column, ref.trace_id_column, ref.span_id_column}
        for name in q.projection:
            if name not in tagmap and name not in intrinsic:
                raise QueryAnalyzeError(
                    f"projection references unknown tag {name!r}"
                )
        tag_cols = [t.name for t in merged.tags if t.name in set(q.projection)]
    else:
        # default projection = physical tags only (derived tags appear when
        # explicitly projected, like the other three plan kinds)
        tag_cols = [t.name for t in merged.tags if t.expr is None]
    span_payload = [ref.ts_column, ref.span_id_column] + tag_cols
    if ref.span_column:
        span_payload.append(ref.span_column)
    win = winners.select(F.col("trace_id").alias("_win_tid"))
    picked = df.join(
        F.broadcast(win), df[tid_col] == F.col("_win_tid"), "inner"
    )
    # spans sorted by (ts, span_id) within each trace — sidx ordering
    # analogue. This aggregate carries ONLY the spans column: every winner
    # trace has >= 1 span (winners were aggregated from the same filtered
    # scan), so the left join is row-for-row identical to the previous
    # inner regroup — and when the consumer never reads `spans`, the
    # unique-key left join (grouping column of an aggregate) is removed
    # by the optimizer together with this whole second scan.
    spans_rel = picked.groupBy(
        F.col("_win_tid").alias("trace_id")
    ).agg(
        F.sort_array(
            F.collect_list(F.struct(*[qcol(c) for c in span_payload]))
        ).alias("spans"),
    )
    return (
        winners.join(spans_rel, "trace_id", "left")
        .orderBy(kcol, F.col("trace_id").asc())
        .drop("_order_key")
        .select("trace_id", "spans", "span_count", "start_ts", "end_ts")
    )
