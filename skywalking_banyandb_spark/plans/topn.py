"""Top-N pre-aggregation — materialization job + read path.

Reference, write-time half (``banyand/measure/topn.go:562-583,744-810``):
measure writes tee into Filter(criteria) → Map(field + GroupName(groupTags))
→ tumbling window (size = measure interval) → per-(window, GroupName) bounded
Top-N heap of **source-measure series** — the heap is keyed by seriesID with
in-place replacement (``pkg/flow/streaming/topn.go:51-305``), sized by the
declaration's ``counters_number`` — snapshotted into a hidden
``_top_n_result`` measure whose data points carry the FULL source entity
(``topn.go:884-896``: flow.Data = (entityValues, GroupName, value, …)).
Read-time half (``banyand/query/processor_topn.go:101-240``): scan the
pre-agg measure — conditions EQ-pin a GroupName at scan time
(``topn_plan_localscan.go:87-94,125-156`` parseGroupByTags: every condition
must be EQ and together they must pin ALL groupBy tags) — then per-entity
distinct keeping the best value (``topn_plan_distinct.go:50-289``), rank to
the query's N, optional post-aggregation (``processor_topn.go:189-240``).

Spark-first batch recompute: per (window, groupTags, source entity) the
*latest* point wins (the heap's replace-on-same-seriesID semantics), then
series rank ≤ counters_number within each (window, group), conditions pin
groups on that materialization, and the query re-ranks to its own N per
window. Two shuffle-free window stages after a single shuffle on
(window, group, entity) — the group rank partitions by a prefix of the
aggregate key, so Catalyst reuses the exchange. The streaming variant lives
in ``streaming/topn_stream.py``.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog, MeasureSchema
from ..errors import QueryAnalyzeError
from ..model import AggFunc, BinaryOp, Sort, TimeRange, TopNQuery, parse_interval
from ..sources.parquet import in_range, read_table
from ..operators.criteria import compile_condition, compile_criteria, qcol
from ..operators.topk import per_window_top_n, top_n
from .measure import agg_expr


def materialize_topn(
    spark: SparkSession,
    schema: MeasureSchema,
    field: str,
    n: int,
    window: str = "1 hour",
    sort: Sort = Sort.DESC,
    stages: Sequence[str] = (),
    criteria=None,
    group_tags: Optional[Sequence[str]] = None,
    counters_number: Optional[int] = None,
    time_range: Optional[TimeRange] = None,
) -> DataFrame:
    """Build the ``_top_n_result`` content from the source measure (batch).

    Output: (window_start, group_tags..., entity extras..., field) — per
    (window, group) the top ``counters_number`` (the declaration's exact
    heap bound; the query's ``n`` when no declaration) SOURCE-MEASURE
    SERIES by their latest-written value, each row carrying the series'
    full entity (``topn.go`` keys the heap by seriesID and stores
    entityValues; conformance ``want/condition_aggr_desc.yaml`` items carry
    service_id + entity_id). The query-time read path re-ranks this
    candidate table to its own N.

    ``criteria`` is the TopNAggregation DECLARATION's pre-filter
    (``schema.proto`` TopNAggregation.criteria; the conformance
    ``not_in_svc2_svc4`` aggregation declares ``service_id NOT_IN
    [svc_2, svc_4]``): rows are filtered BEFORE the windowed ranking, so
    excluded entities never enter the materialized view — distinct from
    query-time ``conditions``, which the reference restricts to EQ.

    ``group_tags`` is the declaration's ``group_by_tag_names`` (the tags
    that key the ranking — e.g. ``http.uri`` for the conformance
    ``*_endpoint_*`` aggregations); None defaults to the source measure's
    entity — the engine's shorthand for "each series is its own group"
    (the reference's own no-groupBy default is a single global group,
    ``topn.go:855-864``; entity-as-group keeps per-series candidates so
    query-time entity EQ pins still resolve).

    ``time_range`` bounds the windows a query will keep (``window_start``
    in ``[begin, end)``): those windows only hold rows with ``ts`` in
    ``[begin, end + window)``, so the scan reads exactly that range and
    the range reaches parquet. Windows cut by the bounds come out partial;
    the caller's ``window_start`` filter drops them."""
    from ..catalog import materialize_derived, resolve_stage_paths

    if schema.field(field) is None:
        raise QueryAnalyzeError(f"top-n over unknown field {field!r}")
    keys = list(group_tags) if group_tags else list(schema.entity)
    extra = [e for e in schema.entity if e not in keys]
    series = keys + extra  # GroupName tags ∪ seriesID (the source entity)
    scan = None
    if time_range is not None:
        end = time_range.end
        if end is not None:
            end = end + parse_interval(window)
        scan = (schema.ts_column, time_range.begin, end)
    df = read_table(spark, *resolve_stage_paths(schema, stages), time_range=scan)
    df = materialize_derived(df, schema)
    for k in series:
        if k not in df.columns:
            raise QueryAnalyzeError(
                f"top-n groupBy tag {k!r} is not a tag of {schema.name!r}")
    if criteria is not None:
        from ..operators.criteria import types_of

        tagmap = {t.name: t.analyzer for t in schema.tags}
        tagmap[schema.ts_column] = None
        pred = compile_criteria(criteria, tagmap, types_of(schema))
        if pred is not None:
            df = df.where(pred)
    win_start = F.window(F.col(schema.ts_column), window)["start"].alias("window_start")
    # per (window, group, series): latest write wins (the heap's
    # replace-on-same-seriesID, topn.go:238-286) — max_by keyed on
    # (ts, version) keeps it a partial-aggregatable agg.
    order_key = F.struct(
        F.col(schema.ts_column),
        *( [F.col(schema.version_column)] if schema.version_column else [] ),
    )
    latest = (
        df.groupBy(win_start, *[qcol(c) for c in series])
        .agg(F.max_by(F.col(field), order_key).alias(field))
    )
    if not extra:
        # groupBy tags cover the entity: every (window, group) partition
        # holds exactly one series, so the counters_number rank is the
        # identity — skip the window function entirely.
        return latest.select("window_start", *[qcol(c) for c in series], field)
    # The declaration's counters_number is the reference heap's EXACT
    # bound (pkg/flow/streaming/topn.go sizes the per-(window, GroupName)
    # heap at counters_number): a query whose N exceeds it can only rank
    # the stored candidates, never widen them — so when a declaration
    # provides the bound, it CAPS the materialization width (ADVICE r11:
    # max(n, counters_number) let an over-wide query surface series the
    # reference's bounded store could never return). The shorthand path
    # (no declaration) has no stored view to bound, so the query's N
    # sizes the recompute.
    width = counters_number if counters_number else n
    ranked = per_window_top_n(
        latest, ["window_start", *keys], field, width, sort, tiebreak=series
    )
    return ranked.select("window_start", *[qcol(c) for c in series], field)


def _pin_groups(
    df: DataFrame, q: TopNQuery, keys: Sequence[str], tagmap
) -> DataFrame:
    """Query-time conditions (``topn_plan_localscan.go:125-156``
    parseGroupByTags): every condition must be EQ, may only name a groupBy
    tag, and together they must pin ALL groupBy tags — the pinned group's
    stored ranking is scanned, BEFORE the query's own top-N truncation (a
    group outside the global top N still answers its own pinned query)."""
    if not q.conditions:
        return df
    pinned = set()
    for c in q.conditions:
        if c.op is not BinaryOp.EQ:
            raise QueryAnalyzeError(
                f"tag {c.tag!r} belongs to the entity and only supports "
                f"EQ operation in conditions (got {c.op.name})"
            )
        if c.tag not in keys:
            raise QueryAnalyzeError(
                f"topn condition on {c.tag!r}: only groupBy tag name is "
                f"supported (available: {sorted(keys)})"
            )
        pinned.add(c.tag)
        df = df.where(compile_condition(c, tagmap))
    if pinned != set(keys):
        raise QueryAnalyzeError(
            "failed to parse all groupBy tags: conditions must EQ-pin "
            f"every groupBy tag (missing {sorted(set(keys) - pinned)})"
        )
    return df


def _merge_group_candidates(
    df: DataFrame, series: Sequence[str], field: str, sort: Sort
) -> DataFrame:
    """Multi-group merge of candidate tables: the same (window, series) may
    arrive from several groups' materializations; keep the BEST value per
    key (``topn_plan_distinct.go`` entityDedupTopN.isBetter — DESC keeps
    the max, ASC the min) so replicas collapse before ranking."""
    best = F.max(qcol(field)) if sort is Sort.DESC else F.min(qcol(field))
    return (
        df.groupBy("window_start", *[qcol(c) for c in series])
        .agg(best.alias(field))
        .select("window_start", *[qcol(c) for c in series], field)
    )


def _finish_topn(
    df: DataFrame,
    q: TopNQuery,
    field: str,
    field_type: str,
    keys: Sequence[str],
    entity: Sequence[str],
) -> DataFrame:
    """Shared read-path tail: pin → per-window re-rank to the query's N →
    optional per-entity post-aggregation (``processor_topn.go:189-240``
    aggregates per entityValues; output = entity tags + value, the
    ``want/*.yaml`` item shape)."""
    extra = [e for e in entity if e not in keys]
    series = list(keys) + extra
    df = per_window_top_n(
        df, ["window_start"], field, q.top_n, q.sort, tiebreak=series
    )
    if q.agg is None:
        return df.orderBy(
            F.col("window_start").asc(),
            qcol(field).desc() if q.sort is Sort.DESC else qcol(field).asc(),
            *[qcol(c).asc() for c in series],
        )
    agged = df.groupBy(*[qcol(e) for e in entity]).agg(
        agg_expr(q.agg, field, field_type).alias(field)
    )
    return top_n(agged, field, q.top_n, q.sort, tiebreak=list(entity))


def compile_topn(
    spark: SparkSession,
    catalog: Catalog,
    q: TopNQuery,
    field: str = "value",
    window: str = "1 hour",
) -> DataFrame:
    """TopNQuery -> DataFrame (batch recompute path).

    Without ``agg``: per-window ranked lists (window_start, tags, value).
    With ``agg``: per-entity re-aggregation across the surviving per-window
    points then a final top-N (``processor_topn.go:189-240`` +
    ``topn_plan_distinct.go``).

    Name resolution mirrors ``topn_analyzer.go``: the query names a
    TopNAggregation DECLARATION, which carries the source measure, ranked
    field, groupBy tags, counters_number, and optional pre-filter criteria
    (``catalog.TopNAggregationSchema``); the declaration is looked up in
    EACH group (a multi-group query whose declaration lives under a later
    group still resolves). When no group registers the name, it resolves
    as a measure directly with ``field``/entity defaults — the engine's
    native shorthand."""
    from ..errors import SchemaError

    decls = []
    for g in q.groups:
        try:
            decls.append(catalog.get(g, "topn", q.name))
        except SchemaError:
            pass
    if decls:
        return _compile_topn_resolved(spark, catalog, q, decls, window)
    schemas = catalog.get_many(q.groups, "measure", q.name)
    ref: MeasureSchema = schemas[0]
    keys = list(ref.entity)  # shorthand: each series is its own group
    parts = []
    for s in schemas:
        if s.topn_path:
            # materialized-view routing (SURVEY §4.1, topn_analyzer.go):
            # scan the maintained _top_n_result table instead of the source
            # measure; the stored candidate list (counters_number wide) is
            # re-ranked to the query's N below
            import os as _os

            if not _os.path.exists(s.topn_path):
                raise QueryAnalyzeError(
                    f"topn materialization {s.topn_path!r} does not exist"
                )
            df = read_table(spark, s.topn_path)
        else:
            df = materialize_topn(
                spark, s, field, q.top_n, window, q.sort, stages=q.stages,
                time_range=q.time_range,
            )
        parts.append(
            in_range(df, "window_start", q.time_range.begin, q.time_range.end))
    from ..operators.merge import union_groups

    df = union_groups(parts)
    if len(parts) > 1:
        df = _merge_group_candidates(df, keys, field, q.sort)
    tagmap = {t.name: t.analyzer for t in ref.tags}
    df = _pin_groups(df, q, keys, tagmap)
    fspec = ref.field(field)
    return _finish_topn(df, q, field, fspec.type, keys, list(ref.entity))


def _compile_topn_resolved(
    spark: SparkSession,
    catalog: Catalog,
    q: TopNQuery,
    decls,
    window: str = "1 hour",
) -> DataFrame:
    """Declaration-resolved TopN (``topn_analyzer.go``): the query named a
    registered TopNAggregation; per group, materialize the declaration's
    counters_number-wide per-(window, groupBy) series ranking over its
    source measure (criteria as the write-side pre-filter), merge, pin the
    queried group, re-rank to the query's N, and aggregate per source
    entity."""
    ref = decls[0]
    field = ref.field_name
    keys = list(ref.group_by_tags)
    src0 = catalog.get(
        ref.source_measure[0], "measure", ref.source_measure[1])
    entity = list(src0.entity)
    extra = [e for e in entity if e not in keys]
    parts = []
    for d in decls:
        src = catalog.get(d.source_measure[0], "measure", d.source_measure[1])
        df = materialize_topn(
            spark, src, d.field_name, q.top_n, window, q.sort,
            stages=q.stages, criteria=d.criteria,
            group_tags=d.group_by_tags,
            counters_number=d.counters_number,
            time_range=q.time_range,
        )
        parts.append(
            in_range(df, "window_start", q.time_range.begin, q.time_range.end))
    from ..operators.merge import union_groups

    df = union_groups(parts)
    if len(parts) > 1:
        df = _merge_group_candidates(df, keys + extra, field, q.sort)
    tagmap = {t.name: t.analyzer for t in src0.tags}
    df = _pin_groups(df, q, keys, tagmap)
    fspec = src0.field(field)
    return _finish_topn(df, q, field, fspec.type, keys, entity)
