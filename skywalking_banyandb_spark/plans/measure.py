"""Measure query compiler — MeasureQuery -> DataFrame.

Mirrors the analyzer composition of the reference
(``pkg/query/logical/measure/measure_analyzer.go:70-160``), outside-in:

    Limit(offset,limit) ∘ Top? ∘ Aggregation? ∘ GroupBy? ∘ (merge ∘) IndexScan

with the reference's defaults: default limit 100 (``measure_analyzer.go:32``),
half-open time range (``model/v1/query.proto:125-130``), version-dedup on
every read (``banyand/measure/query.go:966-1027``), multi-group unionByName
(``measure_plan_merge.go``).

Spark-first notes (what Catalyst gives us for free — SURVEY §4.1):
- the time-range + criteria predicates push down to the parquet scan
  (PushedFilters) and prune time-bucket partitions;
- only referenced columns are read (ReadSchema) — the reference's
  "hidden tag projection" bookkeeping disappears;
- group-by aggregation is automatically partial/final (map-side combine),
  which is the reference's distributed ``agg_return_partial`` protocol;
- Top-N lowers to TakeOrderedAndProject (bounded per-partition heaps).

Determinism: SUM/MEAN over float fields accumulate in DECIMAL(24,6) and cast
back to double. Float addition is order-sensitive; at 1000 executors partial
sums arrive in nondeterministic order, so a double accumulator makes the same
query return different last-bits run to run. Decimal accumulation is exact,
associative, and therefore reproducible cluster-wide (and bit-identical to
the DuckDB oracle).
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog, MeasureSchema
from ..errors import QueryAnalyzeError
from ..model import AggFunc, MeasureQuery, Sort, DEFAULT_LIMIT
from ..sources.parquet import in_range, prune_ts_buckets
from ..operators.criteria import compile_criteria, criteria_tags, types_of
from ..operators.dedup import latest_version
from ..operators.merge import read_group, resolve_groups, scan_groups
from ..operators.topk import limit_offset, top_n


def _schema_tagmap(schema: MeasureSchema) -> Dict[str, Optional[str]]:
    out: Dict[str, Optional[str]] = {schema.ts_column: None}
    for t in schema.tags:
        out[t.name] = t.analyzer
    for f in schema.fields:
        out[f.name] = None
    return out


def _needed_columns(schema: MeasureSchema, q: MeasureQuery) -> List[str]:
    """Columns the query actually touches. Projecting BEFORE the version
    dedup matters at scale: dedup packs the payload into a struct aggregate,
    and anything packed is read from parquet — without this, every query
    reads every column (the reference tracks the same set via
    ``hidden_tags.go`` + TagProjection)."""
    need = {schema.ts_column, *schema.entity}
    if schema.version_column:
        need.add(schema.version_column)
    need |= criteria_tags(q.criteria)
    need |= set(q.group_by)
    if q.agg:
        need.add(q.agg.field_name)
    if q.tag_projection or q.field_projection:
        need |= set(q.tag_projection) | set(q.field_projection)
    elif not (q.agg or q.group_by):
        # raw query with default '*' projection: all PHYSICAL tags + fields
        # (derived tags appear only when explicitly projected)
        need |= ({t.name for t in schema.tags if t.expr is None}
                 | {f.name for f in schema.fields})
    if q.order_by and q.order_by.tag:
        need.add(q.order_by.tag)
    if q.top is not None:
        need.add(q.top.field_name)
    return [c for c in need]


def _read(spark: SparkSession, schema: MeasureSchema, q: MeasureQuery) -> DataFrame:
    if not schema.table:
        return read_group(spark, schema, q)
    # entity-bucketed catalog table (write_measure_bucketed): the scan
    # carries the persisted hash distribution, so the dedup/group-by
    # below run without an Exchange; ts_bucket predicates prune segments
    begin, end = q.time_range.begin, q.time_range.end
    df = in_range(spark.table(schema.table), schema.ts_column, begin, end)
    return prune_ts_buckets(df, begin, end)


def _latest(df: DataFrame, schema: MeasureSchema) -> DataFrame:
    if (
        not schema.index_mode
        and schema.version_column
        and schema.version_column in df.columns
    ):
        return latest_version(df, schema.entity, schema.ts_column, schema.version_column)
    if schema.index_mode and schema.version_column:
        return df.drop(schema.version_column)
    return df


def agg_expr(func: AggFunc, field: str, field_type: str) -> Column:
    """One aggregate expression (``pkg/query/aggregation/aggregation.go:62-102``).

    Decimal accumulation for float SUM/MEAN — see module docstring.
    """
    col = F.col(field)
    if func is AggFunc.MIN:
        return F.min(col)
    if func is AggFunc.MAX:
        return F.max(col)
    if func is AggFunc.COUNT:
        return F.count(col)
    if func is AggFunc.SUM:
        if field_type == "INT":
            return F.sum(col)
        return F.sum(col.cast("decimal(24,6)")).cast("double")
    if func is AggFunc.MEAN:
        return (F.sum(col.cast("decimal(24,6)")).cast("double") / F.count(col))
    raise QueryAnalyzeError(f"unknown aggregation {func}")


def compile_measure(spark: SparkSession, catalog: Catalog, q: MeasureQuery) -> DataFrame:
    g = resolve_groups(catalog, q, "measure")
    q, ref, merged = g.q, g.schemas[0], g.merged
    tagmap = _schema_tagmap(merged)

    # validate projections/group keys at analyze time (reference behavior)
    for name in [*q.tag_projection, *q.group_by]:
        if name not in tagmap:
            raise QueryAnalyzeError(f"projection references unknown tag {name!r}")
    for name in q.field_projection:
        if merged.field(name) is None:
            raise QueryAnalyzeError(f"projection references unknown field {name!r}")

    pred = compile_criteria(q.criteria, tagmap, types_of(merged))

    def each(df: DataFrame, s: MeasureSchema, _i: int) -> DataFrame:
        # version dedup BEFORE the predicate: a newer version that fails
        # the filter must still shadow the older one
        df = _latest(df, s)
        return df if pred is None else df.where(pred)

    df = scan_groups(spark, g, each, columns=lambda s: _needed_columns(s, q),
                     read=_read)

    if q.agg is not None or q.group_by:
        fspec = ref.field(q.agg.field_name) if q.agg else None
        if q.agg and fspec is None:
            raise QueryAnalyzeError(f"aggregation over unknown field {q.agg.field_name!r}")
        # Projected tags BEYOND the group keys ride along with the
        # group's FIRST data point's values: the reference's aggregate
        # result copies TagFamilies from the first point it feeds
        # (measure_plan_aggregation.go:286-288 `resultDp =
        # &DataPoint{TagFamilies: dp.TagFamilies}`; likewise
        # aggAllIterator and the vectorized NewBatchGroupByFirst) — the
        # conformance wants bottom_entity_svc / float_agg_min /
        # gen_feat_*_group_* carry service_id / entity_id beside the agg.
        # "First" = earliest (ts[, version]) in the time-ordered scan,
        # expressed as a partial-aggregatable min_by. Version joins the
        # key only when the column survived the scan — the version-dedup
        # stage consumes it, after which (entity, ts) rows are unique.
        first_key = F.struct(
            F.col(ref.ts_column),
            *([F.col(ref.version_column)]
              if ref.version_column and ref.version_column in df.columns
              else []),
        )
        # Field names pass projection validation (they live in tagmap so
        # criteria can reference them), but they are NOT tags: a
        # tag_projection entry naming the aggregated field must not
        # generate a min_by extra aliased identically to the agg output —
        # a duplicate/ambiguous column (ADVICE r11). The reference's
        # aggregate result shape is entity tags + the aggregated value;
        # field values beyond the agg only exist pre-aggregation. The
        # exclusion is FIELD-ONLY names: a name some merged group
        # declares as a tag stays projectable even if another group
        # reuses it as a field name (multi-group merge keeps the tag).
        field_only = ({f.name for f in merged.fields}
                      - {t.name for t in merged.tags})
        # ... and the aggregated field's name is excluded UNCONDITIONALLY
        # (even if a merged group also declares it as a tag): the agg
        # output owns that alias in the grouped result.
        agg_name = q.agg.field_name if q.agg else None
        extras = [
            F.min_by(F.col(t), first_key).alias(t)
            for t in q.tag_projection
            if t not in q.group_by and t not in field_only
            and t != agg_name
        ]
        if q.group_by:
            if q.agg:
                df = df.groupBy(*[F.col(g) for g in q.group_by]).agg(
                    *extras,
                    agg_expr(q.agg.function, q.agg.field_name, fspec.type).alias(q.agg.field_name)
                )
            elif extras:
                # group-by without agg, extra projected tags: first point
                # per group (NewBatchGroupByFirst keeps the head row)
                df = df.groupBy(*[F.col(g) for g in q.group_by]).agg(*extras)
            else:
                # group-by without agg -> distinct group rows
                # (vectorized/measure/groupby.go NewBatchGroupByFirst)
                df = df.select(*[F.col(g) for g in q.group_by]).distinct()
        else:
            # global aggregate (measure_plan_aggregation.go aggAllIterator)
            df = df.agg(
                *extras,
                agg_expr(q.agg.function, q.agg.field_name, fspec.type).alias(q.agg.field_name)
            )
        if q.top is not None:
            df = top_n(df, q.top.field_name, q.top.number, q.top.sort, tiebreak=list(q.group_by))
        elif q.order_by is not None and q.order_by.tag is not None:
            # ordered group output (gen_feat_*_group_order_* golden cases):
            # the order tag must be one of the group keys
            if q.order_by.tag not in q.group_by:
                raise QueryAnalyzeError(
                    f"order-by tag {q.order_by.tag!r} must be a group-by tag"
                )
            kcol = (
                F.col(q.order_by.tag).desc()
                if q.order_by.sort is Sort.DESC
                else F.col(q.order_by.tag).asc()
            )
            rest = [F.col(g).asc() for g in q.group_by if g != q.order_by.tag]
            df = df.orderBy(kcol, *rest)
    else:
        # raw data-point query: project ts + tags + fields
        proj = list(q.tag_projection) + list(q.field_projection)
        if not proj:
            proj = ([t.name for t in ref.tags if t.expr is None]
                    + [f.name for f in ref.fields])
        if q.top is not None and q.top.field_name not in proj:
            # SELECT-form TOP projects its ranking field
            proj.append(q.top.field_name)
        cols = [F.col(ref.ts_column)] + [F.col(c) for c in proj if c != ref.ts_column]
        df = df.select(*cols)
        if q.top is not None:
            # SELECT TOP n field [dir] over raw points: rank by the field,
            # keep n (grammar.go TOP projection; lowers to TakeOrdered)
            key, direction = q.top.field_name, q.top.sort
        else:
            order = q.order_by
            ts_first = order is None or order.tag is None
            key = ref.ts_column if ts_first else order.tag
            direction = (order.sort if order else Sort.ASC)
        kcol = F.col(key).desc() if direction is Sort.DESC else F.col(key).asc()
        # total order: entity + ts tiebreak (series-sorted like the reference)
        tiebreak = [c for c in [ref.ts_column, *ref.entity] if c != key and c in df.columns]
        df = df.orderBy(kcol, *[F.col(c).asc() for c in tiebreak])
        if q.top is not None:
            df = df.limit(q.top.number)

    limit = q.limit if q.limit is not None else DEFAULT_LIMIT
    return limit_offset(df, limit, q.offset)
