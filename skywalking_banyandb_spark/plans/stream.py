"""Stream query compiler — StreamQuery -> DataFrame.

Reference: ``pkg/query/logical/stream/stream_analyzer.go`` composes
``Limit ∘ [TagFilter ∘] localIndexScan`` with element-id dedup
(``stream_plan_indexscan_local.go:86-198``, dedup :157-166) and ordering by
time or by an indexed tag (``banyand/stream/query.go:373``). On Spark the
"indexed tag only" ordering restriction disappears (shuffle sort handles any
column); we stay accepting of all reference-legal queries.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog, StreamSchema
from ..errors import QueryAnalyzeError
from ..model import BinaryOp, Sort, StreamQuery, DEFAULT_LIMIT
from ..operators.criteria import compile_criteria, conditions_of, qcol, types_of
from ..operators.dedup import distinct_element
from ..operators.merge import resolve_groups, scan_groups
from ..operators.topk import limit_offset


def _tagmap(schema: StreamSchema) -> Dict[str, Optional[str]]:
    out: Dict[str, Optional[str]] = {
        schema.ts_column: None,
        schema.element_id_column: None,
    }
    for t in schema.tags:
        out[t.name] = t.analyzer
    return out


def compile_stream(spark: SparkSession, catalog: Catalog, q: StreamQuery) -> DataFrame:
    g = resolve_groups(catalog, q, "stream")
    q, ref, merged = g.q, g.schemas[0], g.merged
    tagmap = _tagmap(merged)
    for name in q.projection:
        if name not in tagmap:
            raise QueryAnalyzeError(f"projection references unknown tag {name!r}")
    # Entity tags ride the series index, which only answers EQ/IN
    # (layer1_leaf.go:137-151 isEntityUnsupportedOp -> gen_err_* WantErr).
    if ref.entity:
        for c in conditions_of(q.criteria):
            if c.tag in ref.entity and c.op not in (BinaryOp.EQ, BinaryOp.IN):
                raise QueryAnalyzeError(
                    f"operation {c.op.name} is unsupported on entity tag "
                    f"{c.tag!r} (only EQ and IN hit the series index)"
                )
    pred = compile_criteria(q.criteria, tagmap, types_of(merged))

    def each(df: DataFrame, _s: StreamSchema, i: int) -> DataFrame:
        if pred is not None:
            df = df.where(pred)
        if g.hetero:
            # group ordinal: the merged iterator emits the FIRST group's
            # copy of an element id (deterministic dedup preference below)
            df = df.withColumn("_g_ord", F.lit(i))
        return df

    df = scan_groups(spark, g, each)
    df = distinct_element(
        df, ref.element_id_column, prefer_min="_g_ord" if g.hetero else None)

    # default projection = the physical tags; derived tags appear only when
    # explicitly projected (like index content in the reference)
    proj = list(q.projection) or [t.name for t in merged.tags if t.expr is None]
    keep = [ref.ts_column, ref.element_id_column] + [
        c for c in proj if c not in (ref.ts_column, ref.element_id_column)
    ]
    df = df.select(*[qcol(c) for c in keep])

    order = q.order_by
    key = ref.ts_column if (order is None or order.tag is None) else order.tag
    if key not in df.columns:
        raise QueryAnalyzeError(f"order by unknown tag {key!r}")
    direction = order.sort if order else Sort.ASC
    kcol = qcol(key).desc() if direction is Sort.DESC else qcol(key).asc()
    # element id is unique -> total order for stable pagination
    df = df.orderBy(kcol, F.col(ref.element_id_column).asc())

    limit = q.limit if q.limit is not None else DEFAULT_LIMIT
    return limit_offset(df, limit, q.offset)
