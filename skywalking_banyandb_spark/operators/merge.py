"""Multi-group merge — the one multi-group read path of the measure,
stream and trace compilers.

Reference: one query may span N groups; per-group plans run and results merge
with schemas union'd, new tags/fields NULL-filled
(``pkg/query/logical/measure/measure_plan_merge.go:39-176``,
``cross_group_merge.go:35-131``, schema merge ``logical/measure/schema.go``).

- :func:`resolve_groups` resolves the groups, applies the revision gate and
  the ``created_at`` clamp, and takes the merged schema from
  ``catalog.merged_schema`` (first declaration wins).
- :func:`scan_groups` reads each group and hands the per-group frames, after
  the compiler's own per-group step, to :func:`union_groups`.

Padding rule: a scan is restricted to the columns its own group declares
(shared files may carry more; undeclared ones must come back NULL-filled by
the union, not leak through), and every criteria tag or field of the merged
schema that the group lacks is padded as a typed NULL, so the filter applies
NULL semantics there — EQ/IN on a missing tag matches nothing in that group.
Spark's ``unionByName(allowMissingColumns=True)`` NULL-fills the rest; the
final sort/limit runs once over the union (no k-way heap needed — the
shuffle sort does it).
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from functools import reduce
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import (TAG_TYPE_TO_SPARK, Catalog, clamp_time_range_begin,
                       materialize_derived, merged_schema,
                       resolve_stage_paths)
from ..sources.parquet import read_table
from .criteria import criteria_tags, qcol

# schema attributes that name a column of the group's table
_ROLE_COLUMNS = ("ts_column", "version_column", "element_id_column",
                 "trace_id_column", "span_id_column", "span_column")


@dataclass(frozen=True)
class Groups:
    """The resolved groups of one measure/stream/trace query."""

    q: object          # the query, its time range clamped when revision-pinned
    schemas: tuple     # one schema per group, in request order
    merged: object     # catalog.merged_schema of the groups
    hetero: bool       # some group declares only part of ``merged``


def _tags_and_fields(schema) -> set:
    return ({t.name for t in schema.tags}
            | {f.name for f in getattr(schema, "fields", ())})


def _declared(schema) -> set:
    out = {getattr(schema, r, None) for r in _ROLE_COLUMNS}
    out |= set(getattr(schema, "entity", ())) | _tags_and_fields(schema)
    out.discard(None)
    return out


def resolve_groups(catalog: Catalog, q, kind: str) -> Groups:
    schemas = tuple(catalog.get_many(q.groups, kind, q.name))
    if q.group_mod_revisions:
        catalog.check_revisions(q.group_mod_revisions)
        # revision-pinned (schema-aware) clients also opt into the
        # created_at clamp (reference 0.11; test/cases/schema/clamp.go)
        q = replace(q, time_range=clamp_time_range_begin(schemas, q.time_range))
    merged = merged_schema(catalog, q.groups, kind, q.name)
    full = _tags_and_fields(merged)
    return Groups(q, schemas, merged,
                  any(_tags_and_fields(s) != full for s in schemas))


def read_group(spark: SparkSession, schema, q) -> DataFrame:
    """One group's stage-routed parquet scan; the half-open ``[begin, end)``
    range applies on the raw scan column (pushdown-able)."""
    return read_table(
        spark, *resolve_stage_paths(schema, q.stages),
        time_range=(schema.ts_column, q.time_range.begin, q.time_range.end),
    )


def scan_groups(
    spark: SparkSession,
    g: Groups,
    each: Callable[[DataFrame, object, int], DataFrame],
    columns: Optional[Callable[[object], Sequence[str]]] = None,
    read: Callable[[SparkSession, object, object], DataFrame] = read_group,
) -> DataFrame:
    """Read every group, apply ``each(df, schema, group_ordinal)`` — the
    compiler's own per-group step — and union the parts.

    ``columns(schema)`` lists the columns a group's scan keeps (those its
    schema does not declare are dropped). Without it, only heterogeneous
    groups are restricted, to every column they declare, so homogeneous
    plans stay as the scan built them."""
    crit = criteria_tags(g.q.criteria)
    pad = [c for c in (*g.merged.tags, *getattr(g.merged, "fields", ()))
           if c.name in crit]
    parts = []
    for i, s in enumerate(g.schemas):
        df = materialize_derived(read(spark, s, g.q), s)
        if columns is not None or g.hetero:
            declared = _declared(s)
            wanted = df.columns if columns is None else columns(s)
            df = df.select(*[qcol(c) for c in wanted
                             if c in declared and c in df.columns])
            own = _tags_and_fields(s)
            for c in pad:
                if c.name not in own:
                    df = df.withColumn(
                        c.name, F.lit(None).cast(TAG_TYPE_TO_SPARK[c.type]))
        parts.append(each(df, s, i))
    return union_groups(parts)


def union_groups(dfs: Sequence[DataFrame]) -> DataFrame:
    """UNION ALL of the per-group plans, with one algebraic collapse
    (r16, guide §1.2 redundant computation): groups that resolve to
    semantically IDENTICAL per-group plans — same physical paths, same
    projection, same predicate, same version-dedup (e.g. two logical
    groups backed by one physical table, the multi-group fan-out shape)
    — used to scan, filter and window-dedup that relation once PER
    GROUP, because Catalyst does not common-subexpression across union
    branches. UNION ALL of m identical relations is the relation with
    every row repeated m times, so the collapsed form scans once and
    multiplies rows in-stage with ``explode(array_repeat(1, m))`` — a
    Generate node instead of m-1 extra scan+window subtrees. Equality is
    ``sameSemantics`` (canonicalized-plan equality, the CacheManager's
    own notion), never a path heuristic, so parts differing in ANY
    analyzed detail keep the plain union."""
    if not dfs:
        raise ValueError("union_groups needs at least one input")
    if len(dfs) == 1:
        return dfs[0]
    uniq: list[DataFrame] = []
    mult: list[int] = []
    for p in dfs:
        for i, u in enumerate(uniq):
            if p.sameSemantics(u):
                mult[i] += 1
                break
        else:
            uniq.append(p)
            mult.append(1)
    parts = [_repeat_rows(u, m) if m > 1 else u for u, m in zip(uniq, mult)]
    if len(parts) == 1:
        return parts[0]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def _repeat_rows(df: DataFrame, m: int) -> DataFrame:
    """Every row of ``df`` repeated ``m`` times; the multiplier column
    takes a name no input column has, so dropping it loses nothing."""
    taken = {c.lower() for c in df.columns}
    alias = "_gmult"
    while alias in taken:
        alias = "_" + alias
    return (df.select("*", F.explode(F.array_repeat(F.lit(1), m)).alias(alias))
            .drop(alias))
