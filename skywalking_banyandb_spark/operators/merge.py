"""Multi-group merge — UNION ALL with NULL-filled schema union.

Reference: one query may span N groups; per-group plans run and results merge
with schemas union'd, new tags/fields NULL-filled
(``pkg/query/logical/measure/measure_plan_merge.go:39-176``,
``cross_group_merge.go:35-131``, schema merge ``logical/measure/schema.go``).
Spark's ``unionByName(allowMissingColumns=True)`` is exactly this; the final
sort/limit runs once over the union (no k-way heap needed — the shuffle sort
does it).
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
