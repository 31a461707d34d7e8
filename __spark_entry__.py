"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``skywalking_banyandb_spark`` — entries are built
through the engine's typed query model (MeasureQuery/StreamQuery/...) and
plan compilers so the gate exercises the engine itself.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import warnings
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from skywalking_banyandb_spark import registry
from skywalking_banyandb_spark.catalog import default_catalog
from skywalking_banyandb_spark.model import (
    AggFunc,
    AggregationSpec,
    MeasureQuery,
    TimeRange,
)
from skywalking_banyandb_spark.plans.measure import compile_measure


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (M0 golden-case analogue ``group_max``):
    per-series MAX over a time window on the measure path."""
    sf_dir = "/root/testdata/sf0.001"
    q = MeasureQuery(
        groups=["g1"],
        name="metrics",
        time_range=TimeRange.of("2024-01-01T00:00:00", "2024-02-01T00:00:00"),
        group_by=["user_id"],
        agg=AggregationSpec(AggFunc.MAX, "value"),
        limit=1000,
    )
    return compile_measure(spark, default_catalog(sf_dir), q)


# Sweep policy. The driver records only the first SWEEP_CAP entries of
# queries() each round, one CORRECTNESS_rNN.json per round next to this
# file, so the order is the rotation: entries whose compile paths changed
# this round (TOUCHED, edited by hand each round), then entries no round
# has recorded, then the rest with the oldest newest-round first.
SWEEP_CAP = 50
TOUCHED = (
    "request_yaml_trace",
    "write_mixed_roundtrip",
    "topn_per_window",
    "topn_postagg_mean",
    "topn_multigroup_postagg_max",
    "topn_entity_conditions",
    "request_yaml_topn",
)
_ROUND_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _round_files(root: str) -> dict[int, str]:
    found = (_ROUND_FILE.fullmatch(os.path.basename(p))
             for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")))
    return {int(m.group(1)): os.path.join(root, m.group(0))
            for m in found if m}


def newest_rounds(names: Iterable[str], root: str = _HERE) -> dict[str, int]:
    """Newest round whose CORRECTNESS file records each entry (0 = never)."""
    newest = dict.fromkeys(names, 0)
    for rnd, path in _round_files(root).items():
        with open(path) as fh:
            for k in json.load(fh):
                if k in newest:
                    newest[k] = max(newest[k], rnd)
    return newest


def sweep_order(names: Iterable[str], root: str = _HERE) -> list[str]:
    names = list(names)
    if not _round_files(root):
        return names
    newest = newest_rounds(names, root)
    front = [k for k in TOUCHED if k in newest]
    front += [k for k in names if newest[k] == 0 and k not in front]
    if len(front) > SWEEP_CAP:
        warnings.warn(
            f"sweep front ({len(front)} entries) exceeds the {SWEEP_CAP}-"
            f"entry driver cap; {front[SWEEP_CAP:]} will not be verified "
            "this round", stacklevel=2)
    pos = {k: i for i, k in enumerate(names)}
    rest = sorted(set(names) - set(front), key=lambda k: (newest[k], pos[k]))
    return front + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs = registry.queries()
    return {k: qs[k] for k in sweep_order(qs)}


def oracle_sql() -> dict[str, str]:
    oracles = registry.oracle_sql()
    return {k: oracles[k] for k in sweep_order(registry.queries())
            if k in oracles}
