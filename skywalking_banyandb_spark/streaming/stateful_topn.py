"""Exact-heap streaming Top-N — ``applyInPandasWithState`` variant.

This is the faithful port of the reference's flow state machine
(``pkg/flow/streaming/topn.go:51-305``): per window, a bounded structure of
per-entity latest values with **in-place replacement** on re-keyed writes
(``removeExistedItem``) and **LRU eviction** beyond ``lru_size``
(``schema.proto:147-150`` TopNAggregation.lru_size), emitting the current
top/bottom-N on every update.

The default engine path is the recompute-per-microbatch job in
``topn_stream.py`` (simpler, idempotent, preferred per SURVEY §7); this
operator exists for the cases that need *emission on every update* and
explicitly bounded per-window memory — the two properties recompute cannot
give. State per key (= window) is five parallel arrays, Arrow-serialized;
memory is O(lru_size) per live window regardless of entity cardinality, and
closed windows are purged via EventTimeTimeout once the watermark passes
window_end + lateness — so "live windows" is itself bounded.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from ..catalog import MeasureSchema
from ..model import Sort

_STATE_SCHEMA = StructType(
    [
        StructField("entities", ArrayType(LongType())),
        StructField("tss", ArrayType(LongType())),       # event-time micros
        StructField("versions", ArrayType(LongType())),
        StructField("values", ArrayType(DoubleType())),
        StructField("seq", ArrayType(LongType())),       # LRU recency counter
    ]
)


def stateful_topn(
    stream: DataFrame,
    schema: MeasureSchema,
    field: str,
    n: int,
    window: str = "1 hour",
    lateness: str = "10 minutes",
    sort: Sort = Sort.DESC,
    lru_size: int = 1000,
) -> DataFrame:
    """Streaming DataFrame -> per-update Top-N emissions keyed by window.

    Output rows: (window_start, <entity>, <field>, rank). Requires a
    single-column integer entity (the common BanyanDB case: seriesID).
    """
    if len(schema.entity) != 1:
        raise NotImplementedError("stateful_topn supports single-entity measures")
    entity = schema.entity[0]
    ts_col = schema.ts_column
    ver_col = schema.version_column
    desc = sort is Sort.DESC

    out_schema = StructType(
        [
            StructField("window_start", TimestampType()),
            StructField(entity, LongType()),
            StructField(field, DoubleType()),
            StructField("rank", LongType()),
        ]
    )

    from ..model import parse_interval

    purge_delta = parse_interval(window) + parse_interval(lateness)

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # Watermark-driven purge (reference windowCount/LRU expiry,
        # topn.go): once the watermark passes window_end + lateness the
        # window can never update again — drop its state, emit nothing.
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            entities, tss, versions, values, seqs = state.get
            heap = {
                e: (t, v, val, s)
                for e, t, v, val, s in zip(entities, tss, versions, values, seqs)
            }
            next_seq = max(seqs) + 1 if seqs else 0
        else:
            heap, next_seq = {}, 0

        for pdf in pdfs:
            for e, t, v, val in zip(
                pdf[entity], pdf["_ts_micros"], pdf["_version"], pdf[field]
            ):
                e, t, v, val = int(e), int(t), int(v), float(val)
                cur = heap.get(e)
                # in-place replace: latest (ts, version) wins (removeExistedItem)
                if cur is None or (t, v) > (cur[0], cur[1]):
                    heap[e] = (t, v, val, next_seq)
                    next_seq += 1
            # LRU eviction beyond lru_size (oldest recency first)
            if len(heap) > lru_size:
                for e in sorted(heap, key=lambda x: heap[x][3])[: len(heap) - lru_size]:
                    del heap[e]

        state.update((
            [int(e) for e in heap],
            [heap[e][0] for e in heap],
            [heap[e][1] for e in heap],
            [heap[e][2] for e in heap],
            [heap[e][3] for e in heap],
        ))
        # schedule purge at window_end + lateness (event-time, ms epoch;
        # window_start is session-tz-naive UTC in this engine)
        purge_at = pd.Timestamp(key[0]).tz_localize("UTC") + purge_delta
        purge_ms = int(purge_at.timestamp() * 1000)
        # Far-late re-delivery can reach the function AFTER the watermark
        # passed the window's purge point (Spark would reject the timeout);
        # that is exactly the reference's isWindowLate drop
        # (sliding_window.go:237-243): discard state, emit nothing.
        if purge_ms <= state.getCurrentWatermarkMs():
            state.remove()
            return
        state.setTimeoutTimestamp(purge_ms)
        ranked = sorted(
            heap.items(), key=lambda kv: (-kv[1][2] if desc else kv[1][2], kv[0])
        )[:n]
        win = pd.Timestamp(key[0])
        yield pd.DataFrame(
            {
                "window_start": [win] * len(ranked),
                entity: [e for e, _ in ranked],
                field: [v[2] for _, v in ranked],
                "rank": list(range(1, len(ranked) + 1)),
            }
        )

    from .topn_stream import ensure_event_time

    prepared = (
        ensure_event_time(stream, ts_col).withWatermark(ts_col, lateness)
        .withColumn("window_start", F.window(F.col(ts_col), window)["start"])
        .withColumn("_ts_micros", F.unix_micros(F.col(ts_col).cast("timestamp")))
        .withColumn(
            "_version",
            F.col(ver_col).cast("long") if ver_col else F.lit(0).cast("long"),
        )
        # ts_col stays in the projection: it carries the watermark, which
        # EventTimeTimeout requires in the child plan output.
        .select("window_start", entity, "_ts_micros", "_version", field, ts_col)
    )
    return prepared.groupBy("window_start").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
