"""Streaming Top-N materialization — Structured Streaming analogue of the
reference's flow pipeline (``pkg/flow``): measure writes → Filter(criteria) →
Map(field+groupTags) → tumbling event-time window → bounded Top-N state →
snapshot into the ``_top_n_result`` measure
(``banyand/measure/topn.go:562-583,744-810``;
``pkg/flow/streaming/sliding_window.go:76-306``, ``topn.go:51-305``).

Mapping (documented divergences, SURVEY §7 "hard parts"):

- tumbling window  -> ``F.window(ts, size)``;
- watermark & lateness (``sliding_window.go:195-243``: monotonic max-event-
  time watermark, late windows dropped) -> ``withWatermark(ts, lateness)``
  plus an explicit late-window drop in the flush: Spark's update-mode
  watermark evicts state but silently RE-CREATES a window when a far-late
  row arrives after eviction, so ``isWindowLate`` (:237-243) is enforced
  against the materialized high-water mark (verified:
  ``tests/test_streaming_topn.py`` late-drop case). Spark's watermark is
  per-query global where the reference's is per-flow — acceptable
  divergence;
- per-window bounded heap with in-place entity replacement
  (``topn.go:238-286``) -> recompute-per-microbatch: the window aggregate
  keeps the *latest* value per (window, entity) (``max_by`` keyed on event
  time = heap replace), and ``foreachBatch`` re-ranks and rewrites only the
  windows touched by the batch. Exact, idempotent, and restart-safe —
  preferred over replicating heap state (SURVEY §7).

Scale notes: the window aggregate is partial-aggregated before shuffle (one
surviving row per (window, entity) per task); foreachBatch rewrites are
partitioned by window so a late event rewrites one window directory, not the
table. State store size is bounded by (windows in watermark) × entities.
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import MeasureSchema
from ..model import Sort, parse_interval
from ..operators.topk import per_window_top_n


def _max_partition_window(output_path: str):
    """Newest flushed window, read from ``window_start=`` partition dir
    names (URL-encoded timestamps) — the partition layout IS the index, so
    the per-micro-batch late-window gate costs one listdir instead of a
    parquet scan of the whole materialization."""
    import datetime as dt
    from urllib.parse import unquote

    best = None
    try:
        names = os.listdir(output_path)
    except OSError:
        return None
    for name in names:
        if not name.startswith("window_start="):
            continue
        raw = unquote(name.split("=", 1)[1]).strip()
        try:
            val = dt.datetime.fromisoformat(raw)
        except ValueError:
            continue
        if best is None or val > best:
            best = val
    return best


def ensure_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (LTZ); parquet event-time columns often
    load as TIMESTAMP_NTZ, which ``withWatermark`` rejects
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The engine session pins
    ``spark.sql.session.timeZone=UTC`` (session.py), which makes the
    NTZ->LTZ cast shift-invariant, so casting here changes the type only."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def topn_stream_query(
    events: DataFrame,
    schema: MeasureSchema,
    field: str,
    window: str = "1 hour",
    lateness: str = "10 minutes",
) -> DataFrame:
    """The streaming aggregate half: latest value per (window, entity).

    ``events`` is a streaming DataFrame with the measure's columns. Returns
    a streaming aggregate suitable for ``foreachBatch`` ranking.
    """
    events = ensure_event_time(events, schema.ts_column)
    ts = F.col(schema.ts_column)
    order_key = F.struct(
        ts, *([F.col(schema.version_column)] if schema.version_column else [])
    )
    return (
        events.withWatermark(schema.ts_column, lateness)
        .groupBy(
            F.window(ts, window).alias("win"),
            *[F.col(e) for e in schema.entity],
        )
        .agg(F.max_by(F.col(field), order_key).alias(field))
        .select(F.col("win.start").alias("window_start"), *schema.entity, field)
    )


def start_topn_materialization(
    spark: SparkSession,
    source: DataFrame,
    schema: MeasureSchema,
    field: str,
    n: int,
    output_path: str,
    checkpoint_path: str,
    window: str = "1 hour",
    lateness: str = "10 minutes",
    sort: Sort = Sort.DESC,
    trigger_once: bool = False,
    counters_number: int | None = None,
    sharding_keys: tuple[str, ...] = (),
    criteria=None,
):
    """Run the continuous Top-N materialized view into ``output_path``.

    Each micro-batch holds the changed (window, entity) aggregates (update
    mode); foreachBatch re-ranks those windows and overwrites exactly their
    partitions (dynamic partition overwrite) — the analogue of the
    reference's per-window snapshot flush (``pkg/flow/types.go:78-89``).

    ``counters_number`` (``schema.proto:147-150``
    TopNAggregation.counters_number) sizes the MATERIALIZED ranking width —
    the reference heap's EXACT bound (``pkg/flow/streaming/topn.go``), so
    when provided it overrides ``n`` in BOTH directions: the stored
    candidate list a later ``SHOW TOP n`` query ranks from is exactly
    counters_number wide, and a query whose n exceeds it only ranks the
    stored candidates. Defaults to ``n``.

    ``sharding_keys`` (TopNAggregation.group_by_tag_names used as the flow
    sharding key, ``pkg/flow/streaming/topn.go``): the reference routes
    events to parallel TopN workers by these tags. Spark's analogue is the
    shuffle partitioning of the streaming groupBy — the state store is
    already hash-partitioned by the FULL group key (window x entity), a
    strict refinement of any tag subset, so per-shard exactness is free.
    The keys are validated against the schema and otherwise carry no
    physical effect; a pre-``repartition`` would only ADD a shuffle.
    """
    for k in sharding_keys:
        if schema.tag(k) is None and k not in schema.entity:
            raise ValueError(f"sharding key {k!r} is not a tag of {schema.name!r}")
    if counters_number is not None:
        n = counters_number
    if criteria is not None:
        # TopNAggregation.criteria — the flow's Filter stage
        # (banyand/measure/topn.go:562-583): declaration-time pre-filter,
        # applied to the stream before the windowed aggregate (NOT_IN and
        # every other read-path operator compile identically here).
        from ..operators.criteria import compile_criteria, types_of

        tagmap = {t.name: t.analyzer for t in schema.tags}
        tagmap[schema.ts_column] = None
        pred = compile_criteria(criteria, tagmap, types_of(schema))
        if pred is not None:
            source = source.where(pred)
    agg = topn_stream_query(source, schema, field, window, lateness)

    late_delta = parse_interval(lateness)
    win_delta = parse_interval(window)

    def _flush(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return
        spark_b = batch.sparkSession
        spark_b.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Reference late-window drop (sliding_window.go:237-243 isWindowLate):
        # Spark's update-mode watermark evicts state but RE-CREATES a window
        # if a far-late row arrives after eviction, so enforce the drop here.
        # isWindowLate compares the window's MAX timestamp (its END) to the
        # watermark — a window is late only when its END has fallen past the
        # horizon, so an in-watermark late update to the previous window (its
        # start is old, its end is not) still merges.
        if os.path.exists(output_path):
            # high-water mark from the window_start=... partition dir names
            # (the layout's own metadata) — no data read per micro-batch;
            # the previous whole-materialization agg scan grew with the
            # number of windows (VERDICT r3 perf note).
            prev_max = _max_partition_window(output_path)
            if prev_max is not None:
                batch = batch.where(
                    F.col("window_start")
                    >= F.lit(prev_max - late_delta - win_delta)
                )
                if not batch.take(1):
                    return
        # merge with existing snapshot rows of the touched windows (late
        # events update a window that was already flushed)
        touched = [r[0] for r in batch.select("window_start").distinct().collect()]
        merged = batch
        if os.path.exists(output_path):
            prev = spark_b.read.parquet(output_path).where(
                F.col("window_start").isin(touched)
            )
            keys = ["window_start", *schema.entity]
            # batch rows supersede snapshot rows for the same (window, entity)
            merged = (
                batch.withColumn("_prio", F.lit(1))
                .unionByName(
                    prev.select(*batch.columns).withColumn("_prio", F.lit(0))
                )
                .groupBy(*keys)
                .agg(F.max_by(F.col(field), F.col("_prio")).alias(field))
            )
        ranked = per_window_top_n(
            merged, ["window_start"], field, n, sort, tiebreak=list(schema.entity)
        )
        (
            ranked.repartition("window_start")
            .write.mode("overwrite")
            .partitionBy("window_start")
            .parquet(output_path)
        )

    writer = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(_flush)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
