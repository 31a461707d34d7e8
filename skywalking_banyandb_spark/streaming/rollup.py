"""Continuous rollup — hypertable-style materialized aggregates maintained
incrementally by Structured Streaming.

The reference materializes exactly one derived view (the Top-N
pre-aggregation, `banyand/measure/topn.go`); a metrics store at 100 TB also
wants plain continuous aggregates (count/sum/min/max per window × tags —
what TimescaleDB calls a continuous aggregate over a hypertable). Same
architecture as the Top-N flow (`streaming/topn_stream.py`):

- update-mode windowed aggregate: the state store holds the COMPLETE
  aggregate per live (window, keys); each micro-batch emits only the
  touched groups, already merged with state — so the flush can replace,
  not re-accumulate (restart-safe, idempotent);
- watermark + the materialization-side `isWindowLate` gate: rows older
  than the watermark are dropped by the aggregate; a far-late row arriving
  after state eviction would silently re-create a PARTIAL aggregate, so
  the flush drops windows that ended before the materialized high-water
  mark minus lateness (same partition-dir-name high-water read as Top-N —
  one listdir per micro-batch, no data scan);
- dynamic partition overwrite by `window_start`: a micro-batch rewrites
  only the window directories it touched; untouched window partitions are
  never read or rewritten (asserted on file mtimes in
  tests/test_streaming_rollup.py). At 100 TB the flush cost tracks the
  batch's window span, not the materialization size.

SUM accumulates in DECIMAL(24,6) (the repo-wide float-exactness
convention); AVG is derived at read time as sum/count so the stored state
stays algebraically mergeable.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import parse_interval
from .topn_stream import _max_partition_window, ensure_event_time


def rollup_stream_query(
    events: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: Sequence[str],
    window: str = "1 hour",
    lateness: str = "10 minutes",
) -> DataFrame:
    """The streaming aggregate half: complete count/sum/min/max per
    (window, group keys) from the update-mode state store."""
    events = ensure_event_time(events, ts_col)
    v = F.col(value_col)
    return (
        events.withWatermark(ts_col, lateness)
        .groupBy(F.window(F.col(ts_col), window).alias("win"),
                 *[F.col(g) for g in group_cols])
        .agg(
            F.count(v).alias("n"),
            F.sum(v.cast("decimal(24,6)")).alias("sum6"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
        )
        .select(F.col("win.start").alias("window_start"), *group_cols,
                "n", "sum6", "min_v", "max_v")
    )


def start_rollup_materialization(
    spark: SparkSession,
    source: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: Sequence[str],
    output_path: str,
    checkpoint_path: str,
    window: str = "1 hour",
    lateness: str = "10 minutes",
    trigger_once: bool = False,
):
    """Maintain the continuous aggregate at ``output_path``."""
    agg = rollup_stream_query(
        source, ts_col, value_col, group_cols, window, lateness)
    late_delta = parse_interval(lateness)
    win_delta = parse_interval(window)
    keys = ["window_start", *group_cols]

    def _flush(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return
        spark_b = batch.sparkSession
        spark_b.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        if os.path.exists(output_path):
            prev_max = _max_partition_window(output_path)
            if prev_max is not None:
                # isWindowLate: a window whose END fell past the high-water
                # horizon was evicted from state — a re-created partial
                # aggregate must not replace the complete stored one
                batch = batch.where(
                    F.col("window_start")
                    >= F.lit(prev_max - late_delta - win_delta))
                if not batch.take(1):
                    return
        merged = batch
        if os.path.exists(output_path):
            touched = [r[0] for r in
                       batch.select("window_start").distinct().collect()]
            prev = spark_b.read.parquet(output_path).where(
                F.col("window_start").isin(touched))
            # batch groups carry the complete state-store aggregate —
            # they REPLACE stored rows; stored groups the batch did not
            # touch (same window, other keys) survive via anti-join
            keep = prev.join(batch.select(*keys).distinct(), keys, "left_anti")
            merged = batch.unionByName(keep.select(*batch.columns))
        (
            merged.repartition("window_start")
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


def read_rollup(spark: SparkSession, path: str,
                group_cols: Sequence[str]) -> DataFrame:
    """Finalized view of the materialization: AVG derived from the
    mergeable (sum, count) pair, SUM cast back to double."""
    df = spark.read.parquet(path)
    return df.select(
        F.col("window_start").cast("timestamp").alias("window_start"),
        *group_cols,
        "n",
        (F.col("sum6").cast("double") / F.col("n")).alias("avg_value"),
        F.col("min_v").alias("min_value"),
        F.col("max_v").alias("max_value"),
    )


def hll_stream_query(
    events: DataFrame,
    ts_col: str,
    key_col: str,
    group_cols: Sequence[str],
    window: str = "1 hour",
    lateness: str = "10 minutes",
) -> DataFrame:
    """Streaming HyperLogLog registers per (window, groups): the state per
    group is HLL_M register maxima — MAX is idempotent and monotone, so
    re-delivered rows are absorbed for free and update-mode state emits
    complete registers. Distinct-count state per group is O(m), not
    O(distinct keys) — the whole point of maintaining the sketch instead
    of a COUNT(DISTINCT) whose streaming state grows with cardinality."""
    from ..functions.sketches import hll_register_cols

    events = ensure_event_time(events, ts_col)
    bucket, rho = hll_register_cols(F.col(key_col))
    return (
        events.withWatermark(ts_col, lateness)
        .groupBy(F.window(F.col(ts_col), window).alias("win"),
                 *[F.col(g) for g in group_cols],
                 bucket.alias("bucket"))
        .agg(F.max(rho).alias("m"))
        .select(F.col("win.start").alias("window_start"), *group_cols,
                "bucket", "m")
    )


def start_hll_materialization(
    spark: SparkSession,
    source: DataFrame,
    ts_col: str,
    key_col: str,
    group_cols: Sequence[str],
    output_path: str,
    checkpoint_path: str,
    window: str = "1 hour",
    lateness: str = "10 minutes",
    trigger_once: bool = False,
):
    """Maintain per-window HLL registers at ``output_path`` (same
    partition-scoped flush + isWindowLate gate as the rollup)."""
    agg = hll_stream_query(
        source, ts_col, key_col, group_cols, window, lateness)
    late_delta = parse_interval(lateness)
    win_delta = parse_interval(window)
    keys = ["window_start", *group_cols, "bucket"]

    def _flush(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return
        spark_b = batch.sparkSession
        spark_b.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        if os.path.exists(output_path):
            prev_max = _max_partition_window(output_path)
            if prev_max is not None:
                batch = batch.where(
                    F.col("window_start")
                    >= F.lit(prev_max - late_delta - win_delta))
                if not batch.take(1):
                    return
        merged = batch
        if os.path.exists(output_path):
            touched = [r[0] for r in
                       batch.select("window_start").distinct().collect()]
            prev = spark_b.read.parquet(output_path).where(
                F.col("window_start").isin(touched))
            keep = prev.join(batch.select(*keys).distinct(), keys, "left_anti")
            merged = batch.unionByName(keep.select(*batch.columns))
        (
            merged.repartition("window_start")
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


def read_hll_estimates(spark: SparkSession, path: str,
                       group_cols: Sequence[str]) -> DataFrame:
    """Finalize register tables into per-(window, groups) distinct-count
    estimates (exact-integer harmonic sums, see functions/sketches.py)."""
    from ..functions.sketches import hll_estimate_expr

    regs = spark.read.parquet(path)
    agg = regs.groupBy(
        F.col("window_start").cast("timestamp").alias("window_start"),
        *group_cols).agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 49 - CAST(m AS INT))"))
        .alias("s"),
        F.count(F.lit(1)).alias("nz"),
    )
    return agg.select(
        "window_start", *group_cols,
        hll_estimate_expr(F.col("s"), F.col("nz")).alias("hll_est"))
