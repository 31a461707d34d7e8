"""Parquet source — schema-aware reader shared by every plan.

The driver's synthetic tables carry nanosecond-precision parquet timestamps
(pandas-written INT64 TIMESTAMP(NANOS)), which Spark's vectorized reader
rejects. We read them with ``spark.sql.legacy.parquet.nanosAsLong`` and
rebuild microsecond TimestampType columns with integer division (``div`` —
float division would lose bits above 2^53 ns). The nano columns are sniffed
once per path from the parquet footer via pyarrow and cached.

BanyanDB's millisecond timestamps (``measure/v1/write.proto:48``) are a
subset of microsecond precision, so the mapping is lossless.

Column pruning / predicate pushdown still work: the conversion is a
projection on top of the scan, and Catalyst pushes comparisons on the raw
int64 column down when possible (time-range filters compare post-cast, but
partition pruning at scale comes from the ``ts_bucket`` partition column the
writer emits, not from row-level filters).
"""

from __future__ import annotations

import os
from functools import lru_cache
from typing import Tuple
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@lru_cache(maxsize=256)
def _nano_ts_columns(path: str) -> Tuple[str, ...]:
    """Columns physically stored as INT64 TIMESTAMP(NANOS).

    Must inspect the *parquet* schema, not the arrow schema: Spark's default
    INT96 timestamps also surface as ``timestamp[ns]`` in arrow, but Spark
    reads INT96 as TimestampType directly — only genuine INT64-nanos columns
    (pandas-written) arrive as longs under ``nanosAsLong``.
    """
    try:
        pf = pq.ParquetFile(path)
    except Exception:
        # directory dataset: sniff the first fragment
        import glob

        frags = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        if not frags:
            return ()
        pf = pq.ParquetFile(frags[0])
    sch = pf.schema
    out = []
    for i in range(len(sch)):
        col = sch.column(i)
        lt = str(col.logical_type)
        if (
            col.physical_type == "INT64"
            and lt.startswith("Timestamp")
            and "nanoseconds" in lt
        ):
            out.append(col.name)
    return tuple(out)


def _epoch_nanos(t) -> int:
    import datetime as dt

    # Naive datetimes are engine-normalized UTC; aware ones must be
    # CONVERTED (replace() would overwrite the zone and shift the pushed
    # time-range bounds by the offset).
    if t.tzinfo is None:
        t = t.replace(tzinfo=dt.timezone.utc)
    else:
        t = t.astimezone(dt.timezone.utc)
    return int(t.timestamp() * 1_000_000) * 1000


def read_table(
    spark: SparkSession,
    *paths: str,
    time_range=None,
) -> DataFrame:
    """Read one or more parquet paths, restoring nano-timestamp columns.

    ``time_range=(ts_col, begin, end)`` applies the half-open range ON THE
    RAW INT64 NANO COLUMN, *before* the timestamp conversion. This is what
    makes the predicate reach the parquet scan: a comparison against
    ``timestamp_micros(ts div 1000)`` is opaque to Catalyst's pushdown (the
    scan would show only ``PushedFilters: [IsNotNull(ts)]``), while the raw
    long comparison pushes down and prunes row groups by their min/max
    stats — the reference's segment + skipping-index pruning, and the
    difference between scanning one day and scanning 100 TB.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(*paths)
    nano_cols = set()
    for p in paths:
        nano_cols.update(_nano_ts_columns(p))

    if time_range is not None:
        ts_col, begin, end = time_range
        lo, hi = begin, end
        if ts_col in nano_cols:
            lo, hi = (None if t is None else _epoch_nanos(t) for t in (begin, end))
        df = prune_ts_buckets(in_range(df, ts_col, lo, hi), begin, end)

    for c in nano_cols:
        if c in df.columns:
            df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def spread_scan(df: DataFrame) -> DataFrame:
    """Scan-parallelism floor for compute-heavy consumers (guide §2.5
    "input skew: one huge unsplittable file").

    A parquet ROW GROUP is the minimum split unit — a single-row-group
    file scans as ONE task no matter how ``maxPartitionBytes`` is set,
    serializing every per-row expression above it (measured at sf0.1:
    tpch_q1's decimal aggregation spent 0.85 s of a 1.1 s execution in
    one task on a 32-core session). When the planned scan parallelism
    is below the session's default parallelism, a round-robin
    repartition spreads the per-row work across the cluster; when the
    input already arrives in enough splits — the normal state at scale,
    where the writer targets 128 MB+ multi-row-group files — this is a
    NO-OP, so the exchange is never paid where the scan itself
    parallelizes. Apply only where per-row compute dominates the
    exchange cost (heavy projections, wide aggregations): the shuffle
    moves every surviving row once.

    Result-invariant: callers aggregate (decimal/bigint sums are
    associative-exact) or emit row-wise projections, and the driver's
    comparison is order-insensitive.

    The parallelism probe reads parquet FOOTERS, not ``df.rdd`` (ADVICE
    r15 #4: the RDD conversion forced a full physical-plan build on the
    driver per registry call, observed the pre-AQE byte-split count —
    which over-reports for single-row-group files bigger than one split
    — and would not survive a Spark Connect backend). Row groups are the
    true task ceiling for a parquet scan; the walk stops as soon as the
    target is reached, and skips footer I/O entirely when the file count
    alone guarantees enough splits — so at scale the probe is O(files
    seen) metadata reads bounded by ``defaultParallelism``, and the
    repartition is structurally unreachable (pinned by
    tests/test_plan_quality.py::test_spread_scan_noop_on_multisplit).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if _planned_scan_tasks(df, target) < target:
        return df.repartition(target)
    return df


def _row_group_count(uri: str) -> int:
    """Row groups of one ``inputFiles()`` URI. Local files are probed by
    footer; any other scheme counts as one split, so the file count alone
    bounds the probe. Unreadable footers fall to the same safe floor."""
    u = urlparse(uri)
    if u.scheme not in ("", "file"):
        return 1
    path = unquote(u.path) if u.scheme else uri
    try:
        st = os.stat(path)
    except OSError:
        return 1
    return _footer_row_groups(path, st.st_mtime_ns, st.st_size)


@lru_cache(maxsize=4096)
def _footer_row_groups(path: str, mtime_ns: int, size: int) -> int:
    # (mtime, size) in the key: a file rewritten in place is re-read
    try:
        return max(1, pq.ParquetFile(path).metadata.num_row_groups)
    except Exception:
        return 1


def _planned_scan_tasks(df: DataFrame, target: int) -> int:
    """Upper bound on the scan's achievable task parallelism, capped at
    ``target`` (early exit — the caller only compares against it)."""
    files = df.inputFiles()
    if len(files) >= target:
        return target  # >= 1 row group per file: enough splits already
    total = 0
    for f in files:
        total += _row_group_count(f)
        if total >= target:
            return total
    return total


def in_range(df: DataFrame, column: str, begin, end) -> DataFrame:
    """Half-open ``[begin, end)`` on ``column``; a None bound is open."""
    if begin is not None:
        df = df.where(F.col(column) >= F.lit(begin))
    if end is not None:
        df = df.where(F.col(column) < F.lit(end))
    return df


def prune_ts_buckets(df: DataFrame, begin, end) -> DataFrame:
    """Derive partition-pruning predicates on the ``ts_bucket`` segment
    column from a row-level time range — the reference's
    ``SelectSegments(timeRange)`` (``storage.go:114-118``).

    ``ts_bucket = date_trunc(ts)`` with day or hour granularity, so rows in
    ``[begin, end)`` can only live in buckets ``[day_trunc(begin), end)``
    (day-truncating the lower bound is conservative for both granularities).
    Without this, a segment-partitioned table is scanned in full and only
    row-group stats save us; with it, Catalyst prunes whole directories
    before any I/O."""
    if "ts_bucket" not in df.columns:
        return df
    if begin is not None:
        df = df.where(F.col("ts_bucket") >= F.date_trunc("day", F.lit(begin)))
    if end is not None:
        df = df.where(F.col("ts_bucket") < F.lit(end))
    return df


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    time_column: str | None = None,
    bucket_granularity: str = "day",
) -> None:
    """Append-style writer — the analogue of the reference's segment layout
    (group → time segment → shard, ``banyand/internal/storage/storage.go``).

    Partitioning by a coarse ``ts_bucket`` gives Spark partition pruning for
    time-range queries — the exact counterpart of BanyanDB's
    ``SelectSegments(timeRange)``. At 100 TB add ``.bucketBy(entity)`` via a
    saveAsTable catalog for shuffle-free dedup/group-by.
    """
    if time_column is not None:
        df = df.withColumn("ts_bucket", F.date_trunc(bucket_granularity, F.col(time_column)))
        df.write.partitionBy("ts_bucket").mode(mode).parquet(path)
    else:
        df.write.mode(mode).parquet(path)
