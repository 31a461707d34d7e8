"""Write paths — the analogue of BanyanDB's gRPC write services
(``measure/v1/write.proto``, ``stream/v1/write.proto``,
``trace/v1/write.proto``, ``property/v1/rpc.proto`` Apply/Delete).

Physical layout (the 100 TB design, mirroring group→segment→shard→part of
``banyand/internal/storage/storage.go:110-137``), one rule for every
writer — :data:`_GRANULARITY` and :func:`layout_keys`:

- partition by coarse ``ts_bucket`` = ``date_trunc(segment_interval, ts)``
  (HOUR/DAY, in the session time zone; driver-flushed parts are always
  DAY, the one interval the request path uses) — gives Catalyst partition
  pruning for every time-range query, the counterpart of
  ``SelectSegments(timeRange)``;
- within a partition, sort by the kind's layout keys: measure
  (entity..., ts) — the reference's series-sorted blocks
  (``banyand/measure/block.go:79-84``), so parquet gets tight min/max stats
  per row group on the entity columns and entity predicates row-group-skip
  (the inverted/skipping index analogue); stream (ts, element_id); trace
  (trace_id, ts, span_id);
- version stays a plain column; dedup happens at read (LSM semantics:
  appends never rewrite).

Two ways in. Batches already resident on the driver (typed WriteRequests)
are flushed by :func:`write_parts` as local series-sorted parquet parts,
one per touched DAY segment, with no Spark job — the memtable flush of
``banyand/measure/flusher.go``. DataFrames (registry fixtures, streaming
``foreachBatch``) go through Spark in :func:`write_measure`,
:func:`write_stream` and :func:`write_trace`. Both produce the same
``ts_bucket=`` directories, sort order and read-back schema.

Property Apply is last-write-wins upsert by (group, name, id) with a
monotonically increasing applied_at version — implemented as
read-modify-write parquet here (Delta/Iceberg MERGE on a real deployment).
"""

from __future__ import annotations

import datetime as dt
import os
import re
import shutil
import tempfile
import uuid
from typing import List, Mapping, Optional, Sequence, Tuple
from zoneinfo import ZoneInfo

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from ..catalog import (TAG_TYPE_TO_SPARK, MeasureSchema, PropertySchema,
                       StreamSchema, TraceSchema)
from .parquet import read_table

# segment_interval -> date_trunc unit
_GRANULARITY = {"HOUR": "hour", "DAY": "day"}

_ARROW_TYPES = {
    "string": pa.string(),
    "bigint": pa.int64(),
    "double": pa.float64(),
    "array<string>": pa.list_(pa.string()),
    "array<bigint>": pa.list_(pa.int64()),
    "binary": pa.binary(),
    "timestamp": pa.timestamp("us", tz="UTC"),
}
# Python types ``createDataFrame`` accepts per stored type, matched exactly
# as its verifier does (a bool is not a bigint, an int is not a double);
# arrays check their elements
_PY_TYPES = {
    "string": (str,),
    "bigint": (int,),
    "double": (float,),
    "binary": (bytes, bytearray),
    "timestamp": (dt.datetime,),
}
# a ``spark.sql.session.timeZone`` offset ID: ``+05:30``, ``-08``, ``GMT+8``
_OFFSET_ID = re.compile(r"(?:UTC|GMT|UT)?([+-])(\d{1,2})(?::?(\d{2}))?(?::?(\d{2}))?")


def layout_keys(schema, kind: str) -> List[str]:
    """Within-segment sort keys of a resource kind (see the module doc)."""
    if kind == "measure":
        return [*schema.entity, schema.ts_column]
    if kind == "stream":
        return [schema.ts_column, schema.element_id_column]
    if kind == "trace":
        return [schema.trace_id_column, schema.ts_column,
                schema.span_id_column]
    raise ValueError(f"unsupported write kind {kind!r}")


def stored_columns(schema, kind: str) -> List[Tuple[str, str]]:
    """``(column, Spark type)`` of a resource's written rows, in file
    order: ts, then measure tags + fields + version, stream element id +
    physical tags, or trace ids + tags + span."""
    cols: List[Tuple[str, str]] = [(schema.ts_column, "timestamp")]
    if kind == "measure":
        cols += [(t.name, TAG_TYPE_TO_SPARK[t.type]) for t in schema.tags]
        cols += [(f.name, TAG_TYPE_TO_SPARK[f.type]) for f in schema.fields]
        if schema.version_column:
            cols.append((schema.version_column, "bigint"))
    elif kind == "stream":
        cols.append((schema.element_id_column, "bigint"))
        cols += [(t.name, TAG_TYPE_TO_SPARK[t.type])
                 for t in schema.tags if t.expr is None]
    elif kind == "trace":
        cols += [(schema.trace_id_column, "bigint"),
                 (schema.span_id_column, "bigint")]
        cols += [(t.name, TAG_TYPE_TO_SPARK[t.type]) for t in schema.tags]
        if schema.span_column:
            cols.append((schema.span_column, "string"))
    else:
        raise ValueError(f"unsupported write kind {kind!r}")
    return cols


def _segmented(df: DataFrame, schema, kind: str,
               segment_interval: str) -> DataFrame:
    """The layout rule on a DataFrame: ``ts_bucket`` column, one shuffle
    partition per segment, sorted by :func:`layout_keys`. ``ts_bucket``
    leads the sort: a partitioned write needs its input ordered by the
    partition column and otherwise re-sorts by it alone, which drops a
    sort on the layout keys."""
    gran = _GRANULARITY[segment_interval.upper()]
    return (
        df.withColumn("ts_bucket", F.date_trunc(gran, F.col(schema.ts_column)))
        .repartition(F.col("ts_bucket"))
        .sortWithinPartitions("ts_bucket", *layout_keys(schema, kind))
    )


def _zone(name: str) -> dt.tzinfo:
    """A ``spark.sql.session.timeZone`` value as a tzinfo: region IDs
    through zoneinfo, offset IDs (and ``Z``) as fixed offsets."""
    if name == "Z":
        return dt.timezone.utc
    m = _OFFSET_ID.fullmatch(name)
    if m is None:
        return ZoneInfo(name)
    off = dt.timedelta(hours=int(m[2]), minutes=int(m[3] or 0),
                       seconds=int(m[4] or 0))
    return dt.timezone(-off if m[1] == "-" else off)


def _accepts(typ: str, v) -> bool:
    if typ.startswith("array<"):
        elem = _PY_TYPES[typ[len("array<"):-1]]
        return type(v) in (list, tuple) and all(
            e is None or type(e) in elem for e in v)
    return type(v) in _PY_TYPES[typ]


def _arrow_table(rows: Sequence[Mapping], cols) -> pa.Table:
    """Rows -> one typed table. A value of a Python type ``createDataFrame``
    rejects raises TypeError (pyarrow would convert some silently).
    Timestamps take the instants ``createDataFrame`` would store
    (``TimestampType.toInternal``: naive values are local wall time of this
    process)."""
    to_us = TimestampType().toInternal
    arrays = []
    for name, typ in cols:
        vals = [r.get(name) for r in rows]
        bad = next((v for v in vals if v is not None and not _accepts(typ, v)),
                   None)
        if bad is not None:
            raise TypeError(f"cannot write column {name!r} as {typ}: "
                            f"{bad!r} of type {type(bad).__name__}")
        try:
            if typ == "timestamp":
                vals = [to_us(v) for v in vals]
            arrays.append(pa.array(vals, type=_ARROW_TYPES[typ]))
        except (OverflowError, pa.ArrowException) as e:
            raise TypeError(f"cannot write column {name!r} as {typ}: {e}") from e
    return pa.Table.from_arrays(arrays, names=[c for c, _ in cols])


def _segment_name(t: dt.datetime, zone: dt.tzinfo) -> str:
    """``ts_bucket=`` directory of instant ``t``: Spark's
    ``date_trunc('day', ...)`` in ``zone``, rendered and path-escaped as a
    Spark partition value."""
    start = t.astimezone(zone).replace(hour=0, minute=0, second=0,
                                       microsecond=0)
    # back through UTC, so a start inside a DST gap renders shifted forward
    label = start.astimezone(dt.timezone.utc).astimezone(zone)
    return "ts_bucket=" + label.strftime("%Y-%m-%d %H:%M:%S").replace(":", "%3A")


def write_parts(
    rows: Sequence[Mapping],
    schema,
    kind: str,
    path: str,
    time_zone: str,
    mode: str = "append",
) -> None:
    """Flush driver-resident rows as one series-sorted parquet part per
    touched DAY segment — the memtable flush of
    ``banyand/measure/flusher.go``, with no Spark job.

    ``rows`` map column name -> value (missing keys are NULL); the columns
    and types are :func:`stored_columns`. ``time_zone`` is the writing
    session's ``spark.sql.session.timeZone``; segments are days in it, as
    the Spark writers' ``date_trunc`` makes them. Every segment's table is
    built before the first file is touched, so a value that cannot be
    converted raises and leaves the store as it was. Each part is written
    to a dot-prefixed temp file (hidden from readers) and renamed into
    ``ts_bucket=<segment>/part-<uuid>.snappy.parquet``. ``mode`` is
    ``append`` or ``overwrite``; overwrite replaces the whole store, like
    Spark's static overwrite. Unlike Spark, no ``_SUCCESS`` marker is
    written."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported write mode {mode!r}")
    table = _arrow_table(rows, stored_columns(schema, kind))
    zone = _zone(time_zone)
    members: dict = {}
    for i, t in enumerate(table.column(schema.ts_column).to_pylist()):
        members.setdefault(_segment_name(t, zone), []).append(i)
    keys = [(k, "ascending") for k in layout_keys(schema, kind)]
    parts = {seg: table.take(idx).sort_by(keys, null_placement="at_start")
             for seg, idx in members.items()}
    if mode == "overwrite":
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    for seg, part in parts.items():
        segdir = os.path.join(path, seg)
        os.makedirs(segdir, exist_ok=True)
        name = f"part-{uuid.uuid4()}.snappy.parquet"
        tmp = os.path.join(segdir, f".{name}.tmp")
        # no ARROW:schema footer copy: Spark does not read it, and without
        # it a part is the size of the one Spark would write
        pq.write_table(part, tmp, compression="snappy", store_schema=False)
        os.rename(tmp, os.path.join(segdir, name))


def write_measure(
    df: DataFrame,
    schema: MeasureSchema,
    path: str,
    mode: str = "append",
    segment_interval: str = "DAY",
    replicas: int = 0,
) -> None:
    """Append data points in the segment/series-sorted layout.

    ``replicas > 0`` lays ``replicas + 1`` byte-identical copies in
    ``replica=N`` subdirs (``common.proto`` Group.replicas: 1 = primary +
    one replica). Reads resolve to a single intact copy
    (:func:`..catalog.resolve_replica`) so a replicated group never
    duplicates rows in results — the ``entity_replicated`` golden-case
    contract. Replica 0 is written once and file-copied: the reference
    delegates replication to the storage layer (clustering.md), and a
    local copytree is that layer's stand-in."""
    out = _segmented(df, schema, "measure", segment_interval)
    if replicas > 0:
        primary = os.path.join(path, "replica=0")
        out.write.partitionBy("ts_bucket").mode(mode).parquet(primary)
        for i in range(1, replicas + 1):
            rep = os.path.join(path, f"replica={i}")
            shutil.rmtree(rep, ignore_errors=True)
            shutil.copytree(primary, rep)
        return
    out.write.partitionBy("ts_bucket").mode(mode).parquet(path)


def write_stream(
    df: DataFrame,
    schema: StreamSchema,
    path: str,
    mode: str = "append",
    segment_interval: str = "DAY",
    materialize_derived_tags: bool = False,
) -> None:
    """Append elements in the segment layout.

    ``materialize_derived_tags=True`` evaluates every ``TagSpec.expr`` at
    WRITE time and stores the result as a physical column — the
    reference's write-time index materialization (and the 100 TB form of
    the engine's derived tags: the read path's ``materialize_derived``
    skips columns that already exist, so a query is oblivious to which
    side produced the tag, while stored columns let HAVING/MATCH filters
    ride parquet stats instead of recomputing per query)."""
    if materialize_derived_tags:
        from ..catalog import materialize_derived

        df = materialize_derived(df, schema)
    out = _segmented(df, schema, "stream", segment_interval)
    out.write.partitionBy("ts_bucket").mode(mode).parquet(path)


def write_trace(
    df: DataFrame,
    schema: "TraceSchema",
    path: str,
    mode: str = "append",
    segment_interval: str = "DAY",
) -> None:
    """Append spans in the segment layout (``trace/v1/write.proto``):
    sorted by (trace_id, ts, span_id) within a segment so one trace's spans
    cluster in a row-group run and trace-id predicates row-group-skip (the
    sidx analogue)."""
    out = _segmented(df, schema, "trace", segment_interval)
    out.write.partitionBy("ts_bucket").mode(mode).parquet(path)


def write_measure_bucketed(
    df: DataFrame,
    schema: MeasureSchema,
    table_name: str,
    buckets: int = 32,
    segment_interval: str = "DAY",
) -> None:
    """Bucketed segment layout — the shuffle-free scale path.

    ``partitionBy(ts_bucket)`` (segment pruning) + ``bucketBy(entity)`` +
    ``sortBy(entity, ts)``: the persisted hash distribution on the entity
    satisfies the clustered distribution every downstream (entity, ts)
    version-dedup and entity group-by requires, so those aggregations run
    with NO Exchange — the shard-routing of ``pkg/partition/entity.go:89-100``
    expressed as a Spark bucketed table. At 100 TB this removes the one
    full-data shuffle from every measure read."""
    gran = _GRANULARITY[segment_interval.upper()]
    out = df.withColumn("ts_bucket", F.date_trunc(gran, F.col(schema.ts_column)))
    (
        out.write.format("parquet")
        .mode("overwrite")
        .partitionBy("ts_bucket")
        .bucketBy(buckets, *schema.entity)
        .sortBy(*layout_keys(schema, "measure"))
        .saveAsTable(table_name)
    )


def compact_segments(
    spark: SparkSession,
    schema: MeasureSchema,
    path: str,
    target_files: int = 1,
) -> int:
    """LSM merge analogue (``banyand/measure/flusher.go`` +
    ``merger.go``): append-mode ingest leaves many small parts per segment;
    compaction rewrites each ``ts_bucket=`` segment directory into
    ``target_files`` large series-sorted files and swaps it in atomically.
    Read semantics are unchanged (version dedup already resolves
    duplicates); parquet row-group stats get tighter, so entity predicates
    skip more. Returns the number of segments compacted."""
    import glob

    done = 0
    for seg in sorted(os.listdir(path)):
        if not seg.startswith("ts_bucket="):
            continue
        segdir = os.path.join(path, seg)
        files = glob.glob(os.path.join(segdir, "*.parquet"))
        if len(files) <= target_files:
            continue
        out = (
            spark.read.parquet(segdir)
            .coalesce(target_files)
            .sortWithinPartitions(*layout_keys(schema, "measure"))
        )
        tmp = segdir + "._compact"
        out.write.mode("overwrite").parquet(tmp)
        old = segdir + "._old"
        os.rename(segdir, old)
        os.rename(tmp, segdir)
        shutil.rmtree(old, ignore_errors=True)
        done += 1
    return done


def _atomic_replace(df: DataFrame, path: str) -> None:
    """Write a full new table state then swap directories (poor-man's ACID;
    a table format with MERGE replaces this at scale)."""
    tmp = tempfile.mkdtemp(prefix="_prop_apply_", dir=os.path.dirname(path) or ".")
    try:
        df.write.mode("overwrite").parquet(tmp)
        old = path + ".old"
        if os.path.exists(path):
            os.rename(path, old)
            os.rename(tmp, path)
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(tmp, path)
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


def _prop_bucket_col(id_col: str, buckets: int):
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(buckets)).cast("int")


def _prop_meta(path: str) -> Optional[int]:
    """Bucket count of a bucketed property store (sidecar), else None."""
    import json

    meta = os.path.join(path, "_prop_meta.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            return int(json.load(fh)["buckets"])
    return None


def write_property_bucketed(
    df: DataFrame,
    schema: PropertySchema,
    path: str,
    buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Property store in id-hash segments (``id_bucket=N`` dirs): Apply and
    Delete rewrite ONLY the segments holding touched ids, the merge-on-
    write analogue of the reference's sharded property store
    (``banyand/property/``; Delta/Iceberg MERGE on a real deployment).
    Queries read the root dir unchanged — id_bucket is a partition column
    Catalyst prunes when a query filters on it and ignores otherwise."""
    import json

    out = df.withColumn("id_bucket",
                        _prop_bucket_col(schema.id_column, buckets))
    (out.repartition(F.col("id_bucket"))
        .write.partitionBy("id_bucket").mode(mode).parquet(path))
    with open(os.path.join(path, "_prop_meta.json"), "w") as fh:
        json.dump({"buckets": buckets}, fh)


def _touched_buckets(updates: DataFrame, id_col: str, buckets: int) -> list:
    rows = (updates.select(_prop_bucket_col(id_col, buckets).alias("b"))
            .distinct().collect())
    return sorted(r["b"] for r in rows)


def property_apply(
    spark: SparkSession,
    schema: PropertySchema,
    updates: DataFrame,
    path: Optional[str] = None,
) -> None:
    """Upsert documents by id — ``property/v1/rpc.proto:35-51`` Apply.

    New rows fully replace existing rows with the same id (strategy
    STRATEGY_REPLACE, the default). On a bucketed store (see
    :func:`write_property_bucketed`) only the segments containing touched
    ids are rewritten; untouched segment files are left byte-identical.
    Legacy single-directory stores fall back to whole-store
    read-modify-write."""
    path = path or schema.paths[0]
    idc = schema.id_column
    buckets = _prop_meta(path) if os.path.exists(path) else None
    if buckets is not None:
        upd = updates.withColumn("_b", _prop_bucket_col(idc, buckets))
        for b in _touched_buckets(updates, idc, buckets):
            segdir = os.path.join(path, f"id_bucket={b}")
            part = upd.where(F.col("_b") == b).drop("_b")
            if os.path.exists(segdir):
                current = spark.read.parquet(segdir)
                keep = current.join(
                    part.select(idc).distinct(), on=idc, how="left_anti")
                merged = keep.unionByName(part.select(*current.columns))
            else:
                merged = part
            _atomic_replace(merged, segdir)
        return
    if os.path.exists(path):
        current = read_table(spark, path)
        keep = current.join(
            updates.select(idc).distinct(), on=idc, how="left_anti"
        )
        merged = keep.unionByName(updates.select(*current.columns))
    else:
        merged = updates
    _atomic_replace(merged, path)


def property_delete(
    spark: SparkSession,
    schema: PropertySchema,
    ids: Sequence,
    path: Optional[str] = None,
) -> None:
    """Delete documents by id — ``property/v1/rpc.proto:53-57``. Bucketed
    stores rewrite only the segments the ids hash into."""
    path = path or schema.paths[0]
    idc = schema.id_column
    buckets = _prop_meta(path)
    if buckets is not None:
        id_df = spark.createDataFrame([(i,) for i in ids], f"{idc} bigint")
        for b in _touched_buckets(id_df, idc, buckets):
            segdir = os.path.join(path, f"id_bucket={b}")
            if not os.path.exists(segdir):
                continue
            current = spark.read.parquet(segdir)
            _atomic_replace(
                current.where(~F.col(idc).isin(*list(ids))), segdir)
        return
    current = read_table(spark, path)
    _atomic_replace(current.where(~F.col(schema.id_column).isin(*list(ids))), path)


def _expired_segments(path: str, cutoff) -> list:
    """``ts_bucket=`` segment dirs wholly before ``cutoff``. A bucket covers
    [bucket, bucket + interval); it is fully expired only when the NEXT
    bucket start is <= cutoff — one-day width (the coarsest interval) keeps
    the check conservative for day buckets."""
    import datetime as dt

    out = []
    for seg in sorted(os.listdir(path)):
        if not seg.startswith("ts_bucket="):
            continue
        raw = seg.split("=", 1)[1].replace("%3A", ":").replace("+", " ")
        try:
            bucket = dt.datetime.fromisoformat(raw.strip())
        except ValueError:
            continue
        if bucket + dt.timedelta(days=1) <= cutoff:
            out.append(seg)
    return out


def drop_expired_segments(path: str, ttl_days: int, now) -> int:
    """Physical retention: delete whole ``ts_bucket=`` segment directories
    older than the TTL — the reference's segment-drop expiry
    (``storage.go:132-137``: retention removes segments, never row-level
    deletes). O(#segments) directory operations, zero data scanned; the
    read-path ``apply_ttl`` filter covers the boundary segment. Returns the
    number of segments dropped."""
    import datetime as dt

    dropped = 0
    for seg in _expired_segments(path, now - dt.timedelta(days=ttl_days)):
        shutil.rmtree(os.path.join(path, seg), ignore_errors=True)
        dropped += 1
    return dropped


def migrate_segments(src: str, dst: str, ttl_days: int, now) -> int:
    """Lifecycle stage migration — move segments that aged out of a stage's
    TTL to the next stage's directory (hot → warm → cold), the
    ``banyand/backup/lifecycle/`` migration analogue (per-stage TTLs in
    ``common.proto:65-93``; migration visitors
    ``measure_migration_visitor.go`` / ``stream_migration_visitor.go``).

    Whole ``ts_bucket=`` directories move — O(#segments) renames on a
    filesystem, a manifest/metadata operation on object storage; no rows
    are rewritten, and the moved segments keep their series-sorted layout
    so warm reads are as pruned as hot ones. Returns segments moved."""
    import datetime as dt

    os.makedirs(dst, exist_ok=True)
    moved = 0
    for seg in _expired_segments(src, now - dt.timedelta(days=ttl_days)):
        target = os.path.join(dst, seg)
        if os.path.exists(target):
            # same bucket exists in the destination stage (e.g. partial
            # earlier migration): merge files instead of clobbering
            for f in os.listdir(os.path.join(src, seg)):
                shutil.move(os.path.join(src, seg, f), os.path.join(target, f))
            shutil.rmtree(os.path.join(src, seg), ignore_errors=True)
        else:
            shutil.move(os.path.join(src, seg), target)
        moved += 1
    return moved


def apply_ttl(df: DataFrame, ts_column: str, ttl_days: int, now) -> DataFrame:
    """Retention filter — segment-drop TTL (``storage.go:132-137``) expressed
    as a read-path predicate; on the partitioned layout it prunes whole
    ``ts_bucket`` partitions (golden case: 'index mode excludes data expired
    beyond TTL')."""
    import datetime as dt

    cutoff = now - dt.timedelta(days=ttl_days)
    return df.where(F.col(ts_column) >= F.lit(cutoff))
