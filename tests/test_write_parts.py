"""Driver-side part writer (``sources.writer.write_parts``) against the
Spark segment writers: the same rows must land in the same ``ts_bucket=``
directories, in the same within-segment order, and read back with the same
schema and rows — in a UTC session and in +05:30 sessions named by region
and by offset, with NULL, array, binary and timestamp tags. Also pins the
request path's contract: no Spark job per batch, segments in the calling
session's zone, a failed conversion leaves the store untouched, overwrite
replaces the whole store, and a store begun by Spark and appended by parts
is one table that still compacts."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
import pytest

from skywalking_banyandb_spark.catalog import (
    FieldSpec,
    MeasureSchema,
    StreamSchema,
    TagSpec,
    TraceSchema,
    default_catalog,
)
from skywalking_banyandb_spark.request_loader import apply_write_requests
from skywalking_banyandb_spark.sources.parquet import read_table
from skywalking_banyandb_spark.sources.writer import (
    compact_segments,
    layout_keys,
    stored_columns,
    write_measure,
    write_parts,
    write_stream,
    write_trace,
)

from conftest import SF_SMALL

_TAGS = (
    TagSpec("svc", "STRING"),
    TagSpec("labels", "STRING_ARRAY"),
    TagSpec("codes", "INT_ARRAY"),
    TagSpec("blob", "DATA_BINARY"),
    TagSpec("seen", "TIMESTAMP"),
)

SCHEMAS = {
    "measure": MeasureSchema(
        group="g1", name="m", paths=(), ts_column="ts",
        tags=(TagSpec("user_id", "INT"), *_TAGS),
        fields=(FieldSpec("value", "FLOAT"),),
        entity=("svc", "user_id"), version_column="version"),
    "stream": StreamSchema(
        group="g1", name="s", paths=(), ts_column="ts",
        element_id_column="eid", tags=_TAGS),
    "trace": TraceSchema(
        group="g1", name="t", paths=(), ts_column="ts",
        trace_id_column="trace_id", span_id_column="span_id",
        span_column="span", tags=_TAGS),
}
_SPARK_WRITERS = {"measure": write_measure, "stream": write_stream,
                  "trace": write_trace}


def _rows():
    """12 rows on three days at 18:29, 18:31, 18:59 and 19:01 UTC: in
    Asia/Kolkata they straddle midnight. NULLs sit in sort keys as well as
    in plain tags."""
    base = dt.datetime(2024, 2, 1, 18, 30)
    out = []
    for i in range(12):
        ts = base + dt.timedelta(minutes=(-1, 1, 29, 31)[i % 4], days=i // 4)
        out.append({
            "ts": ts + dt.timedelta(microseconds=i),
            "user_id": i % 3 if i != 5 else None,
            "svc": ["a", "b", None][i % 3],
            "labels": None if i == 4 else ["x", None, str(i)][: 1 + i % 3],
            "codes": [i, -i] if i % 2 else [],
            "blob": None if i == 7 else bytes([i, 0, 255]),
            "seen": None if i == 2 else ts - dt.timedelta(days=i),
            "value": i * 0.5,
            "version": i,
            "eid": 100 - i if i != 9 else None,
            "trace_id": i % 4 if i != 3 else None,
            "span_id": 50 - i,
            "span": f"span-{i}",
        })
    return out


def _spark_store(spark, kind, rows, path):
    schema = SCHEMAS[kind]
    cols = stored_columns(schema, kind)
    df = spark.createDataFrame(
        [tuple(r.get(c) for c, _ in cols) for r in rows],
        ", ".join(f"{c} {t}" for c, t in cols))
    _SPARK_WRITERS[kind](df, schema, path)


def _segments(path):
    return sorted(s for s in os.listdir(path) if s.startswith("ts_bucket="))


def _key_order(segdir, keys):
    """The layout-key projection of a segment's rows, in file order."""
    (f,) = [f for f in os.listdir(segdir) if f.endswith(".parquet")]
    t = pq.read_table(os.path.join(segdir, f), columns=keys)
    return list(zip(*(t.column(k).to_pylist() for k in keys)))


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("zone", ["UTC", "Asia/Kolkata", "+05:30"])
@pytest.mark.parametrize("kind", ["measure", "stream", "trace"])
def test_parts_match_spark_writer(spark, tmp_path, kind, zone):
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        rows = _rows()
        ours, theirs = str(tmp_path / "parts"), str(tmp_path / "spark")
        write_parts(rows, SCHEMAS[kind], kind, ours, zone)
        _spark_store(spark, kind, rows, theirs)

        segs = _segments(ours)
        assert segs == _segments(theirs)
        assert len(segs) == (3 if zone == "UTC" else 4)
        assert not os.path.exists(os.path.join(ours, "_SUCCESS"))
        keys = layout_keys(SCHEMAS[kind], kind)
        for seg in segs:
            assert (_key_order(os.path.join(ours, seg), keys)
                    == _key_order(os.path.join(theirs, seg), keys)), seg
        a, b = read_table(spark, ours), read_table(spark, theirs)
        assert a.schema == b.schema
        assert _sorted_rows(a) == _sorted_rows(b)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def _doc(ts, user, event_type, value, md=False):
    d = {"dataPoint": {
        "timestamp": ts,
        "tagFamilies": [{"tags": [{"int": {"value": user}},
                                  {"str": {"value": event_type}},
                                  {"str": {"value": "p"}}]}],
        "fields": [{"float": {"value": value}}],
    }}
    if md:
        d["metadata"] = {"group": "g1", "name": "metrics"}
    return d


_DOCS = [
    _doc("2024-01-03T01:00:00Z", 1, "click", 1.0, md=True),
    _doc("2024-01-04T02:00:00Z", 2, "view", 2.0),
    _doc("2024-01-05T03:00:00Z", 3, "error", 3.0),
]


def test_apply_write_requests_starts_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    cat = default_catalog(SF_SMALL)
    try:
        # the probe counts: a Spark write under the same kind of group
        sc.setJobGroup("write-parts-control", "control")
        spark.range(3).write.parquet(str(tmp_path / "control"))
        assert tracker.getJobIdsForGroup("write-parts-control")
        sc.setJobGroup("write-parts-probe", "probe")
        apply_write_requests(spark, cat, "measure", _DOCS, str(tmp_path))
        assert tracker.getJobIdsForGroup("write-parts-probe") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(_segments(str(tmp_path / "g1__metrics"))) == 3


def test_parts_bucket_in_the_calling_sessions_zone(spark, tmp_path):
    # 20:00 UTC on 01-03 is 01:30 on 01-04 in Asia/Kolkata; the session
    # passed in is not the active one, which stays in its own zone
    other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    assert spark.conf.get("spark.sql.session.timeZone") != "Asia/Kolkata"
    docs = [_doc("2024-01-03T20:00:00Z", 1, "click", 1.0, md=True)]
    apply_write_requests(other, default_catalog(SF_SMALL), "measure", docs,
                         str(tmp_path))
    assert _segments(str(tmp_path / "g1__metrics")) == [
        "ts_bucket=2024-01-04 00%3A00%3A00"]


def _snapshot(path):
    out = {}
    for d, _, files in os.walk(path):
        out[os.path.relpath(d, path)] = None
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def test_failed_conversion_leaves_store_unchanged(spark, tmp_path):
    schema = SCHEMAS["measure"]
    store = str(tmp_path / "store")
    rows = _rows()
    write_parts(rows[:4], schema, "measure", store, "UTC")
    before = _snapshot(store)
    # each bad value is in the LAST segment: nothing may be written first.
    # pyarrow would store an int as a double and a str as its UTF-8 bytes;
    # createDataFrame rejects both, and so must the part writer
    for column, value in (("user_id", "not-a-number"), ("value", 3),
                          ("blob", "text")):
        bad = [dict(r) for r in rows]
        bad[-1][column] = value
        for mode in ("append", "overwrite"):
            with pytest.raises(TypeError, match=f"{column!r}"):
                write_parts(bad, schema, "measure", store, "UTC", mode=mode)
    assert _snapshot(store) == before


def test_overwrite_replaces_whole_store(spark, tmp_path):
    cat = default_catalog(SF_SMALL)
    store = str(tmp_path / "g1__metrics")
    apply_write_requests(spark, cat, "measure", _DOCS, str(tmp_path))
    assert len(_segments(store)) == 3
    later = [_doc("2024-01-09T05:00:00Z", 9, "signup", 9.0, md=True)]
    apply_write_requests(spark, cat, "measure", later, str(tmp_path))
    assert _segments(store) == ["ts_bucket=2024-01-09 00%3A00%3A00"]
    got = [(r["user_id"], r["value"]) for r in read_table(spark, store).collect()]
    assert got == [(9, 9.0)]


def test_spark_store_appended_by_parts_reads_and_compacts(spark, tmp_path):
    cat = default_catalog(SF_SMALL)
    schema = cat.get("g1", "measure", "metrics")
    store = str(tmp_path / "g1__metrics")
    seed = [(dt.datetime(2024, 1, 3, 4), 5, "click", "q", 5.0, 1),
            (dt.datetime(2024, 1, 4, 6), 6, "view", "q", 6.0, 2)]
    df = spark.createDataFrame(seed, ", ".join(
        f"{c} {t}" for c, t in stored_columns(schema, "measure")))
    write_measure(df, schema, store)
    apply_write_requests(spark, cat, "measure", _DOCS, str(tmp_path),
                         mode="append")
    want = [(1, 1.0), (2, 2.0), (3, 3.0), (5, 5.0), (6, 6.0)]
    got = lambda: sorted((r["user_id"], r["value"])
                         for r in read_table(spark, store).collect())
    assert got() == want
    # two parts in the 01-03 and 01-04 segments; one in 01-05
    assert compact_segments(spark, schema, store) == 2
    assert got() == want
