"""Trace finalization sampling (reference 0.11 PIPELINE_EVENT_FINALIZE,
banyand/trace/finalize_scanner.go + pkg/pipeline/sdk): retention-time
sampler chain at segment compaction — error/slow traces always survive,
the rest hash-sample; kept traces keep every span byte-for-byte; the
fragment guard force-keeps boundary-touching traces; generation stamping
makes replays no-ops; chain links fail open."""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from skywalking_banyandb_spark.catalog import TraceSchema
from skywalking_banyandb_spark.sources.trace_finalize import (
    any_of,
    finalize_segments,
    hash_rate_sampler,
    keep_matching_traces,
    keep_slow_traces,
)
from skywalking_banyandb_spark.sources.writer import write_trace

from conftest import HAVE_REFERENCE, REFERENCE_CASES, REFERENCE_MISSING


def _schema():
    return TraceSchema(
        group="g1", name="spans", paths=(), ts_column="ts",
        trace_id_column="trace_id", span_id_column="span_id",
        span_column=None, tags=(),
    )


H = dt.datetime(2024, 3, 5, 0, 0, 0)


def _mk_spans():
    """60 traces on one DAY segment: ids 0-19 error traces, 20-29 slow
    (>500ms span range), the rest plain; every trace 3 spans, placed
    mid-day (well away from the segment boundary)."""
    rows = []
    for t in range(60):
        err = t < 20
        slow = 20 <= t < 30
        base = H + dt.timedelta(hours=12, seconds=t)
        for s in range(3):
            off = dt.timedelta(milliseconds=(300 * s if slow else 50 * s))
            rows.append((f"tr{t:03d}", f"sp{s}", base + off,
                         "error" if (err and s == 1) else "ok"))
    return rows


def _write(spark, tmp_path, rows):
    path = str(tmp_path / "spans")
    df = spark.createDataFrame(
        rows, "trace_id string, span_id string, ts timestamp, state string")
    write_trace(df, _schema(), path, mode="overwrite")
    return path


def _chain():
    return [any_of(
        "errors|slow|sampled",
        keep_matching_traces("errors", F.col("state") == "error"),
        keep_slow_traces(500),
        hash_rate_sampler(0.3),
    )]


def _hash_kept(tid: str, rate: float = 0.3) -> bool:
    h = int(hashlib.md5(f"finalize|{tid}".encode()).hexdigest()[:6], 16)
    return h < int(rate * 0xFFFFFF)


def test_chain_keeps_errors_slow_and_hash_sample(spark, tmp_path):
    rows = _mk_spans()
    path = _write(spark, tmp_path, rows)
    spans_before = spark.read.parquet(path).collect()
    by_trace: dict = {}
    for r in spans_before:
        by_trace.setdefault(r.trace_id, []).append(
            (r.span_id, r.ts, r.state))

    stats = finalize_segments(spark, _schema(), path, _chain())
    assert stats["segments"] == 1 and stats["bypassed_links"] == 0

    after = spark.read.parquet(path).collect()
    got: dict = {}
    for r in after:
        got.setdefault(r.trace_id, []).append((r.span_id, r.ts, r.state))

    for t in range(60):
        tid = f"tr{t:03d}"
        expect_keep = (t < 30) or _hash_kept(tid)
        if expect_keep:
            # every span survives byte-for-byte
            assert sorted(got[tid]) == sorted(by_trace[tid]), tid
        else:
            assert tid not in got, tid
    assert stats["kept_traces"] == len(got)
    assert stats["dropped_traces"] == 60 - len(got)
    # the sample actually dropped something and kept something
    assert 0 < stats["dropped_traces"] < 30


def test_generation_stamp_makes_replay_a_noop(spark, tmp_path):
    path = _write(spark, tmp_path, _mk_spans())
    s1 = finalize_segments(spark, _schema(), path, _chain(), generation=1)
    assert s1["segments"] == 1
    seg = next(d for d in os.listdir(path) if d.startswith("ts_bucket="))
    state = json.load(open(os.path.join(path, seg, "_finalize.json")))
    assert state["generation"] == 1

    s2 = finalize_segments(spark, _schema(), path, _chain(), generation=1)
    assert s2["segments"] == 0 and s2["skipped"] == 1
    # a later generation re-samples (idempotent in content here: the
    # chain is deterministic, so nothing further drops)
    s3 = finalize_segments(spark, _schema(), path, _chain(), generation=2)
    assert s3["segments"] == 1 and s3["dropped_traces"] == 0


def test_fragment_guard_force_keeps_boundary_traces(spark, tmp_path):
    """A trace hugging the segment edge may continue in the neighbour
    segment — with guard_margin_ms it must survive even when the chain
    would drop it."""
    rows = []
    for t in range(20):
        # plain traces (no error, fast) at the very start of the day
        base = H + dt.timedelta(milliseconds=10 * t)
        for s in range(2):
            rows.append((f"edge{t:02d}", f"sp{s}",
                         base + dt.timedelta(milliseconds=5 * s), "ok"))
    path = _write(spark, tmp_path, rows)
    chain = [hash_rate_sampler(0.0)]  # drops everything it can
    stats = finalize_segments(spark, _schema(), path, chain,
                              guard_margin_ms=5_000)
    # all traces are within 5s of the segment start -> all force-kept
    assert stats["dropped_traces"] == 0 and stats["kept_traces"] == 20

    # without the guard the same chain drops them all
    stats2 = finalize_segments(spark, _schema(), path, chain, generation=2)
    assert stats2["kept_traces"] == 0 and stats2["dropped_traces"] == 20


def test_failing_link_is_bypassed_fail_open(spark, tmp_path):
    path = _write(spark, tmp_path, _mk_spans())
    bypassed = []

    from skywalking_banyandb_spark.sources.trace_finalize import TraceSampler

    def boom(_blocks):
        raise RuntimeError("plugin exploded")

    chain = [
        TraceSampler(name="broken", decide=boom),
        keep_matching_traces("errors", F.col("state") == "error"),
    ]
    stats = finalize_segments(
        spark, _schema(), path, chain,
        on_bypass=lambda i, n, e: bypassed.append((i, n, str(e))))
    assert stats["bypassed_links"] == 1
    assert bypassed == [(0, "broken", "plugin exploded")]
    # the surviving link still applied: only error traces remain
    left = {r.trace_id for r in spark.read.parquet(path).collect()}
    assert left == {f"tr{t:03d}" for t in range(20)}


def test_finalized_segment_visible_to_trace_queries(spark, tmp_path):
    """Query-visibility: the only effect of finalization a reader can
    see is which traces survive — scanning the table after the sweep
    returns exactly the kept traces' spans."""
    path = _write(spark, tmp_path, _mk_spans())
    finalize_segments(spark, _schema(), path, [
        keep_matching_traces("errors", F.col("state") == "error")])
    df = spark.read.parquet(path)
    assert df.count() == 20 * 3
    assert df.select("trace_id").distinct().count() == 20
    # multi-segment sweep degrades gracefully: a second segment written
    # later is finalized by the next sweep only (generation bookkeeping
    # is per segment)
    extra = spark.createDataFrame(
        [(f"new{t}", "sp0",
          H + dt.timedelta(days=1, hours=1, seconds=t), "ok")
         for t in range(5)],
        "trace_id string, span_id string, ts timestamp, state string")
    write_trace(extra, _schema(), path, mode="append")
    stats = finalize_segments(spark, _schema(), path, [
        keep_matching_traces("errors", F.col("state") == "error")])
    assert stats["skipped"] == 1 and stats["segments"] == 1
    assert stats["kept_traces"] == 0  # the new segment had no errors


def test_reference_tracepipeline_merge_filter_replay(spark, tmp_path):
    """Golden replay of the reference's trace-pipeline merge-filter table
    (test/cases/tracepipeline/tracepipeline.go mergeFilterEntries; data
    fixtures batch1/batch2.json): policy = drop when duration < 500ms AND
    status == success; missing status fails open (keep). Phase-0: before
    the merge/finalize every trace — including the drop candidates — is
    visible; after it, exactly the five keeps survive."""
    cases = [  # (trace_id, duration_ms, status, kept)
        ("t-drop-1", 100, "success", False),
        ("t-drop-2", 499, "success", False),
        ("t-keep-boundary", 500, "success", True),
        ("t-keep-highlat", 800, "success", True),
        ("t-keep-errfast", 50, "error", True),
        ("t-keep-errslow", 900, "error", True),
        ("t-keep-nostatus", 100, None, True),
    ]
    rows = []
    for i, (tid, dur, status, _kept) in enumerate(cases):
        base = H + dt.timedelta(hours=6, minutes=i)
        rows.append((tid, "sp0", base, status))
        rows.append((tid, "sp1", base + dt.timedelta(milliseconds=dur),
                     status))
    path = _write(spark, tmp_path, rows)

    # Phase-0 (AssertDropCandidatesVisible): pre-merge, drops are present
    pre = {r.trace_id for r in spark.read.parquet(path).collect()}
    assert {"t-drop-1", "t-drop-2"} <= pre

    chain = [any_of(
        "slow|error|fail-open",
        keep_slow_traces(500),
        keep_matching_traces(
            "not_success",
            (F.col("state") != "success") | F.col("state").isNull()),
    )]
    stats = finalize_segments(spark, _schema(), path, chain)
    assert stats["bypassed_links"] == 0
    post = {r.trace_id for r in spark.read.parquet(path).collect()}
    assert post == {tid for tid, _, _, kept in cases if kept}
    assert stats["dropped_traces"] == 2 and stats["kept_traces"] == 5


@pytest.mark.skipif(not HAVE_REFERENCE, reason=REFERENCE_MISSING)
def test_tracepipeline_query_inputs_verbatim(spark, tmp_path):
    """VERBATIM replay of the trace-pipeline QUERY corpus — the seven
    ``test/cases/tracepipeline/data/input/t_*.yml`` files (and their
    ``.ql`` twins) loaded from disk unmodified against a twin ``filter``
    trace in group ``test-trace-pipeline`` over the merge-filter fixture
    (trace ids match the reference fixtures byte-for-byte:
    ``batch1/batch2.json``). Verify semantics follow the reference
    registrations (``tracepipeline.go:97-119``): BEFORE the merge every
    trace — drop candidates included — answers its query
    (AssertDropCandidatesVisible); AFTER it the two ``t_drop_*`` queries
    are WantEmpty and the five ``t_keep_*`` queries return their trace,
    which is exactly the ``want/*.yml`` table."""
    import glob
    import os
    import re

    import yaml as _yaml

    from skywalking_banyandb_spark.bydbql.transformer import execute
    from skywalking_banyandb_spark.catalog import Catalog, TagSpec
    from skywalking_banyandb_spark.plans.trace import compile_trace
    from skywalking_banyandb_spark.request_loader import load_trace_request

    cases = [  # the reference batch fixtures (tracepipeline.go)
        ("t-drop-1", 100, "success", False),
        ("t-drop-2", 499, "success", False),
        ("t-keep-boundary", 500, "success", True),
        ("t-keep-highlat", 800, "success", True),
        ("t-keep-errfast", 50, "error", True),
        ("t-keep-errslow", 900, "error", True),
        ("t-keep-nostatus", 100, None, True),
    ]
    rows = []
    for i, (tid, dur, status, _kept) in enumerate(cases):
        base = H + dt.timedelta(hours=6, minutes=i)
        rows.append((tid, "sp0", base, status))
        rows.append((tid, "sp1", base + dt.timedelta(milliseconds=dur),
                     status))
    path = _write(spark, tmp_path, rows)

    twin = TraceSchema(
        group="test-trace-pipeline", name="filter", paths=(f"{path}/*",),
        ts_column="ts", trace_id_column="trace_id",
        span_id_column="span_id", span_column=None,
        tags=(TagSpec("trace_id", "STRING"), TagSpec("state", "STRING")),
    )
    cat = Catalog()
    cat.register(twin)

    indir = f"{REFERENCE_CASES}/tracepipeline/data/input"
    t0, t1 = f"{H.isoformat()}Z", f"{(H + dt.timedelta(days=1)).isoformat()}Z"

    def load(name):
        with open(f"{indir}/{name}.yml") as fh:
            d = _yaml.safe_load(fh.read())
        d["timeRange"] = {"begin": t0, "end": t1}
        return load_trace_request(d)

    def ql(name):
        with open(f"{indir}/{name}.ql") as fh:
            text = " ".join(ln.strip() for ln in fh
                            if ln.strip() and not ln.lstrip().startswith("#"))
        return re.sub(r"TIME\s*>\s*'-[^']*'",
                      f"TIME BETWEEN '{t0}' AND '{t1}'", text)

    names = sorted(os.path.basename(p)[:-4]
                   for p in glob.glob(f"{indir}/t_*.yml"))
    assert len(names) == 7
    kept = {tid for tid, _, _, k in cases if k}

    def check(expect_all_visible):
        for name in names:
            tid = name.replace("_", "-")
            want = [tid] if (expect_all_visible or tid in kept) else []
            got = compile_trace(spark, cat, load(name)).collect()
            assert [r.trace_id for r in got] == want, (name, got)
            if want:   # spans carry the trace's two span ids
                assert sorted(s.span_id for s in got[0].spans) == \
                    ["sp0", "sp1"]
            ql_rows = execute(spark, cat, ql(name)).collect()
            assert [r.trace_id for r in ql_rows] == want, (name, "ql")

    # phase 0: before the merge the drop candidates are visible
    check(expect_all_visible=True)
    chain = [any_of(
        "slow|error|fail-open",
        keep_slow_traces(500),
        keep_matching_traces(
            "not_success",
            (F.col("state") != "success") | F.col("state").isNull()),
    )]
    stats = finalize_segments(spark, _schema(), path, chain)
    assert stats["dropped_traces"] == 2 and stats["kept_traces"] == 5
    # phase 1: the want table — drops WantEmpty, keeps answer
    check(expect_all_visible=False)
