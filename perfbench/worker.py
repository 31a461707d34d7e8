"""One benchmark run, in a fresh process that ``run.py`` starts.

    worker.py WORKLOAD SEED SECONDS TRACE DATA_DIR RUN_DIR OUT_JSON

Phases: start Spark, time the host canary, run one verification pass
(cold: it also pays the one-off index and scratch builds), repeat untimed
warm-up passes until a pass stops getting faster, then time whole passes
over the same request list for about SECONDS. Writes the result record
to OUT_JSON.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
import warnings
from typing import Dict, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import workloads  # noqa: E402
from layers import CollectSpy, JobCounter, gc_totals, plan_stats  # noqa: E402

NOW = dt.datetime(2024, 2, 1)
MIN_WARM, MAX_WARM, WARM_TOL = 3, 4, 0.03
MIN_TIMED = 2
# typical warm pass length per workload on a 4-core host: the timed window
# is a fixed number of whole passes, about --seconds long
NOMINAL_PASS_S = {"dashboard": 4.5, "analytics": 5.0, "ingest": 4.5}
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@dataclasses.dataclass
class Sample:
    label: str
    ms: float
    ok: bool
    layers: Dict[str, float] = dataclasses.field(default_factory=dict)


def canonical(rows, cols) -> list:
    """Order-insensitive, column-order-insensitive form of a result, with
    floats at 10 significant digits (the engine's oracle comparison)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else f"{v:.10g}")
            elif hasattr(v, "isoformat"):
                vals.append(v.isoformat(sep=" "))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def guarded(label: str, request) -> Sample:
    """Runs one request. One that raises is recorded as a failed request,
    with its traceback on stderr and no latency, and the run goes on."""
    try:
        return request()
    except Exception:  # noqa: BLE001 - the request loop must keep running
        traceback.print_exc()
        return Sample(label, math.nan, False)


def count_matches(expected: Optional[int], got: int) -> bool:
    """A timed request is correct when it returns as many rows as the
    verified run of the same request."""
    return expected is not None and expected == got


class Run:
    """Engine handles shared by the workloads of one process.

    Oracle statements run on one background thread (DuckDB releases the
    interpreter lock while it executes), so they overlap the cold pass
    instead of adding to set-up time; :meth:`finish_verify` waits for
    them."""

    def __init__(self, spark, catalog, data_dir: str, run_dir: str):
        self.spark, self.catalog = spark, catalog
        self.data_dir, self.run_dir = data_dir, run_dir
        self.mismatches: List[str] = []
        self._oracle = None
        self._checks = []

    def _duck(self):
        import duckdb

        con = duckdb.connect(config={"threads": 2})
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.data_dir}/{t}.parquet'")
        return con

    def _check(self, con, label, got, cols, sql) -> Optional[str]:
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        if sorted(cols) != sorted(ocols) or \
                got != canonical(res.fetchall(), ocols):
            return label
        return None

    def verify(self, label: str, rows, cols, sql: str) -> None:
        if self._oracle is None:
            from concurrent.futures import ThreadPoolExecutor

            self._oracle = ThreadPoolExecutor(max_workers=1)
            self._con = self._oracle.submit(self._duck)
        got = canonical(rows, cols)
        self._checks.append(self._oracle.submit(
            lambda: self._check(self._con.result(), label, got, cols, sql)))

    def finish_verify(self) -> None:
        for fut in self._checks:
            label = fut.result()
            if label is not None:
                self.mismatches.append(label)
        self._checks = []
        if self._oracle is not None:
            self._oracle.shutdown()
            self._oracle = None


class Dashboard:
    def __init__(self, run: Run, seed: int):
        from skywalking_banyandb_spark import request_loader as rl
        from skywalking_banyandb_spark import response as resp
        from skywalking_banyandb_spark.model import (MeasureQuery,
                                                     PropertyQuery,
                                                     StreamQuery, TopNQuery,
                                                     TraceQuery)
        from skywalking_banyandb_spark.plans.measure import compile_measure
        from skywalking_banyandb_spark.plans.property import compile_property
        from skywalking_banyandb_spark.plans.stream import compile_stream
        from skywalking_banyandb_spark.plans.topn import compile_topn
        from skywalking_banyandb_spark.plans.trace import compile_trace

        self.run = run
        self.requests = workloads.dashboard_pass(seed)
        self.expected: Dict[int, int] = {}
        self.compilers = {
            MeasureQuery: compile_measure, StreamQuery: compile_stream,
            TraceQuery: compile_trace, PropertyQuery: compile_property,
            TopNQuery: compile_topn,
        }
        self.loaders = {
            "measure": rl.load_measure_request,
            "stream": rl.load_stream_request,
            "trace": rl.load_trace_request,
            "property": rl.load_property_request,
            "topn": rl.load_topn_request,
        }
        cat = run.catalog

        def measure(df, q):
            schema = cat.get(q.groups[0], "measure", q.name)
            out = resp.measure_response(df, schema, q.tag_projection or None)
            return len(out["dataPoints"])

        def stream(df, q):
            schema = cat.get(q.groups[0], "stream", q.name)
            out = resp.stream_response(df, schema, q.projection or None)
            return len(out["elements"])

        def trace(df, q):
            schema = cat.get(q.groups[0], "trace", q.name)
            out = resp.trace_response(df, schema, q.projection or None)
            return len(out["traces"])

        def prop(df, q):
            schema = cat.get(q.group, "property", q.name)
            return len(resp.property_response(df, schema)["properties"])

        def topn(df, q):
            schema = cat.get(q.groups[0], "measure", q.name)
            out = resp.topn_response(df, schema, "value")
            return sum(len(lst["items"]) for lst in out["lists"])

        self.responders = {"measure": measure, "stream": stream,
                           "trace": trace, "property": prop, "topn": topn}
        from skywalking_banyandb_spark.bydbql.parser import parse
        from skywalking_banyandb_spark.bydbql.transformer import to_query

        self.parse, self.to_query = parse, to_query

    def run_pass(self, k: int, verify=False, traced=False) -> List[Sample]:
        return [guarded(req.label,
                        lambda: self._one(i, req, verify, traced))
                for i, req in enumerate(self.requests)]

    def _one(self, i: int, req, verify: bool, traced: bool) -> Sample:
        spark, cat = self.run.spark, self.run.catalog
        lay: Dict[str, float] = {}
        t0 = time.perf_counter()
        if req.form == "ql":
            stmt = self.parse(req.payload)
            t1 = time.perf_counter()
            q = self.to_query(stmt, cat, NOW)
            t2 = time.perf_counter()
            lay["bydbql.parse_ms"] = (t1 - t0) * 1e3
            lay["bydbql.transform_ms"] = (t2 - t1) * 1e3
        else:
            q = self.loaders[req.resource](req.payload)
            t2 = time.perf_counter()
            lay["request_loader.decode_ms"] = (t2 - t0) * 1e3
        compile_fn = self.compilers[type(q)]
        if traced:
            with JobCounter(spark) as jc:
                df = compile_fn(spark, cat, q)
            lay["plans.compile_jobs"] = jc.jobs
        else:
            df = compile_fn(spark, cat, q)
        t3 = time.perf_counter()
        lay["plans.compile_ms"] = (t3 - t2) * 1e3
        spy = CollectSpy(df) if (verify or traced) else None
        if traced:
            with JobCounter(spark) as jx:
                n, rows = self._execute(df, q, req)
            lay.update({"execute.jobs": jx.jobs, "execute.stages": jx.stages,
                        "execute.tasks": jx.tasks})
        else:
            n, rows = self._execute(df, q, req)
        t4 = time.perf_counter()
        if req.form == "ql":
            lay["execute.collect_ms"] = (t4 - t3) * 1e3
        elif spy is not None:
            lay["execute.collect_ms"] = spy.ms
            lay["response.ms"] = (t4 - t3) * 1e3 - spy.ms
        ms = (t4 - t0) * 1e3
        if traced:
            lay.update(plan_stats(df))
            lay["execute.rows_returned"] = n
        if verify:
            rows = rows if rows is not None else spy.rows
            cols = list(req.columns or df.columns)
            idx = [df.columns.index(c) for c in cols]
            self.run.verify(req.label, [[r[j] for j in idx] for r in rows],
                            cols, req.sql)
            self.expected[i] = n
            if len(rows) != n:
                self.run.mismatches.append(req.label + " (response size)")
        return Sample(req.label, ms, count_matches(self.expected.get(i), n),
                      lay)

    def _execute(self, df, q, req):
        if req.form == "ql":
            rows = df.collect()
            return len(rows), rows
        return self.responders[req.resource](df, q), None


class Analytics:
    ROUNDS = 64

    def __init__(self, run: Run, seed: int):
        from skywalking_banyandb_spark import registry

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            self.queries = registry.queries()
            self.oracles = registry.oracle_sql()
        self.run = run
        self.rounds = workloads.analytics_rounds(seed, self.ROUNDS)
        self.expected: Dict[str, int] = {}

    def run_pass(self, k: int, verify=False, traced=False) -> List[Sample]:
        return [guarded(name, lambda: self._one(name, verify, traced))
                for name in self.rounds[k % self.ROUNDS]]

    def _one(self, name: str, verify: bool, traced: bool) -> Sample:
        spark, sf = self.run.spark, self.run.data_dir
        lay: Dict[str, float] = {}
        t0 = time.perf_counter()
        if traced:
            with JobCounter(spark) as jc:
                df = self.queries[name](spark, sf)
            lay["plans.compile_jobs"] = jc.jobs
            t1 = time.perf_counter()
            with JobCounter(spark) as jx:
                rows = df.collect()
            lay.update({"execute.jobs": jx.jobs,
                        "execute.stages": jx.stages,
                        "execute.tasks": jx.tasks})
        else:
            df = self.queries[name](spark, sf)
            t1 = time.perf_counter()
            rows = df.collect()
        t2 = time.perf_counter()
        lay["plans.compile_ms"] = (t1 - t0) * 1e3
        lay["execute.collect_ms"] = (t2 - t1) * 1e3
        if traced:
            lay.update(plan_stats(df))
            lay["execute.rows_returned"] = len(rows)
        if verify:
            self.run.verify(name, rows, list(df.columns),
                            self.oracles[name])
            self.expected[name] = len(rows)
        return Sample(name, (t2 - t0) * 1e3,
                      count_matches(self.expected.get(name), len(rows)),
                      lay)


def _store_stats(path: str):
    """(parquet files, ts_bucket segments, parquet bytes) of a store."""
    files, segs, size = 0, 0, 0
    if not os.path.isdir(path):
        return files, segs, size
    for seg in os.listdir(path):
        segdir = os.path.join(path, seg)
        if not seg.startswith("ts_bucket=") or not os.path.isdir(segdir):
            continue
        segs += 1
        for f in os.listdir(segdir):
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(segdir, f))
    return files, segs, size


class Ingest:
    def __init__(self, run: Run, seed: int):
        from skywalking_banyandb_spark import request_loader as rl
        from skywalking_banyandb_spark.plans.measure import compile_measure
        from skywalking_banyandb_spark.sources.writer import compact_segments

        self.run = run
        self.rl, self.compile_measure = rl, compile_measure
        self.compact_segments = compact_segments
        self.batches = workloads.ingest_pass(seed)
        self.read_doc = workloads.ingest_read_doc()
        self.schema = run.catalog.get("g1", "measure", "metrics")
        self.bytes_per_row = 0.0
        self.rows_written = 0
        self.files_per_segment: List[float] = []

    def run_pass(self, k: int, verify=False, traced=False) -> List[Sample]:
        from skywalking_banyandb_spark.catalog import Catalog

        spark, cat = self.run.spark, self.run.catalog
        root = os.path.join(self.run.run_dir, "store", f"p{k}")
        store = os.path.join(root, "g1__metrics")
        schema = dataclasses.replace(self.schema, paths=(store,))
        read_cat = Catalog()
        read_cat.register(schema)
        model = workloads.StoreModel()
        out: List[Sample] = []
        for b in self.batches:
            out.append(guarded("write", lambda: self._write(
                b, root, store, traced)))
            model.apply(b.points)
            if b.read_after:
                out.append(guarded("read", lambda: self._read(
                    read_cat, model, traced, verify)))
            if b.compact_after:
                out[-1].layers.update(self._compact(schema, store, traced))
        self.rows_written = sum(len(b.points) for b in self.batches)
        self.bytes_per_row = _store_stats(store)[2] / self.rows_written
        shutil.rmtree(root, ignore_errors=True)
        return out

    def _write(self, b, root: str, store: str, traced: bool) -> Sample:
        spark, cat = self.run.spark, self.run.catalog
        lay: Dict[str, float] = {}
        if traced:
            t0 = time.perf_counter()
            self.rl.load_write_requests(b.docs, cat, "measure")
            lay["request_loader.write_decode_ms"] = \
                (time.perf_counter() - t0) * 1e3
            files0, _, bytes0 = _store_stats(store)
        t0 = time.perf_counter()
        if traced:
            with JobCounter(spark) as jw:
                self.rl.apply_write_requests(spark, cat, "measure",
                                             b.docs, root, mode="append")
            lay.update({"execute.jobs": jw.jobs,
                        "execute.stages": jw.stages,
                        "execute.tasks": jw.tasks})
        else:
            self.rl.apply_write_requests(spark, cat, "measure", b.docs,
                                         root, mode="append")
        w_ms = (time.perf_counter() - t0) * 1e3
        lay["writer.apply_ms"] = w_ms
        if traced:
            files1, _, bytes1 = _store_stats(store)
            lay["writer.files_written"] = files1 - files0
            lay["writer.bytes_written"] = bytes1 - bytes0
        return Sample("write", w_ms, True, lay)

    def _read(self, read_cat, model, traced: bool, verify: bool) -> Sample:
        spark = self.run.spark
        lay: Dict[str, float] = {}
        if traced:
            files, segs, _ = _store_stats(
                read_cat.get("g1", "measure", "metrics").paths[0])
            self.files_per_segment.append(files / segs)
        t0 = time.perf_counter()
        q = self.rl.load_measure_request(self.read_doc)
        t1 = time.perf_counter()
        if traced:
            with JobCounter(spark) as jc:
                df = self.compile_measure(spark, read_cat, q)
            lay["plans.compile_jobs"] = jc.jobs
        else:
            df = self.compile_measure(spark, read_cat, q)
        t2 = time.perf_counter()
        if traced:
            with JobCounter(spark) as jx:
                rows = df.collect()
            lay.update({"execute.jobs": jx.jobs, "execute.stages": jx.stages,
                        "execute.tasks": jx.tasks})
        else:
            rows = df.collect()
        t3 = time.perf_counter()
        lay.update({"request_loader.decode_ms": (t1 - t0) * 1e3,
                    "plans.compile_ms": (t2 - t1) * 1e3,
                    "execute.collect_ms": (t3 - t2) * 1e3})
        if traced:
            lay.update(plan_stats(df))
            lay["execute.rows_returned"] = len(rows)
        want = model.expected()
        got = {r["event_type"]: r["value"] for r in rows}
        ok = len(rows) == len(want) and all(
            k in got and math.isclose(got[k], v, rel_tol=1e-9)
            for k, v in want.items())
        if verify and not ok:
            self.run.mismatches.append("ingest read-after-write")
        return Sample("read", (t3 - t0) * 1e3, ok, lay)

    def _compact(self, schema, store: str, traced: bool) -> Dict[str, float]:
        t0 = time.perf_counter()
        n = self.compact_segments(self.run.spark, schema, store)
        lay = {"writer.compact_ms": (time.perf_counter() - t0) * 1e3,
               "writer.segments_compacted": n}
        if traced:
            lay["writer.bytes_rewritten"] = _store_stats(store)[2]
        return lay


WORKLOADS = {"dashboard": Dashboard, "analytics": Analytics, "ingest": Ingest}


def _vm_hwm_mib(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _canary_ms(spark) -> float:
    """A fixed pure-Spark aggregation with no engine code: it moves with
    the host, not with the engine."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 1_000_000, numPartitions=4) \
            .selectExpr("id % 97 AS k", "id * 3 AS v") \
            .groupBy("k").sum("v").collect()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def _pass_ms(samples: List[Sample]) -> float:
    return sum(s.ms for s in samples)


def main(argv: List[str]) -> int:
    name, seed, seconds, trace, data_dir, run_dir, out_json = argv
    seed, seconds, traced = int(seed), float(seconds), trace == "1"
    t_process = float(os.environ["PERFBENCH_T0"])
    warnings.filterwarnings("ignore")

    from skywalking_banyandb_spark.catalog import default_catalog
    from skywalking_banyandb_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    spark.sparkContext.setLogLevel("ERROR")
    run = Run(spark, default_catalog(data_dir), data_dir, run_dir)
    wl = WORKLOADS[name](run, seed)
    spark_start_s = time.perf_counter() - t0
    canary_ms = _canary_ms(spark)

    t0 = time.perf_counter()
    cold = wl.run_pass(0, verify=True)
    run.finish_verify()
    run.mismatches.extend(f"{s.label} (raised)" for s in cold
                          if math.isnan(s.ms))
    verify_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    walls, engine_ms = [], []
    k = 1
    while len(walls) < MAX_WARM:
        tw = time.perf_counter()
        engine_ms.append(_pass_ms(wl.run_pass(k)))
        walls.append(time.perf_counter() - tw)
        k += 1
        if len(walls) >= MIN_WARM and walls[-1] >= walls[-2] * (1 - WARM_TOL):
            break
    warmup_s = time.perf_counter() - t0
    build_s = max(0.0, (_pass_ms(cold) - engine_ms[0]) / 1e3)
    passes = max(MIN_TIMED, round(seconds / NOMINAL_PASS_S[name]))

    gc0 = gc_totals(spark)
    setup_s = time.time() - t_process
    t0 = time.perf_counter()
    samples: List[Sample] = []
    for j in range(passes):
        samples.extend(wl.run_pass(k + j, traced=traced))
    wall = time.perf_counter() - t0
    gc1 = gc_totals(spark)

    lat = [s.ms for s in samples if not math.isnan(s.ms)]
    failed = sum(1 for s in samples if not s.ok)
    qps = len(samples) / wall
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    values: Dict[str, float] = {
        "latency_p50_ms": statistics.median(lat),
        "latency_p90_ms": metrics.p90(lat),
        "throughput_qps": qps,
        "peak_rss_mb": _vm_hwm_mib(os.getpid()) + _vm_hwm_mib(jvm_pid),
        "setup_s": setup_s,
        "setup.spark_start_s": spark_start_s,
        "setup.build_s": build_s,
        "setup.verify_s": verify_s,
        "setup.warmup_s": warmup_s,
        "host.canary_ms": canary_ms,
        "jvm.gc_ms": gc1[0] - gc0[0],
        "jvm.gc_count": gc1[1] - gc0[1],
        "error_frac": failed / len(samples),
        "timed.requests": len(samples),
        "timed.passes": passes,
        "timed.mean_ms": statistics.fmean(lat),
        "timed.half_drift_frac": metrics.half_drift(lat),
        "trace.overhead_frac": (len(cold) / walls[-1]) / qps - 1.0
        if traced else 0.0,
    }
    for s in samples:
        for key, v in s.layers.items():
            values[key] = values.get(key, 0.0) + v / len(samples)
    total_ms = sum(lat)
    values["plans.compile_share"] = \
        values.get("plans.compile_ms", 0.0) * len(samples) / total_ms
    values["execute.collect_share"] = \
        values.get("execute.collect_ms", 0.0) * len(samples) / total_ms
    if name == "ingest":
        writes = [s.ms for s in samples
                  if s.label == "write" and not math.isnan(s.ms)]
        reads = [s.ms for s in samples
                 if s.label == "read" and not math.isnan(s.ms)]
        values["write_p50_ms"] = statistics.median(writes)
        values["read_p50_ms"] = statistics.median(reads)
        values["rows_written_per_s"] = wl.rows_written * passes / wall
        values["bytes_per_row"] = wl.bytes_per_row
        if wl.files_per_segment:
            values["store.files_per_segment"] = statistics.fmean(
                wl.files_per_segment)
    from skywalking_banyandb_spark.sources import parquet

    cached = getattr(parquet, "_nano_ts_columns", None)
    if hasattr(cached, "cache_info"):
        info = cached.cache_info()
        values["parquet.meta_cache_hits"] = info.hits
        values["parquet.meta_cache_misses"] = info.misses

    by_label: Dict[str, List[float]] = {}
    for s in samples:
        by_label.setdefault(s.label, []).append(s.ms)
    units = metrics.PER_LAYER if traced else metrics.END_TO_END
    record = metrics.result_line(
        not run.mismatches and failed == 0, len(samples), failed, values,
        units)
    record["detail"] = {
        "workload": name, "seed": seed, "traced": traced,
        "mismatches": run.mismatches, "warmup_pass_s": walls,
        "verify_pass_requests": len(cold),
        "cold_ms": {s.label: round(s.ms) for s in cold},
        "timed_ms": [[s.label, round(s.ms, 1)] for s in samples],
        "p50_ms_by_request": {k: statistics.median(v)
                              for k, v in sorted(by_label.items())},
        "all_metrics": values,
    }
    with open(out_json, "w") as fh:
        json.dump(record, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
