"""Every metric the benchmark reports, with its unit.

``END_TO_END`` is printed by untraced runs (``--trace 0``) and
``PER_LAYER`` by traced runs (``--trace 1``); ``BENCHMARK.json`` lists the
same names. Layer times and counts are per timed request (the layer's total
over the timed window divided by the number of timed requests, zero where a
request does not touch the layer), so the ``*_ms`` layers of one workload
add up to roughly ``timed.mean_ms``. The exceptions are totals over the run
(``parquet.*``, ``jvm.*`` over the timed window, ``setup.*``), the mean of
``store.files_per_segment`` over the reads that sampled it, and the ingest
figures named like end-to-end metrics.
"""

from __future__ import annotations

import statistics
from typing import Dict, List

END_TO_END: Dict[str, str] = {
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_qps": "req/s",
    "peak_rss_mb": "MiB",
    "setup_s": "s",
}

PER_LAYER: Dict[str, str] = {
    "bydbql.parse_ms": "ms",
    "bydbql.transform_ms": "ms",
    "request_loader.decode_ms": "ms",
    "request_loader.write_decode_ms": "ms",
    "plans.compile_ms": "ms",
    "plans.compile_jobs": "count",
    "plans.compile_share": "ratio",
    "catalyst.plan_ms": "ms",
    "execute.collect_ms": "ms",
    "execute.collect_share": "ratio",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.python_nodes": "count",
    "execute.rows_scanned": "rows",
    "execute.rows_returned": "rows",
    "response.ms": "ms",
    "writer.apply_ms": "ms",
    "writer.files_written": "count",
    "writer.bytes_written": "B",
    "writer.compact_ms": "ms",
    "writer.segments_compacted": "count",
    "writer.bytes_rewritten": "B",
    "store.files_per_segment": "count",
    "parquet.meta_cache_hits": "count",
    "parquet.meta_cache_misses": "count",
    "jvm.gc_ms": "ms",
    "jvm.gc_count": "count",
    "setup.spark_start_s": "s",
    "setup.build_s": "s",
    "setup.verify_s": "s",
    "setup.warmup_s": "s",
    "host.canary_ms": "ms",
    "write_p50_ms": "ms",
    "read_p50_ms": "ms",
    "rows_written_per_s": "rows/s",
    "bytes_per_row": "B",
    "error_frac": "ratio",
    "timed.requests": "count",
    "timed.passes": "count",
    "timed.mean_ms": "ms",
    "timed.half_drift_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def p90(values: List[float]) -> float:
    """Linear-interpolated 90th percentile."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def half_drift(latencies: List[float]) -> float:
    """Mean of the first half of the timed requests over the mean of the
    second half, minus one: positive means the run was still speeding up."""
    half = len(latencies) // 2
    if half == 0:
        return 0.0
    first = statistics.fmean(latencies[:half])
    second = statistics.fmean(latencies[half:2 * half])
    return first / second - 1.0


def result_line(correct: bool, attempted: int, failed: int,
                values: Dict[str, float], units: Dict[str, str]) -> dict:
    """The benchmark's last stdout line: every metric of ``units``."""
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {name: {"value": float(values.get(name, 0.0)),
                           "unit": unit} for name, unit in units.items()},
    }
