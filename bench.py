"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from skywalking_banyandb_spark.session import get_spark

import __spark_entry__ as entrymod

HEADLINE = [
    # BanyanDB-parity paths
    "measure_scan_filter",
    "measure_groupby_sum",
    "measure_groupby_mean",
    "measure_top_desc",
    "measure_multigroup_union",
    "stream_filter_in_orderby_tag",
    "stream_scan_paged",
    "trace_regroup_stats",
    "property_match_or",
    "topn_per_window",
    "topn_postagg_mean",
    "bydbql_show_top",
    # analytics + pipeline breadth
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "text_stats",
    "dedup_exact",
    "ann_cosine_topk",
    "json_extract_agg",
]

# Second, NON-frozen section (VERDICT r4 next #8): the round-4+ operator
# families, tracked separately so their perf movement is visible without
# perturbing the frozen 19-query headline series (r1..r4 comparability).
# Reported under "extended" in the same JSON line; the headline metric/value
# stay the frozen list's.
EXTENDED = [
    "events_asof_join",
    "measure_latency_percentiles",
    "events_session_window",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "events_cohort_retention",
    "sketch_hll_users",
    "quality_repetition",
    # round-5 additions (the streaming interval join entry is deliberately
    # absent: its wall time is dominated by stream drain orchestration)
    "measure_ohlc_window",
    "dedup_substring_winnow",
    "ann_ivfpq_residual_topk",
    "measure_histogram_quantile",
    "events_alert_intervals",
    # round-6 additions
    "measure_counter_increase_promql",
    "slo_burn_rate_multiwindow",
    "quality_tfidf_top_terms",
    "quality_charlm_typicality",
    "measure_created_at_clamp",
    "embedding_covariance",
    "embedding_centroid_confusion",
    "tpch_q17_small_quantity",
    "tpch_q21_sole_delayed",
    # round-7 additions
    "embedding_pca_project",
    "ann_ivf_incremental_topk",
    "measure_rate_extrapolated_promql",
    "ann_ivfpq_incremental_topk",
    "embedding_int8_quantization",
    # round-8 additions (dedup_minhash_lsh is deliberately absent: its
    # sf0.1 answer is 4.4M pairs — the ambient-similarity corpus makes
    # near-dup truth quadratic-ish — so a bench .collect() measures 80s
    # of Python row serialization, not engine speed; the distributed
    # plan itself runs in ~19s end-to-end, see SCALE.md r8)
    "embedding_kmeans_clusters",
    "trace_finalize_sampling",
    "dedup_minhash_lsh_3gram",
    # round-11 addition (VERDICT r10 #3): the K=32 high-recall MinHash
    # config, trackable here since its driver entry now returns the
    # per-bucket checksum aggregate (~47 rows) instead of the ~4.4M-pair
    # table that kept the K=8 sibling out of the bench — its cost now
    # sits beside its pytest-gated recall floor every round
    "dedup_minhash_lsh_k32",
    # round-12 addition (VERDICT r11 Next #5): the DEFAULT K=8 unigram
    # config, benchable via the same ~48-row checksum-aggregate shape —
    # the cheap estimator a user would actually run at scale finally has
    # a cost row beside its 3-gram and k32 siblings (the pair-level
    # dedup_minhash_lsh entry keeps the pair-exact oracle)
    "dedup_minhash_lsh_agg",
    # round-12 addition: incremental cross-corpus near-dup — probe of a
    # write-time banded index (sources/minhash_index.py), the O(batch)
    # arrival-loop shape. Its steady-state prices the probe; the one-time
    # index build disk-caches into the cold pass like the ann_* entries.
    "dedup_minhash_incremental",
    # round-13 addition (VERDICT r12 Next #2): the compaction lifecycle —
    # build → absorb twice (re-delivery) → compact → probe. The entry's
    # index lives in wiped per-run scratch, so unlike the ann_* entries
    # its COLD wall reprices build+absorb+compact every pass and the
    # steady-state prices the same lifecycle on a warm JVM (the compact
    # swap makes the directory non-reusable by design); read it against
    # dedup_minhash_incremental's probe-only steady state for the
    # compaction overhead itself.
    "dedup_minhash_compacted",
]


def _sources_digest(root: str) -> str:
    """sha256 over the sources a bench run executes: bench.py, the driver
    contract and every module of the engine package (relative path and
    bytes, in path order). Tests, scripts and perfbench/ are left out —
    they do not change what this bench measures."""
    import glob
    import hashlib
    paths = ["bench.py", "__spark_entry__.py"] + sorted(
        os.path.relpath(p, root) for p in glob.glob(
            os.path.join(root, "skywalking_banyandb_spark", "**", "*.py"),
            recursive=True))
    h = hashlib.sha256()
    for rel in paths:
        h.update(rel.replace(os.sep, "/").encode() + b"\0")
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()


def _ab_freshness(ab, head: "str | None", changed_paths,
                  digest: "str | None" = None):
    """A/B-pair freshness gate (VERDICT r14 Next #3): the embedded pair
    is only evidence about THIS bench's code if no engine source changed
    between the pair's current-HEAD run and the bench. A pair that
    records the ``sources_digest`` of the tree it ran is fresh exactly
    when that digest equals ``digest`` (this tree's), whatever git says.
    An older pair without one falls back to commits: its
    ``cur_head.commit`` must match the bench HEAD or differ from it only
    by artifact commits (no ``.py`` in the diff; BENCH/SCALE/AB json and
    doc updates are measurement bookkeeping, not engine changes). A
    fresh pair embeds under ``ab_prev_head``; anything else embeds under
    ``ab_prev_head_stale`` with an explicit warning, so a stale pair is
    loud instead of silently misleading. Returns (key, record)."""
    if not isinstance(ab, dict) or "cur_head" not in ab:
        return "ab_prev_head", ab          # absent / unreadable-error stub
    cur = ab.get("cur_head", {}).get("commit")
    rec = {**ab, "head_at_bench": head}
    pair_digest = ab.get("cur_head", {}).get("sources_digest")
    if pair_digest and digest:
        if pair_digest == digest:
            return "ab_prev_head", rec
        rec["warning"] = (
            f"pair's sources_digest {pair_digest[:12]} does not match this "
            f"tree's {digest[:12]} — rerun scripts/ab_bench.py for a pair "
            "that measures this code")
        return "ab_prev_head_stale", rec
    if head is None:
        rec["warning"] = ("could not resolve the repo HEAD; pair "
                          "freshness not checked")
        return "ab_prev_head", rec
    if cur == head or (changed_paths is not None and
                       not any(p.endswith(".py") for p in changed_paths)):
        return "ab_prev_head", rec
    rec["warning"] = (
        f"pair's cur_head {str(cur)[:12]} does not match bench HEAD "
        f"{head[:12]} and .py sources changed between them — rerun "
        "scripts/ab_bench.py for a pair that measures this code")
    return "ab_prev_head_stale", rec


def _ab_git_state(ab) -> "tuple[str | None, list | None]":
    """(bench HEAD, paths changed since the pair's cur_head) — both None
    when git/the commit is unavailable (the gate then requires exact
    commit equality)."""
    import subprocess
    repo = os.path.dirname(os.path.abspath(__file__))
    try:
        head = subprocess.check_output(
            ["git", "rev-parse", "HEAD"], cwd=repo, text=True,
            stderr=subprocess.DEVNULL).strip()
    except Exception:
        return None, None
    changed = None
    cur = (ab or {}).get("cur_head", {}).get("commit") \
        if isinstance(ab, dict) else None
    if cur:
        try:
            out = subprocess.check_output(
                ["git", "diff", "--name-only", f"{cur}..HEAD"], cwd=repo,
                text=True, stderr=subprocess.DEVNULL)
            changed = [ln for ln in out.splitlines() if ln.strip()]
        except Exception:
            changed = None
    return head, changed


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.1
    spark = get_spark("banyandb-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs]
    ext_names = [n for n in EXTENDED if n in qs]

    # Host-drift canary (VERDICT r5 #3): cross-round BENCH files proved
    # incomparable without a same-host anchor (r4 vs r5 showed ±30% drift
    # on byte-identical code). A fixed trivial query — full-scan COUNT of
    # lineitem — is recorded so later rounds can normalize: the canary
    # moves with host speed, not with engine changes.
    from skywalking_banyandb_spark.sources.parquet import read_table

    def _min_of_3(fn) -> float:
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        return round(best, 4)

    def canary() -> float:
        return _min_of_3(
            lambda: read_table(spark, f"{sf_dir}/lineitem.parquet").count())

    # Second, COMPUTE-BOUND canary (VERDICT r11 Next #3): one tiny-scan
    # instrument cannot distinguish host-speed drift from scan-floor
    # drift — r11's canary moved -20% while raw query walls stayed flat,
    # making every normalized cross-round ratio read as a uniform
    # "regression" on untouched code paths. A fixed groupBy-agg over
    # lineitem (shuffle + partial/final hash agg + decimal sums) moves
    # with CPU/shuffle speed rather than the scan floor; SCALE.md states
    # which instrument normalizes which claim.
    from pyspark.sql import functions as _F

    def canary_agg() -> float:
        li = read_table(spark, f"{sf_dir}/lineitem.parquet")
        return _min_of_3(lambda: (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(_F.sum("l_quantity"), _F.sum("l_extendedprice"),
                 _F.avg("l_discount"), _F.count(_F.lit(1)))
            .collect()))

    canary_warm = canary()
    canary_agg_warm = canary_agg()

    # Steady-state methodology (matches BASELINE.md: the reference reports
    # latencies under sustained load, i.e. warm JVM/codegen/page cache —
    # not cold-start). One pass warms each query (its wall recorded as the
    # COLD time — for ANN entries this includes the one-time index build,
    # which disk-caches and is skipped thereafter); then two timed passes,
    # keeping the per-query minimum — the steady state with scheduler/host
    # noise suppressed (single-JVM local mode shares the machine with
    # whatever else runs on it).
    cold: dict[str, float] = {}

    def steady_state(run_names):
        for name in run_names:
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).collect()
            cold[name] = round(time.perf_counter() - t0, 4)
        t: dict[str, float] = {}
        for _ in range(2):
            for name in run_names:
                t0 = time.perf_counter()
                qs[name](spark, sf_dir).collect()
                dt = time.perf_counter() - t0
                if name not in t or dt < t[name]:
                    t[name] = dt
        return {n: round(v, 4) for n, v in t.items()}

    timings = steady_state(names)
    extended = steady_state(ext_names)

    # ANN build/probe split (VERDICT r5 #3): the warm-pass wall of an ann_*
    # entry on a cold index = build + probe; the steady-state min = probe
    # only (the index is disk-cached across calls). build_sec is the
    # difference, clamped at 0 for pre-existing indexes.
    ann_split = {
        n: {
            "cold_sec": cold[n],
            "probe_sec": (timings | extended)[n],
            "build_sec": round(max(cold[n] - (timings | extended)[n], 0.0), 4),
        }
        for n in (*names, *ext_names) if n.startswith("ann_")
    }

    # Scratch-table build/probe split (r10): the winnow posting table and
    # the charlm trigram pair table persist per session (_cached_scratch),
    # so — like the ANN indexes — their cold wall = build + query and the
    # steady-state min = query only. Splitting them out makes cold-path
    # engine changes visible (e.g. the r10 O(len^2) k-gram fix lands here,
    # not in the steady-state numbers).
    scratch_split = {
        n: {
            "cold_sec": cold[n],
            "steady_sec": (timings | extended)[n],
            "build_sec": round(
                max(cold[n] - (timings | extended)[n], 0.0), 4),
        }
        for n in ("dedup_substring_winnow", "quality_charlm_typicality")
        if n in cold
    }

    # ANN recall@10 vs brute force (VERDICT r7 #6): quality next to the
    # build/probe split, so the recall/latency trade-off is visible per
    # round; tests/test_ann_recall.py asserts the floors.
    from skywalking_banyandb_spark.sources.ann_recall import (
        ann_incremental_recall_sweep,
        ann_policy_retrain_sequence,
        ann_recall_at_k,
    )

    ann_recall = ann_recall_at_k(spark, sf_dir, k=10, n_queries=8)

    # Append-fraction recall decay + retrain recovery (VERDICT r12 Next
    # #4): the measurement behind the incremental indexes' documented
    # rebuild trigger (REBUILD_APPEND_FRACTION). Private scratch — the
    # sweep's retrain step mutates its indexes, so the shared tree's
    # frozen artifacts must not be touched.
    from skywalking_banyandb_spark.registry_coverage import _scratch_dir

    ann_sweep = ann_incremental_recall_sweep(
        spark, sf_dir, _scratch_dir("ann_recall_sweep"))

    # append → needs_retrain → retrain(k="policy") → recall (VERDICT
    # r14 Next #6): the live-rows k-resize opt-in run end-to-end each
    # round; the from-scratch floor is a fresh policy build, and the
    # retrained index must MATCH it (same deterministic sample).
    ann_policy_seq = ann_policy_retrain_sequence(
        spark, sf_dir, _scratch_dir("ann_policy_retrain"))

    total = round(sum(timings.values()), 4)
    ext_total = round(sum(extended.values()), 4)
    # Canary-normalized ratios (VERDICT r6 #4): dividing by the same-run
    # canary makes cross-round totals comparable without two-tree reruns
    # — host drift moves the canary and the queries together, engine
    # changes move only the queries. r6's canary (0.2264 s) is the first
    # anchor, so r7↔r6 is the first directly normalizable pair.
    norm = {
        "canary_sec": canary_warm,
        "canary_agg_sec": canary_agg_warm,
        "headline_total_over_canary_agg": round(total / canary_agg_warm, 2),
        "extended_total_over_canary_agg": round(
            ext_total / canary_agg_warm, 2),
        "headline_total_over_canary": round(total / canary_warm, 2),
        "extended_total_over_canary": round(ext_total / canary_warm, 2),
        "queries_over_canary": {
            n: round(v / canary_warm, 2)
            for n, v in (timings | extended).items()
        },
        # the instrument-per-claim twin (VERDICT r12 Next #5): SCALE.md's
        # adjudication rule reads scan-bound entries against
        # queries_over_canary and shuffle/agg-bound entries against this
        # map — both recorded so neither requires hand division
        "queries_over_canary_agg": {
            n: round(v / canary_agg_warm, 2)
            for n, v in (timings | extended).items()
        },
    }
    # The driver captures a bounded tail of stdout; r7/r8 proved the full
    # record (extended + canary + recall + build/probe) outgrows that
    # window and the driver stores `parsed: null` (VERDICT r8 #5). So the
    # ONE stdout line is the compact headline contract only, and the full
    # record goes to a sidecar it names.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    # Same-host A/B pair (VERDICT r13 Next #5): scripts/ab_bench.py runs
    # the previous round's HEAD and the current HEAD back-to-back and
    # writes AB_PREV_HEAD.json; embedding it here puts the paired
    # evidence into the driver-captured BENCH_DETAIL_r{N}. The record
    # carries its own commits and epoch timestamps, so a stale pair is
    # self-identifying rather than silently misleading.
    ab_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "AB_PREV_HEAD.json")
    ab_prev_head = None
    if os.path.exists(ab_path):
        try:
            with open(ab_path) as fh:
                ab_prev_head = json.load(fh)
        except (OSError, ValueError) as exc:
            # an interrupted ab_bench run must degrade the OPTIONAL
            # sidecar, never break the scored bench
            ab_prev_head = {"error": f"unreadable AB_PREV_HEAD.json: {exc}"}
    digest = _sources_digest(os.path.dirname(os.path.abspath(__file__)))
    ab_key, ab_rec = _ab_freshness(ab_prev_head,
                                   *_ab_git_state(ab_prev_head), digest)
    with open(detail_path, "w") as fh:
        json.dump({
            "metric": "headline_query_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "extended": extended,
            "extended_total": ext_total,
            "canary": {"query": "count(lineitem)", "sec": canary_warm},
            "canary_agg": {
                "query": "groupBy(l_returnflag,l_linestatus) 4-agg lineitem",
                "sec": canary_agg_warm},
            "normalized": norm,
            "ann_build_probe": ann_split,
            "scratch_build_probe": scratch_split,
            "ann_recall_at_10": ann_recall,
            "ann_incremental_recall_sweep": ann_sweep,
            "ann_policy_retrain": ann_policy_seq,
            ab_key: ab_rec,
            "sources_digest": digest,
            "sf": sf,
        }, fh, indent=1)
    print(json.dumps({
        "metric": "headline_query_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "canary_sec": canary_warm,
        "canary_agg_sec": canary_agg_warm,
        "detail": "BENCH_DETAIL.json",
    }))


if __name__ == "__main__":
    main()
