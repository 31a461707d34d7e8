"""Plan-quality gates: the physical plans must show the properties we claim
for scale — predicate pushdown to the parquet scan, column pruning, partial
aggregation before shuffle, broadcast joins for small dims, no Python UDFs
in the BanyanDB-parity paths. Failing these means a 100 TB regression even
if results stay correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from skywalking_banyandb_spark.catalog import default_catalog
from skywalking_banyandb_spark.model import (
    AggFunc,
    AggregationSpec,
    BinaryOp,
    MeasureQuery,
    StreamQuery,
    TimeRange,
    TopNQuery,
    cond,
)
from skywalking_banyandb_spark.plans.measure import compile_measure
from skywalking_banyandb_spark.plans.stream import compile_stream
from skywalking_banyandb_spark.plans.topn import compile_topn

from conftest import SF_SMALL

TR = TimeRange.of("2024-01-03T00:00:00", "2024-01-27T00:00:00")


def _plan(df) -> str:
    # default maxMetadataStringLength=100 truncates the PushedFilters list
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "4000")
    return df._jdf.queryExecution().executedPlan().toString()


def test_stream_filter_pushdown_and_pruning(spark):
    q = StreamQuery(
        groups=["g1"], name="event_log", time_range=TR,
        criteria=cond("event_type", BinaryOp.EQ, "click"),
        projection=["user_id", "event_type"], limit=10,
    )
    df = compile_stream(spark, default_catalog(SF_SMALL), q)
    plan = _plan(df)
    # EQ predicate reaches the parquet scan
    assert "PushedFilters" in plan and "EqualTo(event_type,click)" in plan
    # the TIME RANGE also reaches the scan (compared on the raw int64 nano
    # column, not the converted timestamp — row-group pruning on time)
    assert "GreaterThanOrEqual(ts," in plan and "LessThan(ts," in plan, plan
    # column pruning: props/value are never read
    rs = plan[plan.index("ReadSchema"):].split("\n")[0]
    assert "props" not in rs and "value" not in rs


def test_topn_time_range_reaches_the_scan(spark):
    """A one-day TopN reads ts in [begin, end + window): both bounds are
    pushed to the parquet scan, not applied after the per-window
    ranking."""
    q = TopNQuery(groups=["g1"], name="metrics", top_n=3,
                  time_range=TimeRange.of("2024-01-03T00:00:00",
                                          "2024-01-04T00:00:00"))
    plan = _plan(compile_topn(spark, default_catalog(SF_SMALL), q))
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "GreaterThanOrEqual(ts,2024-01-03T00:00)" in pushed, pushed
    assert "LessThan(ts,2024-01-04T01:00)" in pushed, pushed


def test_measure_agg_is_partial_final(spark):
    q = MeasureQuery(
        groups=["g1"], name="metrics", time_range=TR,
        group_by=["event_type"], agg=AggregationSpec(AggFunc.SUM, "value"),
        limit=1000,
    )
    df = compile_measure(spark, default_catalog(SF_SMALL), q)
    plan = _plan(df)
    # map-side combine before the shuffle (partial/final hash aggregate),
    # the Spark form of the reference's agg_return_partial protocol
    assert plan.count("HashAggregate") >= 2 or "partial" in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # column pruning survives the version dedup: props is never read
    rs = plan[plan.index("ReadSchema"):].split("\n")[0]
    assert "props" not in rs, rs
    # codegen spans exist in the final (post-AQE) plan — the `*(n)` operator
    # prefix is the WholeStageCodegen marker in tree-string form
    import re

    df.collect()
    final = _plan(df)
    assert re.search(r"\*\(\d+\)", final), final


def test_topk_lowered_to_take_ordered(spark):
    from skywalking_banyandb_spark.model import Sort, TopSpec

    q = MeasureQuery(
        groups=["g1"], name="metrics", time_range=TR,
        group_by=["user_id"], agg=AggregationSpec(AggFunc.SUM, "value"),
        top=TopSpec(5, "value", Sort.DESC), limit=100,
    )
    df = compile_measure(spark, default_catalog(SF_SMALL), q)
    plan = _plan(df)
    # bounded per-partition heaps, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_tpch_q3_broadcasts_dimensions(spark):
    """r6: the broadcast is PLANNER-CHOSEN — the entry carries no
    `F.broadcast` hint (a forced broadcast OOMs when customer scales with
    SF at a real 100 TB TPC-H); the size-estimate path must still pick
    BroadcastHashJoin for the small dim at bench SF."""
    import inspect

    from skywalking_banyandb_spark import registry_analytics
    from skywalking_banyandb_spark.registry_analytics import _tpch_q3

    plan = _plan(_tpch_q3(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    # no forced-broadcast CALLS anywhere in the module (the module
    # docstring legitimately mentions the policy by name)
    assert "F.broadcast(" not in inspect.getsource(registry_analytics)


def test_no_python_udf_in_banyandb_paths(spark, entry_dfs):
    """Every BanyanDB-parity registry entry stays JVM-side (multimodal is
    the only intentional Pandas-UDF user). Plans come from the
    session-shared compile cache — this test previously re-executed
    every heavy entry (materialized streams, stateful loops) a second
    time just to read its plan (~290 s of the suite wall)."""
    import __spark_entry__ as em

    for name in em.queries():
        if name.startswith(("multimodal",)):
            continue
        plan = _plan(entry_dfs(name))
        assert "BatchEvalPython" not in plan, f"{name} uses a row Python UDF"


def test_tpch_q10_q14_q18_join_strategies(spark):
    """The new analytics entries keep their intended physical shape:
    dims broadcast (no fact shuffle for them), semi-join filter in q18
    broadcast, partial aggregation everywhere — all hint-free since r6
    (the planner/AQE picks the strategy from sizes)."""
    from skywalking_banyandb_spark import registry

    qs = registry.queries()
    p10 = _plan(qs["tpch_q10_returned_items"](spark, SF_SMALL))
    # customer + nation broadcast; the only shuffle join key is l_orderkey
    assert p10.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p10

    p14 = _plan(qs["tpch_q14_promo_effect"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p14 and "SortMergeJoin" not in p14
    # shipdate range is pushed to the lineitem scan
    assert "PushedFilters" in p14 and "GreaterThanOrEqual(l_shipdate" in p14

    p18 = _plan(qs["tpch_q18_large_volume"](spark, SF_SMALL))
    # the qualifying-orders set and customer dim come in as broadcasts;
    # the semi join never widens lineitem
    assert "LeftSemi" in p18 and p18.count("BroadcastHashJoin") >= 2
    assert "HashAggregate" in p18


def test_tpch_q17_q21_decorrelate(spark):
    """r6: the correlated-subquery entries must DECORRELATE — a per-row
    subquery execution (CartesianProduct / BroadcastNestedLoopJoin over
    lineitem) is the 100 TB scale-killer Catalyst's rewrite exists to
    prevent. Q17's scalar AVG becomes an aggregate + equi-join; Q21's
    EXISTS / NOT EXISTS become semi/anti equi-joins, with no nested-loop
    fallback."""
    from skywalking_banyandb_spark.registry_analytics import (
        _tpch_q17, _tpch_q21)

    p17 = _plan(_tpch_q17(spark, SF_SMALL))
    assert "CartesianProduct" not in p17, p17
    assert "BroadcastNestedLoopJoin" not in p17, p17
    assert "HashAggregate" in p17 or "SortAggregate" in p17, p17

    p21 = _plan(_tpch_q21(spark, SF_SMALL))
    assert "CartesianProduct" not in p21, p21
    assert "BroadcastNestedLoopJoin" not in p21, p21
    assert "HashAggregate" in p21, p21
    assert "TakeOrderedAndProject" in p21, p21


def test_rollup_single_pass(spark):
    """ROLLUP lowers to Expand + one partial/final HashAggregate pair —
    not a union of three scans."""
    from skywalking_banyandb_spark import registry

    plan = _plan(registry.queries()["rollup_events_daily"](spark, SF_SMALL))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_trace_two_phase_regroup(spark):
    """Trace regroup must not shuffle span payloads for losing traces:
    phase-1 trace ranking lowers to TakeOrderedAndProject over a tiny
    (trace_id, key) aggregate, and phase-2 re-attaches spans with a
    BroadcastHashJoin on the winner ids (trace_plan_local.go two-phase
    analogue; VERDICT r1 fix #6)."""
    from skywalking_banyandb_spark.model import OrderBy, Sort, TraceQuery
    from skywalking_banyandb_spark.plans.trace import compile_trace

    q = TraceQuery(
        groups=["g1"], name="event_trace", time_range=TR,
        order_by=OrderBy("value", Sort.DESC), limit=10,
    )
    plan = _plan(compile_trace(spark, default_catalog(SF_SMALL), q))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    # the payload collect_list aggregates AFTER the winner join — i.e. the
    # ObjectHashAggregate for collect_list sits above the broadcast join
    assert "ObjectHashAggregate" in plan or "SortAggregate" in plan, plan


def test_trace_stats_only_single_scan(spark):
    """A trace consumer that drops `spans` (the reference's trace-LIST
    shape — trace_regroup_stats, trace_orderby_duration) must get a
    ONE-SCAN plan (r16): the per-trace stats ride the phase-1 ranking
    aggregate, the span-payload pass contributes only `spans` through a
    unique-key left join, and Catalyst eliminates that join — and with
    it the second events scan — when `spans` is never read. Paired
    sf0.1: trace_regroup_stats steady 0.81 -> 0.48 s. Span-keeping
    consumers intentionally keep the two-phase shape (gate above)."""
    from skywalking_banyandb_spark.model import OrderBy, Sort, TraceQuery
    from skywalking_banyandb_spark.plans.trace import compile_trace

    q = TraceQuery(
        groups=["g1"], name="event_trace", time_range=TR,
        order_by=OrderBy("value", Sort.DESC), limit=10,
    )
    df = compile_trace(spark, default_catalog(SF_SMALL), q).select(
        "trace_id", "span_count", "start_ts", "end_ts")
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_embedding_neardup_no_nested_loop(spark):
    """Exact near-dup pairs must decompose into a blocked EQUI-join —
    CartesianProduct / BroadcastNestedLoopJoin are scale-killers
    (VERDICT r1 fix: all-pairs `a < b` join was a nested loop)."""
    from skywalking_banyandb_spark import registry

    plan = _plan(registry.queries()["dedup_embedding_cosine"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the block-pair key is an equi join
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_decontamination_broadcasts_benchmark(spark):
    """The benchmark shingle set broadcasts; the corpus side never joins
    corpus x corpus (no SortMergeJoin / nested loop on the shingle key)."""
    from skywalking_banyandb_spark.registry_pipeline import _decontamination

    plan = _plan(_decontamination(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sequence_packing_single_data_shuffle(spark):
    """sequence_packing: the shard window shuffles once; the (shard, bin)
    group-by REUSES that hash partitioning (subset rule), so the only other
    Exchange is the final presentation sort's range partitioning. A third
    Exchange would mean the cumsum and the aggregation stopped sharing
    their distribution — a 100 TB regression."""
    import __spark_entry__ as em

    df = em.queries()["sequence_packing"](spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("Exchange") == 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_documents_chunking_no_shuffle_before_sort(spark):
    """documents_chunking is a narrow map (tokenize + posexplode): the only
    Exchange allowed is the final presentation sort."""
    import __spark_entry__ as em

    df = em.queries()["documents_chunking"](spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("Exchange") <= 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tfidf_df_not_a_token_window(spark):
    """r7 (VERDICT r6 #2): df must come from a map-side-combined
    groupBy(tok).count() joined back, never a count().over(
    partitionBy(tok)) window — a window puts a Zipf-hot token's whole
    posting list in ONE task and AQE cannot skew-split it. The only
    WindowExec allowed is the per-doc rank (doc_id partitioning)."""
    from skywalking_banyandb_spark.registry_pipeline import _tfidf_top_terms

    import re

    plan = _plan(_tfidf_top_terms(spark, SF_SMALL))
    saw_window = False
    for line in plan.split("\n"):
        s = line.strip().lstrip("+-: ").strip()
        groups = re.findall(r"\[[^\]]*\]", line)
        if s.startswith("WindowGroupLimit") and groups:
            part = groups[0]  # WindowGroupLimit [partition], [order], ...
        elif s.startswith("Window ") and len(groups) >= 2:
            part = groups[1]  # Window [exprs], [partition], [order]
        else:
            continue
        saw_window = True
        assert "tok#" not in part, line
    assert saw_window  # the per-doc rank window is still there
    # the covariance fix's sibling gate: df arrives via a hash aggregate
    assert "HashAggregate" in plan


def test_embedding_covariance_codegen_no_bigdecimal_input(spark):
    """r7 (VERDICT r6 #1): the upper-triangle products must flow through
    codegen'd Generates (chained posexplode) — no interpreted 2080-struct
    literal transform — and the sums must aggregate long-backed
    quantized integers, not per-product DECIMAL(38,18) casts."""
    from skywalking_banyandb_spark.registry_pipeline import (
        _embedding_covariance,
    )

    df = _embedding_covariance(spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("Generate") >= 2  # chained posexplodes
    assert "transform(" not in plan  # the r6 interpreted HOF is gone
    # quantized integer accumulation: FLOOR feeds the partial agg and no
    # decimal with fractional scale appears anywhere in the plan
    assert "FLOOR" in plan
    assert "decimal(38,18)" not in plan


def test_pca_projection_apply_is_narrow_map(spark):
    """r7: the PCA APPLY must be one scan + one narrow Project folding
    against the literal basis — the only Exchange is the output orderBy,
    and no Python UDF sneaks into the projection."""
    from skywalking_banyandb_spark.registry_pipeline import (
        _embedding_pca_project,
    )

    plan = _plan(_embedding_pca_project(spark, SF_SMALL))
    tail = plan.split("Scan parquet")[0]  # the apply subtree above the scan
    assert tail.count("Exchange") <= 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in tail  # fit artifacts are literals, not a join


def test_centroid_confusion_broadcast_constant_plan(spark):
    """r8 (VERDICT r7 #3): the nearest-centroid assign must be the
    broadcast-centroid-table shape — a BroadcastNestedLoopJoin with the
    1-row centroid-array build side and a constant-size transform/
    array_max argmax — never the r6 literal-argmax whose expression tree
    grew linearly with class count (no 64-element double literals in the
    plan), and never a per-vector shuffle before the confusion agg."""
    from skywalking_banyandb_spark.registry_pipeline import (
        _embedding_centroid_confusion,
    )

    plan = _plan(_embedding_centroid_confusion(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" in plan
    # the argmax folds over the broadcast COLUMN, not a literal array —
    # the r6 shape's plan text grew by ~1.5 KB of literal doubles per
    # class; the column-based transform keeps it constant-size
    assert "array_max(transform(cents" in plan
    assert "from_json" not in plan and plan.count("array(") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpch2_correlated_set_decorrelates(spark):
    """r8: the q2/q11/q15/q20/q22 completion set runs the SAME correlated
    SQL on both engines; Catalyst must decorrelate every member — scalar
    subqueries become aggregate + equi-join, IN becomes LeftSemi,
    NOT EXISTS becomes LeftAnti. A CartesianProduct or nested-loop join
    over lineitem/customer is the 100 TB scale-killer these gates exist
    to catch."""
    from skywalking_banyandb_spark.registry_tpch2 import (
        _tpch_q2, _tpch_q11, _tpch_q15, _tpch_q20, _tpch_q22)

    for fn in (_tpch_q2, _tpch_q11, _tpch_q15, _tpch_q20, _tpch_q22):
        p = _plan(fn(spark, SF_SMALL))
        assert "CartesianProduct" not in p, p
        assert "BroadcastNestedLoopJoin" not in p, p
        assert "HashAggregate" in p or "SortAggregate" in p, p

    assert "LeftSemi" in _plan(_tpch_q20(spark, SF_SMALL))
    assert "LeftAnti" in _plan(_tpch_q22(spark, SF_SMALL))


def test_tpch_q19_disjunction_splits_to_both_scans(spark):
    """r8: q19's OR-of-ANDs join predicate must DECOMPOSE — the quantity
    union pushed into the lineitem scan and the brand/size union into the
    part scan (each side can row-group-skip independently), with the full
    disjunction re-checked post-join. One big post-join filter over
    unfiltered scans reads 100% of both tables at 100 TB."""
    from skywalking_banyandb_spark.registry_tpch2 import _tpch_q19

    p = _plan(_tpch_q19(spark, SF_SMALL))
    scans = [s.split("\n")[0] for s in p.split("FileScan parquet")[1:]]
    li = next(s for s in scans if "l_quantity" in s)
    pa = next(s for s in scans if "p_brand" in s)
    # lineitem scan carries the quantity-range union as a data filter
    assert "l_quantity" in li and "40.0" in li, li
    # part scan carries the brand/size union
    assert "Brand#12" in pa and "p_size" in pa, pa


def test_tpch_q13_left_join_preserves_zero_bucket(spark):
    """r8: q13's LEFT OUTER join must stay outer after optimization (an
    inner rewrite would silently drop the c_count=0 customers), and the
    priority filter must reach the orders scan, not run post-join."""
    from skywalking_banyandb_spark.registry_tpch2 import _tpch_q13

    p = _plan(_tpch_q13(spark, SF_SMALL))
    assert "LeftOuter" in p, p
    assert "EqualTo(o_orderpriority,1-URGENT)" in p, p


def test_minhash_probe_no_nested_loop_and_pruned_index_scans(spark, monkeypatch, tmp_path):
    """The incremental probe must stay equi-join end-to-end (band/bh
    candidates, pair-keyed verify, rep-keyed expansion — a nested loop
    anywhere is the all-pairs scale-killer), and the index-side parquet
    scans must prune to the columns each stage reads: bands (id, bh +
    band partition key), shingles (id, sh), classes (rep, members)."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    from skywalking_banyandb_spark.functions import dedup as dd
    from skywalking_banyandb_spark.sources import minhash_index as mh
    from skywalking_banyandb_spark.sources.parquet import read_table

    dd.release_minhash_cache()
    path = mh.build_minhash_index(spark, SF_SMALL,
                                  base_pred="doc_id % 2 = 0")
    batch = (read_table(spark, f"{SF_SMALL}/documents.parquet")
             .where("doc_id % 2 = 1"))
    pairs = mh.minhash_probe_pairs(spark, path, batch, "doc_id", "text")
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # every index scan is column-pruned (ReadSchema never includes a
    # column the stage doesn't read; 'sh' must not leak into bands)
    import re
    schemas = {m for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan)}
    band_scans = [s for s in schemas if "bh" in s]
    assert band_scans and all("sh:" not in s and "members" not in s
                              for s in band_scans), schemas
    dd.release_minhash_cache()


def test_compacted_probe_plan_keeps_gates(spark, monkeypatch, tmp_path):
    """Compaction must not change the probe's plan class: still
    equi-join end-to-end (no nested loop), index scans still
    column-pruned, and the member-level batch exclusion (r13) must be a
    hash anti-join, not a filter over a collected id list."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    from skywalking_banyandb_spark.functions import dedup as dd
    from skywalking_banyandb_spark.sources import minhash_index as mh
    from skywalking_banyandb_spark.sources.parquet import read_table

    dd.release_minhash_cache()
    path = mh.build_minhash_index(spark, SF_SMALL,
                                  base_pred="doc_id % 3 = 0")
    docs = read_table(spark, f"{SF_SMALL}/documents.parquet")
    mh.minhash_index_absorb(spark, path, docs.where("doc_id % 3 = 1"),
                            "doc_id", "text", "e0")
    mh.minhash_index_compact(spark, path)
    pairs = mh.minhash_probe_pairs(spark, path,
                                   docs.where("doc_id % 3 = 2"),
                                   "doc_id", "text")
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftAnti" in plan, plan   # the member-level exclusion
    import re
    schemas = {m for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan)}
    band_scans = [s for s in schemas if "bh" in s]
    assert band_scans and all("sh:" not in s and "members" not in s
                              for s in band_scans), schemas
    dd.release_minhash_cache()


def test_minhash_verify_intersects_once(spark):
    """The exact-Jaccard verify must evaluate array_intersect exactly
    ONCE per candidate pair (r16): without the non-deterministic
    projection barrier in _verify_pairs_with_sets, filter pushdown
    inlines the rounded-jaccard predicate into the pair JOIN CONDITION
    with the intersection duplicated — the r15 k32 plan carried THREE
    array_intersect calls and its fused verify stage measured 11.7 min
    task time for ~12M sf0.1 candidate pairs (paired A/B: k32 steady
    8.9 -> 3.6 s after the barrier). Also pins that the join itself
    stays an equi-join (the predicate must not hide in a join condition
    at all)."""
    from skywalking_banyandb_spark.functions import dedup as dd
    from skywalking_banyandb_spark.sources.parquet import read_table

    dd.release_minhash_cache()
    docs = read_table(spark, f"{SF_SMALL}/documents.parquet")
    pairs = dd.minhash_lsh_pairs(docs, "doc_id", "text", n=1,
                                 threshold=0.5)
    plan = _plan(pairs)
    assert plan.count("array_intersect") == 1, plan
    # the barrier must survive optimization (it is what blocks the
    # duplicating pushdown), and the intersection must not have been
    # folded into any join condition
    assert "SPARK_PARTITION_ID" in plan, plan
    dd.release_minhash_cache()


def test_spread_scan_noop_on_multisplit(spark, tmp_path):
    """spread_scan's repartition must be structurally UNREACHABLE once
    the input arrives in enough splits (the normal state at scale, where
    the writer targets 128 MB+ multi-row-group files): a read over >=
    defaultParallelism files gets NO round-robin exchange, while the
    single-row-group test-file shape keeps its parallelism floor. Also
    pins that the probe is RDD-free (ADVICE r15 #4): the decision reads
    parquet footers/inputFiles, never df.rdd."""
    from skywalking_banyandb_spark.sources.parquet import spread_scan

    par = spark.sparkContext.defaultParallelism
    many = str(tmp_path / "many")
    spark.range(par * 10).repartition(par).write.parquet(many)
    multi = spark.read.parquet(many)
    assert len(multi.inputFiles()) >= par
    plan_multi = _plan(spread_scan(multi))
    assert "RoundRobinPartitioning" not in plan_multi, plan_multi

    one = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(one)
    single = spark.read.parquet(one)
    plan_one = _plan(spread_scan(single))
    assert "RoundRobinPartitioning" in plan_one, plan_one


def test_spread_scan_probes_uri_encoded_paths(spark, tmp_path):
    """``inputFiles()`` returns URIs, so a space in the directory arrives
    as ``%20``: the footer probe must decode it and count the row groups
    of a multi-row-group file (no spurious exchange). A file rewritten in
    place with fewer row groups is probed again, not served from cache."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from skywalking_banyandb_spark.sources.parquet import spread_scan

    groups = max(8, spark.sparkContext.defaultParallelism)
    d = tmp_path / "a b"
    d.mkdir()
    path = str(d / "t.parquet")
    table = pa.table({"x": list(range(groups))})
    pq.write_table(table, path, row_group_size=1)
    df = spark.read.parquet(str(d))
    assert "%20" in df.inputFiles()[0], df.inputFiles()
    plan = _plan(spread_scan(df))
    assert "RoundRobinPartitioning" not in plan, plan

    pq.write_table(table.append_column("y", pa.array([0] * groups)), path)
    plan = _plan(spread_scan(spark.read.parquet(str(d))))
    assert "RoundRobinPartitioning" in plan, plan


def test_multigroup_identical_parts_collapse_to_one_scan(spark):
    """union_groups (r16, guide §1.2): a multi-group query whose groups
    resolve to semantically identical per-group plans (two logical
    groups backed by one physical table) must scan and version-dedup the
    relation ONCE and multiply rows with a Generate, not once per group
    — at 100 TB the plain union re-reads and re-windows the whole
    measure per group. Parts that differ in any analyzed detail keep the
    plain union (gated by the untouched schema-merge conformance rows)."""
    q = MeasureQuery(
        groups=["g1", "g2"], name="metrics", time_range=TR,
        group_by=["event_type"],
        agg=AggregationSpec(AggFunc.COUNT, "value"),
        limit=100000,
    )
    df = compile_measure(spark, default_catalog(SF_SMALL), q)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "Union" not in plan, plan
    assert "Generate" in plan, plan


def test_winnow_pair_join_reads_one_capped_cache(spark):
    """The winnow entries' pair self-join must consume the stop-capped
    posting table from ONE persisted relation (r16): without it the
    hot-fingerprint aggregate + anti-join ran once per join side (~11 s
    duplicated task time per steady pass at sf0.1). The optimized plan
    therefore contains NO aggregate-side exchange or anti-join — only
    the cache build (inside the InMemoryRelation definition) does.

    Self-contained against suite order: an earlier test's
    spark.catalog.clearCache() unpersists the scratch tables while
    _cached_scratch still memoizes the handles (documented r6 behavior
    — correct results, uncached), which would inline the anti-join back
    into this plan. Re-prime both winnow slots before asserting."""
    import __spark_entry__ as em
    from skywalking_banyandb_spark import registry_pipeline as rp

    for slot in ("winnow_fp_capped", "winnow_fp"):
        for old in rp._SCRATCH_CACHE.pop(slot, {}).values():
            old.unpersist()
    df = em.queries()["dedup_substring_winnow"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the query tree reads the capped cache twice and anti-joins nowhere
    assert plan.count("InMemoryRelation") >= 2, plan
    assert "LeftAnti" not in plan.split("InMemoryRelation")[0], plan
