"""Three-point scale study (VERDICT r12 Next #3): measure, don't argue.

The families whose 100 TB story was previously argued from plan
shape — MinHash pair discovery, the incremental index probe, winnowing
substring dedup, ANN probes, session windows, TopN materialization,
and (r14, VERDICT r13 Next #3) the MinHash compaction lifecycle and
the streaming keep-best resolution loop
— are timed at sf0.01 / sf0.1 / sf1 over a SEED-FIXED generated corpus
with the same shape as the driver's testdata (TESTDATA.md; the
read-only /root/testdata is never touched), and each adjacent pair of
scale points is fitted to an exponent:

    t ~ sf^e   =>   e = ln(t_hi/t_lo) / ln(sf_hi/sf_lo)

Corpus shape (profiled from /root/testdata/sf0.1, matched so the
generated sf0.1 walls validate against the real sf0.1 walls):
  documents  — 50k rows/sf (min 500): 10..100 tokens uniform over the
               SAME 30-word vocabulary (ambient similarity is the pair
               volume's driver, so the vocabulary must match), 5% of
               docs are a random earlier doc's text + " dup";
               lang en 40% / {de,es,fr,zh} 15%; source = id % 20.
  embeddings — 20k rows/sf (min 500): unit-norm 64-dim gaussian,
               label uniform 0..9.
  events     — 1M rows/sf: ts uniform over 2024-01 (the registry time
               ranges), users 15k/sf (constant per-user density, so
               sessionization's per-key work is scale-free), 5 types,
               exponential(50) value, {"k": n} props.

Timing methodology: per entry, one warm pass (cold — includes one-time
index/posting builds, which disk-cache), then up to two timed passes
keeping the minimum (one pass at sf1 for the quadratic-answer entries,
recorded as passes=1). Execution sink is the noop writer — full plan
execution without driver-side row serialization (the k32 lesson:
collect() measures pickling, not the engine) — except the ~48-row
checksum aggregates, which are collected to ALSO record the answer's
pair volume (the quantity the dedup exponents are expected to track).

Run:  python scripts/scale_study.py [--scales 0.01,0.1,1]
Writes SCALE_STUDY.json at the repo root.
"""
from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEED = 42

# the five families (VERDICT r12 Next #3), as registry entries so the
# study times exactly the code the driver and bench run
ENTRIES = [
    ("dedup_minhash_lsh_agg", "collect"),      # pair family (K=8 default)
    ("dedup_minhash_incremental", "collect"),  # write-time index probe
    ("dedup_substring_winnow", "noop"),        # winnowing pair family
    ("ann_ivfpq_topk", "noop"),                # ANN probe (compressed)
    ("ann_ivf_incremental_topk", "noop"),      # ANN probe (incremental)
    ("events_session_window", "noop"),         # session event-time window
    ("topn_per_window", "noop"),               # TopN materialization
    # the two r13 families (VERDICT r13 Next #3), staged runners below:
    # the compaction lifecycle decomposes into build/absorb/trigger/
    # compact/probe stages so the compact stage's own exponent names the
    # cost driver; the streaming resolution loop prices the full
    # 2-epoch probe->decide->absorb stream per pass
    ("mhidx_compaction_lifecycle", "staged"),
    ("streaming_resolution_loop", "staged"),
    # the mid-weight quality family (VERDICT r14 Next #4) — the three
    # largest extended bench rows that previously had no fitted
    # exponents; all three are Catalyst-only aggregations over
    # documents, expected shuffle-bound sub-linear-to-linear, but
    # "almost certainly" is the evidence class this study replaces
    ("quality_charlm_typicality", "noop"),
    ("quality_repetition", "noop"),
    ("quality_tfidf_top_terms", "noop"),
]
# entries whose sf1 pass count is 1 (quadratic answer volume)
SINGLE_PASS_AT_SF1 = {"dedup_minhash_lsh_agg", "dedup_substring_winnow"}


def gen_corpus(out_dir: str, sf: float, seed: int = SEED) -> None:
    """Deterministic corpus of the TESTDATA.md shape at scale ``sf``.
    Idempotent per directory (skips if the _DONE marker exists)."""
    import numpy as np
    import pandas as pd

    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    n_docs = max(500, int(50_000 * sf))
    lens = rng.integers(10, 101, size=n_docs)
    word_ix = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts, pos = [], 0
    for i in range(n_docs):
        ln = int(lens[i])
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            pos += ln  # keep the stream aligned regardless of the branch
        else:
            texts.append(" ".join(VOCAB[w] for w in word_ix[pos:pos + ln]))
            pos += ln
    pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, size=n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }).to_parquet(os.path.join(out_dir, "documents.parquet"), index=False)

    n_emb = max(500, int(20_000 * sf))
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        "float32")
    pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, size=n_emb).astype("int32"),
    }).to_parquet(os.path.join(out_dir, "embeddings.parquet"), index=False)

    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    t0 = np.datetime64("2024-01-01T00:00:00")
    span = np.timedelta64(30, "D") / np.timedelta64(1, "s")
    ts = t0 + (rng.random(n_ev) * span * 1e6).astype("timedelta64[us]")
    ts.sort()
    pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, n_users, size=n_ev).astype("int64"),
        "event_type": rng.choice(
            ["view", "click", "purchase", "signup", "error"], size=n_ev),
        "value": np.round(rng.exponential(50.0, size=n_ev), 2),
        "props": [f'{{"k": {int(k)}}}'
                  for k in rng.integers(0, 100, size=n_ev)],
    }).to_parquet(os.path.join(out_dir, "events.parquet"), index=False)
    with open(done, "w") as f:
        f.write("ok")


def _run(df, sink: str):
    if sink == "collect":
        return df.collect()
    df.write.format("noop").mode("overwrite").save()
    return None


def _time_compaction_lifecycle(spark, sf_dir: str) -> dict:
    """The r13 family's full maintenance lifecycle (VERDICT r13 Next #3),
    staged so each stage carries its own exponent: build the base index
    (doc_id%9=0 of the %3=0 universe — the registry entry's shape),
    absorb the %9=3 shard under TWO lineages (the re-delivery workload
    that duplicates classes), check the trigger, COMPACT, probe the
    %9=6 shard (noop sink, retain=False — the per-run-scratch path).
    The compact stage's expected cost driver is the class/band/shingle
    rewrite — ~linear in index rows — which `classes_before` records
    alongside so the exponent can be read against it."""
    import shutil
    import tempfile

    from skywalking_banyandb_spark.sources import minhash_index as mh
    from skywalking_banyandb_spark.sources.parquet import read_table

    work = tempfile.mkdtemp(prefix="mhidx_lifecycle_")
    try:
        stages: dict = {}
        t0 = time.perf_counter()
        path = mh.build_minhash_index(
            spark, sf_dir, base_pred="doc_id % 9 = 0", root=work)
        stages["build_sec"] = round(time.perf_counter() - t0, 3)
        docs = read_table(
            spark, f"{sf_dir}/documents.parquet").where("doc_id % 3 = 0")
        b1 = docs.where("doc_id % 9 = 3")
        t0 = time.perf_counter()
        mh.minhash_index_absorb(spark, path, b1, "doc_id", "text", "lA-0")
        stages["absorb1_sec"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        mh.minhash_index_absorb(spark, path, b1, "doc_id", "text", "lB-0")
        stages["absorb2_sec"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        fired = mh.minhash_index_needs_compaction(spark, path)
        stages["trigger_check_sec"] = round(time.perf_counter() - t0, 3)
        assert fired, "re-delivery workload must fire the trigger"
        t0 = time.perf_counter()
        st = mh.minhash_index_compact(spark, path)
        stages["compact_sec"] = round(time.perf_counter() - t0, 3)
        stages["classes_before"] = st["classes_before"]
        stages["classes_after"] = st["classes_after"]
        t0 = time.perf_counter()
        mh.minhash_probe_pairs(
            spark, path, docs.where("doc_id % 9 = 6"), "doc_id", "text",
            retain=False).write.format("noop").mode("overwrite").save()
        stages["probe_sec"] = round(time.perf_counter() - t0, 3)
        stages["steady_sec"] = round(sum(
            stages[s] for s in ("build_sec", "absorb1_sec", "absorb2_sec",
                                "trigger_check_sec", "compact_sec",
                                "probe_sec")), 3)
        return stages
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _time_streaming_resolution(spark, qs, sf_dir: str) -> dict:
    """The streaming keep-best resolution loop — the registry entry runs
    the full 2-epoch probe→decide→absorb stream in fresh scratch per
    call, so one call IS one lifecycle pass."""
    t0 = time.perf_counter()
    rows = qs["streaming_resolution_materialized"](spark, sf_dir).collect()
    return {"steady_sec": round(time.perf_counter() - t0, 3),
            "survivors": len(rows)}


# lifecycle families re-run their whole build/absorb/stream per pass in
# fresh scratch — there is no warm steady state to separate, so one
# cold pass per measurement and min over `passes` repetitions
STAGED = {
    "mhidx_compaction_lifecycle":
        lambda spark, qs, d: _time_compaction_lifecycle(spark, d),
    "streaming_resolution_loop": _time_streaming_resolution,
}


def time_entries(spark, qs, sf_dir: str, sf: float, only=None) -> dict:
    from skywalking_banyandb_spark.functions import dedup as dd

    out: dict = {}
    for name, sink in ENTRIES:
        if only is not None and name not in only:
            continue
        passes = 1 if (sf >= 1 and name in SINGLE_PASS_AT_SF1) else 2
        if sink == "staged":
            best = None
            for _ in range(passes):
                rec = STAGED[name](spark, qs, sf_dir)
                if best is None or rec["steady_sec"] < best["steady_sec"]:
                    best = rec
            best["passes"] = passes
            out[name] = best
            print(f"    {name}: {best}", flush=True)
            continue
        t0 = time.perf_counter()
        rows = _run(qs[name](spark, sf_dir), sink)
        cold = time.perf_counter() - t0
        best = None
        for _ in range(passes):
            t0 = time.perf_counter()
            rows = _run(qs[name](spark, sf_dir), sink)
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        rec = {"cold_sec": round(cold, 3), "steady_sec": round(best, 3),
               "passes": passes}
        if sink == "collect" and rows is not None:
            rec["answer_pairs"] = int(sum(r.n_pairs for r in rows))
        out[name] = rec
        print(f"    {name}: cold {rec['cold_sec']}s steady "
              f"{rec['steady_sec']}s {rec.get('answer_pairs', '')}",
              flush=True)
    dd.release_minhash_cache()
    return out


def fit(results: dict, scales) -> dict:
    """Fit exponents for every entry present at ALL scale points; for
    staged lifecycle families, additionally fit each stage's own
    exponent (the compact stage's is the named cost driver). A family
    timed at SOME but not all scale points is named in a warning
    (ADVICE r14 #3) — a silent skip reads as the study having covered
    it."""
    exps: dict = {}
    names = [n for n, _ in ENTRIES
             if all(n in results.get(str(s), {}) for s in scales)]
    partial = [n for n, _ in ENTRIES
               if n not in names
               and any(n in results.get(str(s), {}) for s in scales)]
    if partial:
        import warnings
        warnings.warn(
            f"families timed at some but not all of {scales} and "
            f"therefore EXCLUDED from the exponent fit: {partial} — "
            "re-run them at the missing scale points", stacklevel=2)

    def _e(a: float, b: float, lo: float, hi: float) -> "float | None":
        # None (JSON null), not float('nan'): a stage wall rounding to
        # 0.0 at small SF must not poison SCALE_STUDY.json with a bare
        # NaN token that strict parsers reject (ADVICE r14 #1)
        if a <= 0 or b <= 0:
            return None
        return round(math.log(b / a) / math.log(hi / lo), 3)

    for name in names:
        per = []
        for lo, hi in zip(scales, scales[1:]):
            ra, rb = results[str(lo)][name], results[str(hi)][name]
            rec = {"from_sf": lo, "to_sf": hi,
                   "exponent": _e(ra["steady_sec"], rb["steady_sec"],
                                  lo, hi)}
            stage_keys = [k for k in ra
                          if k.endswith("_sec") and k != "steady_sec"
                          and k != "cold_sec" and k in rb]
            if stage_keys:
                rec["stages"] = {k: _e(ra[k], rb[k], lo, hi)
                                 for k in stage_keys}
            per.append(rec)
        exps[name] = per
    return exps


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="0.01,0.1,1")
    ap.add_argument("--validate", action="store_true",
                    help="also time the real /root/testdata/sf0.1 for a "
                         "generated-vs-real shape check")
    ap.add_argument("--entries", default=None,
                    help="comma list: time only these families and MERGE "
                         "into the existing SCALE_STUDY.json (other "
                         "families' recorded points are kept; exponents "
                         "are re-fitted over the merged results)")
    args = ap.parse_args()
    scales = [float(s) for s in args.scales.split(",")]
    only = set(args.entries.split(",")) if args.entries else None

    import tempfile

    from skywalking_banyandb_spark.session import get_spark

    root = os.path.join(tempfile.gettempdir(), "banyandb_scale_study")
    os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(root, "indexes")
    spark = get_spark("banyandb-scale-study")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as em
    qs = em.queries()

    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "SCALE_STUDY.json")
    record = {"seed": SEED, "scales": scales, "results": {},
              "exponents": {}}
    if only is not None and os.path.exists(out):
        with open(out) as f:
            record = json.load(f)

    for sf in scales:
        d = os.path.join(root, f"gen_sf{sf}")
        print(f"[gen] sf{sf} -> {d}", flush=True)
        t0 = time.perf_counter()
        gen_corpus(d, sf)
        print(f"[gen] done in {time.perf_counter() - t0:.1f}s", flush=True)
        print(f"[time] sf{sf}", flush=True)
        record["results"].setdefault(str(sf), {}).update(
            time_entries(spark, qs, d, sf, only=only))

    # merge semantics: the exponent set is re-fitted over the UNION of
    # recorded scale points (so a subset --scales rerun cannot silently
    # narrow other families' fitted range), and families missing a
    # point keep their previously-fitted entries rather than vanishing
    all_scales = sorted({*(record.get("scales") or []), *scales})
    record["scales"] = all_scales
    record.setdefault("exponents", {}).update(
        fit(record["results"], all_scales))
    if args.validate:
        print("[time] real sf0.1 (validation)", flush=True)
        record.setdefault("real_sf0.1", {}).update(time_entries(
            spark, qs, "/root/testdata/sf0.1", 0.1, only=only))

    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record["exponents"], indent=1))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
