"""A/B-pair freshness gate in bench.py (VERDICT r14 Next #3).

The same-host A/B pair (scripts/ab_bench.py → AB_PREV_HEAD.json) is
only evidence about the benched code if no engine source changed
between the pair's current-HEAD run and the bench HEAD. bench.py used
to embed whatever pair sat on disk — "self-identifying" only to a
human reading commit hashes. The gate makes staleness loud: a pair
whose ``cur_head.commit`` is neither the bench HEAD nor separated from
it by artifact-only commits embeds under ``ab_prev_head_stale`` with a
warning naming both commits. A pair that records the ``sources_digest``
of the tree it ran is judged by that digest instead of by git.
"""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py"))
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)

PAIR = {"prev_head": {"commit": "a" * 40},
        "cur_head": {"commit": "b" * 40}}


def test_matching_head_is_fresh():
    key, rec = bench._ab_freshness(PAIR, "b" * 40, [])
    assert key == "ab_prev_head"
    assert rec["head_at_bench"] == "b" * 40 and "warning" not in rec


def test_artifact_only_diff_is_fresh():
    """Commits of BENCH/SCALE/AB json or docs between the pair and the
    bench HEAD don't change what the pair measured."""
    key, rec = bench._ab_freshness(
        PAIR, "c" * 40, ["AB_PREV_HEAD.json", "SCALE.md", "BENCH_r15.json"])
    assert key == "ab_prev_head" and "warning" not in rec


def test_source_diff_is_stale_and_loud():
    key, rec = bench._ab_freshness(
        PAIR, "c" * 40,
        ["skywalking_banyandb_spark/sources/ann_index.py", "SCALE.md"])
    assert key == "ab_prev_head_stale"
    assert "bbbbbbbbbbbb" in rec["warning"] and "cccccccccccc" in rec["warning"]
    assert "ab_bench" in rec["warning"]


def test_unknown_diff_requires_exact_commit():
    """When git can't resolve the diff (shallow clone, unknown commit),
    only exact commit equality counts as fresh."""
    key, _rec = bench._ab_freshness(PAIR, "c" * 40, None)
    assert key == "ab_prev_head_stale"


def test_unresolvable_head_passes_through_with_warning():
    key, rec = bench._ab_freshness(PAIR, None, None)
    assert key == "ab_prev_head"
    assert "freshness not checked" in rec["warning"]


def test_absent_or_error_stub_passes_through():
    assert bench._ab_freshness(None, "c" * 40, None) == ("ab_prev_head", None)
    stub = {"error": "unreadable AB_PREV_HEAD.json: boom"}
    assert bench._ab_freshness(stub, "c" * 40, None) == ("ab_prev_head", stub)


def test_matching_digest_is_fresh_across_source_commits():
    """A recorded digest equal to this tree's wins over a git diff that
    touches .py files outside the benched sources (tests, perfbench)."""
    pair = {**PAIR, "cur_head": {"commit": "b" * 40,
                                 "sources_digest": "d" * 64}}
    key, rec = bench._ab_freshness(
        pair, "c" * 40, ["perfbench/run.py", "tests/test_x.py"], "d" * 64)
    assert key == "ab_prev_head" and "warning" not in rec


def test_digest_mismatch_is_stale_even_at_the_same_commit():
    """Uncommitted engine edits change the digest but not HEAD."""
    pair = {**PAIR, "cur_head": {"commit": "b" * 40,
                                 "sources_digest": "d" * 64}}
    key, rec = bench._ab_freshness(pair, "b" * 40, [], "e" * 64)
    assert key == "ab_prev_head_stale"
    assert "dddddddddddd" in rec["warning"]
    assert "eeeeeeeeeeee" in rec["warning"] and "ab_bench" in rec["warning"]


def test_sources_digest_covers_engine_not_tests(tmp_path):
    for rel in ("bench.py", "__spark_entry__.py",
                "skywalking_banyandb_spark/plans/x.py", "tests/test_y.py"):
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text("a = 1\n")
    base = bench._sources_digest(str(tmp_path))
    (tmp_path / "tests/test_y.py").write_text("a = 2\n")
    assert bench._sources_digest(str(tmp_path)) == base
    (tmp_path / "skywalking_banyandb_spark/plans/x.py").write_text("a = 2\n")
    assert bench._sources_digest(str(tmp_path)) != base


def test_repo_pair_is_fresh_at_bench_time():
    """The standing discipline (VERDICT r14 Next #3): the committed
    AB_PREV_HEAD.json must gate as FRESH against the repo's current
    state — i.e. scripts/ab_bench.py was re-run this round after the
    last engine-source change. If this fails, rerun the A/B pair."""
    import json
    root = os.path.join(os.path.dirname(__file__), "..")
    with open(os.path.join(root, "AB_PREV_HEAD.json")) as f:
        ab = json.load(f)
    head, changed = bench._ab_git_state(ab)
    digest = bench._sources_digest(root)
    if head is None and not ab["cur_head"].get("sources_digest"):
        return  # no git and no digest to judge by; the runtime gate warns
    key, rec = bench._ab_freshness(ab, head, changed, digest)
    assert key == "ab_prev_head", (
        f"stale A/B pair: {rec.get('warning')} — run scripts/ab_bench.py")
