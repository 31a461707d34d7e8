"""Checks of the benchmark itself; no Spark needed.

    python3 perfbench/run.py --self-check

- the same seed yields the same request lists, other seeds other lists;
- a deliberately wrong result is counted as an error, both by the oracle
  comparison of the verification pass and by the row-count check of the
  timed passes;
- every metric is printed with its name and unit, and the names and units
  agree with ``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import math
import os
import shutil

import datagen
import metrics
import workloads
from worker import Run, count_matches, guarded

HERE = os.path.dirname(os.path.abspath(__file__))


def _lists(seed: int):
    return (
        [(r.label, json.dumps(r.payload, sort_keys=True), r.sql)
         for r in workloads.dashboard_pass(seed)],
        workloads.analytics_rounds(seed, 4),
        [b.docs for b in workloads.ingest_pass(seed)],
    )


def check_seeds() -> None:
    for seed in (1, 2, 17):
        a, b = _lists(seed), _lists(seed)
        assert a == b, f"seed {seed} is not reproducible"
        other = _lists(seed + 1000)
        for mine, theirs, name in zip(a, other, ("dashboard", "analytics",
                                                 "ingest")):
            assert mine != theirs, f"{name}: seeds {seed} and " \
                f"{seed + 1000} give the same list"


def check_wrong_results_count() -> None:
    assert count_matches(10, 10)
    assert not count_matches(10, 9), "a short result must count as an error"
    assert not count_matches(None, 0), "an unverified request must not pass"
    raised = guarded("raises", lambda: 1 / 0)
    assert not raised.ok and math.isnan(raised.ms), \
        "a request that raises must count as failed, with no latency"

    tmp = os.path.join(HERE, ".runs", f"selfcheck-{os.getpid()}")
    try:
        run = Run(None, None, datagen.ensure(os.path.join(tmp, "data")), tmp)
        req = workloads.dashboard_pass(1)[0]
        right = run._duck().execute(req.sql)
        cols = [d[0] for d in right.description]
        rows = [list(r) for r in right.fetchall()]
        run.verify("right", rows, cols, req.sql)
        wrong = [list(r) for r in rows]
        wrong[0][-1] = "not-the-answer"
        run.verify("wrong", wrong, cols, req.sql)
        run.verify("short", rows[1:], cols, req.sql)
        run.finish_verify()
        assert run.mismatches == ["wrong", "short"], run.mismatches
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    model = workloads.StoreModel()
    latest, upserts = {}, 0
    for b in workloads.ingest_pass(1):
        model.apply(b.points)
        for p in b.points:
            upserts += (p.user_id, p.ts) in latest
            latest[(p.user_id, p.ts)] = p.version
    assert upserts, "the ingest list must re-deliver points"
    assert {k: p.version for k, p in model.live.items()} == latest, \
        "the store model must keep the latest version of each point"


def check_metric_names() -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert declared == metrics.END_TO_END, "BENCHMARK.json end_to_end " \
        "differs from metrics.END_TO_END"
    declared = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared == metrics.PER_LAYER, "BENCHMARK.json per_layer " \
        "differs from metrics.PER_LAYER"
    for units in (metrics.END_TO_END, metrics.PER_LAYER):
        line = metrics.result_line(True, 1, 0, {}, units)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        for name, unit in units.items():
            m = line["metrics"][name]
            assert m["unit"] == unit and isinstance(m["value"], float), name


def main() -> int:
    for check in (check_seeds, check_wrong_results_count,
                  check_metric_names):
        check()
        print(f"ok  {check.__name__}")
    return 0
