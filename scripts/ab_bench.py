"""Same-host A/B bench: previous round's HEAD vs current HEAD
(VERDICT r13 Next #5).

Both canaries rose two rounds running (scan +40% cumulative, agg +68%)
with raw walls adjudicated flat each time — cross-round canary ratios
were the only evidence. This script grounds the drift ruling with a
PAIRED run: export the previous round's HEAD into a throwaway directory
(`git archive`), run ITS `bench.py` there, then run the current tree's
`bench.py`, back-to-back in the same hour on the same host, and write
both records (headline totals, extended totals, canaries, per-query
walls) to AB_PREV_HEAD.json at the repo root. `bench.py` embeds that
file as the `ab_prev_head` section of BENCH_DETAIL.json, so the
driver-captured BENCH_DETAIL_r{N} carries the paired evidence. The
current side also records the `sources_digest` its bench run reports;
bench.py's freshness gate compares it with the tree it runs in.

Both runs share the deterministic on-disk artifacts
(/tmp/banyandb_spark_ann_index — kind-versioned, identical across the
two HEADs) and the same $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS, so the
only variables are the code and residual host noise.

Run: python scripts/ab_bench.py [--prev <commit>]
Default --prev: the newest commit whose subject starts with "round "
(the driver's end-of-round bookkeeping commit = the judged HEAD).
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str) -> str:
    return subprocess.check_output(["git", *args], cwd=REPO, text=True).strip()


def _run_bench(tree: str) -> dict:
    t0 = time.time()
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    proc = subprocess.run([sys.executable, "bench.py"], cwd=tree, env=env,
                          capture_output=True, text=True, timeout=3600)
    if proc.returncode != 0:
        raise RuntimeError(f"bench failed in {tree}:\n{proc.stderr[-3000:]}")
    with open(os.path.join(tree, "BENCH_DETAIL.json")) as f:
        detail = json.load(f)
    rec = {
        "headline_total_sec": detail["value"],
        "extended_total_sec": detail["extended_total"],
        "canary_sec": detail["canary"]["sec"],
        "canary_agg_sec": detail["canary_agg"]["sec"],
        "queries": detail["queries"],
        "extended": detail["extended"],
        "wall_sec": round(time.time() - t0, 1),
        "started_at_epoch": int(t0),
    }
    if "sources_digest" in detail:
        rec["sources_digest"] = detail["sources_digest"]
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prev", default=None,
                    help="previous HEAD commit (default: newest 'round *' "
                         "bookkeeping commit)")
    args = ap.parse_args()
    cur = _git("rev-parse", "HEAD")
    prev = args.prev
    if prev is None:
        # match the SUBJECT only (git --grep matches any message line,
        # and round-narrative commit BODIES also contain "round " lines)
        # and skip HEAD itself — run right after the driver's own
        # bookkeeping commit, the newest match IS HEAD and the pair
        # would compare a commit against itself
        for line in _git("log", "--format=%H %s").splitlines():
            sha, _, subject = line.partition(" ")
            if subject.startswith("round ") and sha != cur:
                prev = sha
                break
    if not prev:
        raise SystemExit("no previous-round commit found; pass --prev")

    wt = tempfile.mkdtemp(prefix=f"ab_prev_{prev[:8]}_")
    try:
        archive = subprocess.run(["git", "archive", prev], cwd=REPO,
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", wt], input=archive, check=True)
        print(f"[A] prev HEAD {prev[:8]} in {wt}", flush=True)
        prev_rec = _run_bench(wt)
        print(f"[B] current HEAD {cur[:8]} in {REPO}", flush=True)
        cur_rec = _run_bench(REPO)
    finally:
        shutil.rmtree(wt, ignore_errors=True)

    record = {
        "prev_head": {"commit": prev, **prev_rec},
        "cur_head": {"commit": cur, **cur_rec},
        "sf_dir": os.environ.get("SPARK_GRAFT_SF_DIR",
                                 "/root/testdata/sf0.1"),
        "note": "paired same-host run, prev first then current, shared "
                "deterministic index artifacts",
    }
    out = os.path.join(REPO, "AB_PREV_HEAD.json")
    tmp = out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f, indent=1)
    os.replace(tmp, out)   # atomic: bench.py reads this file
    print(json.dumps({k: {kk: vv for kk, vv in v.items()
                          if not isinstance(vv, dict)}
                      if isinstance(v, dict) else v
                      for k, v in record.items()}, indent=1))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
