"""Benchmark entry point.

    python3 perfbench/run.py --workload {dashboard,analytics,ingest}
        --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --self-check

Run from the repository root. Each run happens in a fresh worker process
with a private run directory under ``perfbench/.runs/`` (dataset, TMPDIR,
ANN index directory, Spark local dirs, ingest store), which is removed
afterwards, so no run inherits state from another. The last stdout line is
the result: ``{"correct", "attempted", "failed", "metrics"}``; the full
record is also written to ``perfbench/out/<workload>-trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170
DRIVER_MEMORY = "1g"


def _engine_present() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "skywalking_banyandb_spark", "__init__.py"))


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever the worker left behind (the JVM, Python UDF workers)
    and wait until every process of its group has ended."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 10
    while _group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.05)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> int:
    if not _engine_present():
        print("perfbench: skywalking_banyandb_spark/ not found next to "
              "perfbench/; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import datagen

    run_dir = os.path.join(HERE, ".runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        data_dir = datagen.ensure(os.path.join(run_dir, "data"))
        out_json = os.path.join(run_dir, "result.json")
        env = dict(os.environ)
        env.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "SPARK_GRAFT_INDEX_DIR": os.path.join(run_dir, "ann_index"),
            "SPARK_GRAFT_ORACLE_SF_DIR": data_dir,
            "SPARK_GRAFT_CPUS": str(_cpus()),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "PYTHONHASHSEED": "0",
            # the JVMs' own temp files (native codec libraries) go to the
            # run directory too, and no perf-data file goes to /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # the driver heap is committed and touched up front, so peak
            # RSS does not depend on how far the collector let the heap
            # grow in this particular run
            "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
                                   f"'-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch' "
                                   "pyspark-shell",
            "PERFBENCH_T0": repr(time.time()),
        })
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), workload,
               str(seed), str(seconds), str(trace), data_dir, run_dir,
               out_json]
        # the worker's stdout (Spark banners) goes to stderr: the result
        # must stay the last line of this process's stdout
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                                stdout=sys.stderr, start_new_session=True)
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: worker exceeded {TIMEOUT_S}s", file=sys.stderr)
            code = -1
        finally:
            _stop_group(proc)
        if code != 0 or not os.path.exists(out_json):
            print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(out_json) as fh:
            record = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{workload}-trace{trace}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1)
    detail = record.pop("detail")
    for key, m in record["metrics"].items():
        print(f"{key:32s} {m['value']:14.4f} {m['unit']}", file=sys.stderr)
    if detail["mismatches"]:
        print(f"verification mismatches: {detail['mismatches']}",
              file=sys.stderr)
    print(json.dumps(record))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload",
                    choices=("dashboard", "analytics", "ingest"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true",
                    help="check the benchmark itself (no Spark) and exit")
    args = ap.parse_args()
    # a terminated run still stops its worker and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    if args.self_check:
        sys.path.insert(0, HERE)
        import selfcheck

        return selfcheck.main()
    if args.workload is None:
        ap.error("--workload is required")
    return run_once(args.workload, args.seed, args.seconds, args.trace)


if __name__ == "__main__":
    sys.exit(main())
