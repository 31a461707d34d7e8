"""Driver simulation: plain SparkSession, oracle sweep.

Run: python .verify_driver_sim.py [N | ENTRY ...]
Compares queries() entries against oracle_sql() at sf0.01 the way the
grading driver does (column-name-sorted rows, floats to 10 significant
digits). A number sweeps only the first N entries (the front of the sweep
order); names check those entries alone; no argument sweeps everything.
SIM_SF_DIR points the sweep (and the lazy oracles) at another scale.
"""
from __future__ import annotations

import math
import os
import sys
import time

import duckdb
from pyspark.sql import SparkSession

SF = os.environ.get("SIM_SF_DIR", "/root/testdata/sf0.01")
# Lazy oracles that fit on a corpus (embedding_pca_project) resolve
# SPARK_GRAFT_ORACLE_SF_DIR at oracle_sql() call time: it must follow the
# sweep's SF, or an sf0.1 sweep fits the oracle basis on sf0.01 and
# reports a false value mismatch. Set it before the registry is imported.
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF)
# Spark's Python workers inherit the environment, not the driver's
# sys.path, so PYTHONPATH must carry the repo too or they fail to
# unpickle the stateful streaming functions of the engine package.
_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")).rstrip(os.pathsep)
import __spark_entry__ as em  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


class UnhashableColumnError(TypeError):
    """Mirror of the real driver's failure mode: its pandas canonicalizer
    (sort_values -> factorize) crashes with 'unhashable type' on list/dict/
    ndarray values. The sim must fail the same way instead of silently
    stringifying, or array-typed entries pass here and err in the sweep."""


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        t = []
        for i in order:
            v = row[i]
            if isinstance(v, (list, dict, set)) or type(v).__name__ == "ndarray":
                raise UnhashableColumnError(
                    f"column {cols[i]!r} holds a {type(v).__name__} — the "
                    "driver's pandas sort cannot hash it; project a scalar "
                    "(e.g. array_join(col, ' ')) in BOTH query and oracle")
            if isinstance(v, float):
                t.append("NaN" if math.isnan(v) else f"{v:.10g}")
            elif hasattr(v, "isoformat"):
                t.append(v.isoformat(sep=" "))
            else:
                t.append(str(v))
        out.append(tuple(t))
    return sorted(out)


def main():
    # args: a number sweeps the first N (the sweep-order front); any
    # non-numeric args are entry NAMES to check individually
    limit, picked = None, []
    for a in sys.argv[1:]:
        if a.isdigit():
            limit = int(a)
        else:
            picked.append(a)
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             # keep progress frames out of captured sweep logs
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "8g")
             .getOrCreate())
    smoke = em.entry(spark).collect()
    print(f"entry() smoke: {len(smoke)} rows")
    assert len(smoke) >= 0

    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = em.queries(), em.oracle_sql()
    names = list(qs)
    if picked:
        unknown = [n for n in picked if n not in qs]
        if unknown:
            raise SystemExit(f"unknown entries: {unknown}")
        names = picked
    elif limit:
        names = names[:limit]
    bad = []
    t0 = time.time()
    for i, name in enumerate(names):
        try:
            df = qs[name](spark, SF)
            srows = [tuple(r) for r in df.collect()]
            scols = list(df.columns)
            if name not in oracles:
                print(f"[{i+1}/{len(names)}] {name}: rows-only {len(srows)}")
                continue
            ores = con.execute(oracles[name])
            orows = ores.fetchall()
            ocols = [d[0] for d in ores.description]
            # DuckDB widens SUM(BIGINT) to HUGEINT, which Spark lacks: the
            # driver's hash sees a type mismatch even when values agree,
            # so oracles must CAST such aggregates back to BIGINT
            huge = [d[0] for d in ores.description
                    if "HUGEINT" in str(d[1]).upper()]
            if huge:
                bad.append(name)
                print(f"[{i+1}/{len(names)}] {name}: ORACLE HUGEINT {huge}")
                continue
            ok_schema = sorted(scols) == sorted(ocols)
            sn, on = norm(srows, scols), norm(orows, ocols)
            ok = ok_schema and sn == on
            status = "OK" if ok else "MISMATCH"
            if not ok:
                bad.append(name)
                print(f"[{i+1}/{len(names)}] {name}: {status} "
                      f"(rows {len(srows)} vs {len(orows)}, schema {ok_schema}, "
                      f"cols {sorted(scols)} vs {sorted(ocols)})")
                for a, b in list(zip(sn, on))[:3]:
                    if a != b:
                        print("   spark:", a)
                        print("   duck :", b)
            else:
                print(f"[{i+1}/{len(names)}] {name}: OK ({len(srows)} rows)")
        except Exception as e:  # noqa: BLE001
            bad.append(name)
            print(f"[{i+1}/{len(names)}] {name}: ERROR {type(e).__name__}: {e}")
    print(f"\n{len(names)-len(bad)}/{len(names)} green in {time.time()-t0:.1f}s")
    if bad:
        print("FAILING:", bad)
        sys.exit(1)


if __name__ == "__main__":
    main()
