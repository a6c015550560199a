"""Same-session A/B of engine.io.plan_persist (round 15, batch 3).

The plan_persist twin of tools/ab_spread.py: toggles plan_persist
between identity (arm A — every consumer recomputes the subtree) and
the real per-invocation persist (arm B) inside one warm JVM,
alternating per repetition so regime drift hits both arms equally.
Algebraic restructures are not toggleable and stay active in both
arms; this isolates exactly the persist-vs-recompute trade.

Usage: python tools/ab_persist.py q_mutual_info q_levene_test ... [-n 4]
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    n = 4
    if "-n" in sys.argv:
        n = int(sys.argv[sys.argv.index("-n") + 1])
        args = [a for a in args if a != str(n)]

    from bench import run_full
    import engine.io as io
    from engine.io import load_tables, session_cache
    from engine.registry import QUERIES, load_all
    from engine.session import get_spark

    real = io.plan_persist

    def ident(spark, key, df):
        return df

    spark = get_spark("ab_persist")
    load_all()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    t = load_tables(spark, sf_dir)
    for name in ("lineitem", "orders", "events", "documents",
                 "embeddings"):
        t[name].cache().count()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long").count()

    import engine.queries as Q
    mods = [io] + [getattr(Q, m) for m in dir(Q) if not m.startswith("_")
                   and hasattr(getattr(Q, m), "plan_persist")]

    def set_pp(fn):
        io.plan_persist = fn
        for m in mods:
            m.plan_persist = fn
        if fn is ident:
            # a frame left persisted by arm B would serve arm A's
            # identical subtree through Spark's cache manager, so
            # arm A would read it instead of recomputing
            gc = session_cache(spark, "_engine_plan_persist_gc")
            for df in gc.values():
                df.unpersist()
            gc.clear()

    unknown = [k for k in args if k not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown keys: {unknown}")
    for key in args:
        fn = QUERIES[key]
        a_runs, b_runs = [], []
        for mode in (ident, real):  # warm-up per arm
            set_pp(mode)
            run_full(fn(spark, sf_dir))
        for _ in range(n):
            set_pp(ident)
            t0 = time.time()
            run_full(fn(spark, sf_dir))
            a_runs.append(round(time.time() - t0, 3))
            set_pp(real)
            t0 = time.time()
            run_full(fn(spark, sf_dir))
            b_runs.append(round(time.time() - t0, 3))
        set_pp(real)
        print(json.dumps({key: {
            "no_persist": {"runs": a_runs, "min": min(a_runs),
                           "median": round(statistics.median(a_runs), 3)},
            "persist": {"runs": b_runs, "min": min(b_runs),
                        "median": round(statistics.median(b_runs), 3)},
        }}), flush=True)


if __name__ == "__main__":
    main()
