"""Time each curation_batch query under ``count()`` and under the full
parquet write the benchmark uses, on the same generated corpus.

    python3 perfbench/count_vs_write.py --seed 1 [--reps 3]

Run from the repository root. One warm-up pass of the list comes first;
then every query is timed both ways per repetition, alternating which way
goes first, and the medians are printed as a markdown table. This records
why the benchmark's per-query times differ from bench.py's ``count()``
history: Catalyst prunes every projection a row count does not need.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import gen
    from common import median
    from run import _env, _start_session, _stop_jvm
    from wl_curation import QUERY_LIST

    run_dir = os.path.join(root, ".perfbench", f"count-vs-write-{os.getpid()}")
    _env(root, run_dir, trace=False)
    data_dir = os.path.join(run_dir, "curation")
    gen.write_curation(args.seed, data_dir)
    spark = _start_session()
    try:
        from k8s_vectordb_sync_spark.queries import QUERIES

        def timed(q: str, how: str) -> float:
            t0 = time.perf_counter()
            df = QUERIES[q](spark, data_dir)
            if how == "count":
                df.count()
            else:
                df.write.mode("overwrite").parquet(os.path.join(run_dir, "out", q))
            return time.perf_counter() - t0

        for q in QUERY_LIST:  # warm-up pass
            timed(q, "write")
        times = {q: {"count": [], "write": []} for q in QUERY_LIST}
        for rep in range(args.reps):
            for q in QUERY_LIST:
                for how in (("count", "write") if rep % 2 == 0 else ("write", "count")):
                    times[q][how].append(timed(q, how))
    finally:
        spark.stop()
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"| query | count() s | full write s | write / count |  (seed {args.seed}, median of {args.reps})")
    print("|---|---|---|---|")
    tot_c = tot_w = 0.0
    for q in QUERY_LIST:
        c, w = median(times[q]["count"]), median(times[q]["write"])
        tot_c, tot_w = tot_c + c, tot_w + w
        print(f"| `{q}` | {c:.2f} | {w:.2f} | {w / c:.2f} |")
    print(f"| total | {tot_c:.2f} | {tot_w:.2f} | {tot_w / tot_c:.2f} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
