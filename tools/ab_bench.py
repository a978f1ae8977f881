"""Focused A/B bench: median-of-N wall time for a few registered
queries, after bench.py's own warm-up (``bench.warm``) — for attributing
a specific round-over-round movement without re-running the whole
headline suite on both sides.

Usage:
  python tools/ab_bench.py corpus_e2e_curation dedup_incremental_probe
Env:
  SPARK_GRAFT_SF_DIR    data dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_AB_RUNS   runs per query (default 5)

Prints one JSON line {"queries": {name: median}, "spread": {...}}.
Run it from the repo (or worktree) whose code you want to measure —
it imports __spark_entry__ from its own checkout.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_AB_RUNS", "5"))
    names = sys.argv[1:]
    if not names:
        print(__doc__)
        raise SystemExit(2)

    import __spark_entry__ as entrymod
    from bench import warm
    from salesforce_prefect_etl_pipeline_spark.session import get_spark

    spark = get_spark("ab-bench")
    queries = entrymod.queries()

    warm(spark, sf_dir, queries)

    timings, spread = {}, {}
    for name in names:
        times = []
        for _ in range(runs):
            t0 = time.time()
            queries[name](spark, sf_dir).count()
            times.append(time.time() - t0)
        times.sort()
        timings[name] = round(statistics.median(times), 3)
        spread[name] = [round(t, 3) for t in times]
        print(f"# {name}: median {timings[name]}s of {spread[name]}", file=sys.stderr)
    print(json.dumps({"queries": timings, "spread": spread, "runs": runs, "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
