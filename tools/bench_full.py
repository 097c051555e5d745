"""Full-registry timing sweep: run EVERY registered query once at
$SPARK_GRAFT_SF_DIR (default sf0.1) on the tuned session and print one
JSON line {"total_sec": ..., "queries": {name: sec}, "slowest": [...]}.

Not the driver bench (bench.py stays the stable headline contract) —
this is the perf-tracking companion: a per-operator wall-clock table to
diff across rounds so a regression in ANY operator is visible, not just
the 23 headline ones. `reset_session_state` runs between queries, as in
bench.py: operators that persist intermediates must not serialize
through one storage pool, and a model trained by an earlier entry must
not turn a later entry's timing into scoring only.
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from hedera_spark.registry import QUERIES
    from hedera_spark.session import get_spark, reset_session_state

    spark = get_spark("hedera_spark-bench-full")
    spark.sparkContext.setLogLevel("ERROR")

    times: dict[str, float] = {}
    for name, fn in sorted(QUERIES.items()):
        reset_session_state(spark)
        t0 = time.perf_counter()
        try:
            n = len(fn(spark, sf_dir).collect())
        except Exception as exc:  # keep sweeping; report the failure
            times[name] = -1.0
            print(f"# {name}: FAILED {str(exc)[:120]}", file=sys.stderr)
            continue
        times[name] = round(time.perf_counter() - t0, 3)
        print(f"# {name}: {times[name]:.3f}s ({n} rows)", file=sys.stderr)

    ok = {k: v for k, v in times.items() if v >= 0}
    slowest = sorted(ok, key=lambda k: -ok[k])[:10]
    try:
        load_1m = round(os.getloadavg()[0], 2)
    except OSError:
        load_1m = None
    print(
        json.dumps(
            {
                "total_sec": round(sum(ok.values()), 3),
                "n_queries": len(times),
                "n_failed": len(times) - len(ok),
                "queries": times,
                "slowest": [[k, ok[k]] for k in slowest],
                "sf_dir": sf_dir,
                "load_avg_1m": load_1m,
            }
        )
    )


if __name__ == "__main__":
    main()
