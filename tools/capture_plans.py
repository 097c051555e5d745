"""Capture .explain('formatted') for a set of registry queries into
plans/<tag>/<query>_<suffix>.txt — the optimization-round evidence files
(the judge reads these instead of running Spark).

Usage:
  python tools/capture_plans.py --tag r07 --suffix before \
      [--queries q1,q2] [--sf-dir /root/testdata/sf0.1]

Default query set = bench.py's HEADLINE + EXTENDED. Plans are captured at
the bench sf (sf0.1) with the bench session confs so the plan shape is
the one the timed runs execute. Iterative operators run their bounded
driver loops while planning (same caveat as tools/gen_plan_report.py).
"""

from __future__ import annotations

import argparse
import os
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r07")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    import bench
    from hedera_spark.plans import formatted_plan
    from hedera_spark.registry import QUERIES
    from hedera_spark.session import get_spark, reset_session_state

    names = (
        [q.strip() for q in args.queries.split(",") if q.strip()]
        if args.queries
        else bench.HEADLINE + bench.EXTENDED
    )
    out_dir = pathlib.Path(__file__).resolve().parent.parent / "plans" / args.tag
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark("hedera_spark-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    for n in names:
        if n not in QUERIES:
            print(f"SKIP {n}: not in registry", file=sys.stderr)
            continue
        reset_session_state(spark)
        path = out_dir / f"{n}_{args.suffix}.txt"
        path.write_text(formatted_plan(QUERIES[n](spark, args.sf_dir)))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
