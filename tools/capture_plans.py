"""Capture .explain("formatted") per HEADLINE query into plans/rNN/.

Usage: python tools/capture_plans.py --round NN before|after [query ...]

Writes plans/rNN/<query>_<tag>.txt for every named query (default: the
whole bench HEADLINE list). Plans are captured at sf0.001 (plan shape is
scale-independent; AQE re-plans exchanges at runtime) with the same
session factory the bench uses, so join strategies and exchange counts
match what the bench times. These files are an optimization round's
before/after evidence — regenerate the *_after.txt set after the last
code change of the round.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_PLANS_SF", "/root/testdata/sf0.001")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", required=True, type=int, help="round number NN")
    ap.add_argument("tag", nargs="?", default="before", choices=["before", "after"])
    ap.add_argument("queries", nargs="*", help="default: the bench HEADLINE list")
    args = ap.parse_args()

    from bench import HEADLINE

    from film_media_etl_spark.plans import formatted_plan
    from film_media_etl_spark.queries import all_queries
    from film_media_etl_spark.session import get_spark

    out_dir = os.path.join(REPO, "plans", f"r{args.round:02d}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"capture-plans-r{args.round:02d}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    for name in args.queries or HEADLINE:
        df = qs[name](spark, SF_DIR)
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
