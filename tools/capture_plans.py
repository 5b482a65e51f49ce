#!/usr/bin/env python
"""Capture .explain("formatted") for every bench query into plans/<tag>/.

Usage:
    python tools/capture_plans.py --tag r15 before [query ...]
    python tools/capture_plans.py --tag r15 after  [query ...]

With no query names, captures every bench query. Output files:
    plans/<tag>/<query>_<before|after>.txt
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from flink_demo_spark.plans import bench_queries  # noqa: E402
from flink_demo_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def plan_str(df, mode: str = "formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--tag", required=True, help="output dir under plans/, e.g. r15")
    ap.add_argument("side", choices=("before", "after"))
    ap.add_argument("queries", nargs="*", help="bench query names (default: all)")
    args = ap.parse_args()
    out_dir = os.path.join(ROOT, "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)
    only = set(args.queries)
    spark = get_spark(f"{args.tag}-plan-capture")
    for name, spec in bench_queries().items():
        if only and name not in only:
            continue
        try:
            txt = plan_str(spec.fn(spark, SF_DIR))
        except Exception as e:  # capture the failure, don't abort the sweep
            txt = f"ERROR building plan: {e}"
        path = os.path.join(out_dir, f"{name}_{args.side}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} ({args.side}) — sf_dir={SF_DIR}\n\n")
            f.write(txt)
            if not txt.endswith("\n"):
                f.write("\n")
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
