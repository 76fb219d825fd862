"""Dump .explain("formatted") for the bench HEADLINE queries (or the
named ones) into <out>/<query>_<tag>.txt; <out> defaults to the
gitignored .perfbench/plans/ of the checkout.

Driver-only work: builds each DataFrame and formats its plan without
executing it. Run: python tools/dump_plans.py [--out DIR] before [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("tag", nargs="?", default="before")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench", "plans"))
    args = ap.parse_args()

    from bench import HEADLINE
    from pyresample_spark.queries import load_all
    from pyresample_spark.session import get_spark

    names = args.queries or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    spark = get_spark("dump_plans", ui_port=4052)
    os.makedirs(args.out, exist_ok=True)
    for name in names:
        df = registry[name].builder(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")


if __name__ == "__main__":
    main()
