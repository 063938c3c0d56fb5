"""Capture `.explain("formatted")` output for catalog queries into
<out_dir>/<query>_<tag>.txt — an optimization round's evidence files.

Usage:
    python tools/explain_capture.py <out_dir> <tag> [sf_dir] <query> [query ...]
    python tools/explain_capture.py plans/semdedup before testdata/sf0.1 semdedup_prune ...

The formatted plan is what the judge checks optimization claims
against (Exchange count, join strategy, PushedFilters, Python stages),
so the capture is verbatim `_sc._jvm` explain output, one file per
query.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reactionetl_etl_spark.plans.catalog import all_queries
from reactionetl_etl_spark.session import get_spark


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    out_dir, tag = sys.argv[1], sys.argv[2]
    args = sys.argv[3:]
    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", args
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain-capture", **{"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    for name in names:
        df = qs[name].builder(spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(formatted_plan(df))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
