"""Dump `.explain("formatted")` for named registry queries to files.

Usage:
    python tools/dump_plans.py <outdir> <suffix> [query ...]

Writes <outdir>/<query>_<suffix>.txt for each query (default: the
r13 optimization target set). Plans are built at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS]. Building a plan can run
jobs for operators with driver-coordinated loops (large-star/
small-star components, IVF training) — that is inherent to those plans, not a bug here.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from social_media_data_pipeline_recession_political_sentiment_spark import registry  # noqa: E402
from social_media_data_pipeline_recession_political_sentiment_spark.session import (  # noqa: E402
    get_session,
)


def main() -> None:
    outdir = sys.argv[1]
    suffix = sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session("smdp_plans")
    qs = registry.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
