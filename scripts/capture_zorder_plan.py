"""Dump the zorder_cluster pipeline plan (the part of
delta_liquid_cluster/optimize_zorder the returned DataFrame's plan
never shows) to plans/r12/zorder_cluster_pipeline_<suffix>.txt.

Usage: python scripts/capture_zorder_plan.py <suffix>
"""
from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    suffix = sys.argv[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    from featureform_spark.session import get_spark
    from featureform_spark.sources.zorder import zorder_cluster
    from featureform_spark.sources.testdata import load_table

    spark = get_spark("zorder_plan")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    df = zorder_cluster(li, ["l_orderkey", "l_partkey"], 12)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    out_dir = Path(__file__).resolve().parent.parent / "plans" / "r12"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"zorder_cluster_pipeline_{suffix}.txt").write_text(plan)
    print(
        f"{suffix}: rangepartitioning={plan.count('rangepartitioning')} "
        f"hashpartitioning={plan.count('hashpartitioning')} "
        f"ArrowEvalPython={plan.count('ArrowEvalPython')}"
    )


if __name__ == "__main__":
    main()
