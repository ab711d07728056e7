"""Capture .explain("formatted") for headline queries into plans/<round>/.

Usage: python scripts/capture_plans.py <round> <suffix> [query ...]
  round: plan directory name, e.g. "r14"
  suffix: "before" or "after" — file name becomes plans/<round>/<query>_<suffix>.txt
  With no query list, captures every bench.py HEADLINE query.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE, _sf_dir  # noqa: E402


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    round_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or HEADLINE
    sf_dir, _ = _sf_dir()

    from pwc_challenge_dataengineer_spark.plans.catalog import QUERIES
    from pwc_challenge_dataengineer_spark.session import get_spark

    spark = get_spark("capture-plans")
    out_dir = os.path.join(REPO, "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        # quick shape summary to stderr
        ex = plan.count("Exchange")
        bhj = plan.count("BroadcastHashJoin")
        smj = plan.count("SortMergeJoin")
        shj = plan.count("ShuffledHashJoin")
        pyn = plan.count("EvalPython") + plan.count("MapInPandas") + plan.count("MapInArrow") + plan.count("ArrowEvalPython")
        print(f"# {name}: Exchange={ex} BHJ={bhj} SMJ={smj} SHJ={shj} Py={pyn}", file=sys.stderr)
    print("done", file=sys.stderr)


if __name__ == "__main__":
    main()
