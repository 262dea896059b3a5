"""Capture .explain('formatted') for every headline bench query into
plans/<round>/<query>_<tag>.txt, plus a one-line summary (exchanges, join
strategies, python-eval nodes, pushed filters) to stdout.

Usage: python tools/capture_plans.py <round> [tag] [sf_dir] [query ...]
  round: output directory under plans/, e.g. "r17"
  tag: "before" or "after"
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from bench import HEADLINE, _bench_only

    from youtube_analytics_lakehouse_databricks_spark.queries import registry
    from youtube_analytics_lakehouse_databricks_spark.session import get_spark

    if len(sys.argv) < 2:
        sys.exit(__doc__)
    round_dir = sys.argv.pop(1)
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    spark = get_spark(app_name=f"plans-{tag}")
    reg = {**registry(), **_bench_only()}
    names = sys.argv[3:] or [n for n in HEADLINE if n in reg]
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = reg[name].builder(spark, sf_dir)
        except Exception as e:  # bench-only builders may need priming dirs
            print(f"== {name}: BUILD FAILED: {e}")
            continue
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        n_exch = len(re.findall(r"Exchange", plan))
        n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
        n_smj = len(re.findall(r"SortMergeJoin", plan))
        n_shj = len(re.findall(r"ShuffledHashJoin", plan))
        n_py = len(re.findall(r"BatchEvalPython|ArrowEvalPython", plan))
        n_mia = len(re.findall(r"MapInArrow|FlatMapGroupsInPandas|MapInPandas|AggregateInPandas", plan))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        n_pushed = sum(1 for p in pushed if p.strip())
        print(
            f"== {name}: exch={n_exch} bhj={n_bhj} smj={n_smj} shj={n_shj} "
            f"pyeval={n_py} arrow_map={n_mia} pushed_scans={n_pushed}/{len(pushed)}"
        )


if __name__ == "__main__":
    main()
