"""Physical-plan audit for the headline queries: renders, per query, the
node histogram (exchanges, joins, python evals, window/agg shapes) and
the parquet-scan PushedFilters/ReadSchema lines — the evidence that
filters and column pruning reach the scan, broadcasts/shuffles are the
intended ones, and Python stays off the hot path. Writes a markdown
report (default BENCH/PLANS_r7.md).

Usage: python scripts/plan_audit.py [sf_dir] [--out PATH]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "g_aoi_query",
    "g_aoi_table",
    "g_multi_aoi",
    "g_sql_aoi",
    "g_big_aoi_join",
    "g_knn_join",
    "g_s2_scan",
    "g_s2_rollup",
    "g_country_join",
    "g_partition_plan",
    "t_minhash_lsh",
    "t_bpe_encode",
    "e_asof",
    "e_funnel",
    "g_deep_cover",
    "g_s2_table",
    "s_hybrid_rrf",
    "t_dsir",
    "t_mixture",
]

INTERESTING = (
    "Exchange",
    "BroadcastExchange",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "SortMergeJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "Window",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "TakeOrderedAndProject",
)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    ap.add_argument(
        "--out",
        default=os.path.join(REPO, "BENCH", "PLANS_r7.md"),
        help="markdown report path (default: BENCH/PLANS_r7.md)",
    )
    args = ap.parse_args()
    sf_dir = args.sf_dir
    import __spark_entry__ as entry
    from open_buildings_spark.session import get_spark

    # explain("formatted") on the widest plans (deep-cover join, 100k+
    # chars) recurses past the default JVM thread stack once the session
    # has aged through a dozen prior explains, and 17 sequential explains
    # outgrow the 1g default heap — set both BEFORE the JVM launches
    # (driver.extraJavaOptions -Xss did not take on this pyspark launch
    # path; SPARK_SUBMIT_OPTS does)
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    if "-Xss" not in opts:
        os.environ["SPARK_SUBMIT_OPTS"] = (opts + " -Xss64m").strip()
    spark = get_spark(
        app_name="plan-audit",
        extra_conf={"spark.driver.memory": "8g"},
    )
    qs = entry.queries()
    lines = [
        "# Physical-plan audit (r6 final code)",
        "",
        f"Input: `{sf_dir}`. Per query: node histogram of the formatted plan",
        "(pre-execution, AQE outer node elided) and every `PushedFilters` /",
        "`ReadSchema` line of its parquet scans. Regenerate with",
        "`python scripts/plan_audit.py`.",
        "",
    ]
    for name in QUERIES:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
        hist = Counter(n for n in nodes if any(k in n for k in INTERESTING))
        # match to end of line: filter lists nest brackets (In-lists)
        pushed = [
            f"{p}" + (f" (x{c})" if c > 1 else "")
            for p, c in Counter(
                re.findall(r"(?:PushedFilters|ReadSchema): .*", plan)
            ).items()
        ]
        lines.append(f"## {name}")
        lines.append("")
        lines.append(
            "nodes: "
            + (
                ", ".join(f"{k} x{v}" for k, v in sorted(hist.items()))
                or "(no shuffle/join/python nodes — narrow plan)"
            )
        )
        for p in pushed:
            lines.append(f"- `{p}`")
        lines.append("")
        print(name, dict(hist))
    with open(args.out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
