"""Dump physical-plan skeletons of registry queries — machine-generated
evidence for the plan claims in PLANS.md (scan pruning, pushdown,
exchange placement, Python-crossing count).

Usage:
  python tools/dump_plans.py              # regenerate PLANS-APPENDIX.md
  python tools/dump_plans.py name [...]   # print those queries' plans
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from ocr_gpu_services_spark.plans.queries import QUERIES  # noqa: E402
from ocr_gpu_services_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "minhash_lsh", "dedup_embedding_lsh", "ann_ivf_topk", "corpus_filter",
    "dup_clusters", "substring_dedup", "perplexity_filter",
    "url_canonicalize", "tfidf_topterms", "pii_redact",
]

SF_DIR = "/root/testdata/sf0.01"

KEEP = re.compile(
    r"^\s*(?::|\+|\|)*\s*[-+*]*\s*"
    r"(AdaptiveSparkPlan|Exchange|BroadcastExchange|HashAggregate|"
    r"SortMergeJoin|BroadcastHashJoin|Sort |Window|Generate|Project|"
    r"Filter|FileScan|Scan |MapInPandas|MapInArrow|FlatMapGroupsInPandas|"
    r"Union|WindowGroupLimit|LocalTableScan|ReusedExchange)")


def skeleton(plan: str, max_lines: int = 40) -> str:
    out = []
    for line in plan.splitlines():
        if KEEP.search(line):
            out.append(line.rstrip()[:110])
        if len(out) >= max_lines:
            out.append("   ... (truncated)")
            break
    return "\n".join(out)


def main(names: list[str]):
    spark = get_spark(app="dump-plans", cores=8, shuffle_partitions=16)
    lines = [
        "# PLANS-APPENDIX.md — generated physical-plan skeletons",
        "",
        "Machine-generated by `tools/dump_plans.py` (sf0.01, local[8], "
        "shuffle=16; the initial pre-AQE plan — AQE may further coalesce, "
        "broadcast, or erase empty-side joins at runtime, see PLANS.md). "
        "Operator rows only; projections/scans truncated to 110 chars.",
        "",
    ]
    for name in names or HEADLINE:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("simple"))
        lines.append(f"## {name}\n")
        lines.append("```")
        lines.append(skeleton(plan))
        lines.append("```\n")
    text = "\n".join(lines) + "\n"
    if names:
        sys.stdout.write(text)
    else:
        with open("PLANS-APPENDIX.md", "w") as f:
            f.write(text)
        print(f"wrote PLANS-APPENDIX.md ({len(HEADLINE)} queries)")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
