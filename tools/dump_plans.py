"""Write `.explain("formatted")` snapshots of the headline queries to
plans/<query>.txt so the physical-plan claims in PLANS.md are checkable
against committed evidence.

Usage: python tools/dump_plans.py [sf_dir] [query ...]
(default sf0.01, the curated HEADLINE set below)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "extract_chunks",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "embedding_near_dupes",
    "knn_join",
    "running_durations",
    "ordering_nav",
    "srt_generate",
    "srt_variants",
    "validate_corpus",
    "curate_corpus",
    "winnow",
    "contamination",
    "boilerplate_lines",
    "extract_links",
    "main_content",
    "dedup_clusters",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or HEADLINE

    import __spark_entry__ as entrymod
    from textractssmlprocessor_spark.session import get_spark

    spark = get_spark(app_name="plans", cores=8, shuffle_partitions=16)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    out_dir = os.path.join(REPO, "plans")
    os.makedirs(out_dir, exist_ok=True)
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} @ {sf_dir} (explain formatted)\n\n{plan}")
        import re

        # formatted mode prints each node twice (tree + detail section);
        # count the numbered detail headers only
        n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        n_py = len(
            re.findall(
                r"^\(\d+\) (?:ArrowEvalPython|MapInPandas|MapInArrow)",
                plan,
                re.M,
            )
        )
        print(f"{name}: {n_ex} Exchange, {n_py} Python nodes -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
