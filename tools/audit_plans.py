"""Dump the plan audit for every queries() entry as a markdown table
(feeds PLANS.md).

Usage: python tools/audit_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as em
    from lakehouse_ingestion_spark.plans import audit
    from lakehouse_ingestion_spark.session import SparkConfig, get_spark

    spark = get_spark(SparkConfig(app_name="audit-plans"))

    print("| query | shuffles | broadcasts | joins | python | pushed filters |")
    print("|---|---|---|---|---|---|")
    for name, fn in em.queries().items():
        if only and name not in only:
            continue
        try:
            a = audit(fn(spark, sf_dir))
        except Exception as e:
            print(f"| {name} | ERROR: {str(e)[:60]} | | | | |")
            continue
        joins = ", ".join(f"{k.replace('Join', '')}x{v}" for k, v in a.joins.items()) or "—"
        py = ", ".join(a.python_stages) or "—"
        pushed = sum(1 for p in a.pushed_filters if p != "[]")
        print(
            f"| {name} | {a.shuffle_exchanges} | {a.broadcast_exchanges} "
            f"| {joins} | {py} | {pushed} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
