"""Physical-plan audit: take .explain("formatted") of every registered
query and count the plan properties that matter at 100 TB — shuffle
(Exchange) counts, broadcast joins, Python (Arrow) stages, predicate
pushdown (PushedFilters) and column pruning (scan output widths). Writes
one summary row per query to PLANS.md; a full plan is one
`df.explain("formatted")` away.

Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    stdout = sys.stdout
    sys.stdout = buf
    try:
        df.explain("formatted")
    finally:
        sys.stdout = stdout
    return buf.getvalue()


def summarize(plan: str) -> dict:
    # count operator DETAIL headers "(n) Op" so tree references don't double
    scan_cols = [
        int(m)
        for m in re.findall(
            r"\(\d+\) Scan parquet ?\nOutput \[(\d+)\]", plan
        )
    ]
    return {
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "broadcast_joins": len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)),
        "python_stages": len(
            re.findall(
                r"\(\d+\) (MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas)", plan
            )
        ),
        "pushed_filters": bool(re.search(r"PushedFilters: \[(?!\])", plan)),
        "scan_cols": scan_cols,
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from janet_spark.session import build_session

    spark = build_session("explain-audit", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    out = io.StringIO()
    out.write(
        "# PLANS — physical-plan audit of every registered query\n\n"
        "Generated by `scripts/explain_audit.py` (re-run to refresh). The\n"
        "summary row per query counts shuffles (`Exchange`), broadcast hash\n"
        "joins, Python (Arrow) stages, whether filters reached the parquet\n"
        "scan (`PushedFilters`), and how many columns each scan actually\n"
        "reads (column pruning — compare against the table's full width).\n\n"
        "| query | shuffles | broadcast joins | python stages | pushed filters | scan col counts |\n"
        "|---|---|---|---|---|---|\n"
    )
    for name, fn in qs.items():
        s = summarize(plan_of(fn(spark, sf_dir)))
        # release intermediates a query persisted while it was built
        spark.catalog.clearCache()
        out.write(
            f"| {name} | {s['exchanges']} | {s['broadcast_joins']} | "
            f"{s['python_stages']} | {'yes' if s['pushed_filters'] else '-'} | "
            f"{s['scan_cols']} |\n"
        )
        print(name, s)

    out.write(
        "\nNotes:\n"
        "* A full plan is `queries()[name](spark, sf_dir).explain(\"formatted\")`.\n"
        "* `ordered_concat`/`reassemble_convs` shuffle counts include the\n"
        "  final presentation `orderBy` used only for oracle comparison.\n"
        "* AQE may fuse or renumber stages at runtime; counts are from the\n"
        "  static plan.\n"
        "* `minhash_lsh_pairs` persists its band and candidate tables, so\n"
        "  the static plan's repeated branches (census, both self-join\n"
        "  sides, the verify semi-join) read one InMemoryRelation at\n"
        "  runtime — the signature UDF executes once per row, and the\n"
        "  effective exchange count is far below the static figure.\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write(out.getvalue())
    print("wrote PLANS.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
