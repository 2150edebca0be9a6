"""Dump the formatted executed plan of every headline bench query.

Writes docs/EXPLAINS_HEADLINE.md — the `.explain("formatted")` output the
plan-quality review reads (pushed filters, broadcast vs shuffle joins,
codegen spans), captured at sf0.01 so scan statistics are real without a
long run. Regenerate after any plan-affecting change:

    python tools/dump_plans.py
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import HEADLINE  # noqa: E402
from etl_for_dumdums_spark.catalog import EXTRA_QUERIES, QUERIES, load_all  # noqa: E402
from etl_for_dumdums_spark.session import get_spark, release  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
OUT = Path(__file__).resolve().parents[1] / "docs" / "EXPLAINS_HEADLINE.md"


def main() -> None:
    load_all()
    spark = get_spark("dump_plans")
    all_queries = {**QUERIES, **EXTRA_QUERIES}
    sections = [
        "# Headline query plans (`explain('formatted')`, sf0.01)",
        "",
        "Generated by `tools/dump_plans.py`. One section per bench.py",
        "headline query; look for `PushedFilters`/`ReadSchema` on scans,",
        "`BroadcastHashJoin` on dim joins, `WholeStageCodegen` spans, and",
        "`InMemoryTableScan` where a shared subtree is cached.",
        "",
    ]
    for name in HEADLINE:
        df = all_queries[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        sections += [f"## {name}", "", "```", buf.getvalue().rstrip(), "```", ""]
        release()
    OUT.write_text("\n".join(sections))
    print(f"wrote {OUT} ({len(HEADLINE)} plans)")


if __name__ == "__main__":
    main()
