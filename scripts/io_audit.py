#!/usr/bin/env python
"""I/O audit over the headline plans (r17 verdict ask #8, guide §6).

Parses docs/PLANS.md (regenerate with scripts/dump_plans.py first)
and reports, per headline query and per parquet scan: the table, the
ReadSchema width vs the table's full width, and whether any filter
was pushed. Exit code 1 if a scan reads a table FULL-WIDTH without
being on the recorded exception list (queries whose semantics
genuinely consume every column), or if fewer scans were parsed than
there are headline plans, so the audit can run as a CI pin that
cannot pass vacuously.

    python scripts/dump_plans.py && python scripts/io_audit.py
"""

from __future__ import annotations

import os
import re
import sys

PLANS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "PLANS.md")

# top-level column counts of the fixture tables (sf-independent)
WIDTHS = {
    "customer": 5,
    "documents": 5,
    "embeddings": 3,
    "events": 6,
    "lineitem": 11,
    "nation": 3,
    "orders": 6,
    "part": 6,
    "region": 2,
    "supplier": 4,
}

# Queries allowed to read a table full-width: every column is part of
# the query's declared output or its computation. The r18 audit found
# NONE — the only full-width scans in the headline are the narrow
# dimension tables below, where there is nothing to prune (the only
# other full-width parquet reads are derived artifacts like PQ
# codebooks, which are written exactly as wide as they are read and
# are skipped via WIDTHS.get).
FULL_WIDTH_OK: set[tuple[str, str]] = set()
NARROW_OK = {"region", "nation", "embeddings"}


def main() -> int:
    with open(PLANS) as fh:
        md = fh.read()
    failures: list[str] = []
    n_scans = 0
    n_pushed = 0
    blocks = md.split("\n## ")[1:]
    for block in blocks:
        name = block.split("\n", 1)[0].strip()
        for m in re.finditer(
            r"FileScan parquet \[([^\]]*)\].*?"
            r"\[file:[^\]]*/(\w+)\.parquet\].*?"
            r"PushedFilters: \[([^\]]*)\]",
            block,
        ):
            cols, table, pushed = m.groups()
            n_scans += 1
            width = len([c for c in cols.split(",") if c.strip()])
            full = WIDTHS.get(table)
            if pushed.strip():
                n_pushed += 1
            if (
                full is not None
                and width >= full
                and table not in NARROW_OK
                and (name, table) not in FULL_WIDTH_OK
            ):
                failures.append(
                    f"{name}: full-width read of {table} "
                    f"({width}/{full} cols), PushedFilters=[{pushed}]"
                )
    print(
        f"audited {n_scans} parquet scans across {len(blocks)} headline plans; "
        f"{n_pushed} with pushed filters; "
        f"{len(failures)} unexplained full-width reads"
    )
    # Most headline plans scan at least one table and many scan
    # several, so fewer scans than plans means the FileScan pattern no
    # longer matches the dump (an explain-format change) and the
    # audit above checked nothing.
    if n_scans < max(1, len(blocks)):
        failures.append(f"parsed {n_scans} parquet scans from {len(blocks)} headline plans")
    for f in failures:
        print("  FAIL", f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
