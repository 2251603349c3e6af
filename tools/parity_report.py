"""Coverage/parity report: the registry summarized for a human reviewer.

Prints entries grouped by family tag with oracle status, plus totals —
the quick way to cross-check SURVEY.md §2 against what actually registers.

    python tools/parity_report.py            # summary
    python tools/parity_report.py --list     # every entry
"""

from __future__ import annotations

import argparse
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--list", action="store_true", help="print every entry")
    args = ap.parse_args()

    from datafusion_spark.queries import ORACLES, QUERIES, TAGS

    by_family: dict[str, list[str]] = defaultdict(list)
    for name in sorted(QUERIES):
        fam = TAGS.get(name, ("untagged",))[0] if TAGS.get(name) else "untagged"
        if name.startswith("tpch_"):
            fam = "tpch"
        by_family[fam].append(name)

    total = len(QUERIES)
    with_oracle = sum(1 for n in QUERIES if n in ORACLES)
    print(f"registry: {total} entries, {with_oracle} oracle-checked, "
          f"{total - with_oracle} rows-only")
    print()
    for fam in sorted(by_family):
        names = by_family[fam]
        n_oracle = sum(1 for n in names if n in ORACLES)
        print(f"{fam:12s} {len(names):3d} entries ({n_oracle} oracle)")
        if args.list:
            for n in names:
                mark = "  " if n in ORACLES else " ?"
                print(f"  {mark} {n}")


if __name__ == "__main__":
    main()
