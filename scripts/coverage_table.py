"""Regenerate docs/COVERAGE.md: SURVEY.md §2.C coverage matrix derived from
the live registry (one row per queries() entry: oracle status + latest
driver-verified round + survey tags). Run:
python scripts/coverage_table.py > docs/COVERAGE.md"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _row_passed(row) -> bool:
    """A driver row counts as a check only if it PASSED: no error and
    every boolean check present is true (rows-only rounds lack
    hash_match; a failed or errored row must not read as fresh green —
    e.g. ext_vocab_encode carries err rows in r5/r6)."""
    if not isinstance(row, dict):
        return False
    if row.get("err"):
        return False
    checks = [
        row[k]
        for k in ("rows_match", "schema_match", "hash_match")
        if k in row
    ]
    return bool(checks) and all(c is True for c in checks)


def last_checked_rounds() -> dict[str, int]:
    """entry name -> highest round whose CORRECTNESS_r{N}.json contains a
    PASSING row for it (the per-round driver check covered ~50 entries a
    round through r13; this keeps that history visible without replaying
    the JSON files by hand)."""
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for n, row in rows.items():
            if _row_passed(row) and latest.get(n, -1) < rnd:
                latest[n] = rnd
    return latest


def main() -> None:
    import ltss_spark.plans as plans

    latest = last_checked_rounds()
    print("# Operator coverage — SURVEY.md §2 inventory → `queries()` entries")
    print()
    print("Generated by `scripts/coverage_table.py` from the live registry.")
    print("`oracle` = hash-checked against DuckDB SQL at sf0.001 by tier-1")
    print("`test_oracle_parity` and `make parity` (rows-only entries are")
    print("approximate/stateful ops pinned by pytest instead). `last_checked` =")
    print("the latest per-round driver check (r1-r13, since retired) with a")
    print("passing `CORRECTNESS_r{N}.json` row for the entry (`new` = no such row).")
    print()
    print("| # | queries() key | oracle | last_checked | SURVEY §2 op-ids covered |")
    print("|---|---|---|---|---|")
    for i, q in enumerate(plans.REGISTRY, 1):
        oracle = "sql" if q.oracle else "rows-only"
        lc = f"r{latest[q.name]}" if q.name in latest else "new"
        print(f"| {i} | `{q.name}` | {oracle} | {lc} | {q.survey} |")
    n_sql = sum(1 for q in plans.REGISTRY if q.oracle)
    print()
    print(
        f"**{len(plans.REGISTRY)} registered operators, {n_sql} oracle-checked, "
        f"{len(plans.REGISTRY) - n_sql} rows-only.**"
    )
    checked = [latest[q.name] for q in plans.REGISTRY if q.name in latest]
    if checked:
        from collections import Counter

        dist = ", ".join(
            f"r{r}:{c}" for r, c in sorted(Counter(checked).items())
        )
        n_new = len(plans.REGISTRY) - len(checked)
        print()
        print(
            f"Latest-check distribution: {dist}"
            + (f"; no driver row: {n_new}" if n_new else "")
            + "."
        )


if __name__ == "__main__":
    main()
