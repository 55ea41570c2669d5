"""Generate CATALOG.md: the full registered-query inventory (name, tags,
check kind, one-line description from the docstring) grouped by module.

Usage: python tools/gen_catalog.py > CATALOG.md
       python tools/gen_catalog.py --check   # exit 1 on doc-count drift

``--check`` (VERDICT r4 item 6): parses the headline counts stated in
CATALOG.md and COVERAGE.md and fails when either disagrees with
``len(registry.all_queries())`` — the class of stale-snapshot drift
that shipped 339/338/332 against a 340-query registry in r4.
"""

from __future__ import annotations

import os
import re
import sys
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from braintumor_data_pipeline_spark import registry


#: The machine-readable count marker (ADVICE r5): the prose headline is
#: for humans and may be reworded; the gate parses EXACTLY this HTML
#: comment, which gen_catalog writes into CATALOG.md and which
#: COVERAGE.md's maintainer updates alongside its Catalog line. An
#: absent or stale marker fails; a prose rewording cannot silently pass
#: a stale count (the marker, not the prose, is compared).
_MARKER = re.compile(r"<!-- counts: (\d+)/(\d+)/(\d+) -->")


def check() -> int:
    qs = registry.all_queries()
    n = len(qs)
    n_oracle = sum(1 for e in qs.values() if e.oracle and not e.pinned_sf)
    n_pinned = sum(1 for e in qs.values() if e.pinned_sf)
    failures = []
    for fname in ("CATALOG.md", "COVERAGE.md"):
        text = open(os.path.join(REPO, fname)).read()
        m = _MARKER.search(text)
        if not m:
            failures.append(
                f"{fname}: '<!-- counts: N/R/P -->' marker not found"
            )
        elif (int(m[1]), int(m[2]), int(m[3])) != (n, n_oracle, n_pinned):
            failures.append(
                f"{fname} marker says {m[1]}/{m[2]}/{m[3]}, registry has "
                f"{n}/{n_oracle}/{n_pinned} — regenerate CATALOG.md with "
                f"tools/gen_catalog.py / update COVERAGE.md's marker"
            )
    for f in failures:
        print(f"DRIFT  {f}", file=sys.stderr)
    if not failures:
        print(
            f"ok: CATALOG.md and COVERAGE.md agree with registry "
            f"({n} = {n_oracle} recomputing + {n_pinned} frozen)",
            file=sys.stderr,
        )
    return 1 if failures else 0


def main() -> None:
    qs = registry.all_queries()
    by_module: dict[str, list] = defaultdict(list)
    for name, entry in sorted(qs.items()):
        by_module[registry.family(entry)].append((name, entry))

    n_oracle = sum(1 for e in qs.values() if e.oracle and not e.pinned_sf)
    n_pinned = sum(1 for e in qs.values() if e.pinned_sf)
    print("# CATALOG — registered queries (generated by tools/gen_catalog.py)")
    print()
    print(f"<!-- counts: {len(qs)}/{n_oracle}/{n_pinned} -->")
    print()
    print(
        f"{len(qs)} queries: {n_oracle} with recomputing DuckDB value-parity "
        f"oracles, {n_pinned} with frozen sf0.01 golden oracles "
        f"(tools/pin_oracle.py — math no SQL engine replays); the rest are "
        f"rows-only driver checks backed by pytest (see COVERAGE.md for why "
        f"each)."
    )
    for mod in sorted(by_module):
        print(f"\n## {mod}\n")
        print("| query | check | tags | what |")
        print("|---|---|---|---|")
        for name, entry in by_module[mod]:
            doc = (entry.fn.__doc__ or "").strip().splitlines()
            first = doc[0].strip() if doc else ""
            if entry.pinned_sf:
                check = f"golden@{entry.pinned_sf}"
            elif entry.oracle:
                check = "oracle"
            else:
                check = "rows-only"
            tags = ", ".join(entry.tags or ())
            print(f"| `{name}` | {check} | {tags} | {first} |")


if __name__ == "__main__":
    if "--check" in sys.argv[1:]:
        sys.exit(check())
    main()
