"""Generate QUERIES.md — the authoritative declared-query inventory:
name, defining module, oracle kind, first docstring line, and the
LAST-GREEN DRIVER ROUND of each query (`queries.last_green_rounds`, over
the committed CORRECTNESS_r*.json) and its slot in the driver order
(`queries.queries()`). Run after adding queries so SURVEY.md §2's
checklist, the registry, and window staleness can be cross-checked
mechanically. `render()` builds the text without writing it (it reads
no data and starts no Spark); tests/test_entry.py holds the committed
QUERIES.md equal to it.

Usage: python tools/gen_inventory.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def render() -> str:
    """The QUERIES.md text for the current registry and record."""
    from core_telecoms_etl_spark import queries as qmod

    green = qmod.last_green_rounds()
    order = {n: i for i, n in enumerate(qmod.queries())}
    rows = []
    for name, spec in sorted(qmod.REGISTRY.items()):
        fn = spec.fn
        doc = (fn.__doc__ or "").strip().splitlines()
        first = doc[0].strip() if doc else ""
        module = fn.__module__.rsplit(".", 1)[-1]
        kind = "full oracle" if spec.oracle else "rows-only"
        lg = green.get(name)
        slot = order[name]
        rows.append((name, module, kind, lg, slot, first))
    n_full = sum(1 for r in rows if r[2] == "full oracle")
    n_green = sum(1 for r in rows if r[3])
    latest = max((r[3] for r in rows if r[3]), default=0)
    # staleness bar matches tests/test_entry.py::test_window_head_rotation:
    # a query is stale when its last green is more than 4 rounds old —
    # 207 queries at 50 window slots need ceil(207/50) = 5 rounds for a
    # full rotation, so <= latest-4 is "due in the NEXT window" and
    # <= latest-5 (what the test enforces) is a violation
    stale = sorted(
        (r[0], r[3]) for r in rows if r[3] and r[3] <= latest - 4
    )
    never = sorted(r[0] for r in rows if not r[3])
    out = [
        "# QUERIES — declared query inventory (generated)\n",
        f"Generated by `tools/gen_inventory.py`. {len(rows)} queries, "
        f"{n_full} with full DuckDB value-oracles, "
        f"{len(rows) - n_full} rows-only (engine-specific hashes / "
        "approximate algorithms, each equivalence- or recall-tested in "
        "pytest).\n",
        f"Driver history: {n_green}/{len(rows)} ever-green across "
        f"CORRECTNESS_r01..r{latest:02d}; 'green' column = last round "
        "the driver's own gate passed the query (the first 50 slots of "
        "the driver order `queries()` form each round's window). "
        f"Never driver-sampled yet: "
        f"{', '.join('`%s`' % n for n in never) if never else 'none'}. "
        f"Stale (last green ≤ r{latest - 4}, due in the next window): "
        f"{', '.join('`%s`(r%d)' % s for s in stale) if stale else 'none'}.\n",
        "| query | module | check | green | slot | summary |",
        "|---|---|---|---|---|---|",
    ]
    for name, module, kind, lg, slot, first in rows:
        g = f"r{lg}" if lg else "—"
        out.append(
            f"| `{name}` | {module} | {kind} | {g} | {slot} | {first} |"
        )
    return "\n".join(out) + "\n"


def main() -> None:
    path = os.path.join(REPO, "QUERIES.md")
    with open(path, "w") as f:
        f.write(render())
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
