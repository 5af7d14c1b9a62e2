"""Per-query physical-plan fingerprints — the mechanical "did this
query's behavior change since the round base?" signal behind
tests/test_entry.py::test_changed_plans_enter_the_window.

Why plans, not source bytes: the r15 rotation miss (VERDICT r15 #1)
happened because the window head was frozen by commit, then late
optimization batches changed 18 queries' OPERATORS — no per-query
source diff exists at function granularity (a query's behavior lives in
its operators too), while file granularity (queries/relational.py holds
~60 queries) would flag far more queries than a 50-slot window holds.
The normalized `explain("formatted")` string is exactly the right
granularity: it changes when (and only when) the query's physical
behavior changes — through its own bytes OR any operator it calls —
and is invariant to docstring/comment edits.

Normalization strips the environment-dependent tokens so fingerprints
compare across sessions and boxes: expression ids (#123), plan ids,
file locations, the session's shuffle-partition count where it is the
last argument of a hash/range partitioning spec, and the gid literals
of Expand nodes (bare integers in an Expand section's bracket lists).
Bracket lists are sorted (see `_sort_brackets`). Any other integer is
kept, so `round(x, 4)` under 4 shuffle partitions keeps its scale.

The queries whose fingerprint differs from the base snapshot form
`core_telecoms_etl_spark.queries._PLAN_CHANGED`, which the driver order
puts first. The snapshot's `_meta.corpus` stamps the test corpus it was
made on (file name → byte size, `corpus_stamp`), so a base checked
against another corpus fails by name instead of reading as changed
plans.

Usage:
  python tools/plan_fingerprints.py OUT.json   # fingerprint HEAD's code

To snapshot the ROUND BASE (the last driver-verified commit), copy this
script into a clean checkout of that commit (older commits lack it) and
write into this repo; from the repo root:
  git clone -q . ../base && git -C ../base checkout -q <sha>
  cp tools/plan_fingerprints.py ../base/tools/
  (cd ../base && python tools/plan_fingerprints.py \
      "$OLDPWD/plans/fingerprints_base.json" --meta-commit <sha>)
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
SHUFFLE_PARTITIONS = 4  # mirror tests/conftest.py's session


def _split_top(s: str) -> list[str]:
    """Split on commas at bracket/paren depth 0."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "[(":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


def _sort_brackets(s: str, mask_ints: bool) -> str:
    """Recursively sort the elements of every [...] list.

    Catalyst's distinct-aggregate rewrite (Expand) orders its projection
    groups by expression hash, which varies with the session's exprId
    history — the SET of elements is stable, the order is not. Sorting
    bracket lists makes the fingerprint order-insensitive; the trade is
    that a pure reorder of a list (e.g. output column order) is not
    flagged — acceptable because schema-order changes are caught by the
    oracle's schema check, while order-only Expand variance would
    otherwise make every multi-distinct query a false positive.

    With `mask_ints` (Expand node sections only), bare-integer elements
    are masked as `_INT`: they are the Expand gid literals, whose values
    follow the same session-varying group order."""
    out: list[str] = []
    i = 0
    while i < len(s):
        if s[i] == "[":
            depth, j = 1, i + 1
            while j < len(s) and depth:
                if s[j] == "[":
                    depth += 1
                elif s[j] == "]":
                    depth -= 1
                j += 1
            if depth:  # unbalanced — leave untouched
                out.append(s[i:])
                break
            parts = _split_top(_sort_brackets(s[i + 1 : j - 1], mask_ints))
            if mask_ints:
                parts = ["_INT" if p.isdigit() else p for p in parts]
            out.append("[" + ", ".join(sorted(parts)) + "]")
            i = j
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


_PARTITIONING = re.compile(r"\b(hash|range)partitioning\(")


def _mask_partitioning(s: str, n_shuffle: int) -> str:
    """Mask the session's shuffle-partition count, the last argument of
    each hash/range partitioning spec, as `_NSHUF`, and sort
    hashpartitioning's arguments: its key order follows the
    session-varying Expand group order, and the distribution guarantee
    is order-free. The same integer anywhere else (`round(x, 4)`) is
    left as it is."""
    out, pos = [], 0
    for m in _PARTITIONING.finditer(s):
        depth, j = 1, m.end()
        while j < len(s) and depth:
            depth += {"(": 1, ")": -1}.get(s[j], 0)
            j += 1
        if depth:  # unbalanced — leave the rest untouched
            break
        args = _split_top(s[m.end() : j - 1])
        if args[-1] == str(n_shuffle):
            args[-1] = "_NSHUF"
        if m.group(1) == "hash":
            args.sort()
        out.append(f"{s[pos : m.end()]}{', '.join(args)})")
        pos = j
    return "".join(out) + s[pos:]


def normalize_plan(plan: str, n_shuffle: int = SHUFFLE_PARTITIONS) -> str:
    """Strip session/environment-dependent tokens from a formatted plan."""
    s = re.sub(r"#\d+", "#", plan)  # expression ids
    s = re.sub(r"\b(lambda \w+?)_\d+", r"\1_", s)  # HOF lambda counters
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"\[id=[^\]]*\]", "[id=]", s)
    s = re.sub(r"RDD\[\d+\]", "RDD[]", s)  # createDataFrame RDD ids
    # RDD callsites ("at localCheckpoint at NativeMethodAccessorImpl
    # .java:0" vs "at <unknown>:0") vary with JVM reflection inlining
    s = re.sub(r" at [^,\s]+:\d+", " at :", s)
    s = re.sub(r"file:[^\]\s,]+", "file:", s)  # scan locations
    s = _mask_partitioning(s, n_shuffle)
    # Expand gid literals: the distinct-group numbering varies with the
    # session's exprId history (Catalyst orders the groups by expression
    # hash), so gid comparisons and the gid column of each Expand row
    # are masked (rows themselves are sorted below)
    s = re.sub(r"gid# = \d+", "gid# = _", s)
    # bracket lists sorted line by line, one node section ("(N) Name"
    # up to the next blank line) at a time (see _sort_brackets)
    return "\n\n".join(
        "\n".join(
            _sort_brackets(line, bool(re.match(r"\(\d+\) Expand\b", sec)))
            for line in sec.splitlines()
        )
        for sec in s.split("\n\n")
    )


def fingerprint(plan: str, n_shuffle: int = SHUFFLE_PARTITIONS) -> str:
    return hashlib.sha256(
        normalize_plan(plan, n_shuffle).encode()
    ).hexdigest()[:16]


def corpus_stamp(sf_dir: str = SF_DIR) -> dict[str, int]:
    """Byte size of every file under `sf_dir`, by path relative to it."""
    return {
        os.path.relpath(os.path.join(root, f), sf_dir): os.path.getsize(
            os.path.join(root, f)
        )
        for root, _, files in sorted(os.walk(sf_dir))
        for f in sorted(files)
    }


def compute_all(spark=None, sf_dir: str = SF_DIR) -> dict[str, str]:
    from core_telecoms_etl_spark import get_spark
    from core_telecoms_etl_spark.queries import queries

    if spark is None:
        spark = get_spark(
            "plan-fingerprints", shuffle_partitions=SHUFFLE_PARTITIONS
        )
    from core_telecoms_etl_spark.caching import release_caches

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out: dict[str, str] = {}
    for name, fn in queries().items():
        # rebuild cache_scoped pins fresh per query: a pin materialized
        # by an earlier query (or an earlier test in the session) is
        # returned by SAME-PLAN REUSE and explains as its AQE-FINAL
        # plan (AQEShuffleRead, resolved reuse) — session-history-
        # dependent text that would make fingerprints order-sensitive
        release_caches()
        spark.catalog.clearCache()
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        out[name] = fingerprint(plan, n_shuffle)
    return out


def main() -> None:
    args = sys.argv[1:]
    out_path = args[0] if args else "plans/fingerprints_base.json"
    commit = ""
    if "--meta-commit" in args:
        commit = args[args.index("--meta-commit") + 1]
    fps = compute_all()
    payload = {
        "_meta": {
            "commit": commit,
            "corpus": corpus_stamp(),
            "sf_dir": SF_DIR,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "note": (
                "normalized-plan sha256[:16] per query at the ROUND BASE "
                "commit; tests/test_entry.py compares live plans against "
                "this snapshot and requires the queries whose hash "
                "differs to equal queries._PLAN_CHANGED"
            ),
        },
        "fingerprints": fps,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {out_path} ({len(fps)} fingerprints)")


if __name__ == "__main__":
    main()
