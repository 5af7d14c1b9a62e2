"""Driver-contract tests: entry() smoke, registry completeness, and the
column-name contract between queries() and oracle_sql()."""

from __future__ import annotations

import __spark_entry__ as e


def test_entry_returns_rows(spark):
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "c_mktsegment"


def test_every_oracle_key_has_a_query():
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 50


def test_queries_run_at_smallest_sf(spark, sf_dir):
    """Every declared query executes and yields a stable schema at
    sf0.001 (the driver's smoke scale). Row counts may be 0 (e.g.
    anti-joins) but execution must succeed."""
    qs = e.queries()
    for name, fn in qs.items():
        df = fn(spark, sf_dir)
        assert df.columns, f"{name}: no columns"
        df.limit(5).collect()


def test_check_order_rule():
    """The driver order: changed queries first, then never-green ones,
    then ascending last-green round, ties broken by name. Inside the
    changed block the same key applies."""
    from core_telecoms_etl_spark.queries import check_order

    names = ["e", "d", "c", "b", "a", "f", "g"]
    last_green = {"a": 3, "b": 1, "c": 3, "d": 2, "g": 1, "gone": 0}
    assert check_order(names, last_green, {"g", "c"}) == [
        "g",  # changed: last green r1
        "c",  # changed: r3
        "e",  # never green, then by name
        "f",
        "b",  # last green r1
        "d",  # r2
        "a",  # r3, then by name
    ]


def _plan_fingerprints():
    """tools/plan_fingerprints.py, loaded by its path (anchored to this
    file, not the cwd), so sys.path stays clean."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(__file__), "..", "tools", "plan_fingerprints.py"
    )
    spec = importlib.util.spec_from_file_location("plan_fingerprints", path)
    pf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pf)
    return pf


def test_fingerprint_masks_shuffle_count_only_in_partitioning():
    """The session's shuffle-partition count is masked where it is the
    last argument of a partitioning spec, and nowhere else: a
    `round(x, 4)` under 4 shuffle partitions keeps its scale."""
    plan = (
        "Arguments: hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS\n"
        "Output [1]: [round(x#2, 4) AS x#3]"
    )
    assert _plan_fingerprints().normalize_plan(plan, 4) == (
        "Arguments: hashpartitioning(_NSHUF, k#), ENSURE_REQUIREMENTS\n"
        "Output [1]: [round(x#, 4) AS x#]"
    )


def test_fingerprint_masks_bare_ints_only_in_expand():
    """Bare integers in bracket lists are masked only inside Expand node
    sections, whose gid literals follow a session-varying group order;
    elsewhere an integer such as an `Input [N]` column count is kept."""
    pf = _plan_fingerprints()
    expand = "(2) Expand\nArguments: [[a#1, null, {}], [null, b#2, {}]]"
    assert pf.normalize_plan(expand.format(1, 2)) == pf.normalize_plan(
        expand.format(2, 1)
    )
    project = "(3) Project\nOutput [1]: [k#1]\nInput [2]: [k#1, v#2]"
    assert pf.normalize_plan(project) == (
        "(3) Project\nOutput [1]: [k#]\nInput [2]: [k#, v#]"
    )


def test_changed_plans_enter_the_window(spark, sf_dir):
    """Every query whose PHYSICAL PLAN changed since the round base must
    sit inside the driver's 50-slot correctness window (the 'changed
    bytes go to the head' rotation policy, enforced mechanically).

    The r15 lesson (VERDICT r15 #1): the head was frozen by an early
    rotation commit, then late optimization batches rewrote 18 queries
    THROUGH THEIR OPERATORS, and nothing re-checked — the driver never
    hashed the riskiest rewrites that round. Source-diff checks can't
    close that hole at the right granularity (function-level misses
    operator changes; file-level flags ~60 relational.py queries per
    edit), so the signal here is the normalized `explain("formatted")`
    string: it changes exactly when the query's physical behavior
    changes — through its own bytes or any operator it calls — and is
    invariant to docstring/comment edits.

    `plans/fingerprints_base.json` is the snapshot of every query's
    normalized-plan hash AT THE ROUND BASE (the last driver-verified
    commit), regenerated once per round from a clean checkout of that
    commit (instructions in tools/plan_fingerprints.py). Because the
    live side is computed HERE, at test time, a change landing at any
    point in the round — before or after the rotation commit — fails
    this test until the query is named in `queries._PLAN_CHANGED`, which
    the driver order puts first. A stale name fails too. The base must
    also name a commit this branch descends from: a base taken from a
    commit that is not an ancestor of HEAD (or unknown to git) compares
    against plans this branch never had."""
    import json
    import os
    import subprocess

    from core_telecoms_etl_spark import queries as q

    base_path = os.path.join(
        os.path.dirname(__file__), "..", "plans", "fingerprints_base.json"
    )
    assert os.path.exists(base_path), (
        "plans/fingerprints_base.json missing — regenerate it from the "
        "round-base commit (see tools/plan_fingerprints.py)"
    )
    with open(base_path) as f:
        snapshot = json.load(f)
    base, meta = snapshot["fingerprints"], snapshot["_meta"]
    # a base built under other settings hashes other plans: every query
    # would read as "changed" or, worse, a real change could hash equal
    # by accident — fail loudly instead of silently weakening the guard
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert meta["sf_dir"] == sf_dir, (meta["sf_dir"], sf_dir)
    assert meta["shuffle_partitions"] == n_shuffle, (meta, n_shuffle)
    ancestry = subprocess.run(
        ["git", "merge-base", "--is-ancestor", meta["commit"], "HEAD"],
        cwd=os.path.dirname(base_path),
        capture_output=True,
        text=True,
    )
    assert ancestry.returncode == 0, (
        f"fingerprint base commit {meta['commit']!r} is not an ancestor of "
        f"HEAD: {ancestry.stderr.strip() or 'not an ancestor'}"
    )

    live = _plan_fingerprints().compute_all(spark, sf_dir)
    changed = {n for n, fp in live.items() if base.get(n) != fp}
    assert q._PLAN_CHANGED == changed, (
        "queries/__init__.py _PLAN_CHANGED must name exactly the queries "
        "whose physical plans changed since the round base; paste:\n"
        + "\n".join(f'        "{n}",' for n in sorted(changed))
    )
    assert changed <= set(list(q.queries())[:50]), len(changed)


def test_window_head_rotation():
    """The driver samples the first 50 registry entries per round.
    Everything here is DATA-DRIVEN from
    queries.last_green_rounds (the committed
    CORRECTNESS_r01..rN files) — no hand-maintained name lists (the r7
    lesson). Invariants:

    1. every query with NO green driver row sits inside the 50-slot
       window (never-green queries are the window's first claim);
    2. no query's last green predates max(round)-4 unless it is in the
       window — i.e. every query is re-verified at least every FIVE
       rounds. Five, not four, is forced by arithmetic: 206 registered
       queries at 50 window slots per round need ceil(206/50) = 5
       rounds for a full rotation even if zero slots ever go to new or
       changed queries, so a 4-round bar is unsatisfiable and red at
       every judge snapshot (the r8 lesson: the r8-staged head was
       green against r01..r07 data, then CORRECTNESS_r08.json landed,
       the bar moved, and the 23 r4 rows outside the head went red
       with no possible head that avoids it);
    3. the rotation debt stays serviceable: the queries that will
       reach the bar NEXT round (last green == max(round)-4, not in
       this head) must leave headroom in a 50-slot window for next
       round's new/changed queries.

    This test is green both BEFORE and AFTER the driver's
    CORRECTNESS_r{N}.json lands, provided each round's head carries
    (a) all never-green queries, (b) everything at last-green ==
    max(round)-4, and (c) as much of max(round)-3 as fits."""
    from core_telecoms_etl_spark import queries as q

    head = set(list(q.queries())[:50])
    green = q.last_green_rounds()
    latest = max(green.values())

    never_green = {n for n in q.REGISTRY if n not in green}
    assert len(never_green) <= 50, (
        f"{len(never_green)} never-green queries cannot fit one window —"
        " stop registering and let the driver catch up"
    )
    missed = never_green - head
    assert not missed, (
        f"{len(missed)} never-green queries outside the 50-slot window "
        f"(give each a window slot): {sorted(missed)}"
    )

    stale_bar = latest - 5
    too_stale = {
        n
        for n in q.REGISTRY
        if green.get(n) is not None and green[n] <= stale_bar
    } - head
    assert not too_stale, (
        f"last-green <= r{stale_bar} but outside the window: "
        f"{sorted(too_stale)}"
    )

    due_next = {
        n
        for n in q.REGISTRY
        if green.get(n) is not None and green[n] <= latest - 4
    } - head
    assert len(due_next) <= 40, (
        f"{len(due_next)} queries reach the staleness bar next round but "
        f"are outside this head — next round's window (50 slots minus "
        f"new/changed) cannot absorb them: {sorted(due_next)}"
    )


def test_cited_tools_exist():
    """Every `tools/<name>.py` that the engine, the tools, README.md,
    SCALING.md or the verify notes cite exists, so a deleted tool
    cannot leave a dangling how-to behind. Records of past rounds
    (BASELINE.md, OPTIMIZATION_r*.md, VERDICT.md, CHANGES.md,
    ROADMAP.md) name tools as they were then and are not scanned."""
    import glob
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scanned = (
        glob.glob(f"{root}/core_telecoms_etl_spark/**/*.py", recursive=True)
        + glob.glob(f"{root}/tools/*.py")
        + [
            f"{root}/{p}"
            for p in ("README.md", "SCALING.md", ".claude/skills/verify/SKILL.md")
        ]
    )
    missing = set()
    for path in scanned:
        with open(path, encoding="utf-8") as f:
            for name in re.findall(r"tools/(\w+)\.py", f.read()):
                if not os.path.exists(f"{root}/tools/{name}.py"):
                    missing.add((os.path.relpath(path, root), name))
    assert not missing, sorted(missing)


# Engine entry points that nothing in the engine, the tools or the
# benchmark calls, kept because each reproduces a source or step of the
# reference pipeline (PAPER.md §0). The guard below treats them as roots,
# so the helpers they call need no entry of their own.
_PG = "Postgres web-complaint extract (plugins/postgres_extract.py)"
_SHEET = "agents Google-Sheet extract (plugins/google_sheets.py)"
_KEPT_UNCALLED = {
    "read_jdbc": _PG,
    "list_jdbc_tables_query": _PG,
    "jdbc_columns_query": _PG,
    "pg_schema_from_columns": _PG,
    "read_rows": _SHEET,
    "register_http": _SHEET,
    "run_star_dq": "post-load `dbt test` on the star models",
}


def test_every_engine_definition_has_a_caller():
    """Every top-level function or class in the engine is reachable from
    non-test code, or is a `_KEPT_UNCALLED` reference entry point, so
    code that only tests call cannot pile up.

    Roots: the `@query` functions, each engine module's module-level
    statements (imports included, except the re-exports of each package
    `__init__.py`), `__spark_entry__.py`, `bench.py`, the non-test
    perfbench modules, `tools/*.py` and the `_KEPT_UNCALLED` entries.
    A definition is reachable when its name appears in reachable code
    as a Name, as the attribute of a Name (`module.name`) or as an
    import alias; docstrings and comments do not count. Names are
    matched without their module, so a dead definition that shares its
    name with a live one passes."""
    import ast
    import glob
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    engine = os.path.join(root, "core_telecoms_etl_spark")
    defs_types = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

    def parse(path):
        with open(path, encoding="utf-8") as f:
            return ast.parse(f.read(), path)

    def names_in(node):
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                # `module.name`, not `spark.dataSource.register`
                if isinstance(n.value, ast.Name):
                    out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rpartition(".")[2])
                out.add(n.asname or n.name)
        return out

    def is_query(d):
        for dec in d.decorator_list:
            f = dec.func if isinstance(dec, ast.Call) else dec
            if isinstance(f, ast.Name) and f.id == "query":
                return True
        return False

    defs = {}  # name -> [(relpath, node)]
    used = set(_KEPT_UNCALLED)
    for path in glob.glob(f"{engine}/**/*.py", recursive=True):
        rel = os.path.relpath(path, root)
        for stmt in parse(path).body:
            if isinstance(stmt, defs_types) and not is_query(stmt):
                defs.setdefault(stmt.name, []).append((rel, stmt))
            elif not (
                path.endswith("__init__.py")
                and isinstance(stmt, ast.ImportFrom)
            ):
                used |= names_in(stmt)
    for path in (
        [f"{root}/__spark_entry__.py", f"{root}/bench.py"]
        + glob.glob(f"{root}/perfbench/*.py")
        + glob.glob(f"{root}/tools/*.py")
    ):
        used |= names_in(parse(path))

    stale = sorted(set(_KEPT_UNCALLED) - set(defs))
    assert not stale, f"_KEPT_UNCALLED names no engine definition: {stale}"
    reached = set()
    while new := {n for n in defs if n in used} - reached:
        reached |= new
        for n in new:
            for _, node in defs[n]:
                used |= names_in(node)
    uncalled = [
        f"{rel}:{node.lineno} {name}"
        for name in sorted(set(defs) - reached)
        for rel, node in defs[name]
    ]
    assert not uncalled, (
        "engine definitions that no non-test code calls (delete them, or "
        "name their reference source in _KEPT_UNCALLED):\n"
        + "\n".join(uncalled)
    )
