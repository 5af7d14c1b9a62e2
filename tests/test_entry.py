"""Driver-contract tests: entry() smoke, registry completeness, and the
column-name contract between queries() and oracle_sql()."""

from __future__ import annotations

import ast
import glob
import os

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


def _tool(name):
    """tools/<name>.py, loaded by its path (anchored to this file, not
    the cwd), so sys.path stays clean."""
    import importlib.util

    path = os.path.join(os.path.dirname(__file__), "..", "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _plan_fingerprints():
    return _tool("plan_fingerprints")


def test_queries_md_is_current():
    """The committed QUERIES.md is what tools/gen_inventory.py renders
    from the registry and the committed CORRECTNESS_r*.json, so a new
    round record, query or docstring cannot leave it stale. Reads
    files only; starts no Spark."""
    path = os.path.join(os.path.dirname(__file__), "..", "QUERIES.md")
    with open(path, encoding="utf-8") as f:
        committed = f.read()
    assert _tool("gen_inventory").render() == committed, (
        "QUERIES.md is stale: regenerate it with "
        "`python tools/gen_inventory.py`"
    )


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
    commit (instructions in tools/plan_fingerprints.py). Its corpus
    stamp (file name → byte size) must equal the live corpus: a base
    hashed on other data would read unchanged plans as changed. Because the
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
    pf = _plan_fingerprints()
    stamp = pf.corpus_stamp(sf_dir)
    differing = sorted(
        f"{name}: base {meta['corpus'].get(name)} B, live {stamp.get(name)} B"
        for name in set(meta["corpus"]) | set(stamp)
        if meta["corpus"].get(name) != stamp.get(name)
    )
    assert not differing, (
        f"the fingerprint base was made on another corpus than {sf_dir}:\n"
        + "\n".join(differing)
    )
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

    live = pf.compute_all(spark, sf_dir)
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


# The static guards below read the engine and the non-test code that
# calls it (`__spark_entry__.py`, `bench.py`, the perfbench modules and
# `tools/*.py`) as Python syntax trees; none of them starts Spark.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_ENGINE = os.path.join(_ROOT, "core_telecoms_etl_spark")
# top-level names an import can bind to a module of this repository
_PACKAGES = {"core_telecoms_etl_spark", "__spark_entry__"}


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _engine_paths():
    return sorted(glob.glob(f"{_ENGINE}/**/*.py", recursive=True))


def _caller_paths():
    return (
        [f"{_ROOT}/__spark_entry__.py", f"{_ROOT}/bench.py"]
        + sorted(glob.glob(f"{_ROOT}/perfbench/*.py"))
        + sorted(glob.glob(f"{_ROOT}/tools/*.py"))
    )


def _module_names(tree):
    """The names a file binds to a module of this repository:
    `from core_telecoms_etl_spark import queries as q` binds `q`,
    `import __spark_entry__ as e` binds `e`. A name bound to a
    function or class (`from ...readers import load_table`) is not one."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            for a in n.names:
                if a.name.split(".")[0] in _PACKAGES:
                    out.add(a.asname or a.name.split(".")[0])
        elif (
            isinstance(n, ast.ImportFrom)
            and n.level == 0
            and n.module.split(".")[0] in _PACKAGES
        ):
            base = os.path.join(_ROOT, *n.module.split("."))
            for a in n.names:
                if os.path.exists(f"{base}/{a.name}.py") or os.path.isdir(
                    f"{base}/{a.name}"
                ):
                    out.add(a.asname or a.name)
    return out


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
    as a Name, as an import alias, or as `X.name` where the same file
    binds `X` to a module of this repository; docstrings and comments
    do not count. So `pq.write_table` (pyarrow) does not reach an
    engine `write_table`. Names are otherwise matched without their
    module: the engine has no two top-level definitions of one name."""
    defs_types = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

    def names_in(node, modules):
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                # `module.name`, not `spark.dataSource.register`
                if isinstance(n.value, ast.Name) and n.value.id in modules:
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

    defs = {}  # name -> [(relpath, node, names its file binds to modules)]
    used = set(_KEPT_UNCALLED)
    for path in _engine_paths():
        rel = os.path.relpath(path, _ROOT)
        tree = _parse(path)
        modules = _module_names(tree)
        for stmt in tree.body:
            if isinstance(stmt, defs_types) and not is_query(stmt):
                defs.setdefault(stmt.name, []).append((rel, stmt, modules))
            elif not (
                path.endswith("__init__.py")
                and isinstance(stmt, ast.ImportFrom)
            ):
                used |= names_in(stmt, modules)
    for path in _caller_paths():
        tree = _parse(path)
        used |= names_in(tree, _module_names(tree))

    duplicated = sorted(n for n, d in defs.items() if len(d) > 1)
    assert not duplicated, f"defined in two engine modules: {duplicated}"
    stale = sorted(set(_KEPT_UNCALLED) - set(defs))
    assert not stale, f"_KEPT_UNCALLED names no engine definition: {stale}"
    reached = set()
    while new := {n for n in defs if n in used} - reached:
        reached |= new
        for n in new:
            for _, node, modules in defs[n]:
                used |= names_in(node, modules)
    uncalled = [
        f"{rel}:{node.lineno} {name}"
        for name in sorted(set(defs) - reached)
        for rel, node, _ in defs[name]
    ]
    assert not uncalled, (
        "engine definitions that no non-test code calls (delete them, or "
        "name their reference source in _KEPT_UNCALLED):\n"
        + "\n".join(uncalled)
    )


# Engine options whose non-test callers all pass one value, kept because
# the other value has a job outside those callers.
_SAFETY = "safety bound: tests lower it to trip the named error"
_DAG = "reference DAG: `retries: 2` and the email callbacks (SURVEY §3.1)"
_KEPT_OPTIONS = {
    ("simhash_pairs", "max_candidates"): _SAFETY,
    ("simhash_pairs", "n_rows"): (
        "tripwire seam: tests pass a row count to trip the mass bound "
        "without building the frame"
    ),
    ("incremental_dedup", "max_candidates"): _SAFETY,
    ("fuzzy_pairs", "max_block_pairs"): _SAFETY,
    ("fuzzy_pairs_deletion", "max_block_pairs"): _SAFETY,
    ("exact_top_k_by_count", "max_tracked"): _SAFETY,
    ("auto_topk", "gap_ratio"): (
        "router threshold: tests move it to force each route"
    ),
    ("auto_topk", "min_ivf_rows"): (
        "router floor: tests lower it to reach the IVF route on a "
        "small corpus"
    ),
    ("events_file_stream", "max_files_per_trigger"): (
        "test seam: one-file micro-batches are how tests reach a later "
        "micro-batch to trip run_stream_stateful's max_state_rows bound"
    ),
    ("ensure_session_confs", "nanos_as_long"): (
        "off is the safe default on a real lake (see its docstring)"
    ),
    ("IncrementalLoader.run", "retries"): _DAG,
    ("IncrementalLoader.run", "on_success"): _DAG,
    ("IncrementalLoader.run", "on_failure"): _DAG,
    ("jaccard_pairs", "hash_shingles"): (
        "test reference: hash_shingles=False is the unhashed reference "
        "the live hashed arm is compared against (test_dedup.py)"
    ),
    ("link_best_match", "blocking"): (
        "test reference: blocking='block' is the reference the live "
        "'deletion' arm is compared against (test_linkage.py)"
    ),
}


def test_every_engine_option_has_two_live_values():
    """Every engine option that the code branches on is set to at least
    two values by non-test code, or is a `_KEPT_OPTIONS` entry, so a
    code path that only tests reach cannot hide behind an option.

    An option is a defaulted parameter of a top-level engine function
    or of a method of a top-level engine class that appears in the
    test of an `if`/`elif` or a conditional expression. Tests that do
    not count: an `if` whose body is only a `raise` (validation) and an
    `isinstance` check (str-or-Column dispatch).

    Callers are the same non-test code as the reachability guard's.
    At each call a literal argument counts as its value and an omitted
    argument as the default. A parameter of the enclosing engine
    function passed on unchanged (`f(x=x)`, `x` never reassigned)
    counts as every value that function's callers give `x`, resolved
    to a fixed point; passed on from a function no live code calls, it
    varies. Any other expression, `*args` or `**kwargs` counts as
    varying. A function referenced as a value (`_FORMATS = {"csv":
    read_csv}`) has varying positional parameters. A call `f(...)` or
    `module.f(...)` reaches the top-level `f`, a call `Cls(...)`
    reaches `Cls.__init__`, and any other `x.f(...)` reaches every
    method named `f`. The `_KEPT_UNCALLED` entry points have no live
    caller at all, so their options are not checked."""
    varies = object()

    def value(node, scope=()):
        """A literal's repr; `(qual, name)` for a parameter of the
        enclosing engine function `qual` passed on unchanged; else
        varies. `scope` holds the enclosing (function node, qual or
        None) pairs, innermost last."""
        try:
            return repr(ast.literal_eval(node))
        except ValueError:
            pass
        if isinstance(node, ast.Name):
            for fn, qual in reversed(scope):
                a = fn.args
                bound = {
                    p.arg
                    for p in a.posonlyargs + a.args + a.kwonlyargs
                    + [a.vararg, a.kwarg]
                    if p is not None
                }
                stored = {
                    x.id
                    for x in ast.walk(fn)
                    if isinstance(x, ast.Name)
                    and isinstance(x.ctx, ast.Store)
                }
                if node.id in stored:
                    return varies
                if node.id in bound:
                    return varies if qual is None else (qual, node.id)
        return varies

    def default(node):
        v = value(node)
        return ast.unparse(node) if v is varies else v

    def branched(fn):
        """Names read in the tests of fn's if/elif/conditional
        expressions, less raise-only ifs and isinstance checks."""
        out = set()
        for n in ast.walk(fn):
            if isinstance(n, ast.If) and all(
                isinstance(b, ast.Raise) for b in n.body
            ):
                continue
            if isinstance(n, (ast.If, ast.IfExp)):
                skip = {
                    id(x)
                    for c in ast.walk(n.test)
                    if isinstance(c, ast.Call)
                    and isinstance(c.func, ast.Name)
                    and c.func.id == "isinstance"
                    for x in ast.walk(c)
                }
                out |= {
                    x.id
                    for x in ast.walk(n.test)
                    if isinstance(x, ast.Name) and id(x) not in skip
                }
        return out

    trees = {p: _parse(p) for p in _engine_paths() + _caller_paths()}
    params = {}  # qualname -> (positional parameters, all parameters)
    funcs, methods = {}, {}  # name -> qualname, method name -> qualnames
    options = {}  # (qualname, parameter) -> default value
    defaults_of = {}  # (qualname, parameter) -> default, every parameter
    quals = {}  # id(function node) -> qualname
    for path in _engine_paths():
        for stmt in trees[path].body:
            if getattr(stmt, "name", None) in _KEPT_UNCALLED:
                continue  # no live caller: its options are reference API
            if isinstance(stmt, ast.ClassDef):
                funcs[stmt.name] = f"{stmt.name}.__init__"
                members = [
                    (f"{stmt.name}.{m.name}", m)
                    for m in stmt.body
                    if isinstance(m, ast.FunctionDef)
                ]
            elif isinstance(stmt, ast.FunctionDef):
                funcs[stmt.name] = stmt.name
                members = [(stmt.name, stmt)]
            else:
                continue
            for qual, fn in members:
                quals[id(fn)] = qual
                a = fn.args
                positional = [p.arg for p in a.posonlyargs + a.args]
                if qual != fn.name:
                    methods.setdefault(fn.name, []).append(qual)
                    if not any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in fn.decorator_list
                    ):
                        positional = positional[1:]  # self / cls
                params[qual] = (
                    positional,
                    positional + [p.arg for p in a.kwonlyargs],
                )
                defaults = dict(zip(positional[::-1], a.defaults[::-1]))
                defaults.update(
                    (p.arg, d)
                    for p, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None
                )
                defaults_of.update(
                    ((qual, p), default(d)) for p, d in defaults.items()
                )
                tested = branched(fn)
                options.update(
                    ((qual, p), default(d))
                    for p, d in defaults.items()
                    if p in tested
                )

    seen = {}  # (qualname, parameter) -> values its live calls give it

    def record(qual, given):
        for p in params[qual][1]:
            seen.setdefault((qual, p), set()).add(
                given.get(p, defaults_of.get((qual, p), varies))
            )

    def bind(qual, call, scope):
        positional, every = params[qual]
        given = {}
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                given.update((p, varies) for p in positional[i:])
                break
            if i < len(positional):
                given[positional[i]] = value(arg, scope)
        for k in call.keywords:
            if k.arg is None:
                given.update((p, varies) for p in every if p not in given)
            else:
                given[k.arg] = value(k.value, scope)
        return given

    def targets(func, modules):
        if isinstance(func, ast.Attribute) and not (
            isinstance(func.value, ast.Name) and func.value.id in modules
        ):
            names = methods.get(func.attr, [])
        elif isinstance(func, (ast.Name, ast.Attribute)):
            name = func.id if isinstance(func, ast.Name) else func.attr
            names = [funcs[name]] if name in funcs else []
        else:
            names = []
        return [q for q in names if q in params]

    def visit(node, scope, modules, called):
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
        ):
            scope = scope + ((node, quals.get(id(node))),)
        if isinstance(node, ast.Call):
            called.add(id(node.func))
            for qual in targets(node.func, modules):
                record(qual, bind(qual, node, scope))
        for child in ast.iter_child_nodes(node):
            visit(child, scope, modules, called)

    for path in _engine_paths() + _caller_paths():
        tree = trees[path]
        modules = _module_names(tree)
        called = set()
        visit(tree, (), modules, called)
        for n in ast.walk(tree):
            if (
                isinstance(n, (ast.Name, ast.Attribute))
                and isinstance(n.ctx, ast.Load)
                and id(n) not in called
            ):
                for qual in targets(n, modules):
                    record(qual, dict.fromkeys(params[qual][0], varies))

    # resolve passed-on parameters to a fixed point: each takes every
    # value its enclosing function's parameter takes
    values, passed_on = {}, {}
    for key, vs in seen.items():
        values[key] = {v for v in vs if not isinstance(v, tuple)}
        passed_on[key] = {v for v in vs if isinstance(v, tuple)}
    for key, sources in passed_on.items():
        if any(src not in seen for src in sources):
            values[key].add(varies)
    grown = True
    while grown:
        grown = False
        for key, sources in passed_on.items():
            for src in sources:
                new = values.get(src, set()) - values[key]
                if new:
                    values[key] |= new
                    grown = True

    stale = sorted(set(_KEPT_OPTIONS) - set(options))
    assert not stale, f"_KEPT_OPTIONS names no engine option: {stale}"
    single = sorted(
        f"{qual}.{param} = {next(iter(vals), options[(qual, param)])}"
        for (qual, param), vals in (
            (opt, values.get(opt, set())) for opt in options
        )
        if varies not in vals
        and len(vals) < 2
        and (qual, param) not in _KEPT_OPTIONS
    )
    assert not single, (
        f"{len(single)} engine options that every non-test caller sets to "
        "one value (make each a constant and delete the other arm, or "
        "give its reason in _KEPT_OPTIONS):\n" + "\n".join(single)
    )
