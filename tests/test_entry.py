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


def test_check_order_is_exact_and_duplicate_free():
    """_CHECK_ORDER must list every registry entry exactly once: a
    missing name silently falls to the tail (out of its curated
    window slot — the r6 json_scan near-miss), a duplicate shifts
    every later query's window position."""
    from collections import Counter

    from core_telecoms_etl_spark import queries as q

    q._load_all()
    counts = Counter(q._CHECK_ORDER)
    dups = [n for n, c in counts.items() if c > 1]
    assert not dups, f"duplicated in _CHECK_ORDER: {dups}"
    missing = set(q.REGISTRY) - set(q._CHECK_ORDER)
    assert not missing, f"registered but not in _CHECK_ORDER: {missing}"


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
    this test until the query is given a head slot."""
    import importlib.util
    import json
    import os

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

    fp_path = os.path.join(
        os.path.dirname(__file__), "..", "tools", "plan_fingerprints.py"
    )
    spec = importlib.util.spec_from_file_location("plan_fingerprints", fp_path)
    pf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pf)

    live = pf.compute_all(spark, sf_dir)
    q._load_all()
    head = set(q._CHECK_ORDER[:50])
    changed = {n for n, fp in live.items() if base.get(n) != fp}
    missed = sorted(changed - head)
    assert not missed, (
        f"{len(missed)} queries' physical plans changed since the round "
        f"base but sit outside the 50-slot window head — rotate them in "
        f"(queries/__init__.py _CHECK_ORDER): {missed}"
    )


def test_window_head_rotation():
    """The driver samples the first 50 registry entries per round.
    Everything here is DATA-DRIVEN from
    tools/gen_inventory.last_green_rounds (the committed
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
    import importlib.util
    import os

    from core_telecoms_etl_spark import queries as q

    q._load_all()
    head = set(q._CHECK_ORDER[:50])

    # import by absolute path (anchored to this file, not the cwd) so
    # pytest runs from any directory and sys.path stays clean
    inv_path = os.path.join(
        os.path.dirname(__file__), "..", "tools", "gen_inventory.py"
    )
    spec = importlib.util.spec_from_file_location("gen_inventory", inv_path)
    gen_inventory = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_inventory)

    green = gen_inventory.last_green_rounds()
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
