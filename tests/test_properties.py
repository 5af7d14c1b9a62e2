"""Property-based tests (hypothesis) for the operators whose correctness
is easiest to break silently: sessionization boundaries, jaccard bounds
and symmetry, and as-of join invariants. Small generated cases, single
local Spark jobs per example — kept deliberately cheap."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

GAP = 600  # seconds

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

offsets = st.lists(
    st.integers(min_value=0, max_value=5000), min_size=1, max_size=12
)


@given(offsets=offsets)
@_settings
def test_sessionize_gap_invariants(spark, offsets):
    """Within a session every inter-event gap ≤ GAP; the event right
    before each session start is > GAP away (or absent)."""
    from core_telecoms_etl_spark.streaming.events import sessionize

    base = datetime(2024, 1, 1)
    times = sorted(base + timedelta(seconds=o) for o in set(offsets))
    rows = [
        (i, t, 1, "e", 1.0, None) for i, t in enumerate(times)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sess = sessionize(df, gap_seconds=GAP).collect()
    # reconstruct expected session count by scanning gaps
    expected_sessions = 1 + sum(
        1
        for a, b in zip(times, times[1:])
        if (b - a).total_seconds() > GAP
    )
    assert len(sess) == expected_sessions
    assert sum(r.n_events for r in sess) == len(times)
    # sessions must not overlap and must be separated by > GAP
    spans = sorted((r.session_start, r.session_end) for r in sess)
    for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
        assert (s2 - e1).total_seconds() > GAP


texts = st.lists(
    st.text(
        alphabet=st.sampled_from("ab "),
        min_size=5,
        max_size=40,
    ),
    min_size=2,
    max_size=6,
)


@given(texts=texts)
@_settings
def test_jaccard_pairs_bounds_and_self_dup(spark, texts):
    """0 < jaccard ≤ 1 on every emitted pair; identical texts (≥3 tokens)
    always form a jaccard-1.0 pair."""
    from core_telecoms_etl_spark.operators.dedup import jaccard_pairs
    from core_telecoms_etl_spark.operators.text import tokens

    rows = [(i, t) for i, t in enumerate(texts)]
    # append an exact duplicate of the first text
    rows.append((len(rows), texts[0]))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n_tokens_first = (
        df.filter("doc_id = 0")
        .select(tokens("text").alias("t"))
        .collect()[0]
        .t
    )
    pairs = jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.0
    ).collect()
    for p in pairs:
        assert 0.0 < p.jaccard <= 1.0
        assert p.n_common <= min(p.n_a, p.n_b)
    if len(n_tokens_first) >= 3:
        dup = [
            p
            for p in pairs
            if p.doc_a == 0 and p.doc_b == len(rows) - 1
        ]
        assert len(dup) == 1 and dup[0].jaccard == 1.0


asof_case = st.tuples(
    st.lists(st.integers(0, 1000), min_size=1, max_size=8),  # left ts
    st.lists(st.integers(0, 1000), min_size=0, max_size=8),  # right ts
)


@given(case=asof_case)
@_settings
def test_asof_join_matches_python_oracle(spark, case):
    """asof_join == the obvious per-row python scan: latest right ts ≤
    left ts (None when absent)."""
    from core_telecoms_etl_spark.operators.temporal import asof_join

    left_ts, right_ts = case
    base = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [
            (i, 1, base + timedelta(seconds=s))
            for i, s in enumerate(sorted(set(left_ts)))
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100 + i, 1, base + timedelta(seconds=s))
            for i, s in enumerate(sorted(set(right_ts)))
        ],
        "rid long, user_id long, ts timestamp",
    ) if right_ts else spark.createDataFrame(
        [], "rid long, user_id long, ts timestamp"
    )
    out = asof_join(
        left,
        right.select("user_id", "ts", "rid"),
        on="user_id",
        right_cols=["rid"],
    ).collect()
    rights = sorted(
        (base + timedelta(seconds=s), 100 + i)
        for i, s in enumerate(sorted(set(right_ts)))
    )
    lefts = {
        i: base + timedelta(seconds=s)
        for i, s in enumerate(sorted(set(left_ts)))
    }
    for r in out:
        candidates = [rid for ts, rid in rights if ts <= lefts[r.event_id]]
        assert r.rid == (candidates[-1] if candidates else None)


ks_samples = st.tuples(
    st.lists(
        st.integers(min_value=0, max_value=30), min_size=1, max_size=25
    ),
    st.lists(
        st.integers(min_value=0, max_value=30), min_size=1, max_size=25
    ),
)


@given(samples=ks_samples)
@_settings
def test_ks_matches_python_oracle(spark, samples):
    """The distributed KS statistic equals the brute-force Python
    CDF computation exactly (all-integer statistic)."""
    from fractions import Fraction

    from core_telecoms_etl_spark.operators.stats import ks_two_sample

    xs, ys = samples
    rows = [("a", float(v)) for v in xs] + [("b", float(v)) for v in ys]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_two_sample(
        df, value_col="v", group_col="g", group_a="a", group_b="b",
        n_buckets=5,
    ).collect()[0]
    points = sorted(set(xs) | set(ys))
    expect = max(
        abs(
            Fraction(sum(1 for x in xs if x <= p), len(xs))
            - Fraction(sum(1 for y in ys if y <= p), len(ys))
        )
        for p in points
    )
    assert Fraction(int(r.d_scaled), len(xs) * len(ys)) == expect


anomaly_series = st.lists(
    st.integers(min_value=0, max_value=1000), min_size=1, max_size=40
)


@given(values=anomaly_series)
@_settings
def test_rolling_anomaly_matches_python_oracle(spark, values):
    """Flagged event ids equal a brute-force trailing-window z² check
    on the integer grid."""
    from datetime import datetime

    from core_telecoms_etl_spark.operators.temporal import (
        rolling_zscore_anomaly,
    )

    look, minp, zt = 5, 3, 2
    rows = [
        (i, 1, datetime(2024, 1, 1, 0, 0, i), "x", v / 100.0)
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, "
        "event_type string, value double",
    )
    got = sorted(
        r.event_id
        for r in rolling_zscore_anomaly(
            df,
            lookback=look,
            min_points=minp,
            z_threshold=zt,
            grid=100,
        ).collect()
    )
    expect = []
    for i, v in enumerate(values):
        w = values[max(0, i - look) : i]
        n, s, ss = len(w), sum(w), sum(x * x for x in w)
        if n >= minp and (n * v - s) ** 2 > zt * zt * (n * ss - s * s):
            expect.append(i)
    assert got == expect


funnel_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),  # user
        st.integers(min_value=0, max_value=50),  # minute
        st.sampled_from(["signup", "click", "purchase"]),
    ),
    min_size=1,
    max_size=30,
)


@given(events=funnel_events)
@_settings
def test_windowed_funnel_matches_python_oracle(spark, events):
    """Greedy-from-earliest horizon funnel equals a brute-force Python
    chain over arbitrary event soup (duplicate stages, ties broken by
    event order, horizon boundaries)."""
    from datetime import datetime

    from core_telecoms_etl_spark.operators.funnel import funnel_counts

    horizon = 600  # 10 minutes
    stages = ["signup", "click", "purchase"]
    rows = [
        (i, u, datetime(2024, 1, 1, 0, m), t)
        for i, (u, m, t) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = funnel_counts(df, stages, horizon_seconds=horizon).collect()[0]

    def chain(user_events):
        # greedy: stage i = earliest qualifying ts after stage i-1
        times = []
        prev = None
        for s in stages:
            cand = [
                m * 60
                for (m, t) in user_events
                if t == s
                and (prev is None or (m * 60 > prev and m * 60 <= prev + horizon))
            ]
            if not cand:
                break
            prev = min(cand)
            times.append(prev)
        return len(times)

    by_user = {}
    for u, m, t in events:
        by_user.setdefault(u, []).append((m, t))
    depths = [chain(evs) for evs in by_user.values()]
    expect = [sum(1 for d in depths if d >= k) for k in (1, 2, 3)]
    assert [
        got.n_signup,
        got.n_signup_click,
        got.n_signup_click_purchase,
    ] == expect


diff_tables = st.tuples(
    st.dictionaries(
        st.integers(min_value=0, max_value=15),
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
        max_size=10,
    ),
    st.dictionaries(
        st.integers(min_value=0, max_value=15),
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
        max_size=10,
    ),
)


@given(tables=diff_tables)
@_settings
def test_snapshot_diff_matches_python_oracle(spark, tables):
    """Classification equals a dict-based diff for arbitrary key/value
    maps including NULL values on either side; unchanged keys drop
    out."""
    from core_telecoms_etl_spark.operators.scd import snapshot_diff

    old_d, new_d = tables
    old = spark.createDataFrame(
        [(k, v) for k, v in old_d.items()] or [(None, None)],
        "k long, v long",
    ).filter("k IS NOT NULL")
    new = spark.createDataFrame(
        [(k, v) for k, v in new_d.items()] or [(None, None)],
        "k long, v long",
    ).filter("k IS NOT NULL")
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, key_cols=["k"]).collect()
    }
    expect = {}
    for k in set(old_d) | set(new_d):
        if k not in old_d:
            expect[k] = "insert"
        elif k not in new_d:
            expect[k] = "delete"
        elif old_d[k] != new_d[k]:
            expect[k] = "update"
    assert got == expect


bloom_keys = st.lists(
    st.integers(min_value=-(2**62), max_value=2**62),
    min_size=1,
    max_size=60,
    unique=True,
)


@given(keys=bloom_keys)
@_settings
def test_bloom_never_false_negative_property(spark, keys):
    """Structural bloom guarantee under arbitrary long keys (negative,
    huge, adversarially close): every inserted key passes the probe."""
    from core_telecoms_etl_spark.operators import sketches as sk

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    mask = sk.bloom_build(df, "k", n_bits=1 << 12, n_hashes=4)
    assert (
        df.filter(sk.bloom_might_contain("k", mask, n_hashes=4)).count()
        == len(keys)
    )


attrib_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),     # user
        st.integers(min_value=0, max_value=50),    # ts offset (collides!)
        st.sampled_from(["view", "click", "purchase"]),
        st.integers(min_value=0, max_value=10_000),  # value cents
    ),
    min_size=1,
    max_size=30,
)


@given(events=attrib_events)
@_settings
def test_attribution_matches_python_oracle(spark, events, tmp_path_factory):
    """Last-touch attribution vs a direct Python fold over the same
    (ts, event_id)-ordered stream — including colliding timestamps,
    purchase-first users, and purchase-only users."""
    from core_telecoms_etl_spark.queries.events import (
        attribution_last_touch,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(seconds=off), u, typ, cents / 100.0, "{}")
        for i, (u, off, typ, cents) in enumerate(events)
    ]
    # python oracle: per user, ordered by (ts, event_id)
    expect: dict[str, list[int]] = {}
    last: dict[int, str] = {}
    for eid, ts, u, typ, val, _ in sorted(
        rows, key=lambda r: (r[2], r[1], r[0])
    ):
        if typ != "purchase":
            last[u] = typ
        else:
            ch = last.get(u, "direct")
            agg = expect.setdefault(ch, [0, 0])
            agg[0] += 1
            agg[1] += round(val * 100)
    sf = str(tmp_path_factory.mktemp("attrib"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    got = {
        r.channel: [r.n_purchases, int(round(r.attributed_value * 100))]
        for r in attribution_last_touch(spark, sf).collect()
    }
    assert got == expect


winsor_vals = st.lists(
    st.integers(min_value=-(10**6), max_value=10**6),
    min_size=1,
    max_size=40,
)


@given(vals=winsor_vals)
@_settings
def test_winsorize_invariants(spark, vals, tmp_path_factory):
    """Winsorization invariants on arbitrary cent-grid data: clipped
    counts match direct comparison against the rounded percentile
    bounds, and the winsorized sum is within the clip bounds' reach."""
    from core_telecoms_etl_spark.queries.analytics import (
        winsorize_features,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (i, base, 1, "t", v / 100.0, "{}") for i, v in enumerate(vals)
    ]
    sf = str(tmp_path_factory.mktemp("winsor"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    row = winsorize_features(spark, sf).collect()[0]
    from fractions import Fraction

    import numpy as np

    def bound_candidates(sv: list[int], q: Fraction) -> list[int]:
        # Exact linear-interpolated percentile as a Fraction, then
        # half-away-from-zero rounding. When the EXACT value sits on
        # (or within double-noise of) a .5 cent boundary, the engine's
        # double interpolation legitimately lands on either side
        # (found by hypothesis: vals=[0,0,-252,-162882] puts p5 at
        # exactly -138487.5 and numpy/Spark round opposite ways) —
        # return both roundings and let the caller pick the consistent
        # one. The engine-vs-oracle agreement is pinned elsewhere
        # (winsorize_features' DuckDB gate); this model only needs to
        # accept any IEEE-legal percentile realization.
        n = len(sv)
        r = q * (n - 1)
        i = int(r)
        frac = r - i
        hi_idx = min(i + 1, n - 1)
        exact = Fraction(sv[i]) + frac * (sv[hi_idx] - sv[i])
        # distance from the nearest half-integer boundary, vs the
        # double-noise the engine's interpolation can carry
        flo = exact.numerator // exact.denominator
        half_dist = abs(exact - flo - Fraction(1, 2))
        tol = max(1, abs(exact)) * Fraction(1, 10**9)
        # half-away round of the exact value
        sign = -1 if exact < 0 else 1
        mag = abs(exact)
        base = int(mag + Fraction(1, 2))  # floor(|x| + 0.5)
        cands = {sign * base}
        if half_dist <= tol:
            cands.add(sign * (base - 1))
        return sorted(cands)

    sv = sorted(vals)
    a = np.array(sv, dtype=float)
    assert row.n == len(vals)
    ok = False
    for lo in bound_candidates(sv, Fraction(5, 100)):
        for hi in bound_candidates(sv, Fraction(95, 100)):
            w = np.clip(a, lo, hi)
            if (
                row.n_clipped_low == int((a < lo).sum())
                and row.n_clipped_high == int((a > hi).sum())
                and abs(row.sum_winsorized - w.sum() / 100.0) < 1e-6
            ):
                ok = True
    assert ok, (row, vals)
