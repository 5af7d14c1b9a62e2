"""Seeded star-schema tables for the query mixes.

Writes the tables the `sql_mix` and `python_mix` queries read, with the
same parquet schema as the engine's test tables (`region nation customer
supplier part orders lineitem events embeddings`), at scale factor `sf`
(sf1 = 6M lineitem rows). Money sits on the exact 2-decimal grid and
discounts/taxes on 1 % steps, as the registry's grid-sum rules expect.
The same (sf, seed) gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MKTSEG = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PNAMES = [
    f"{a} {b}"
    for a in "blue cold hot large new old red small".split()
    for b in "anvil bolt gear gizmo plate ring rod widget".split()
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
# lines per order, 1..17 (mean ~4)
LINES_PMF = np.array(
    [11016, 21814, 29500, 29097, 23631, 15625, 8941, 4407, 1959, 818,
     292, 93, 29, 10, 1, 2, 1],
    dtype=float,
)
LINES_PMF /= LINES_PMF.sum()
N_EMBEDDINGS = 500
EMBED_DIM = 64


def _money(rng, n, lo_cents, hi_cents):
    return rng.integers(lo_cents, hi_cents, n) / 100.0


def _days(rng, n, start, end):
    span = (np.datetime64(end) - np.datetime64(start)).astype(int) + 1
    return np.datetime64(start, "us") + rng.integers(0, span, n).astype(
        "timedelta64[D]"
    )


def _write(path: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pydict(cols, schema=schema), path)


def generate(dst: str, sf: float, seed: int = 42) -> None:
    """Write every table into `dst` (which must exist)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(1_500, int(1_500_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))

    _write(
        f"{dst}/region.parquet",
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
        pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    )
    nk = np.arange(25, dtype=np.int32)
    _write(
        f"{dst}/nation.parquet",
        {
            "n_nationkey": nk,
            "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": nk % 5,
        },
        pa.schema(
            [
                ("n_nationkey", pa.int32()),
                ("n_name", pa.string()),
                ("n_regionkey", pa.int32()),
            ]
        ),
    )

    ck = np.arange(n_cust, dtype=np.int64)
    _write(
        f"{dst}/customer.parquet",
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -100_000, 1_000_000),
            "c_mktsegment": np.array(MKTSEG)[rng.integers(0, 5, n_cust)],
        },
        pa.schema(
            [
                ("c_custkey", pa.int64()),
                ("c_name", pa.string()),
                ("c_nationkey", pa.int32()),
                ("c_acctbal", pa.float64()),
                ("c_mktsegment", pa.string()),
            ]
        ),
    )

    sk = np.arange(n_supp, dtype=np.int64)
    _write(
        f"{dst}/supplier.parquet",
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -100_000, 1_000_000),
        },
        pa.schema(
            [
                ("s_suppkey", pa.int64()),
                ("s_name", pa.string()),
                ("s_nationkey", pa.int32()),
                ("s_acctbal", pa.float64()),
            ]
        ),
    )

    pk = np.arange(n_part, dtype=np.int64)
    _write(
        f"{dst}/part.parquet",
        {
            "p_partkey": pk,
            "p_name": np.array(PNAMES)[rng.integers(0, len(PNAMES), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (pk % 1000) / 10.0,
        },
        pa.schema(
            [
                ("p_partkey", pa.int64()),
                ("p_name", pa.string()),
                ("p_brand", pa.string()),
                ("p_type", pa.string()),
                ("p_size", pa.int32()),
                ("p_retailprice", pa.float64()),
            ]
        ),
    )

    ok = np.arange(n_orders, dtype=np.int64)
    _write(
        f"{dst}/orders.parquet",
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": np.array(["F", "O", "P"])[
                rng.integers(0, 3, n_orders)
            ],
            "o_totalprice": _money(rng, n_orders, 100_000, 50_000_000),
            "o_orderdate": _days(rng, n_orders, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(PRIO)[rng.integers(0, 5, n_orders)],
        },
        pa.schema(
            [
                ("o_orderkey", pa.int64()),
                ("o_custkey", pa.int64()),
                ("o_orderstatus", pa.string()),
                ("o_totalprice", pa.float64()),
                ("o_orderdate", pa.timestamp("us")),
                ("o_orderpriority", pa.string()),
            ]
        ),
    )

    n_lines = rng.choice(np.arange(1, 18), size=n_orders, p=LINES_PMF)
    lk = np.repeat(ok, n_lines)
    n_li = len(lk)
    linenum = (
        np.arange(n_li) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1
    ).astype(np.int32)
    _write(
        f"{dst}/lineitem.parquet",
        {
            "l_orderkey": lk,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": linenum,
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": _money(rng, n_li, 90_000, 10_500_000),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        },
        pa.schema(
            [
                ("l_orderkey", pa.int64()),
                ("l_partkey", pa.int64()),
                ("l_suppkey", pa.int64()),
                ("l_linenumber", pa.int32()),
                ("l_quantity", pa.float64()),
                ("l_extendedprice", pa.float64()),
                ("l_discount", pa.float64()),
                ("l_tax", pa.float64()),
                ("l_returnflag", pa.string()),
                ("l_linestatus", pa.string()),
                ("l_shipdate", pa.timestamp("us")),
            ]
        ),
    )

    span_us = int(
        (np.datetime64("2024-01-31") - np.datetime64("2024-01-01"))
        / np.timedelta64(1, "us")
    )
    _write(
        f"{dst}/events.parquet",
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + rng.integers(0, span_us, n_events).astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": np.array(ETYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_events)],
        },
        pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        ),
    )

    g = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM))
    g /= np.linalg.norm(g, axis=1, keepdims=True)
    _write(
        f"{dst}/embeddings.parquet",
        {
            "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
            "embedding": list(g.astype(np.float32)),
            "label": rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32),
        },
        pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
    )


def ensure(root: str, sf: float, seed: int = 42) -> str:
    """Generate the tables under `root` once per (sf, seed); returns the
    table directory. A `_DONE` marker written last makes a half-written
    directory (interrupted run) regenerate."""
    dst = os.path.join(root, f"star-sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(dst, "_DONE")):
        os.makedirs(dst, exist_ok=True)
        generate(dst, sf, seed)
        with open(os.path.join(dst, "_DONE"), "w") as f:
            f.write("ok\n")
    return dst
