"""Build the skewed-key differential corpus: copy an SF dir but re-key a
deterministic ~20% of fact rows onto ONE hot key (hash-masked, so the
corpus is bit-reproducible):

    python tools/make_skew_testdata.py               # sf0.01 -> /tmp
    SF_DIR=/tmp/spark_graft_skew python tools/check_oracle.py --jobs 6

Why it exists (r14 verdict ask #2): the salted paths
(`operators/joins.salted_groupby` / `salted_join`) and
`key_skew_profile`'s routing advice were value-verified only on
near-uniform TPC-H keys, where salting does no real work — a salting
bug that only bites when one reducer actually receives the hot key's
mass (wrong merge of partials, dropped salt lanes, tie-break drift
under the reordered accumulation) was invisible to every previous
corpus. Here `orders.o_custkey` and `events.user_id` each send ~20% of
fact mass to key 0 (hot-key skew_ratio ≈ 0.2·n_keys — ~300× at sf0.01,
the "one whale customer / one bot user" shape every production fact
table grows), so the full differential sweep exercises every
orders-per-customer and events-per-user path under real skew. The
plain vs salted vs AQE-skew-split timings on this corpus are in
BASELINE.md round-15.

Hot value 0 EXISTS on the dimension side: this synthetic testdata is
0-based (min c_custkey = min user_id = 0, unlike 1-based TPC-H), so the
hot mass inner-joins to a real customer row and hot-key output is fully
observable — verified per build below, and directly (2,921 / 299,981 /
2,999,658 joined hot orders at sf0.01/1/10; r15 self-review #4 raised
the 1-based suspicion).

Key choice: o_custkey/user_id are GROUP/JOIN keys, not identity.
Primary keys and basket keys (`l_orderkey`) stay untouched — a hot
basket key would make the C(basket,2) co-purchase expansions and the
clique-shaped graph queries quadratic in the hot mass (output-size
blowup, not shuffle skew — a different wall, already guarded by those
operators' tripwires).
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb

# table -> (mask key, column to re-key, hot value, keep-1-in-N inverse)
SKEW = {
    "orders": ("o_orderkey", "o_custkey", 0, 5),
    "events": ("event_id", "user_id", 0, 5),
}


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_skew"
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    for t in tables:
        if t not in SKEW:
            shutil.copy(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
            continue
        key, col, hot, inv = SKEW[t]
        desc = con.sql(f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'").fetchall()
        sel = [
            (
                f"CASE WHEN hash({key} * 17 + 3) % {inv} = 0 "
                f"THEN {hot} ELSE {c} END AS {c}"
                if c == col
                else c
            )
            for (c, *_r) in desc
        ]
        con.execute(
            f"COPY (SELECT {', '.join(sel)} FROM '{src}/{t}.parquet') "
            f"TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )
        n, total = con.sql(
            f"SELECT sum(CASE WHEN {col} = {hot} THEN 1 ELSE 0 END), "
            f"count(*) FROM '{dst}/{t}.parquet'"
        ).fetchone()
        print(f"{t}: hot {col}={hot} now carries {n}/{total} rows")
    # the hot join key must exist on the dimension side, or every
    # hot-mass join row silently vanishes and the corpus cannot
    # observe hot-key output at all
    n_dim = con.sql(
        f"SELECT count(*) FROM '{dst}/customer.parquet' "
        f"WHERE c_custkey = {SKEW['orders'][2]}"
    ).fetchone()[0]
    assert n_dim == 1, f"hot custkey not in customer dim ({n_dim} rows)"
    print(f"wrote {dst}")


if __name__ == "__main__":
    main()
