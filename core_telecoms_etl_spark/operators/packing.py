"""Global-order operators for training-data assembly: deterministic
shuffle and fixed-budget sequence packing.

Both need a GLOBAL position over a pseudo-random total order — the one
thing a naive window (`Window.orderBy(...)` with no partition) cannot do
at scale, because Spark plans it as a single partition. The scale-safe
shape used here is the classic two-level prefix sum:

1. assign each row a stable hash group (`hash_bucket`, G groups) and
   compute the within-group running position/token-sum with an ordinary
   partitioned window (G-way parallel, one shuffle);
2. aggregate per-group totals — a G-row table — prefix-sum THAT with a
   tiny single-partition window (G ≪ N, milliseconds), and broadcast-join
   the offsets back.

global_position = group_prefix + within_group_position. The total order
is (group, md5(id‖salt), id) — deterministic, engine-portable, and
reproducible on any cluster size. The DuckDB oracles compute the same
positions with a plain global window over the identical ORDER BY, so
value checks are exact.

North-star context (no reference counterpart — the reference's pandas
layer has no global-order primitive): an LLM pretraining pipeline needs
(a) a stable global shuffle of documents (training order must be
reproducible and resumable — seeded `df.sample`/`orderBy(rand())` are
neither across engines or partitionings) and (b) packing of tokenized
docs into fixed token-budget training sequences (GPT-style concat
packing: documents are laid head-to-tail along the shuffled order and
cut every `budget` tokens; `seq_id` is the sequence holding the doc's
FIRST token).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from core_telecoms_etl_spark.operators.sampling import hash_bucket


def _grouped_order(
    df: DataFrame, id_col: str, salt: str, n_groups: int
) -> tuple[DataFrame, Window]:
    """Attach the (group, order-key) pair defining the global total order
    and return the within-group window frame."""
    keyed = df.withColumn(
        "__grp", hash_bucket(id_col, n_groups, salt)
    ).withColumn(
        "__ord", F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    )
    w = (
        Window.partitionBy("__grp")
        .orderBy("__ord", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return keyed, w


def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    *,
    salt: str = "",
    n_groups: int = 1024,
    pos_col: str = "shuffle_pos",
) -> DataFrame:
    """Stable pseudo-random global position (0-based) for every row.
    Two-level prefix sum — no single-partition global window; one
    shuffle on the hash group + one broadcast of the G-row offsets."""
    keyed, w = _grouped_order(df, id_col, salt, n_groups)
    keyed = keyed.withColumn("__rn", F.count("*").over(w))
    # Group totals are read OFF the running count (max of a running
    # count = the group's row count), not re-aggregated from the raw
    # input: a groupBy over `keyed`'s pre-window lineage re-evaluates
    # the ENTIRE upstream plan a second time (measured on
    # training_pipeline, whose upstream is the composed quality→dedup→
    # decontaminate chain), while this agg sits on top of the window's
    # own hashpartitioning(__grp) exchange — no second exchange, and
    # AQE exchange reuse feeds the broadcast build side from the same
    # shuffle files the probe side reads (r15 optimization round).
    totals = keyed.groupBy("__grp").agg(F.max("__rn").alias("__n"))
    # the G-row offsets prefix sum IS meant to run single-partition (G ≪ N);
    # partition on pmod(__grp, 1) — constantly 0 but not constant-foldable —
    # so WindowExec doesn't emit its "No Partition Defined" warning for a
    # stage that is deliberately and harmlessly single-partition
    wg = Window.partitionBy(F.pmod(F.col("__grp"), F.lit(1))).orderBy(
        "__grp"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    offsets = totals.select(
        "__grp", (F.sum("__n").over(wg) - F.col("__n")).alias("__prefix")
    )
    return (
        keyed.join(F.broadcast(offsets), "__grp")
        .withColumn(
            pos_col, (F.col("__prefix") + F.col("__rn") - 1).cast("long")
        )
        .drop("__grp", "__ord", "__rn", "__prefix")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    *,
    budget: int = 2048,
    salt: str = "",
    n_groups: int = 1024,
) -> DataFrame:
    """Concat-style sequence packing: documents are laid head-to-tail
    along the deterministic shuffle order and cut every `budget` tokens.
    Emits (id, n_tokens, seq_id, seq_offset) where `seq_id` is the
    training sequence containing the doc's first token and `seq_offset`
    its token offset inside that sequence. A doc longer than
    budget - seq_offset spans into the following sequence(s), exactly as
    concat packing intends — no padding, no truncation here; the
    downstream tokenizer slices by (seq_id, seq_offset).

    Same two-level prefix-sum shape as `deterministic_shuffle`, summing
    token counts instead of row counts."""
    keyed, w = _grouped_order(df, id_col, salt, n_groups)
    keyed = keyed.withColumn("__cum", F.sum(token_count_col).over(w))
    # max of the running sum = the group's token total, because token
    # counts are non-negative, so __cum is non-decreasing within the
    # group (NULL counts are skipped by both forms). Same
    # single-evaluation / single-exchange rationale as
    # deterministic_shuffle above.
    totals = keyed.groupBy("__grp").agg(
        F.max("__cum").alias("__t"), F.min(token_count_col).alias("__min")
    )
    # A negative count (bad upstream data) would break that identity and
    # silently corrupt the packing offsets, so the contract is ENFORCED,
    # not just documented (ADVICE r15): the group's min count rides the
    # G-row totals aggregate and raises there. Checked on the G-row side,
    # one stage owns the failure and the running-sum window stays
    # branch-free. NULL counts pass (a NULL min is no violation).
    totals = totals.select(
        "__grp",
        F.when(
            F.col("__min") < 0,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"pack_sequences: negative {token_count_col} "
                        "violates the non-negative token-count contract: "
                    ),
                    F.col("__min").cast("string"),
                )
            ).cast("long"),
        )
        .otherwise(F.col("__t"))
        .alias("__t"),
    )
    # the G-row offsets prefix sum IS meant to run single-partition (G ≪ N);
    # partition on pmod(__grp, 1) — constantly 0 but not constant-foldable —
    # so WindowExec doesn't emit its "No Partition Defined" warning for a
    # stage that is deliberately and harmlessly single-partition
    wg = Window.partitionBy(F.pmod(F.col("__grp"), F.lit(1))).orderBy(
        "__grp"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    offsets = totals.select(
        "__grp", (F.sum("__t").over(wg) - F.col("__t")).alias("__prefix")
    )
    start = F.col("__prefix") + F.col("__cum") - F.col(token_count_col)
    return (
        keyed.join(F.broadcast(offsets), "__grp")
        .withColumn("seq_id", F.floor(start / budget).cast("long"))
        .withColumn("seq_offset", F.pmod(start, F.lit(budget)).cast("long"))
        .drop("__grp", "__ord", "__cum", "__prefix")
    )
