"""Global rank + prefix sums over a total order, without a global sort window.

A ``row_number() OVER (ORDER BY ...)`` (or a running ``SUM``) with no
PARTITION BY funnels the entire table through ONE task — the
single-partition-window scale killer. This module is the one copy of the
range-partition + collected-offset algorithm; win_ntile_deciles,
customer_rfm_segments and pack_token_shards all run on it:

  1. ``repartitionByRange`` on the total order (Spark samples range bounds,
     so partitions are balanced);
  2. per-partition ``row_number`` / running ``SUM`` (each partition sorts
     locally — parallel, spillable);
  3. collect ONE tiny aggregate row per partition (``nparts`` rows — the
     documented tiny-by-construction collect) and broadcast the exclusive
     prefix offsets back;
  4. global rank / prefix sum = local value + partition offset.

Bit-identical to the serial window at any scale. Callers must pass a total
order (``order_cols`` must break all ties) or per-partition row numbering is
nondeterministic.

Consumers: stats_ks_mannwhitney (cumulative sample counts),
agg_gini_concentration (rank-weighted revenue sums), the exact NTILE
(``global_ntile``), token-shard packing (operators/packing.py), and any
future exact order-statistic operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..session import pin


def ranged_prefix(
    spark: SparkSession,
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    nparts: int = 32,
) -> tuple[DataFrame, dict[str, int]]:
    """Attach a global 1-based rank ``_r`` and, for each ``c`` in
    ``sum_cols``, an inclusive prefix sum ``cum_<c>`` over the total order
    ``order_cols``. Returns ``(out_df, totals)`` where ``totals`` maps
    ``"_n"`` to the row count and each sum col to its grand total (exact
    Python ints — handy as literals for closed-form expressions).

    ``sum_cols`` must be integer-typed; prefix sums are exact BIGINT.

    Pinned-frame rule: the intermediate range-partitioned frame is pinned
    (``session.pin``; consumed twice: the offset collect here, and the
    downstream plan) and MUST stay pinned until the caller's terminal
    action — the offsets were collected from ONE evaluation of the
    (sampled, therefore nondeterministic) range partitioning, and an
    uncached re-evaluation could re-draw the bounds and misalign the
    offsets. Call ``session.release()`` after that action.
    """
    ranged = (
        df.repartitionByRange(nparts, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .transform(pin)
    )
    aggs = [F.count("*").alias("_n")] + [
        F.sum(c).cast("long").alias(f"_s_{c}") for c in sum_cols
    ]
    part = {r["_pid"]: r for r in ranged.groupBy("_pid").agg(*aggs).collect()}
    acc_n, acc = 0, {c: 0 for c in sum_cols}
    offsets = []
    for pid in sorted(part):
        offsets.append(tuple([pid, acc_n] + [acc[c] for c in sum_cols]))
        acc_n += part[pid]["_n"]
        for c in sum_cols:
            acc[c] += part[pid][f"_s_{c}"] or 0
    schema = "_pid int, _off long" + "".join(f", _off_{c} long" for c in sum_cols)
    off_df = spark.createDataFrame(offsets, schema)
    wrn = W.partitionBy("_pid").orderBy(*order_cols)
    wcum = wrn.rowsBetween(W.unboundedPreceding, 0)
    out = ranged.join(F.broadcast(off_df), "_pid").withColumn(
        "_r", (F.col("_off") + F.row_number().over(wrn)).cast("long")
    )
    for c in sum_cols:
        out = out.withColumn(
            f"cum_{c}",
            (F.col(f"_off_{c}") + F.sum(c).over(wcum)).cast("long"),
        )
    drop = ["_pid", "_off"] + [f"_off_{c}" for c in sum_cols]
    totals: dict[str, int] = {"_n": acc_n, **{c: int(acc[c]) for c in sum_cols}}
    return out.drop(*drop), totals


def global_ntile(
    spark: SparkSession, df: DataFrame, n: int, order_cols: list[str], out_col: str
) -> DataFrame:
    """Exact SQL ``ntile(n) OVER (ORDER BY order_cols)`` as ``out_col``, with
    no global sort window: the global rank from ``ranged_prefix``, then
    ntile's floor-division fill rule in closed form (the first
    ``total % n`` tiles hold one extra row). Bit-identical to ntile() at
    any scale; ``order_cols`` must be a total order."""
    ranked, totals = ranged_prefix(spark, df, order_cols, [])
    base_sz, rem = divmod(totals["_n"], n)
    pivot = rem * (base_sz + 1)
    if base_sz == 0:
        tile_expr = "CAST(_r AS INT)"
    else:
        tile_expr = (
            f"CAST(CASE WHEN _r <= {pivot} THEN (_r - 1) DIV {base_sz + 1} + 1 "
            f"ELSE {rem} + (_r - 1 - {pivot}) DIV {base_sz} + 1 END AS INT)"
        )
    return ranked.withColumn(out_col, F.expr(tile_expr)).drop("_r")
