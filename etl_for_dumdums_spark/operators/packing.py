"""Token-budget shard packing — the output side of a training-data
pipeline: assign documents to contiguous shards of ~``shard_tokens``
tokens each (the sequence-packing / shard-manifest step before writing
training data), deterministically and without a global sort window.

Same scale shape as the distributed exact NTILE: the global cumulative
token sum comes from ``operators/ranked.ranged_prefix`` (range partitions,
per-partition running sums, collected per-partition offsets), and the
shard id follows from each document's end position. A naive
``sum() OVER (ORDER BY ...)`` funnels the corpus through one task; this
keeps the cumsum fully parallel and bit-identical to the serial result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ranked import ranged_prefix


def assign_token_shards(
    df: DataFrame,
    id_col: str,
    token_col: str,
    shard_tokens: int,
    n_parts: int = 32,
) -> DataFrame:
    """Add a ``shard_id`` column: contiguous-by-id greedy packing where a
    doc belongs to the shard its cumulative END position falls in
    (shard s covers cumulative tokens (s*B, (s+1)*B]). Deterministic for
    any partitioning; equals the single-pass serial cumsum rule exactly.
    ``id_col`` must be unique (it is the total order), and the result
    follows ``ranged_prefix``'s pinned-frame rule."""
    cum = f"cum_{token_col}"
    out, _ = ranged_prefix(df.sparkSession, df, [id_col], [token_col], n_parts)
    return out.withColumn(
        "shard_id", ((F.col(cum) - 1) / shard_tokens).cast("long")
    ).drop("_r", cum)
