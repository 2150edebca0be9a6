"""Token-shard packing must equal the serial cumulative-sum rule exactly
and satisfy the packing invariants (conservation, contiguity, budget)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_for_dumdums_spark import session
from etl_for_dumdums_spark.operators.packing import assign_token_shards
from etl_for_dumdums_spark.session import release

from .conftest import SF_SMOKE

BUDGET = 5000


def _docs(spark):
    from etl_for_dumdums_spark.catalog import Tables

    docs = Tables(spark, SF_SMOKE).documents
    return docs.select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens")
    )


def test_matches_serial_cumsum(spark):
    d = _docs(spark)
    got = {
        r["doc_id"]: r["shard_id"]
        for r in assign_token_shards(d, "doc_id", "n_tokens", BUDGET).collect()
    }
    rows = sorted(
        ((r["doc_id"], r["n_tokens"]) for r in d.collect()), key=lambda x: x[0]
    )
    cum = 0
    for doc_id, n in rows:
        cum += n
        assert got[doc_id] == (cum - 1) // BUDGET, (doc_id, got[doc_id], cum)
    assert len(got) == len(rows) and len(got) > 0


def test_packing_invariants(spark):
    d = _docs(spark)
    out = assign_token_shards(d, "doc_id", "n_tokens", BUDGET)
    stats = (
        out.groupBy("shard_id")
        .agg(F.sum("n_tokens").alias("tok"), F.count("*").alias("n"))
        .collect()
    )
    shard_ids = sorted(r["shard_id"] for r in stats)
    assert shard_ids == list(range(len(shard_ids)))  # contiguous from 0
    max_doc = d.agg(F.max("n_tokens")).collect()[0][0]
    for r in stats:
        assert r["tok"] < BUDGET + max_doc  # budget + one boundary doc
    # shard ids are monotone in doc order
    seq = [r["shard_id"] for r in out.orderBy("doc_id").collect()]
    assert all(a <= b for a, b in zip(seq, seq[1:]))


def test_pins_registry_releases_intermediate_cache(spark):
    """Library-caller path for the pinned-frame rule (r4 advice #7/
    verdict item #7): both operators pin their range-partitioned
    intermediate, and release() after the terminal action leaves no
    storage behind."""
    from etl_for_dumdums_spark.operators.ranked import ranged_prefix

    release()  # drop pins left by earlier tests so the storage
    # assertions below see only ours
    df = spark.range(1, 501).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).alias("n_tok")
    )
    packed = assign_token_shards(df, "doc_id", "n_tok", 1000)
    assert packed.count() == 500  # terminal action
    pref, totals = ranged_prefix(spark, df, ["doc_id"], ["n_tok"])
    assert pref.count() == 500 and totals["_n"] == 500
    assert len(session._PINNED) == 2  # one pin per operator
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getRDDStorageInfo(), "expected live cached storage before release"
    release()
    assert not jsc.getRDDStorageInfo(), "pins released but storage remains"
