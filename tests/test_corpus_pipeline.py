"""End-to-end corpus-cleaning pipeline over the documents fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_for_dumdums_spark.operators.corpus import attrition_report, clean_corpus

from .conftest import SF_SMOKE


def test_clean_corpus_invariants(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cleaned = clean_corpus(docs)
    rows = cleaned.collect()
    assert 0 < len(rows) < docs.count()

    # every survivor passed every gate
    assert all(r["predicted_lang"] == "en" for r in rows)
    assert all(r["quality_bucket"] == "ok" for r in rows)
    assert all(r["n_tokens"] >= 20 for r in rows)

    # no surviving exact or fingerprint duplicates
    n = cleaned.count()
    assert cleaned.select(F.md5("text")).distinct().count() == n
    fp = F.md5(
        F.concat_ws(
            " ", F.sort_array(F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+")))
        )
    )
    assert cleaned.select(fp.alias("fp")).distinct().count() == n

    # deterministic: same input → same survivor set
    again = {r["doc_id"] for r in clean_corpus(docs).collect()}
    assert {r["doc_id"] for r in rows} == again

    # dedup keeps the LOWEST doc_id of each duplicate group: every dropped
    # doc whose digest survives must have a smaller surviving doc_id
    report = attrition_report(docs, cleaned).collect()[0]
    assert report["n_raw"] == docs.count()
    assert report["n_kept"] == n
    assert report["n_dropped"] == report["n_raw"] - n
    assert 0 < report["keep_rate_pct"] < 100


def test_clean_corpus_plan_is_two_shuffles(spark):
    """The row-local gates add no exchanges; only the two digest windows
    shuffle (plus nothing else before the output)."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = clean_corpus(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan


def test_clean_corpus_minhash_stage(spark):
    """With the banded-LSH stage on, the cleaned corpus additionally drops
    MinHash bucket-mates (keeping the lowest doc_id of each candidate pair)
    and the attrition report counts those drops explicitly."""
    from etl_for_dumdums_spark.operators.corpus import minhash_neardup_candidates

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    base = clean_corpus(docs)
    with_mh = clean_corpus(docs, minhash_neardup=True)

    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    mh_ids = {r["doc_id"] for r in with_mh.select("doc_id").collect()}
    # the stage only removes docs, never adds
    assert mh_ids <= base_ids

    cand = minhash_neardup_candidates(base).collect()
    assert cand, "smoke fixture must produce MinHash candidates (non-vacuous)"
    expected_drops = {r["db"] for r in cand}
    assert base_ids - mh_ids == expected_drops
    # every dropped doc keeps a smaller-id mate in the survivor set
    keep_of = {r["db"]: r["da"] for r in cand}
    assert all(keep_of[d] < d for d in expected_drops)

    report = attrition_report(docs, with_mh, fingerprint=base).collect()[0]
    assert report["n_after_fingerprint"] == len(base_ids)
    assert report["n_kept"] == len(mh_ids)
    assert report["n_after_fingerprint"] - report["n_kept"] == len(expected_drops)


def test_minhash_candidates_hot_bucket_cap(spark):
    """Buckets above the cap never enter the pair join (same contract as
    dedup._MAX_BUCKET / similarity._MAX_SIM_BUCKET): forcing cap=1 must
    remove every candidate pair, and a huge cap must match the default."""
    from etl_for_dumdums_spark.operators.corpus import minhash_neardup_candidates

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    base = clean_corpus(docs)
    assert minhash_neardup_candidates(base, max_bucket=1).count() == 0
    default = minhash_neardup_candidates(base).count()
    uncapped = minhash_neardup_candidates(base, max_bucket=10**9).count()
    assert default <= uncapped and uncapped > 0


def test_corpus_clean_report_matches_operators(spark):
    """The catalog accounting query must describe the REAL operator pipeline:
    stage counts monotone and the two operator-backed counts exact."""
    from etl_for_dumdums_spark.catalog import load_all
    from etl_for_dumdums_spark.catalog.corpus_report import corpus_clean_report

    load_all()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    row = corpus_clean_report(spark, SF_SMOKE).collect()[0]
    assert (
        row["n_raw"]
        >= row["n_after_gates"]
        >= row["n_after_exact"]
        >= row["n_after_fingerprint"]
        >= row["n_kept"]
        > 0
    )
    assert row["n_after_fingerprint"] == clean_corpus(docs).count()
    assert row["n_kept"] == clean_corpus(docs, minhash_neardup=True).count()
    assert row["n_dropped"] == row["n_raw"] - row["n_kept"]


def test_pack_cleaned_corpus_stage(spark):
    from pyspark.sql import functions as F

    from etl_for_dumdums_spark.catalog import Tables
    from etl_for_dumdums_spark.operators.corpus import clean_corpus, pack_cleaned_corpus

    from .conftest import SF_SMOKE as _SF

    docs = Tables(spark, _SF).documents
    cleaned = clean_corpus(docs)
    packed = pack_cleaned_corpus(cleaned, shard_tokens=2000)
    assert packed.count() == cleaned.count()  # packing drops nothing
    stats = packed.groupBy("shard_id").agg(F.sum("n_tokens").alias("tok")).collect()
    assert len(stats) > 1  # non-vacuous: multiple shards at the smoke SF
    max_doc = cleaned.agg(F.max("n_tokens")).collect()[0][0]
    assert all(r["tok"] < 2000 + max_doc for r in stats)


def test_chunk_and_pack_corpus_stage(spark):
    from pyspark.sql import functions as F

    from etl_for_dumdums_spark.catalog import Tables
    from etl_for_dumdums_spark.operators.corpus import chunk_and_pack_corpus, clean_corpus
    from etl_for_dumdums_spark.session import pin

    from .conftest import SF_SMOKE as _SF

    docs = Tables(spark, _SF).documents
    cleaned = clean_corpus(docs)
    packed = pin(chunk_and_pack_corpus(cleaned, shard_tokens=500))
    rows = packed.orderBy("chunk_key").collect()
    # every cleaned doc survives into >= 1 chunk
    assert packed.select("doc_id").distinct().count() == cleaned.count()
    assert len(rows) > cleaned.count()  # non-vacuous: some docs chunked
    # shard ids are monotone along the deterministic chunk order
    sids = [r["shard_id"] for r in rows]
    assert sids == sorted(sids)
    # each shard stays within budget + one chunk of slack
    stats = packed.groupBy("shard_id").agg(F.sum("n_tok").alias("tok")).collect()
    assert len(stats) > 1
    assert all(r["tok"] <= 500 + 32 for r in stats)
    # chunks carry their payload for the training write
    assert "chunk_text" in packed.columns
