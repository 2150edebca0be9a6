"""Corpus-overlap estimation and benchmark-contamination detection
(beyond-reference, training-data scale).

Two operators over a train/test split of the documents table (even/odd
numeric source suffix):

  * ``sketch_kmv_overlap`` — k-minimum-values sketches of the two splits'
    5-gram shingle sets: distinct-cardinality, union, intersection, and
    Jaccard estimates next to their exact values. KMV is the mergeable
    sketch for "how much do these corpora overlap?" when the shingle
    spaces are too large to intersect exactly.
  * ``text_contamination_check`` — the exact detector: which test
    documents share at least one 5-gram shingle with the train split, and
    what fraction of their shingles is covered (micro-averaged). This is
    the standard benchmark-contamination scan run before evaluation.

Cross-engine determinism: shingle identity is its md5-prefix 60-bit
integer (catalog/sketches.py); KMV estimates divide integer-valued
operands once (IEEE-deterministic); contamination ratios are exact
integer counts with a single final division.

Scale design (100 TB):
  * shingling is a map-side explode; the KMV sketch is a global top-k BY
    ASCENDING HASH — Spark executes it as per-partition partial top-k then
    a k-row merge (sort + limit), never a full sort of the shingle space.
  * the contamination join is a SEMI join of test shingles against the
    distinct train-shingle set on the hash — an inverted-index probe that
    cannot explode quadratically (semi joins don't multiply rows). A
    skewed hot shingle only skews the shuffle, and the hash key space is
    uniform by construction.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..session import pin
from . import ROUND_DP as DP
from . import Tables, register
from .sketches import _h_spark, _h_sql

_NGRAM = 5
_KMV_K = 256
_POW60 = float(2**60)  # exactly representable; normalizes the 60-bit hash

# split: even numeric source suffix = train, odd = test
_SPLIT_SQL = "CAST(substr(source, 4) AS INTEGER) % 2"
_SPLIT_SPARK = "CAST(substring(source, 4, 10) AS INT) % 2"

_SHINGLES_SQL = f"""
    toks AS (
      SELECT doc_id, {_SPLIT_SQL} AS split,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS t
      FROM documents),
    shingles AS (
      SELECT doc_id, split,
             {_h_sql(f"array_to_string(t[i:i+{_NGRAM - 1}], ' ')")} AS h
      FROM toks,
      LATERAL (SELECT unnest(generate_series(1, len(t) - {_NGRAM - 1})) AS i) g)"""


def _shingles(t):
    """(doc_id, split, h) — one row per 5-gram shingle occurrence."""
    toks = t.documents.select(
        "doc_id",
        F.expr(_SPLIT_SPARK).alias("split"),
        F.expr(r"split(lower(trim(text)), '\\s+')").alias("t"),
    )
    sh = F.expr(
        f"transform(sequence(0, size(t) - {_NGRAM}), i -> concat_ws(' ', slice(t, i + 1, {_NGRAM})))"
    )
    return toks.select(
        "doc_id", "split", F.explode(sh).alias("s")
    ).select("doc_id", "split", F.expr(_h_spark("s")).alias("h"))


# ---------------------------------------------------------------------------
# KMV overlap sketch
# ---------------------------------------------------------------------------
def _kmv_sql() -> str:
    # ab is the ONLY expensive node (shingle explode + DISTINCT): everything
    # downstream reads it. Without MATERIALIZED, DuckDB inlined the plain
    # a/b CTEs into their 4 references each, re-running the ~1B-row explode
    # per reference — disk-full at the 1000x sweep (r7). The exact counts
    # are single scans of ab: each h appears once or twice (once per split),
    # so n_union = distinct h and n_inter = rows - distinct h.
    k = _KMV_K
    return f"""
    WITH {_SHINGLES_SQL},
    ab AS MATERIALIZED (SELECT DISTINCT split, h FROM shingles),
    a AS (SELECT h FROM ab WHERE split = 0),
    b AS (SELECT h FROM ab WHERE split = 1),
    ka AS MATERIALIZED (SELECT h FROM a ORDER BY h LIMIT {k}),
    kb AS MATERIALIZED (SELECT h FROM b ORDER BY h LIMIT {k}),
    ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) u ORDER BY h LIMIT {k}),
    tau AS MATERIALIZED (SELECT max(h) AS tau FROM ku),
    k_inter AS (
      SELECT count(*) AS ki FROM ka JOIN kb USING (h) CROSS JOIN tau WHERE h <= tau),
    est AS (
      SELECT ({k} - 1) * {_POW60} / (SELECT max(h) FROM ka) AS est_train,
             ({k} - 1) * {_POW60} / (SELECT max(h) FROM kb) AS est_test,
             ({k} - 1) * {_POW60} / (SELECT tau FROM tau)   AS est_union,
             (SELECT ki FROM k_inter) AS ki),
    exact AS (
      SELECT CAST(count_if(split = 0) AS BIGINT) AS n_train,
             CAST(count_if(split = 1) AS BIGINT) AS n_test,
             count(DISTINCT h) AS n_union,
             count(*) - count(DISTINCT h) AS n_inter
      FROM ab)
    SELECT {k} AS k,
           n_train, round(est_train, {DP}) AS est_train,
           n_test,  round(est_test, {DP})  AS est_test,
           n_union, round(est_union, {DP}) AS est_union,
           n_inter,
           round(CAST(ki AS DOUBLE) / {k} * est_union, {DP}) AS est_inter,
           round(CAST(n_inter AS DOUBLE) / n_union, {DP}) AS exact_jaccard,
           round(CAST(ki AS DOUBLE) / {k}, {DP}) AS est_jaccard
    FROM exact CROSS JOIN est
    """


@register("sketch_kmv_overlap", extra=True, sql=_kmv_sql())
def sketch_kmv_overlap(spark, sf_dir):
    """KMV union/intersection/Jaccard estimates vs exact, one row."""
    t = Tables(spark, sf_dir)
    sh = pin(_shingles(t))
    k = _KMV_K
    a = sh.filter(F.col("split") == 0).select("h").distinct()
    b = sh.filter(F.col("split") == 1).select("h").distinct()
    # global ascending top-k: per-partition partial top-k + k-row merge
    ka = pin(a.orderBy("h").limit(k))
    kb = pin(b.orderBy("h").limit(k))
    ku = ka.union(kb).distinct().orderBy("h").limit(k)
    tau = ku.agg(F.max("h").alias("tau"))
    ki = (
        ka.join(kb, "h")
        .crossJoin(F.broadcast(tau))
        .filter(F.col("h") <= F.col("tau"))
        .agg(F.count("*").alias("ki"))
    )
    stats = (
        a.agg(F.count("*").alias("n_train"), F.max(F.lit(1)).alias("j"))
        .join(b.agg(F.count("*").alias("n_test"), F.max(F.lit(1)).alias("j")), "j")
        .join(
            a.union(b).distinct().agg(F.count("*").alias("n_union"), F.max(F.lit(1)).alias("j")),
            "j",
        )
        .join(a.join(b, "h").agg(F.count("*").alias("n_inter"), F.max(F.lit(1)).alias("j")), "j")
        .join(ka.agg(F.max("h").alias("mka"), F.max(F.lit(1)).alias("j")), "j")
        .join(kb.agg(F.max("h").alias("mkb"), F.max(F.lit(1)).alias("j")), "j")
        .join(tau.withColumn("j", F.lit(1)), "j")
        .join(ki.withColumn("j", F.lit(1)), "j")
    )
    km1 = float(k - 1)
    return stats.select(
        F.lit(k).alias("k"),
        "n_train",
        F.round(F.lit(km1) * _POW60 / F.col("mka"), DP).alias("est_train"),
        "n_test",
        F.round(F.lit(km1) * _POW60 / F.col("mkb"), DP).alias("est_test"),
        "n_union",
        F.round(F.lit(km1) * _POW60 / F.col("tau"), DP).alias("est_union"),
        "n_inter",
        F.round(
            F.col("ki").cast("double") / k * (F.lit(km1) * _POW60 / F.col("tau")), DP
        ).alias("est_inter"),
        F.round(F.col("n_inter").cast("double") / F.col("n_union"), DP).alias("exact_jaccard"),
        F.round(F.col("ki").cast("double") / k, DP).alias("est_jaccard"),
    )


# ---------------------------------------------------------------------------
# Exact contamination scan
# ---------------------------------------------------------------------------
@register(
    "text_contamination_check",
    extra=True,
    sql=f"""
    WITH {_SHINGLES_SQL},
    train_set AS (SELECT DISTINCT h FROM shingles WHERE split = 0),
    test_docs AS (
      SELECT doc_id, count(*) AS n_shingles,
             count(*) FILTER (WHERE h IN (SELECT h FROM train_set)) AS n_matched
      FROM shingles WHERE split = 1 GROUP BY doc_id)
    SELECT (SELECT count(DISTINCT doc_id) FROM shingles WHERE split = 0) AS n_train_docs,
           count(*) AS n_test_docs,
           CAST(count_if(n_matched > 0) AS BIGINT) AS n_contaminated,
           round(100.0 * count_if(n_matched > 0) / count(*), 2) AS pct_contaminated,
           CAST(sum(n_matched) AS BIGINT) AS sum_matched,
           CAST(sum(n_shingles) AS BIGINT) AS sum_shingles,
           round(CAST(sum(n_matched) AS DOUBLE) / sum(n_shingles), {DP}) AS overlap_frac
    FROM test_docs
    """,
)
def text_contamination_check(spark, sf_dir):
    """Which test docs share a 5-gram with train, and how much (micro-avg)."""
    t = Tables(spark, sf_dir)
    sh = _shingles(t)
    train_set = sh.filter(F.col("split") == 0).select("h").distinct()
    test = sh.filter(F.col("split") == 1)
    matched = test.join(train_set, "h", "left_semi").groupBy("doc_id").agg(
        F.count("*").alias("n_matched")
    )
    test_docs = (
        test.groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"))
        .join(matched, "doc_id", "left")
        .select("doc_id", "n_shingles", F.coalesce("n_matched", F.lit(0)).alias("n_matched"))
    )
    n_train_docs = (
        sh.filter(F.col("split") == 0)
        .agg(F.countDistinct("doc_id").alias("n_train_docs"))
        .withColumn("j", F.lit(1))
    )
    return (
        test_docs.agg(
            F.count("*").alias("n_test_docs"),
            F.count_if(F.col("n_matched") > 0).cast("bigint").alias("n_contaminated"),
            F.round(100.0 * F.count_if(F.col("n_matched") > 0) / F.count("*"), 2).alias(
                "pct_contaminated"
            ),
            F.sum("n_matched").cast("bigint").alias("sum_matched"),
            F.sum("n_shingles").cast("bigint").alias("sum_shingles"),
            F.round(
                F.sum("n_matched").cast("double") / F.sum("n_shingles"), DP
            ).alias("overlap_frac"),
        )
        .withColumn("j", F.lit(1))
        .join(F.broadcast(n_train_docs), "j")
        .select(
            "n_train_docs",
            "n_test_docs",
            "n_contaminated",
            "pct_contaminated",
            "sum_matched",
            "sum_shingles",
            "overlap_frac",
        )
    )
