"""Advanced composite operators: sessionization, as-of join, exact
percentiles, and the Python-enrichment operator surfaced as a query.

Sessionization and as-of are the two classic operators Spark lacks as
primitives (pyspark guide §Common OLAP patterns); both are implemented the
scalable way — a single ordered window per key, never a range self-join.
"""

from __future__ import annotations

import os

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import ROUND_DP as DP
from . import Tables, register
from .sketches import _h_spark, _h_sql

R = lambda c: F.round(c, DP)  # noqa: E731

_GAP_S = 1800  # 30-minute session gap


# ---------------------------------------------------------------------------
# Sessionization: gap>30min starts a new session (lag + running sum — one
# shuffle on user_id, state bounded per user).
# ---------------------------------------------------------------------------
@register(
    "win_sessionize",
    sql=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN date_diff('second', lag(ts) OVER w, ts) > {_GAP_S}
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM ordered),
    per_session AS (
      SELECT user_id, session_idx, count(*) AS n_events
      FROM sessions GROUP BY user_id, session_idx)
    SELECT count(DISTINCT user_id)              AS n_users,
           count(*)                             AS n_sessions,
           round(avg(n_events), {DP})           AS avg_events_per_session,
           max(n_events)                        AS max_session_events
    FROM per_session
    """,
)
def win_sessionize(spark, sf_dir):
    t = Tables(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = F.col("ts").cast("timestamp").cast("long") - prev.cast("timestamp").cast("long")
    ordered = t.events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(prev.isNull() | (gap > _GAP_S), 1).otherwise(0).alias("new_session"),
    )
    # the cum-sum window tie-breaks on event_id exactly like the flag
    # window above: with duplicate (user_id, ts) rows the two engines'
    # running sums would otherwise disagree on max_session_events
    wsum = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    sessions = ordered.select("user_id", F.sum("new_session").over(wsum).alias("session_idx"))
    per_session = sessions.groupBy("user_id", "session_idx").agg(F.count("*").alias("n_events"))
    return per_session.agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_sessions"),
        R(F.avg("n_events")).alias("avg_events_per_session"),
        F.max("n_events").alias("max_session_events"),
    )


# ---------------------------------------------------------------------------
# As-of join: each purchase matched to the latest strictly-preceding view
# of the same user — implemented as one ordered window over the interleaved
# stream (last_value IGNORE NULLS), not a range self-join. This is the
# scalable as-of shape: cost = sort within user partitions.
# ---------------------------------------------------------------------------
@register(
    "join_asof_prior_view",
    sql=f"""
    WITH tagged AS (
      SELECT user_id, event_id, event_type, ts,
             last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view_ts
      FROM events),
    purchases AS (
      SELECT user_id, prior_view_ts,
             date_diff('second', prior_view_ts, ts) AS gap_s
      FROM tagged WHERE event_type = 'purchase')
    SELECT count(*)                                  AS n_purchases,
           count(prior_view_ts)                      AS n_matched,
           round(avg(gap_s), {DP})                   AS avg_gap_s,
           max(gap_s)                                AS max_gap_s
    FROM purchases
    """,
)
def join_asof_prior_view(spark, sf_dir):
    t = Tables(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    view_ts = F.when(F.col("event_type") == "view", F.col("ts"))
    tagged = t.events.select(
        "user_id",
        "event_type",
        "ts",
        F.last(view_ts, ignorenulls=True).over(w).alias("prior_view_ts"),
    )
    gap = (
        F.col("ts").cast("timestamp").cast("long")
        - F.col("prior_view_ts").cast("timestamp").cast("long")
    )
    purchases = tagged.filter(F.col("event_type") == "purchase").select(
        "prior_view_ts", gap.alias("gap_s")
    )
    return purchases.agg(
        F.count("*").alias("n_purchases"),
        F.count("prior_view_ts").alias("n_matched"),
        R(F.avg("gap_s")).alias("avg_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


# ---------------------------------------------------------------------------
# Tumbling-window aggregation — the batch twin of the Structured Streaming
# surface (streaming/__init__.py uses the identical F.window agg). Daily
# windows are epoch-aligned == calendar-aligned, so the oracle is a plain
# date_trunc.
# ---------------------------------------------------------------------------
@register(
    "stream_tumbling_daily",
    sql=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS window_day,
           event_type,
           count(*) AS n_events,
           round(sum(value), {DP}) AS sum_value
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def stream_tumbling_daily(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), R(F.sum("value")).alias("sum_value"))
        .select(
            F.col("win.start").cast("date").alias("window_day"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_day", "event_type")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing under the oracle gate: opaque binary payloads (text
# bytes as the stand-in) with byte-length + digest metadata — the
# metadata-path of operators/multimodal.py expressed as a query.
# ---------------------------------------------------------------------------
@register(
    "mm_binary_stats",
    sql="""
    SELECT lang,
           count(*) AS n_payloads,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           max(octet_length(encode(text))) AS max_bytes,
           min(sha256(text)) AS first_digest
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
)
def mm_binary_stats(spark, sf_dir):
    t = Tables(spark, sf_dir)
    payload = F.col("text").cast("binary")
    return (
        t.documents.groupBy("lang")
        .agg(
            F.count("*").alias("n_payloads"),
            F.sum(F.octet_length(payload)).alias("total_bytes"),
            F.max(F.octet_length(payload)).alias("max_bytes"),
            F.min(F.sha2(F.col("text"), 256)).alias("first_digest"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Exact percentiles (linear interpolation — Spark `percentile` ≡ DuckDB
# quantile_cont). The approximate path at 100 TB is percentile_approx /
# t-digest; exact is the oracle-checkable baseline.
# ---------------------------------------------------------------------------
@register(
    "agg_percentiles",
    extra=True,
    sql=f"""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), {DP})  AS p50_price,
           round(quantile_cont(l_extendedprice, 0.9), {DP})  AS p90_price,
           round(quantile_cont(l_extendedprice, 0.99), {DP}) AS p99_price,
           round(max(l_extendedprice), {DP})                 AS max_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_percentiles(spark, sf_dir):
    t = Tables(spark, sf_dir)
    # one shared-buffer percentile(col, array(...)) per group instead of
    # three scalar Percentile aggregates (three independent value->count
    # maps + three sorts per group); values identical — same buffer, same
    # interpolation, three percentage points
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
            ).alias("_ps"),
            R(F.max("l_extendedprice")).alias("max_price"),
        )
        .select(
            "l_returnflag",
            R(F.col("_ps")[0]).alias("p50_price"),
            R(F.col("_ps")[1]).alias("p90_price"),
            R(F.col("_ps")[2]).alias("p99_price"),
            "max_price",
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# X2 — the sentiment-enrichment operator (mapInPandas + deterministic stub)
# surfaced as a catalog query; the stub's md5 arithmetic is replicated in
# SQL so even the Python path is oracle-checked.
# ---------------------------------------------------------------------------
@register(
    "enrich_sentiment_stub",
    sql=f"""
    WITH scored AS (
      SELECT lang,
             CASE WHEN length(trim(substr(text, 1, 1000))) < 10 THEN 0.0
                  ELSE ('0x' || substr(md5(substr(text, 1, 1000)), 1, 8))::BIGINT
                       / 4294967295.0 * 2 - 1 END AS score
      FROM documents),
    cat AS (
      SELECT lang, score,
             CASE WHEN score > 0.25 THEN 'positive'
                  WHEN score < -0.25 THEN 'negative'
                  ELSE 'neutral' END AS sentiment_category
      FROM scored)
    SELECT lang, sentiment_category, count(*) AS n_docs,
           round(avg(score), {DP}) AS avg_score
    FROM cat GROUP BY lang, sentiment_category
    ORDER BY lang, sentiment_category
    """,
)
def enrich_sentiment_stub(spark, sf_dir):
    from ..operators.enrich import score_sentiment

    t = Tables(spark, sf_dir)
    scored = score_sentiment(t.documents.select("lang", "text"), text_col="text")
    return (
        scored.groupBy("lang", "sentiment_category")
        .agg(F.count("*").alias("n_docs"), R(F.avg("sentiment_score")).alias("avg_score"))
        .orderBy("lang", "sentiment_category")
    )


# ---------------------------------------------------------------------------
# Sliding-window aggregation (batch twin of streaming/__init__.py's
# sliding_event_stream): window('7 days', slide '1 day') assigns each event
# to the 7 day-aligned windows covering it. The oracle mirrors Spark's
# epoch-aligned window generation with an explicit 0..6-day start explode.
# Overlap factor is window/slide = 7 — constant, so output volume stays
# linear in input at any scale.
# ---------------------------------------------------------------------------
@register(
    "stream_sliding_weekly",
    extra=True,
    sql=f"""
    WITH expanded AS (
      SELECT CAST(date_trunc('day', ts) - k * INTERVAL 1 DAY AS DATE) AS window_start,
             event_type, user_id, value
      FROM events, (SELECT unnest(generate_series(0, 6)) AS k))
    SELECT window_start, event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(value), {DP}) AS sum_value
    FROM expanded
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def stream_sliding_weekly(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(
            F.window("ts", "7 days", "1 day").alias("win"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            R(F.sum("value")).alias("sum_value"),
        )
        .select(
            F.col("win.start").cast("date").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Nearest-direction as-of join (pandas merge_asof direction='nearest'):
# match each purchase to its nearest click by the same user within a
# tolerance, preferring the earlier click on exact ties. Shape: one tagged
# union stream, one user_id shuffle, two frame-bounded window passes
# (backward max / forward min) — never a range self-join, so cost stays
# O(n log n) per key at any scale. Gap arithmetic is integer epoch micros.
# ---------------------------------------------------------------------------
_ASOF_TOL_S = 600


@register(
    "join_asof_nearest",
    extra=True,
    sql=f"""
    WITH stream AS (
      SELECT user_id, ts, event_type, event_id FROM events
      WHERE event_type IN ('click', 'purchase')),
    passes AS (
      SELECT user_id, ts, event_type,
             max(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_type, event_id
                     ROWS UNBOUNDED PRECEDING) AS prev_click,
             min(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_type, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_click
      FROM stream),
    purchases AS (
      SELECT epoch_us(ts) - epoch_us(prev_click) AS back_us,
             epoch_us(next_click) - epoch_us(ts) AS fwd_us
      FROM passes WHERE event_type = 'purchase'),
    matched AS (
      SELECT CASE
               WHEN back_us IS NOT NULL AND back_us <= {_ASOF_TOL_S} * 1000000
                    AND (fwd_us IS NULL OR back_us <= fwd_us OR fwd_us > {_ASOF_TOL_S} * 1000000)
                 THEN 'backward'
               WHEN fwd_us IS NOT NULL AND fwd_us <= {_ASOF_TOL_S} * 1000000
                 THEN 'forward'
               ELSE 'none' END AS match_direction,
             CASE
               WHEN back_us IS NOT NULL AND back_us <= {_ASOF_TOL_S} * 1000000
                    AND (fwd_us IS NULL OR back_us <= fwd_us OR fwd_us > {_ASOF_TOL_S} * 1000000)
                 THEN back_us
               WHEN fwd_us IS NOT NULL AND fwd_us <= {_ASOF_TOL_S} * 1000000
                 THEN fwd_us
             END AS gap_us
      FROM purchases)
    SELECT match_direction,
           count(*) AS n_purchases,
           round(sum(gap_us) * 1.0 / (nullif(count(gap_us), 0) * 1000000), {DP})
             AS avg_gap_sec
    FROM matched GROUP BY match_direction ORDER BY match_direction
    """,
)
def join_asof_nearest(spark, sf_dir):
    t = Tables(spark, sf_dir)
    tol_us = _ASOF_TOL_S * 1_000_000
    stream = t.events.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id", "ts", "event_type", "event_id"
    )
    worder = W.partitionBy("user_id").orderBy("ts", "event_type", "event_id")
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    passes = stream.select(
        "user_id",
        "ts",
        "event_type",
        F.max(click_ts).over(worder.rowsBetween(W.unboundedPreceding, 0)).alias("prev_click"),
        F.min(click_ts).over(worder.rowsBetween(0, W.unboundedFollowing)).alias("next_click"),
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    purchases = passes.filter(F.col("event_type") == "purchase").select(
        (us("ts") - us("prev_click")).alias("back_us"),
        (us("next_click") - us("ts")).alias("fwd_us"),
    )
    back_ok = F.col("back_us").isNotNull() & (F.col("back_us") <= tol_us) & (
        F.col("fwd_us").isNull()
        | (F.col("back_us") <= F.col("fwd_us"))
        | (F.col("fwd_us") > tol_us)
    )
    fwd_ok = F.col("fwd_us").isNotNull() & (F.col("fwd_us") <= tol_us)
    matched = purchases.select(
        F.when(back_ok, "backward").when(fwd_ok, "forward").otherwise("none").alias(
            "match_direction"
        ),
        F.when(back_ok, F.col("back_us")).when(fwd_ok, F.col("fwd_us")).alias("gap_us"),
    )
    return (
        matched.groupBy("match_direction")
        .agg(
            F.count("*").alias("n_purchases"),
            R(
                F.sum("gap_us") * 1.0 / (F.nullif(F.count("gap_us"), F.lit(0)) * 1000000)
            ).alias("avg_gap_sec"),
        )
        .orderBy("match_direction")
    )


# ---------------------------------------------------------------------------
# NTILE decile profiling WITHOUT a global sort window: rank customers into
# 10 account-balance deciles and profile each with exact integer-cent means.
# A naive ntile() OVER (ORDER BY ...) funnels the whole table through ONE
# task — the single-partition-window scale killer. Instead: repartitionByRange
# on the (acctbal, custkey) total order, row_number within each range
# partition, add the collected per-partition offsets (32 small ints — the
# documented tiny-by-construction collect), and apply SQL ntile's exact
# floor-division fill rule in closed form from the global rank. Result is
# bit-identical to the oracle's ntile() at any scale, with no global sort.
# ---------------------------------------------------------------------------
@register(
    "win_ntile_deciles",
    extra=True,
    sql=f"""
    WITH ranked AS (
      SELECT c_acctbal, c_mktsegment,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
             ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      FROM customer)
    SELECT decile,
           count(*) AS n_customers,
           round(min(c_acctbal), {DP}) AS min_bal,
           round(max(c_acctbal), {DP}) AS max_bal,
           round(sum(cents) / (count(*) * 100.0), {DP}) AS avg_bal,
           count(DISTINCT c_mktsegment) AS n_segments
    FROM ranked GROUP BY decile ORDER BY decile
    """,
)
def win_ntile_deciles(spark, sf_dir):
    t = Tables(spark, sf_dir)
    nparts = 32
    base_df = t.customer.select(
        "c_custkey",
        "c_acctbal",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    ranged = (
        base_df.repartitionByRange(nparts, "c_acctbal", "c_custkey")
        .withColumn("pid", F.spark_partition_id())
        .cache()
    )
    counts = {
        r["pid"]: r["n"]
        for r in ranged.groupBy("pid").agg(F.count("*").alias("n")).collect()
    }
    total = sum(counts.values())
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = spark.createDataFrame(offsets, "pid int, off long")
    wloc = W.partitionBy("pid").orderBy("c_acctbal", "c_custkey")
    base_sz, rem = total // 10, total % 10
    pivot = rem * (base_sz + 1)
    if base_sz == 0:
        decile_expr = "CAST(r AS INT)"
    else:
        decile_expr = (
            f"CAST(CASE WHEN r <= {pivot} THEN (r - 1) DIV {base_sz + 1} + 1 "
            f"ELSE {rem} + (r - 1 - {pivot}) DIV {base_sz} + 1 END AS INT)"
        )
    ranked = (
        ranged.withColumn("lr", F.row_number().over(wloc))
        .join(F.broadcast(off_df), "pid")
        .withColumn("r", F.col("off") + F.col("lr"))
        .withColumn("decile", F.expr(decile_expr))
    )
    return (
        ranked.groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            R(F.min("c_acctbal")).alias("min_bal"),
            R(F.max("c_acctbal")).alias("max_bal"),
            R(F.sum("cents") / (F.count("*") * 100.0)).alias("avg_bal"),
            F.count_distinct("c_mktsegment").alias("n_segments"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Constant-memory exact quantiles under the oracle gate: the
# operators/quantile.py counting-selection path (binary search on integer
# cents, one distributed count per probe, NO per-group value buffer — the
# shape that survives 100 TB where Spark's `percentile` buffers every value)
# checked against DuckDB quantile_cont. The Spark side runs the REAL
# operator; the result frame is built from its outputs (the per-probe counts
# are distributed jobs, the final four numbers are driver scalars by
# design). Values interpolate between the same two integer-cent order
# statistics in both engines; compared at ROUND_DP like agg_percentiles.
# ---------------------------------------------------------------------------
_QUANTILE_QS = (0.5, 0.99)  # both probes share the 4-scan bracketed selection (r9)


@register(
    "agg_quantile_counting",
    extra=True,
    # single-scan oracle: the list form of quantile_cont sorts lineitem
    # ONCE for every q (the per-q UNION ALL form re-materialized 600M
    # doubles per branch and dominated the 1000x sweep). MATERIALIZED is
    # load-bearing: DuckDB inlines a plain CTE into each UNION ALL branch
    # (EXPLAIN showed two UNGROUPED_AGGREGATE quantile_cont nodes), which
    # silently restored the sort-per-q cost this CTE exists to avoid.
    sql=f"""
    WITH agg AS MATERIALIZED (
      SELECT quantile_cont(l_extendedprice,
                           [{', '.join(str(q) for q in _QUANTILE_QS)}]) AS vs
      FROM lineitem)
    """
    + " UNION ALL ".join(
        f"""SELECT CAST({q} AS DOUBLE) AS q, round(vs[{i + 1}], {DP})
            AS quantile_price FROM agg"""
        for i, q in enumerate(_QUANTILE_QS)
    )
    + " ORDER BY q",
)
def agg_quantile_counting(spark, sf_dir):
    from ..operators.quantile import exact_quantiles_cents

    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_extendedprice")
    vals = exact_quantiles_cents(li, "l_extendedprice", _QUANTILE_QS)
    rows = [(q, round(v, DP)) for q, v in zip(_QUANTILE_QS, vals)]
    return spark.createDataFrame(rows, "q double, quantile_price double").orderBy("q")


# ---------------------------------------------------------------------------
# Per-column table profile (beyond-reference — the dbt-docs/Great-Expectations
# style summary): null count, exact distinct count, min/max per column of
# `orders` (checks.profile_table: one plain stats aggregate + one 2-stage
# hash-distinct per column, no Expand).
# Monotone reprs keep min/max cross-engine exact: ids as decimal strings,
# price as integer cents, timestamp day-truncated to ISO date. The oracle is
# the explicit per-column UNION ALL a SQL engine would write.
# ---------------------------------------------------------------------------
def _profile_branch_sql(col: str, mn: str, mx: str) -> str:
    return f"""
    SELECT '{col}' AS col_name, count(*) AS n_rows,
           count(*) - count({col}) AS n_null,
           count(DISTINCT {col}) AS n_distinct,
           {mn} AS min_repr, {mx} AS max_repr
    FROM orders"""


@register(
    "profile_table",
    extra=True,
    sql=" UNION ALL ".join(
        [
            _profile_branch_sql(
                "o_orderkey", "CAST(min(o_orderkey) AS VARCHAR)", "CAST(max(o_orderkey) AS VARCHAR)"
            ),
            _profile_branch_sql(
                "o_custkey", "CAST(min(o_custkey) AS VARCHAR)", "CAST(max(o_custkey) AS VARCHAR)"
            ),
            _profile_branch_sql("o_orderstatus", "min(o_orderstatus)", "max(o_orderstatus)"),
            _profile_branch_sql(
                "o_totalprice",
                "CAST(CAST(round(min(o_totalprice) * 100) AS BIGINT) AS VARCHAR)",
                "CAST(CAST(round(max(o_totalprice) * 100) AS BIGINT) AS VARCHAR)",
            ),
            _profile_branch_sql(
                "o_orderdate",
                "CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR)",
                "CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR)",
            ),
            _profile_branch_sql(
                "o_orderpriority", "min(o_orderpriority)", "max(o_orderpriority)"
            ),
        ]
    )
    + " ORDER BY col_name",
)
def profile_table(spark, sf_dir):
    """orders profiled column-by-column in a single pass; price repr is
    integer cents, timestamp repr is the ISO date."""
    from ..checks import profile_table as _profile

    t = Tables(spark, sf_dir)
    reprs = {
        "o_totalprice": lambda c: F.round(c * 100).cast("bigint").cast("string"),
        "o_orderdate": lambda c: c.cast("date").cast("string"),
    }
    return _profile(t.orders, reprs)


# ---------------------------------------------------------------------------
# Join-key skew diagnostic (beyond-reference): the report you run BEFORE
# deciding broadcast / salting / AQE-skew-join for a 100 TB join. For each
# candidate key: distinct-key count, max and p99 group size, exact mean
# group size (floor-division rounding identity — no float sum), and the
# share of all rows held by the single hottest key. skew_ratio =
# max_group / mean_group is the number that picks the strategy
# (operators/skew.py salts when it's high). Each branch is one groupBy +
# one tiny aggregate; the union is 5 independent single-shuffle jobs.
# ---------------------------------------------------------------------------
_SKEW_KEYS = [
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
    ("documents", "lang"),
]


def _skew_branch_sql(table: str, col: str) -> str:
    return f"""
    SELECT '{table}.{col}' AS key_col,
           count(*) AS n_keys,
           CAST(sum(n) AS BIGINT) AS n_rows,
           max(n) AS max_group,
           round(quantile_cont(n, 0.99), {DP}) AS p99_group,
           ((2 * 10000 * CAST(sum(n) AS BIGINT) + count(*)) // (2 * count(*))) / 10000.0
             AS avg_group,
           round(CAST(max(n) AS DOUBLE) / CAST(sum(n) AS BIGINT), {DP}) AS top1_share
    FROM (SELECT {col} AS k, count(*) AS n FROM {table} GROUP BY {col}) g"""


@register(
    "ops_skew_report",
    extra=True,
    sql=" UNION ALL ".join(_skew_branch_sql(t, c) for t, c in _SKEW_KEYS)
    + " ORDER BY key_col",
)
def ops_skew_report(spark, sf_dir):
    """Group-size distribution per candidate join key — the pre-join skew
    diagnostic. Exact integer stats; mean via the floor-division identity."""
    t = Tables(spark, sf_dir)
    branches = []
    for table, col in _SKEW_KEYS:
        g = getattr(t, table).groupBy(col).agg(F.count("*").alias("n"))
        branches.append(
            g.agg(
                F.count("*").alias("n_keys"),
                F.sum("n").cast("bigint").alias("n_rows"),
                F.max("n").alias("max_group"),
                F.round(F.percentile("n", F.lit(0.99)), DP).alias("p99_group"),
                (
                    F.expr(
                        "(2 * 10000 * CAST(sum(n) AS BIGINT) + count(*))"
                        " DIV (2 * count(*))"
                    )
                    / 10000.0
                ).alias("avg_group"),
                F.round(F.max("n").cast("double") / F.sum("n"), DP).alias("top1_share"),
            ).select(F.lit(f"{table}.{col}").alias("key_col"), "*")
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.orderBy("key_col")


# ---------------------------------------------------------------------------
# Referential-integrity orphan audit across every FK edge of the schema —
# the query form of the reference's dbt relationship tests (SURVEY.md §5's
# schema tests; checks.py runs these per-model, this runs the whole graph
# in one result). Per edge: referencing rows, distinct FK values, orphan
# rows (FK value absent from the referenced PK column), and distinct orphan
# keys.
#
# Scale design (100 TB): each fact table is aggregated to (fk, count)
# FIRST, so the orphan join touches ≤ |distinct keys| rows, not the fact
# table — the distinct-key frame joins the dimension PK (broadcast for the
# small dims, shuffle for orders) and sums counts. One scan per edge's fact
# side; no edge ever shuffles raw fact rows twice.
# ---------------------------------------------------------------------------
_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def _ri_edge_sql(fact, fk, dim, pk):
    return f"""
    SELECT '{fact}.{fk}->{dim}' AS edge,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT f.{fk}) AS BIGINT) AS n_distinct_fk,
           CAST(count_if(d.{pk} IS NULL) AS BIGINT) AS n_orphan_rows,
           CAST(count(DISTINCT CASE WHEN d.{pk} IS NULL THEN f.{fk} END)
             AS BIGINT) AS n_orphan_keys
    FROM {fact} f LEFT JOIN {dim} d ON f.{fk} = d.{pk}
    WHERE f.{fk} IS NOT NULL"""


@register(
    "ops_ri_orphans",
    extra=True,
    sql=" UNION ALL ".join(_ri_edge_sql(*e) for e in _FK_EDGES) + " ORDER BY edge",
)
def ops_ri_orphans(spark, sf_dir):
    t = Tables(spark, sf_dir)
    out = None
    for fact, fk, dim, pk in _FK_EDGES:
        # aggregate-first: the join input is the distinct-FK frame, never raw rows
        keys = (
            getattr(t, fact)
            .filter(F.col(fk).isNotNull())
            .groupBy(fk)
            .agg(F.count("*").alias("cnt"))
        )
        dimkeys = getattr(t, dim).select(F.col(pk).alias("__pk")).distinct()
        # only the FIXED-SIZE dims get a broadcast hint; part/supplier/
        # customer/orders grow with SF, so AQE decides for them (r01 lesson)
        if dim in ("nation", "region"):
            dimkeys = F.broadcast(dimkeys)
        joined = keys.join(dimkeys, F.col(fk) == F.col("__pk"), "left")
        edge = joined.agg(
            F.lit(f"{fact}.{fk}->{dim}").alias("edge"),
            F.sum("cnt").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_distinct_fk"),
            F.sum(F.when(F.col("__pk").isNull(), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_orphan_rows"),
            F.count_if(F.col("__pk").isNull()).cast("bigint").alias("n_orphan_keys"),
        )
        out = edge if out is None else out.unionByName(edge)
    return out.orderBy("edge")


# ---------------------------------------------------------------------------
# Migration checksum: an ORDER-INDEPENDENT content fingerprint per table —
# the standard cross-system validation when a pipeline is re-platformed
# (exactly this repo's situation vs the reference warehouse): each row is
# canonicalized to a string of integer/text columns (floats enter as
# rounded integer cents, so formatting can't diverge), hashed to the shared
# 60-bit md5 prefix, and folded two ways: XOR (order- and partition-proof)
# and an additive component mod 10^9 (catches even-multiplicity duplicates,
# which XOR alone cancels). n_rows completes the triple.
#
# Scale design (100 TB): one scan per table, zero shuffles before the
# single-row partial-merge aggregate (XOR/sum/count are all commutative
# monoids — map-side combine collapses each task to one row). This is the
# cheapest full-content audit a warehouse can run.
# ---------------------------------------------------------------------------
_CK_TABLES = {
    "lineitem": (
        "concat_ws('|', l_orderkey, l_linenumber, "
        "CAST(round(l_extendedprice * 100) AS BIGINT), "
        "CAST(round(l_discount * 100) AS BIGINT), l_returnflag)"
    ),
    "orders": (
        "concat_ws('|', o_orderkey, o_custkey, "
        "CAST(round(o_totalprice * 100) AS BIGINT), o_orderstatus)"
    ),
    "customer": "concat_ws('|', c_custkey, c_nationkey, c_mktsegment)",
}
_CK_MOD = 1_000_000_000


def _ck_sql(table: str, canon: str) -> str:
    # DuckDB concat_ws casts args to VARCHAR like Spark; the 60-bit hash is
    # the shared md5-prefix integer (catalog/sketches.py)
    h = f"(('0x' || substr(md5({canon}), 1, 15))::UBIGINT::BIGINT)"
    return f"""
    SELECT '{table}' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor({h}) AS BIGINT) AS xor_checksum,
           CAST(sum({h} % {_CK_MOD}) AS BIGINT) AS add_checksum
    FROM {table}"""


@register(
    "ops_migration_checksum",
    extra=True,
    sql=" UNION ALL ".join(_ck_sql(t, c) for t, c in _CK_TABLES.items())
    + " ORDER BY table_name",
)
def ops_migration_checksum(spark, sf_dir):
    t = Tables(spark, sf_dir)
    out = None
    for table, canon in _CK_TABLES.items():
        h = F.expr(f"CAST(conv(substr(md5({canon}), 1, 15), 16, 10) AS BIGINT)")
        part = getattr(t, table).agg(
            F.lit(table).alias("table_name"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.bit_xor(h).cast("bigint").alias("xor_checksum"),
            F.sum(h % _CK_MOD).cast("bigint").alias("add_checksum"),
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("table_name")


# ---------------------------------------------------------------------------
# Join-cardinality estimate — the planner diagnostic run BEFORE a big join:
# |A ⋈ B| on key k is EXACTLY Σ_k cnt_A(k)·cnt_B(k), computable from two
# cheap per-key count aggregates without materializing the join. The query
# reports that predicted size next to the ACTUAL join count (the in-query
# proof: predicted − actual must be 0 — and it is exact, not an estimate,
# because the histograms are complete) plus the sampled-histogram estimate
# a real planner would use (hash-sampled 1-in-16 keys, scaled ×16 on the
# product), so the output shows prediction, truth, and the sampling error
# side by side for the lineitem⋈orders key.
#
# Scale design (100 TB): the exact predictor costs two hash aggregates on
# the join key (map-side combined) + one tiny join of the two count
# frames — strictly cheaper than the join it predicts, which is the point.
# The sampled variant reads the same aggregates filtered to 1/16 of keys.
# ---------------------------------------------------------------------------
_CARD_SAMPLE_MOD = 16


@register(
    "ops_join_cardinality",
    extra=True,
    sql=f"""
    WITH ca AS (SELECT l_orderkey AS k, count(*) AS n FROM lineitem GROUP BY 1),
    cb AS (SELECT o_orderkey AS k, count(*) AS n FROM orders GROUP BY 1),
    -- hist is the oracle twin of the Spark side's cached `hist` frame: the
    -- exact and sampled predictors both read it, and without MATERIALIZED
    -- the ca/cb 600M/150M-row aggregates + their join re-ran per predictor
    -- (15GiB spill-cap death at the r8 1000x sweep)
    hist AS MATERIALIZED (
      SELECT ca.k, ca.n * cb.n AS prod FROM ca JOIN cb ON ca.k = cb.k),
    exact AS (SELECT CAST(sum(prod) AS BIGINT) AS predicted FROM hist),
    sampled AS (
      SELECT CAST(sum(prod) * {_CARD_SAMPLE_MOD} AS BIGINT) AS est
      FROM hist
      WHERE {_h_sql('CAST(k AS VARCHAR)')} % {_CARD_SAMPLE_MOD} = 0),
    actual AS (
      SELECT CAST(count(*) AS BIGINT) AS actual
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT exact.predicted, actual.actual,
           exact.predicted - actual.actual AS prediction_error,
           sampled.est AS sampled_estimate,
           CAST((sampled.est - actual.actual) * 1000000 // actual.actual
             AS BIGINT) AS sample_err_ppm
    FROM exact CROSS JOIN actual CROSS JOIN sampled
    """,
)
def ops_join_cardinality(spark, sf_dir):
    t = Tables(spark, sf_dir)
    ca = t.lineitem.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count("*").alias("na")
    )
    cb = t.orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count("*").alias("nb")
    )
    hist = ca.join(cb, "k").select(
        "k", (F.col("na") * F.col("nb")).alias("prod")
    ).cache()  # read by the exact AND sampled predictors
    exact = hist.agg(F.sum("prod").cast("bigint").alias("predicted"))
    sampled = (
        hist.filter(
            F.expr(_h_spark("CAST(k AS STRING)")) % _CARD_SAMPLE_MOD == 0
        ).agg((F.sum("prod") * _CARD_SAMPLE_MOD).cast("bigint").alias("est"))
    )
    actual = (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).agg(F.count("*").cast("bigint").alias("actual"))
    )
    return (
        exact.crossJoin(F.broadcast(actual))
        .crossJoin(F.broadcast(sampled))
        .select(
            "predicted",
            "actual",
            (F.col("predicted") - F.col("actual")).alias("prediction_error"),
            F.col("est").alias("sampled_estimate"),
            F.expr(
                "CAST((est - actual) * 1000000 div actual AS BIGINT)"
            ).alias("sample_err_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Rank-distribution window family — rank / dense_rank / row_number plus
# percent_rank and cume_dist in their EXACT integer-ppm forms:
# percent_rank = (rank−1)/(n−1) → (rank−1)·10⁶ DIV (n−1), and cume_dist's
# numerator (peers-inclusive row count ≤ current) comes from a RANGE
# unbounded-preceding frame — no float rank function crosses the engines.
# The output row per segment reports the median row's measures (median by
# row_number over the fully tie-broken (acctbal, custkey) order), so the
# result stays 5 rows while exercising the whole §2.6 rank family.
# Scale note: segment-partitioned windows sort-spill per segment — same
# class as win_pick_per_group; the salted two-stage rewrite applies when a
# single group outgrows a task.
# ---------------------------------------------------------------------------
@register(
    "win_rank_distributions",
    extra=True,
    sql="""
    WITH ranked AS (
      SELECT c_mktsegment,
             row_number() OVER w2 AS rn,
             rank()       OVER w1 AS rnk,
             dense_rank() OVER w1 AS drnk,
             count(*) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal
                            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS n_le,
             count(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer
      WINDOW w1 AS (PARTITION BY c_mktsegment ORDER BY c_acctbal),
             w2 AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey))
    SELECT c_mktsegment AS segment,
           CAST(max(n) AS BIGINT) AS n_customers,
           CAST(max(drnk) AS BIGINT) AS n_distinct_bal,
           CAST(max(rnk) AS BIGINT) AS max_rank,
           CAST(max(CASE WHEN rn = (n + 1) // 2
                         THEN (CAST(rnk AS BIGINT) - 1) * 1000000 // (CAST(n AS BIGINT) - 1) END) AS BIGINT)
             AS median_pct_rank_ppm,
           CAST(max(CASE WHEN rn = (n + 1) // 2
                         THEN CAST(n_le AS BIGINT) * 1000000 // CAST(n AS BIGINT) END) AS BIGINT)
             AS median_cume_ppm
    FROM ranked GROUP BY c_mktsegment ORDER BY segment
    """,
)
def win_rank_distributions(spark, sf_dir):
    t = Tables(spark, sf_dir)
    w1 = W.partitionBy("c_mktsegment").orderBy("c_acctbal")
    w2 = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wle = w1.rangeBetween(W.unboundedPreceding, W.currentRow)
    wn = W.partitionBy("c_mktsegment")
    ranked = t.customer.select(
        "c_mktsegment",
        F.row_number().over(w2).alias("rn"),
        F.rank().over(w1).alias("rnk"),
        F.dense_rank().over(w1).alias("drnk"),
        F.count("*").over(wle).alias("n_le"),
        F.count("*").over(wn).alias("n"),
    )
    med = F.col("rn") == F.expr("(n + 1) DIV 2")
    return (
        ranked.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            F.max("drnk").cast("long").alias("n_distinct_bal"),
            F.max("rnk").cast("long").alias("max_rank"),
            F.max(F.when(med, F.expr("(CAST(rnk AS BIGINT) - 1) * 1000000 DIV (CAST(n AS BIGINT) - 1)")))
            .cast("long")
            .alias("median_pct_rank_ppm"),
            F.max(F.when(med, F.expr("CAST(n_le AS BIGINT) * 1000000 DIV CAST(n AS BIGINT)")))
            .cast("long")
            .alias("median_cume_ppm"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# mm_audio_stats — the audio flavor of the multimodal family, with the REAL
# numpy kernels under the full value oracle. The testdata ships no audio, so
# each document deterministically synthesizes a raw PCM16 clip (rate 8 kHz,
# 200 + doc_id % 57 samples, x_i = ((doc_id*31 + i*17) % 4001 - 2000) * 8 —
# pure integer arithmetic); the Spark side then runs the honest production
# path: encode_pcm16 → binary Arrow batches → decode_pcm16 + integer clip
# stats (operators/multimodal.py pcm_stats) → per-language rollup. The
# oracle restates the same integers in closed form (lateral generate_series
# + window lead for zero crossings), so the Python kernel's every output
# value is hash-checked — the strongest claim we can make for a multimodal
# kernel without codecs in the container.
#
# Scale design (100 TB): payloads never leave the executors; stats reduce
# each clip to 8 integers inside the Arrow batch; the only shuffle is the
# per-language hash aggregate. floor(sqrt(k)) == isqrt(k) holds exactly for
# k <= mean-square bound 2.56e8 (double sqrt is correctly rounded and √k is
# never within an ulp of an integer below 2^52).
# ---------------------------------------------------------------------------
_PCM_RATE = 8000
_PCM_CLIP = 15000


@register(
    "mm_audio_stats",
    extra=True,
    sql=f"""
    WITH docs AS (SELECT doc_id, lang, 200 + doc_id % 57 AS n FROM documents),
    -- the successor sample nx is stated in closed form instead of
    -- lead() OVER: the signal is x_i = f(doc_id, i), so x_(i+1) needs no
    -- window. The lead form sorted the ~1.14B-row explode AND referenced
    -- it twice (pairs + per), re-running the explode per reference —
    -- 15GiB spill-cap death at the r8 1000x sweep. Now the explode streams
    -- through ONE grouped aggregate. lead's partition-end NULL is matched
    -- by the CASE (x * NULL < 0 is NULL -> count_if false, same as before).
    samples AS (
      SELECT d.doc_id, d.lang, d.n, t.i,
             CAST(((d.doc_id * 31 + t.i * 17) % 4001 - 2000) * 8 AS BIGINT) AS x,
             CASE WHEN t.i < d.n - 1 THEN
               CAST(((d.doc_id * 31 + (t.i + 1) * 17) % 4001 - 2000) * 8 AS BIGINT)
             END AS nx
      FROM docs d, unnest(generate_series(0, d.n - 1)) AS t(i)),
    perd AS (
      SELECT any_value(lang) AS lang, any_value(n) AS n,
             CAST(any_value(n) * 1000 // {_PCM_RATE} AS BIGINT) AS duration_ms,
             CAST(max(abs(x)) AS BIGINT) AS peak,
             CAST(count_if(abs(x) >= {_PCM_CLIP}) AS BIGINT) AS n_clipped,
             CAST(floor(sqrt(CAST(CAST(sum(x * x) AS BIGINT) // any_value(n)
                                  AS DOUBLE))) AS BIGINT) AS rms_int,
             CAST(count_if(x * nx < 0) AS BIGINT) AS zero_cross
      FROM samples GROUP BY doc_id)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_clips,
           CAST(sum(n) AS BIGINT) AS total_samples,
           CAST(sum(duration_ms) AS BIGINT) AS total_ms,
           CAST(sum(rms_int) // count(*) AS BIGINT) AS avg_rms_int,
           CAST(sum(zero_cross) AS BIGINT) AS total_zero_cross,
           CAST(sum(n_clipped) AS BIGINT) AS total_clipped,
           CAST(max(peak) AS BIGINT) AS max_peak
    FROM perd GROUP BY lang ORDER BY lang
    """,
)
def mm_audio_stats(spark, sf_dir):
    import pandas as pd  # noqa: F811

    from pyspark.sql import types as T2

    from ..operators.multimodal import encode_pcm16, pcm_stats

    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "lang")

    def synth(batches):
        import numpy as np

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                n = 200 + int(d) % 57
                i = np.arange(n, dtype=np.int64)
                x = ((int(d) * 31 + i * 17) % 4001 - 2000) * 8
                payloads.append(encode_pcm16(x.astype("<i2"), _PCM_RATE))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    media = docs.select("doc_id").mapInPandas(
        synth,
        schema=T2.StructType(
            [
                T2.StructField("media_id", T2.LongType(), False),
                T2.StructField("payload", T2.BinaryType(), True),
            ]
        ),
    )
    stats = pcm_stats(media, clip_abs=_PCM_CLIP)
    joined = stats.join(docs, stats["media_id"] == docs["doc_id"])
    return (
        joined.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_clips"),
            F.sum("n_samples").cast("long").alias("total_samples"),
            F.sum("duration_ms").cast("long").alias("total_ms"),
            F.expr("CAST(sum(rms_int) div count(*) AS BIGINT)").alias("avg_rms_int"),
            F.sum("zero_cross").cast("long").alias("total_zero_cross"),
            F.sum("n_clipped").cast("long").alias("total_clipped"),
            F.max("peak").cast("long").alias("max_peak"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# mm_codec_roundtrip — the REAL codec layer (operators/codecs.py) under the
# full value oracle. Each sampled document deterministically synthesizes a
# 16x16 RGB image (pixel i = (doc_id*31 + i*7) % 256) and a 256-sample
# int16 clip (sample i = (doc_id*13 + i*11) % 65536 - 32768), pushes them
# through the HONEST production path — encode_png → PNG bytes → decode_png
# (zlib inflate + un-filtering), encode_wav → RIFF bytes → decode_wav — and
# reduces each decoded asset to exact integer sums. The oracle restates
# all the integers, so a single flipped byte anywhere in either codec
# breaks the hash: the roundtrips are PROVEN on every sampled doc, per
# run, in both engines' eyes.
#
# Scale design (100 TB): payload bytes never leave the executors (each
# asset reduces to two integers inside the Arrow batch); the deterministic
# doc_id % 50 sample bounds per-task Python work; the only shuffle is the
# one-row global aggregate.
# ---------------------------------------------------------------------------
# The mm_* kernels sample documents at a fixed RATE (doc_id % MOD), so
# their per-engine Python decode work scales linearly with the corpus. At
# the 1000x replica that rate-fixed sample is ~100k payload synths per
# query per engine — hours of pure-Python codec work in the DuckDB-side
# restatement alone. SPARK_GRAFT_MM_MOD raises the mod for at-scale
# sweeps (Makefile oracle-1000x uses 500 → the same absolute sample count
# as the green 100x sweep); BOTH engines read the same value at import
# time, so the comparison stays strict value parity on the same
# deterministic key subset — the sampled-tier philosophy. Default 50
# keeps every driver-facing and sf0.001-0.1 artifact byte-stable.
_MM_MOD = int(os.environ.get("SPARK_GRAFT_MM_MOD", "50"))
_CODEC_MOD = _MM_MOD
_CODEC_PX = 16 * 16 * 3
_CODEC_SAMP = 256


@register(
    "mm_codec_roundtrip",
    extra=True,
    sql=f"""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % {_CODEC_MOD} = 0),
    per AS (
      SELECT doc_id,
             CAST(sum((doc_id * 31 + t.i * 7) % 256) AS BIGINT) AS px_sum
      FROM ids, unnest(generate_series(0, {_CODEC_PX} - 1)) AS t(i)
      GROUP BY doc_id),
    pera AS (
      SELECT doc_id,
             CAST(sum((doc_id * 13 + t.i * 11) % 65536 - 32768) AS BIGINT)
               AS samp_sum
      FROM ids, unnest(generate_series(0, {_CODEC_SAMP} - 1)) AS t(i)
      GROUP BY doc_id)
    SELECT CAST(count(*) AS BIGINT)       AS n_assets,
           CAST(sum(px_sum) AS BIGINT)    AS total_px_sum,
           CAST(min(px_sum) AS BIGINT)    AS min_px_sum,
           CAST(max(px_sum) AS BIGINT)    AS max_px_sum,
           CAST(sum(samp_sum) AS BIGINT)  AS total_samp_sum,
           CAST(min(samp_sum) AS BIGINT)  AS min_samp_sum,
           CAST(max(samp_sum) AS BIGINT)  AS max_samp_sum
    FROM per JOIN pera USING (doc_id)
    """,
)
def mm_codec_roundtrip(spark, sf_dir):
    import pandas as pd  # noqa: F811

    t = Tables(spark, sf_dir)
    ids = t.documents.select("doc_id").filter(F.col("doc_id") % _CODEC_MOD == 0)

    def roundtrip(batches):
        import numpy as np

        from ..operators.codecs import (
            decode_png,
            decode_wav,
            encode_png,
            encode_wav,
        )

        for pdf in batches:
            out_ids, px_sums, samp_sums = [], [], []
            for d in pdf["doc_id"]:
                d = int(d)
                i = np.arange(_CODEC_PX, dtype=np.int64)
                px = ((d * 31 + i * 7) % 256).astype(np.uint8).reshape(16, 16, 3)
                back = decode_png(encode_png(px))
                j = np.arange(_CODEC_SAMP, dtype=np.int64)
                samples = ((d * 13 + j * 11) % 65536 - 32768).astype("<i2")
                _rate, _ch, aback = decode_wav(encode_wav(samples, 16000))
                out_ids.append(d)
                px_sums.append(int(back.astype(np.int64).sum()))
                samp_sums.append(int(aback.astype(np.int64).sum()))
            yield pd.DataFrame(
                {"doc_id": out_ids, "px_sum": px_sums, "samp_sum": samp_sums}
            )

    per = ids.mapInPandas(roundtrip, schema="doc_id long, px_sum long, samp_sum long")
    return per.agg(
        F.count("*").cast("long").alias("n_assets"),
        F.sum("px_sum").cast("long").alias("total_px_sum"),
        F.min("px_sum").cast("long").alias("min_px_sum"),
        F.max("px_sum").cast("long").alias("max_px_sum"),
        F.sum("samp_sum").cast("long").alias("total_samp_sum"),
        F.min("samp_sum").cast("long").alias("min_samp_sum"),
        F.max("samp_sum").cast("long").alias("max_samp_sum"),
    )


# ---------------------------------------------------------------------------
# mm_webp_probe — the WebP container layer (operators/webp.py) under the
# full value oracle. Pixel decode is honestly gated (no VP8L stream in
# the container to verify a decoder against — webp.py docstring), but
# the metadata path a crawl pipeline actually runs FIRST — identify,
# dimensions, alpha/animation flags, frame counts, all without touching
# pixels — is real and provable: per sampled doc_id d the kernel muxes
# (a) a VP8L-headered RIFF (w = 1 + d*7 % 2000, h = 1 + d*11 % 1500,
# alpha iff d % 3 == 0) and (b) an animated VP8X container (canvas
# 1 + d*13 % 4000 x 1 + d*17 % 3000 with 1 + d % 5 ANMF frames), probes
# both, and the oracle restates every extracted field in closed form —
# a flipped bit in the 14-bit dim unpacking, the minus-one encodings,
# the flag masks, or ANMF counting breaks the hash.
#
# Scale design (100 TB): header-only parsing, payloads never leave the
# executors, one single-row aggregate shuffle.
# ---------------------------------------------------------------------------
@register(
    "mm_webp_probe",
    extra=True,
    sql=f"""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % {_MM_MOD} = 0),
    per AS (
      SELECT doc_id,
             1 + doc_id * 7 % 2000   AS l_w,
             1 + doc_id * 11 % 1500  AS l_h,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS l_alpha,
             1 + doc_id * 13 % 4000  AS x_w,
             1 + doc_id * 17 % 3000  AS x_h,
             1 + doc_id % 5          AS x_frames
      FROM ids)
    SELECT CAST(count(*) AS BIGINT)        AS n_probes,
           CAST(sum(l_w) AS BIGINT)        AS total_l_width,
           CAST(sum(l_h) AS BIGINT)        AS total_l_height,
           CAST(sum(l_alpha) AS BIGINT)    AS n_l_alpha,
           CAST(sum(x_w) AS BIGINT)        AS total_x_width,
           CAST(sum(x_h) AS BIGINT)        AS total_x_height,
           CAST(sum(x_frames) AS BIGINT)   AS total_x_frames
    FROM per
    """,
)
def mm_webp_probe(spark, sf_dir):
    import pandas as pd

    t = Tables(spark, sf_dir)
    ids = t.documents.select("doc_id").filter(F.col("doc_id") % _MM_MOD == 0)

    def probe(batches):
        import struct as _s

        from ..operators.webp import probe_webp

        def riff(chunks):
            body = b"WEBP"
            for tag, data in chunks:
                body += tag + _s.pack("<I", len(data)) + data
                if len(data) & 1:
                    body += b"\x00"
            return b"RIFF" + _s.pack("<I", len(body)) + body

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "l_w", "l_h", "l_alpha", "x_w", "x_h", "x_frames"
            )}
            for d in pdf["doc_id"]:
                d = int(d)
                lw, lh = 1 + d * 7 % 2000, 1 + d * 11 % 1500
                alpha = d % 3 == 0
                bits = (lw - 1) | ((lh - 1) << 14) | (int(alpha) << 28)
                pl = probe_webp(riff([(b"VP8L", b"\x2f" + _s.pack("<I", bits))]))
                xw, xh, nf = 1 + d * 13 % 4000, 1 + d * 17 % 3000, 1 + d % 5
                vp8x = bytes([0x02, 0, 0, 0]) + (xw - 1).to_bytes(3, "little") + (
                    xh - 1
                ).to_bytes(3, "little")
                px = probe_webp(
                    riff([(b"VP8X", vp8x)] + [(b"ANMF", b"\x00" * 16)] * nf)
                )
                out["doc_id"].append(d)
                out["l_w"].append(pl["width"])
                out["l_h"].append(pl["height"])
                out["l_alpha"].append(int(pl["has_alpha"] and pl["lossless"]))
                out["x_w"].append(px["width"])
                out["x_h"].append(px["height"])
                out["x_frames"].append(px["n_frames"] if px["is_animated"] else -1)
            yield pd.DataFrame(out)

    per = ids.mapInPandas(
        probe,
        schema="doc_id long, l_w long, l_h long, l_alpha long, x_w long, x_h long, x_frames long",
    )
    return per.agg(
        F.count("*").cast("long").alias("n_probes"),
        F.sum("l_w").cast("long").alias("total_l_width"),
        F.sum("l_h").cast("long").alias("total_l_height"),
        F.sum("l_alpha").cast("long").alias("n_l_alpha"),
        F.sum("x_w").cast("long").alias("total_x_width"),
        F.sum("x_h").cast("long").alias("total_x_height"),
        F.sum("x_frames").cast("long").alias("total_x_frames"),
    )


# ---------------------------------------------------------------------------
# mm_audio_containers — the WAV/AIFF/AU container layer (operators/
# codecs.py + aiff.py) under the full value oracle. Each sampled document
# synthesizes one stereo int16 clip (sample i, channel c =
# ((doc_id*23 + i*13 + c*7) % 4001 - 2000) * 8), wraps the SAME samples
# as RIFF/WAV, FORM/AIFF (big-endian, 80-bit extended rate) and Sun AU
# (encoding 3), decodes all three through audio_payload_to_pcm (integer
# mixdown), and reduces each to an exact integer sum plus a
# containers_agree flag. The oracle restates the mixdown sum in closed
# form ONCE — the three container paths must all hash to it, so a flipped
# byte in any mux/demux path or a drift between the three decoders breaks
# the gate.
#
# Scale design (100 TB): identical to the other mm legs — payloads are
# built and reduced inside the Arrow batch, doc_id % _AUD_MOD bounds
# per-task work, one single-row aggregate shuffle.
# ---------------------------------------------------------------------------
_AUD_MOD = _MM_MOD
_AUD_N = 240  # frames per channel


@register(
    "mm_audio_containers",
    extra=True,
    sql=f"""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % {_AUD_MOD} = 0),
    frames AS (
      SELECT doc_id, t.i,
             CAST(((doc_id * 23 + t.i * 13) % 4001 - 2000) * 8 AS BIGINT) AS c0,
             CAST(((doc_id * 23 + t.i * 13 + 7) % 4001 - 2000) * 8 AS BIGINT) AS c1
      FROM ids, unnest(generate_series(0, {_AUD_N - 1})) AS t(i)),
    per AS (
      SELECT doc_id,
             -- integer mixdown: (c0 + c1) // 2 with floor semantics
             CAST(sum((c0 + c1 - ((c0 + c1) % 2 + 2) % 2) // 2) AS BIGINT)
               AS mono_sum
      FROM frames GROUP BY doc_id)
    SELECT CAST(count(*) AS BIGINT)       AS n_clips,
           CAST(count(*) AS BIGINT)       AS n_clips_agree,
           CAST(sum(mono_sum) AS BIGINT)  AS total_wav_sum,
           CAST(sum(mono_sum) AS BIGINT)  AS total_aiff_sum,
           CAST(sum(mono_sum) AS BIGINT)  AS total_au_sum,
           CAST(min(mono_sum) AS BIGINT)  AS min_mono_sum,
           CAST(max(mono_sum) AS BIGINT)  AS max_mono_sum
    FROM per
    """,
)
def mm_audio_containers(spark, sf_dir):
    import pandas as pd

    t = Tables(spark, sf_dir)
    ids = t.documents.select("doc_id").filter(F.col("doc_id") % _AUD_MOD == 0)

    def roundtrip(batches):
        import numpy as np

        from ..operators.aiff import encode_aiff, encode_au
        from ..operators.codecs import encode_wav
        from ..operators.multimodal import audio_payload_to_pcm

        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "wav_sum", "aiff_sum", "au_sum", "agree")}
            for d in pdf["doc_id"]:
                d = int(d)
                i = np.arange(_AUD_N, dtype=np.int64)
                c0 = ((d * 23 + i * 13) % 4001 - 2000) * 8
                c1 = ((d * 23 + i * 13 + 7) % 4001 - 2000) * 8
                inter = np.empty(2 * _AUD_N, dtype=np.int16)
                inter[0::2] = c0
                inter[1::2] = c1
                payloads = (
                    encode_wav(inter, 16000, channels=2),
                    encode_aiff(inter, 16000, channels=2),
                    encode_au(inter, 16000, channels=2),
                )
                sums = []
                for p in payloads:
                    _rate, mono = audio_payload_to_pcm(p)
                    sums.append(int(np.asarray(mono, dtype=np.int64).sum()))
                rows["doc_id"].append(d)
                rows["wav_sum"].append(sums[0])
                rows["aiff_sum"].append(sums[1])
                rows["au_sum"].append(sums[2])
                rows["agree"].append(int(sums[0] == sums[1] == sums[2]))
            yield pd.DataFrame(rows)

    per = ids.mapInPandas(
        roundtrip,
        schema="doc_id long, wav_sum long, aiff_sum long, au_sum long, agree long",
    )
    return per.agg(
        F.count("*").cast("long").alias("n_clips"),
        F.sum("agree").cast("long").alias("n_clips_agree"),
        F.sum("wav_sum").cast("long").alias("total_wav_sum"),
        F.sum("aiff_sum").cast("long").alias("total_aiff_sum"),
        F.sum("au_sum").cast("long").alias("total_au_sum"),
        F.min("wav_sum").cast("long").alias("min_mono_sum"),
        F.max("wav_sum").cast("long").alias("max_mono_sum"),
    )
