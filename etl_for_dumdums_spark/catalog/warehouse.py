"""Warehouse-pattern operators: fact-to-SCD2 as-of join, day-of-week
seasonality, exact per-group mode, and a freshness audit.

* ``join_fact_to_scd2`` — THE dimensional-warehouse join: facts land on the
  SCD2 dimension interval valid at fact time. The dimension here is built
  in-query by the reusable ``operators/scd.py`` interval builder (the user's
  evolving ``props.k``-band state over their event stream); facts are the
  purchase events. The output carries an in-query proof that the interval
  set tiles time per user: every purchase matches EXACTLY one interval
  (n_unmatched ≡ 0, n_multi_match ≡ 0 columns).
* ``ts_seasonal_dow_profile`` — day-of-week seasonality as an exact integer
  ppm ratio of the DOW mean to the overall mean, per event type. DOW is
  epoch-day mod 7 (engine-neutral — no calendar-function Sunday=0/1
  divergence; 1970-01-01 ≡ dow 0 = Thursday). The 128-bit cross product
  rides DECIMAL(38,0)/HUGEINT like text_word_pmi.
* ``agg_mode_per_group`` — exact modal value with a deterministic tie-break
  (max count, then smallest value), computed as a row_number over the
  per-(group, value) count frame — the window's partitions are bounded by
  the value domain, never by row count.
* ``ops_freshness_lag`` — the data-freshness audit every warehouse runs
  first: per fact table, row count, max business date, and the staleness
  lag in whole days against the fixed as-of date.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..session import pin
from . import Tables, register

# ---------------------------------------------------------------------------
_SCD_BAND = 25  # props.k DIV 25 → 4 user-state bands


@register(
    "join_fact_to_scd2",
    extra=True,
    sql=f"""
    WITH ev AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) // {_SCD_BAND} AS band,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    ordered AS (
      SELECT *, lag(band) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_band
      FROM ev),
    flagged AS (
      SELECT *, CASE WHEN prev_band IS NULL OR prev_band <> band
                     THEN 1 ELSE 0 END AS chg
      FROM ordered),
    runs AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged),
    intervals AS (
      SELECT user_id, band, run_id, min(ts) AS valid_from
      FROM runs GROUP BY user_id, band, run_id),
    dim AS (
      SELECT user_id, band, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
               AS valid_to
      FROM intervals),
    facts AS (
      SELECT user_id, ts, event_id, cents FROM ev WHERE event_type = 'purchase'),
    joined AS (
      SELECT f.event_id, f.cents, d.band
      FROM facts f JOIN dim d
        ON f.user_id = d.user_id
       AND d.valid_from <= f.ts
       AND (d.valid_to IS NULL OR f.ts < d.valid_to)),
    match_audit AS (
      SELECT (SELECT count(*) FROM facts) - count(DISTINCT event_id) AS n_unmatched,
             count(*) - count(DISTINCT event_id) AS n_multi_match
      FROM joined)
    SELECT j.band,
           count(*) AS n_purchases,
           CAST(sum(j.cents) AS BIGINT) AS revenue_cents,
           a.n_unmatched, a.n_multi_match
    FROM joined j CROSS JOIN match_audit a
    GROUP BY j.band, a.n_unmatched, a.n_multi_match
    ORDER BY j.band
    """,
)
def join_fact_to_scd2(spark, sf_dir):
    from ..operators.scd import scd2_intervals_from_events

    t = Tables(spark, sf_dir)
    ev = t.events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.expr(f"CAST(get_json_object(props, '$.k') AS BIGINT) DIV {_SCD_BAND}").alias("band"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    dim = scd2_intervals_from_events(ev, "user_id", "ts", "band", "event_id").select(
        F.col("key").alias("d_user"), F.col("attr").alias("band"), "valid_from", "valid_to"
    )
    facts = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "cents"
    )
    joined = facts.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    ).select("event_id", "cents", "band")
    n_facts = facts.agg(F.count("*").alias("nf"))
    audit = (
        joined.agg(
            F.count("*").alias("nj"),
            F.count_distinct("event_id").alias("nd"),
        )
        .crossJoin(F.broadcast(n_facts))
        .select(
            (F.col("nf") - F.col("nd")).alias("n_unmatched"),
            (F.col("nj") - F.col("nd")).alias("n_multi_match"),
        )
    )
    return (
        joined.groupBy("band")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .crossJoin(F.broadcast(audit))
        .select("band", "n_purchases", "revenue_cents", "n_unmatched", "n_multi_match")
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
@register(
    "ts_seasonal_dow_profile",
    extra=True,
    sql="""
    WITH base AS (
      SELECT event_type,
             (epoch_us(ts) // 86400000000) % 7 AS dow,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL),
    cells AS (
      SELECT event_type, dow, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
      FROM base GROUP BY event_type, dow),
    tot AS (
      SELECT *, sum(n) OVER (PARTITION BY event_type) AS n_et,
             sum(s) OVER (PARTITION BY event_type) AS s_et
      FROM cells)
    SELECT event_type, CAST(dow AS BIGINT) AS dow, n,
           CAST(s // n AS BIGINT) AS dow_mean_cents,
           CAST((s::HUGEINT * n_et * 1000000) // (n::HUGEINT * s_et) AS BIGINT)
             AS ratio_ppm
    FROM tot ORDER BY event_type, dow
    """,
)
def ts_seasonal_dow_profile(spark, sf_dir):
    t = Tables(spark, sf_dir)
    base = t.events.where(F.col("value").isNotNull()).select(
        "event_type",
        (F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000") % 7).alias("dow"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cells = base.groupBy("event_type", "dow").agg(
        F.count("*").alias("n"), F.sum("cents").cast("long").alias("s")
    )
    wet = W.partitionBy("event_type")
    tot = cells.withColumn("n_et", F.sum("n").over(wet)).withColumn(
        "s_et", F.sum("s").over(wet)
    )
    return tot.select(
        "event_type",
        F.col("dow").cast("long").alias("dow"),
        "n",
        F.expr("CAST(s DIV n AS BIGINT)").alias("dow_mean_cents"),
        F.expr(
            "CAST((CAST(s AS DECIMAL(38,0)) * n_et * 1000000)"
            " DIV (CAST(n AS DECIMAL(38,0)) * s_et) AS BIGINT)"
        ).alias("ratio_ppm"),
    ).orderBy("event_type", "dow")


# ---------------------------------------------------------------------------
@register(
    "agg_mode_per_group",
    extra=True,
    sql="""
    WITH counts AS (
      SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             count(*) AS n
      FROM events GROUP BY event_type, k),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY n DESC, k) AS rn,
             sum(n) OVER (PARTITION BY event_type) AS n_total
      FROM counts)
    SELECT event_type, k AS mode_k, n AS mode_count,
           CAST(n * 1000000 // n_total AS BIGINT) AS mode_share_ppm,
           CAST(n_total AS BIGINT) AS n_rows
    FROM ranked WHERE rn = 1 ORDER BY event_type
    """,
)
def agg_mode_per_group(spark, sf_dir):
    t = Tables(spark, sf_dir)
    counts = t.events.groupBy(
        "event_type",
        F.expr("CAST(get_json_object(props, '$.k') AS BIGINT)").alias("k"),
    ).agg(F.count("*").alias("n"))
    wg = W.partitionBy("event_type")
    ranked = counts.withColumn(
        "rn", F.row_number().over(wg.orderBy(F.desc("n"), "k"))
    ).withColumn("n_total", F.sum("n").over(wg))
    return (
        ranked.where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("k").alias("mode_k"),
            F.col("n").alias("mode_count"),
            F.expr("CAST(n * 1000000 DIV n_total AS BIGINT)").alias("mode_share_ppm"),
            F.col("n_total").cast("long").alias("n_rows"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
_FRESH_ASOF = "1998-08-02"


@register(
    "ops_freshness_lag",
    extra=True,
    sql=f"""
    SELECT 'events' AS table_name, count(*) AS n_rows,
           CAST(max(ts) AS DATE) AS max_date,
           date_diff('day', CAST(max(ts) AS DATE), DATE '{_FRESH_ASOF}') AS lag_days
    FROM events
    UNION ALL
    SELECT 'lineitem', count(*), CAST(max(l_shipdate) AS DATE),
           date_diff('day', CAST(max(l_shipdate) AS DATE), DATE '{_FRESH_ASOF}')
    FROM lineitem
    UNION ALL
    SELECT 'orders', count(*), CAST(max(o_orderdate) AS DATE),
           date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '{_FRESH_ASOF}')
    FROM orders
    ORDER BY table_name
    """,
)
def ops_freshness_lag(spark, sf_dir):
    t = Tables(spark, sf_dir)
    asof = F.lit(_FRESH_ASOF).cast("date")

    def audit(df, name, date_col):
        mx = F.max(date_col).cast("date")
        return df.agg(
            F.count("*").alias("n_rows"),
            mx.alias("max_date"),
            F.datediff(asof, mx).cast("long").alias("lag_days"),
        ).select(F.lit(name).alias("table_name"), "n_rows", "max_date", "lag_days")

    return (
        audit(t.events, "events", F.col("ts"))
        .unionByName(audit(t.lineitem, "lineitem", F.col("l_shipdate")))
        .unionByName(audit(t.orders, "orders", F.col("o_orderdate")))
        .orderBy("table_name")
    )


# ---------------------------------------------------------------------------
# Functional-dependency audit: for each candidate rule "LHS determines RHS",
# count determinant groups whose RHS is not single-valued — the profiling
# step behind normalization decisions, key discovery, and "is this column
# safe to denormalize" questions. The candidate set deliberately mixes FDs
# that hold (unique determinants) with ones real data violates, so the
# report is non-vacuous in both directions.
#
# Scale design (100 TB): each FD is one hash aggregate on its LHS with a
# count(DISTINCT rhs) — map-side partials shrink the shuffle to the group
# frame; the five tiny result rows union. No joins, no windows.
# ---------------------------------------------------------------------------
_FDS = [
    ("customer_key_to_segment", "customer", "c_custkey", "c_mktsegment"),
    ("events_user_to_type", "events", "user_id", "event_type"),
    ("lineitem_order_to_flag", "lineitem", "l_orderkey", "l_returnflag"),
    ("nation_key_to_region", "nation", "n_nationkey", "n_regionkey"),
    ("orders_cust_to_priority", "orders", "o_custkey", "o_orderpriority"),
]


def _fd_sql(fd_id: str, table: str, lhs: str, rhs: str) -> str:
    return f"""
    SELECT '{fd_id}' AS fd,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(count_if(nd > 1) AS BIGINT) AS n_violating_groups,
           CAST(max(nd) AS BIGINT) AS max_distinct_rhs,
           count_if(nd > 1) = 0 AS holds
    FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS nd FROM {table} GROUP BY {lhs})
    """


@register(
    "ops_functional_deps",
    extra=True,
    sql=" UNION ALL ".join(_fd_sql(*fd) for fd in _FDS) + " ORDER BY fd",
)
def ops_functional_deps(spark, sf_dir):
    t = Tables(spark, sf_dir)
    outs = []
    for fd_id, table, lhs, rhs in _FDS:
        grouped = (
            getattr(t, table)
            .groupBy(lhs)
            .agg(F.count_distinct(rhs).alias("nd"))
        )
        outs.append(
            grouped.agg(
                F.lit(fd_id).alias("fd"),
                F.count("*").cast("long").alias("n_groups"),
                F.count_if(F.col("nd") > 1).cast("long").alias("n_violating_groups"),
                F.max("nd").cast("long").alias("max_distinct_rhs"),
                (F.count_if(F.col("nd") > 1) == 0).alias("holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("fd")


# ---------------------------------------------------------------------------
# Declarative data-quality expectations as ONE oracled report — the
# Great-Expectations/dbt-test shape (checks.py's CheckSuite runs these
# per-model in pytest; this query surfaces the same rule kinds as a
# driver-checkable report frame): not-null, key uniqueness, accepted
# values, numeric range, and referential integrity over orders/customer.
# The range rule is intentionally tight (total <= $300k) so the report
# exercises a FAILING rule on real data, not just green rows.
#
# Scale design (100 TB): rules 1-4 fold into ONE aggregate over ONE orders
# scan (uniqueness via count vs count-distinct); the referential rule
# aggregates fact keys to distinct BEFORE the dim anti-join — the orphan
# join touches distinct keys, never raw rows (ops_ri_orphans' shape).
# ---------------------------------------------------------------------------
_DQ_PRICE_MAX = 300000


@register(
    "ops_dq_report",
    extra=True,
    sql=f"""
    WITH scan AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count_if(o_custkey IS NULL) AS BIGINT) AS v_notnull,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_unique,
             CAST(count_if(o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT) AS v_vals,
             CAST(count_if(o_totalprice < 0 OR o_totalprice > {_DQ_PRICE_MAX})
               AS BIGINT) AS v_range
      FROM orders),
    ref AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(count_if(c.c_custkey IS NULL) AS BIGINT) AS v_ref
      FROM (SELECT DISTINCT o_custkey FROM orders) o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
    SELECT 'orders.o_custkey not_null' AS rule_id, 'not_null' AS rule_kind,
           n_rows AS n_checked, v_notnull AS n_violations, v_notnull = 0 AS passed
    FROM scan
    UNION ALL SELECT 'orders.o_orderkey unique', 'unique', n_rows, v_unique,
           v_unique = 0 FROM scan
    UNION ALL SELECT 'orders.o_orderstatus in (O,F,P)', 'accepted_values', n_rows,
           v_vals, v_vals = 0 FROM scan
    UNION ALL SELECT 'orders.o_totalprice in [0, {_DQ_PRICE_MAX}]', 'range', n_rows,
           v_range, v_range = 0 FROM scan
    UNION ALL SELECT 'orders.o_custkey -> customer', 'referential', n_keys, v_ref,
           v_ref = 0 FROM ref
    ORDER BY rule_id
    """,
)
def ops_dq_report(spark, sf_dir):
    t = Tables(spark, sf_dir)
    scan = t.orders.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count_if(F.col("o_custkey").isNull()).cast("long").alias("v_notnull"),
        (F.count("*") - F.count_distinct("o_orderkey")).cast("long").alias("v_unique"),
        F.count_if(~F.col("o_orderstatus").isin("O", "F", "P"))
        .cast("long")
        .alias("v_vals"),
        F.count_if(
            (F.col("o_totalprice") < 0) | (F.col("o_totalprice") > _DQ_PRICE_MAX)
        )
        .cast("long")
        .alias("v_range"),
    )
    keys = t.orders.select("o_custkey").distinct()
    ref = keys.join(
        t.customer.select("c_custkey"),
        keys["o_custkey"] == F.col("c_custkey"),
        "left",
    ).agg(
        F.count("*").cast("long").alias("n_keys"),
        F.count_if(F.col("c_custkey").isNull()).cast("long").alias("v_ref"),
    )

    # ONE orders scan for rules 1-4: the single-row aggregate explodes into
    # the rule rows (the previous union-of-selects re-executed the full scan
    # once per rule — same plan bug as events_sequence_pattern, round 6); the
    # referential rule keeps its own (distinct-keys anti-join) pipeline.
    def rule_struct(rid, kind, n_col, v_col):
        return F.struct(
            F.lit(rid).alias("rule_id"),
            F.lit(kind).alias("rule_kind"),
            F.col(n_col).alias("n_checked"),
            F.col(v_col).alias("n_violations"),
            (F.col(v_col) == 0).alias("passed"),
        )

    scan_rules = scan.select(
        F.explode(
            F.array(
                rule_struct("orders.o_custkey not_null", "not_null", "n_rows", "v_notnull"),
                rule_struct("orders.o_orderkey unique", "unique", "n_rows", "v_unique"),
                rule_struct(
                    "orders.o_orderstatus in (O,F,P)", "accepted_values", "n_rows", "v_vals"
                ),
                rule_struct(
                    f"orders.o_totalprice in [0, {_DQ_PRICE_MAX}]", "range", "n_rows", "v_range"
                ),
            )
        ).alias("r")
    ).select("r.*")
    ref_rule = ref.select(
        rule_struct("orders.o_custkey -> customer", "referential", "n_keys", "v_ref").alias("r")
    ).select("r.*")
    return scan_rules.unionByName(ref_rule).orderBy("rule_id")


# ---------------------------------------------------------------------------
# Hierarchical share-of-parent rollup: revenue per (region, nation) with each
# nation's exact ppm share of its region and of the grand total — the
# drill-down tree every OLAP dashboard renders. Shares are integer floor
# division of DECIMAL(38,0)/HUGEINT cross-products (cents * 1e6 passes int64
# around the 100x scale), and the region/total frames are joined back, not
# window-summed — parent totals are tiny aggregates, so they broadcast.
#
# Scale design (100 TB): one fact scan -> (region, nation) hash aggregate
# (25-key domain); parents derive from the child frame (never rescan);
# two broadcast joins. No windows.
# ---------------------------------------------------------------------------
@register(
    "agg_hierarchy_shares",
    extra=True,
    sql="""
    WITH child AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2),
    parent AS (SELECT region, CAST(sum(cents) AS BIGINT) AS region_cents
               FROM child GROUP BY region),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM child)
    SELECT child.region, child.nation, child.cents,
           parent.region_cents,
           CAST(CAST(child.cents AS HUGEINT) * 1000000 // parent.region_cents
             AS BIGINT) AS share_of_region_ppm,
           CAST(CAST(child.cents AS HUGEINT) * 1000000 // tot.total_cents
             AS BIGINT) AS share_of_total_ppm
    FROM child JOIN parent USING (region) CROSS JOIN tot
    ORDER BY region, nation
    """,
)
def agg_hierarchy_shares(spark, sf_dir):
    t = Tables(spark, sf_dir)
    child = (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .transform(pin)
    )
    parent = child.groupBy("region").agg(
        F.sum("cents").cast("long").alias("region_cents")
    )
    tot = child.agg(F.sum("cents").cast("long").alias("total_cents"))
    return (
        child.join(F.broadcast(parent), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            "cents",
            "region_cents",
            F.expr(
                "CAST(CAST(cents AS DECIMAL(38,0)) * 1000000 div region_cents"
                " AS BIGINT)"
            ).alias("share_of_region_ppm"),
            F.expr(
                "CAST(CAST(cents AS DECIMAL(38,0)) * 1000000 div total_cents"
                " AS BIGINT)"
            ).alias("share_of_total_ppm"),
        )
        .orderBy("region", "nation")
    )
