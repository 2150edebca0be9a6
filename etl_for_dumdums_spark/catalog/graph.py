"""Graph analytics over relational edges: integer-exact PageRank.

The reference has no graph operators; this is the standard extension once a
schema induces an entity graph (here: the nation-to-nation trade graph —
an edge supplier-nation → customer-nation weighted by how many lineitems
flowed that way). ``dedup_cc_groups`` (catalog/dedup.py) already covers
connected components; PageRank is the other canonical iterative graph
primitive, and the interesting part is making a FIXED-ITERATION power
method bit-reproducible across engines:

  * ranks live in integer PARTS-PER-BILLION;
  * every per-edge contribution is ``(rank_src × w) div out_w`` — exact
    BIGINT floor division;
  * the damping update is ``base + (85 × inflow) div 100`` — again exact.

So iteration k's rank vector is a pure integer function of iteration k−1,
and the DuckDB oracle (the same three unrolled iterations as CTEs) must
match bit-for-bit. Floor-division rank leakage (a few ppb per node per
iteration) is part of the spec, exactly like the integer-cents revenue
convention everywhere else in the catalog.

Scale design (100 TB): the expensive step is building the EDGE AGGREGATE
(lineitem ⋈ orders ⋈ customer + broadcast supplier — the same join shape
as join_star_local_supplier, one fact shuffle each side); after that every
iteration runs on ≤ |nations|² edge rows and |nations| rank rows — the
iterate-on-the-aggregate shape (same philosophy as sketch_hll_rollup:
never rescan raw data inside the loop). The edge frame is cached across
iterations. At a larger node domain the per-iteration join is a standard
hash join on src/dst — PageRank's production shape (Pregel-style
message-sum) is exactly this groupBy(dst).sum.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..session import pin
from . import Tables, register

_DAMP_NUM, _DAMP_DEN = 85, 100  # d = 0.85 as an exact rational
_PPB = 1_000_000_000
_ITERS = 3


def _edges_sql() -> str:
    return """
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    """


def _iter_sql(prev: str, it: str) -> str:
    """One unrolled integer power-method iteration as a CTE body."""
    return f"""
    {it} AS (
      SELECT n.node,
             CAST(n.base + ({_DAMP_NUM} * coalesce(inf.inflow, 0)) // {_DAMP_DEN}
               AS BIGINT) AS rank_ppb
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node,
               sum((p.rank_ppb * e.w) // ow.out_w) AS inflow
        FROM edges e
        JOIN {prev} p ON e.src = p.node
        JOIN outw ow ON e.src = ow.src
        GROUP BY e.dst) inf ON n.node = inf.node)
    """


@register(
    "graph_pagerank_nations",
    extra=True,
    # edges MUST be materialized: it reduces the 600M-row lineitem 3-way
    # join to <= |nations|^2 rows, but it is referenced by outw, inw, and
    # every unrolled iteration — DuckDB's plain-CTE inlining re-ran the full
    # join per reference and blew the 15GiB spill cap at the 1000x sweep.
    # outw/nodes are tiny but multiply referenced, so pin them too.
    sql=f"""
    WITH edges AS MATERIALIZED ({_edges_sql()}),
    outw AS MATERIALIZED (
      SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM edges GROUP BY src),
    inw AS (SELECT dst, CAST(sum(w) AS BIGINT) AS in_w FROM edges GROUP BY dst),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nation),
    nodes AS MATERIALIZED (
      SELECT n_nationkey AS node, n_name,
             CAST({_PPB} // nn.n AS BIGINT) AS rank0,
             CAST({_PPB - _DAMP_NUM * _PPB // _DAMP_DEN} // nn.n AS BIGINT) AS base
      FROM nation CROSS JOIN nn),
    it0 AS (SELECT node, rank0 AS rank_ppb FROM nodes),
    {','.join(_iter_sql(f'it{k}', f'it{k + 1}') for k in range(_ITERS))}
    SELECT nodes.n_name AS nation,
           it{_ITERS}.rank_ppb,
           coalesce(inw.in_w, 0) AS in_w,
           coalesce(outw.out_w, 0) AS out_w
    FROM nodes
    JOIN it{_ITERS} ON nodes.node = it{_ITERS}.node
    LEFT JOIN inw ON nodes.node = inw.dst
    LEFT JOIN outw ON nodes.node = outw.src
    ORDER BY rank_ppb DESC, nation
    """,
)
def graph_pagerank_nations(spark, sf_dir):
    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_orderkey", "l_suppkey")
    orders = t.orders.select("o_orderkey", "o_custkey")
    cust = t.customer.select("c_custkey", "c_nationkey")
    # supplier grows with SF — no broadcast hint, AQE decides (r01 lesson)
    supp = t.supplier.select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("bigint").alias("w"))
        .transform(pin)  # ≤ |nations|² rows, read by every iteration + degree sums
    )
    outw = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("out_w"))
    inw = edges.groupBy("dst").agg(F.sum("w").cast("bigint").alias("in_w"))
    n_nations = t.nation.count()  # tiny dim; the one intentional action
    base = (_PPB - _DAMP_NUM * _PPB // _DAMP_DEN) // n_nations
    nodes = t.nation.select(
        F.col("n_nationkey").alias("node"), "n_name"
    )
    ranks = nodes.select("node", F.lit(_PPB // n_nations).cast("bigint").alias("rank_ppb"))
    emsg = edges.join(outw, "src")
    for _ in range(_ITERS):
        inflow = (
            emsg.join(F.broadcast(ranks), emsg["src"] == ranks["node"])
            .select(
                F.col("dst"),
                F.expr("(rank_ppb * w) div out_w").alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inflow"))
        )
        ranks = (
            nodes.join(F.broadcast(inflow), nodes["node"] == inflow["dst"], "left")
            .select(
                nodes["node"],
                (
                    F.lit(base)
                    + F.expr(
                        f"({_DAMP_NUM} * coalesce(inflow, 0)) div {_DAMP_DEN}"
                    )
                )
                .cast("bigint")
                .alias("rank_ppb"),
            )
        )
    return (
        nodes.join(F.broadcast(ranks), "node")
        .join(F.broadcast(inw), nodes["node"] == inw["dst"], "left")
        .join(F.broadcast(outw), nodes["node"] == outw["src"], "left")
        .select(
            F.col("n_name").alias("nation"),
            "rank_ppb",
            F.coalesce("in_w", F.lit(0)).cast("bigint").alias("in_w"),
            F.coalesce("out_w", F.lit(0)).cast("bigint").alias("out_w"),
        )
        .orderBy(F.col("rank_ppb").desc(), "nation")
    )


# ---------------------------------------------------------------------------
# Recursive-CTE reachability: ≤3-hop transitive closure of the top-5
# strongest trade edges per source nation, via Spark 4's WITH RECURSIVE —
# the SQL-surface twin of the unrolled-iteration PageRank above. ONE SQL
# string runs on BOTH engines (table names substituted), so the oracle is
# the literal same query.
#
# Scale: like PageRank, the recursion never touches raw rows — the edge
# list is first reduced to ≤|nations|·5 rows (top-5 out-edges by weight,
# deterministic (w DESC, dst) order), so every recursive step joins frames
# whose size is bounded by the nation-count, not the data volume. Spark
# 4 supports UNION ALL recursion only, so termination is the explicit
# hop < 3 bound and min-hop dedup happens after (exact, since min() over
# duplicated paths equals min over distinct ones).
# ---------------------------------------------------------------------------
_REACH_TOPK = 5
_REACH_HOPS = 3


def _reach_sql(li: str, orders: str, cust: str, supp: str, materialize: bool = False) -> str:
    # materialize=True pins `strong` (<= |nations|*topk rows) for the DuckDB
    # oracle: it is referenced by BOTH the recursion seed and the recursive
    # step, and a plain CTE inlined into the step re-runs the full 600M-row
    # raw_edges join on every iteration. Spark doesn't parse AS MATERIALIZED,
    # so the shared-string twin keeps the plain form there (Spark plans the
    # recursion itself); the query text is otherwise identical.
    mat = "MATERIALIZED " if materialize else ""
    return f"""
    WITH RECURSIVE raw_edges AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM {li} l
      JOIN {orders} o ON l.l_orderkey = o.o_orderkey
      JOIN {cust} c   ON o.o_custkey = c.c_custkey
      JOIN {supp} s   ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2),
    strong AS {mat}(
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
        FROM raw_edges WHERE src <> dst) t
      WHERE rn <= {_REACH_TOPK}),
    reach (src, dst, hop) AS (
      SELECT src, dst, 1 FROM strong
      UNION ALL
      SELECT r.src, e.dst, r.hop + 1
      FROM reach r JOIN strong e ON r.dst = e.src
      WHERE r.hop < {_REACH_HOPS} AND e.dst <> r.src),
    minhop AS (
      SELECT src, dst, CAST(min(hop) AS BIGINT) AS h
      FROM reach GROUP BY src, dst)
    SELECT src,
           CAST(count_if(h <= 1) AS BIGINT) AS n_reach_h1,
           CAST(count_if(h <= 2) AS BIGINT) AS n_reach_h2,
           CAST(count(*) AS BIGINT) AS n_reach_h3,
           CAST(sum(h) AS BIGINT) AS sum_min_hops
    FROM minhop GROUP BY src ORDER BY src
    """


def _reach_strong_sql(li: str, orders: str, cust: str, supp: str) -> str:
    """The pre-recursion reduction alone: top-{_REACH_TOPK} out-edges per
    source nation — the same raw_edges/strong text as _reach_sql."""
    return f"""
    WITH raw_edges AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM {li} l
      JOIN {orders} o ON l.l_orderkey = o.o_orderkey
      JOIN {cust} c   ON o.o_custkey = c.c_custkey
      JOIN {supp} s   ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2)
    SELECT src, dst FROM (
      SELECT src, dst,
             row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
      FROM raw_edges WHERE src <> dst) t
    WHERE rn <= {_REACH_TOPK}
    """


def _reach_rec_sql(strong: str) -> str:
    """The recursion + rollup over an already-materialized ``strong``
    relation — the same reach/minhop/rollup text as _reach_sql."""
    return f"""
    WITH RECURSIVE
    reach (src, dst, hop) AS (
      SELECT src, dst, 1 FROM {strong}
      UNION ALL
      SELECT r.src, e.dst, r.hop + 1
      FROM reach r JOIN {strong} e ON r.dst = e.src
      WHERE r.hop < {_REACH_HOPS} AND e.dst <> r.src),
    minhop AS (
      SELECT src, dst, CAST(min(hop) AS BIGINT) AS h
      FROM reach GROUP BY src, dst)
    SELECT src,
           CAST(count_if(h <= 1) AS BIGINT) AS n_reach_h1,
           CAST(count_if(h <= 2) AS BIGINT) AS n_reach_h2,
           CAST(count(*) AS BIGINT) AS n_reach_h3,
           CAST(sum(h) AS BIGINT) AS sum_min_hops
    FROM minhop GROUP BY src ORDER BY src
    """


@register(
    "graph_reachability_recursive",
    extra=True,
    sql=_reach_sql("lineitem", "orders", "customer", "supplier", materialize=True),
)
def graph_reachability_recursive(spark, sf_dir):
    # r9 opt: materialize `strong` (<= |nations| * topk rows) ONCE and hand
    # the recursion a cached temp view. Spark's recursive-CTE execution
    # re-evaluates the step plan per iteration, and with `strong` written
    # inline the 4-table raw_edges join re-ran every hop — the Spark twin
    # of the oracle-side AS MATERIALIZED pin (same fragment texts, same
    # results; only the strong subtree's evaluation count changes).
    t = Tables(spark, sf_dir)
    t.lineitem.createOrReplaceTempView("__reach_lineitem")
    t.orders.createOrReplaceTempView("__reach_orders")
    t.customer.createOrReplaceTempView("__reach_customer")
    t.supplier.createOrReplaceTempView("__reach_supplier")
    strong = spark.sql(
        _reach_strong_sql(
            "__reach_lineitem", "__reach_orders", "__reach_customer", "__reach_supplier"
        )
    ).transform(pin)
    strong.createOrReplaceTempView("__reach_strong")
    return spark.sql(_reach_rec_sql("__reach_strong"))


# ---------------------------------------------------------------------------
# Triangle count + global clustering coefficient of the undirected nation
# trade graph (same edge derivation as graph_pagerank_nations: supplier
# nation -> customer nation from lineitem/orders). Triangles are counted
# once each by the canonical a < b < c orientation — the standard
# distributed triangle-counting shape (order edges, two joins). The
# clustering coefficient 3*triangles / open_triads stays in integer ppm.
#
# Scale design (100 TB): the raw data collapses to the <= |nations|^2 edge
# frame FIRST (one hash aggregate over the 4-table join); the triangle joins
# touch only that tiny frame (broadcast). On a billion-node graph the same
# plan holds with the edge frame shuffled on its join keys instead of
# broadcast — the a<b<c orientation already halves the join fan-out and
# avoids double counting without a distinct.
# ---------------------------------------------------------------------------
@register(
    "graph_triangle_count",
    extra=True,
    # und is <= |nations|^2/2 rows but referenced 6x (deg twice via the
    # UNION ALL, tri three times, ecount once) — inlined, each reference
    # re-ran the 600M-row edge join; 15GiB spill-cap death at the 1000x
    # sweep. Materialized, everything downstream is sub-millisecond.
    sql=f"""
    WITH edges AS ({_edges_sql()}),
    und AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst),
    deg AS MATERIALIZED (
      SELECT node, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
      GROUP BY node),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_open_triads
      FROM deg),
    ecount AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)
    SELECT stats.n_nodes, ecount.n_edges, tri.n_triangles, stats.n_open_triads,
           CAST(CASE WHEN stats.n_open_triads = 0 THEN 0
                ELSE 3 * tri.n_triangles * 1000000 // stats.n_open_triads END
             AS BIGINT) AS clustering_ppm
    FROM stats CROSS JOIN ecount CROSS JOIN tri
    """,
)
def graph_triangle_count(spark, sf_dir):
    t = Tables(spark, sf_dir)
    edges = (
        t.lineitem.join(
            t.orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .transform(pin)
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("d"))
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(F.broadcast(e2), F.col("e2.a") == F.col("e1.b"))
        .join(
            F.broadcast(e3),
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    stats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_open_triads"),
    )
    ecount = und.agg(F.count("*").cast("long").alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(ecount))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_open_triads",
            F.expr(
                "CAST(CASE WHEN n_open_triads = 0 THEN 0"
                " ELSE 3 * n_triangles * 1000000 div n_open_triads END AS BIGINT)"
            ).alias("clustering_ppm"),
        )
    )
