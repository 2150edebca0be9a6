"""Round-10 optimization equivalence pins: every plan/algorithm rewrite this
round is pinned against its original formulation (real data + synthetic edge
cases), same protocol as tests/test_optimization_r09.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_for_dumdums_spark.catalog.dedup import _CC_MAX_ITERS

from .conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# IVF: driver-side numpy Lloyd's trainer vs the MLlib k-means|| path.
# Full-probe (nprobe = k) IVF output is mathematically the brute-force
# top-k for ANY centroid set, so the two trainers must produce identical
# query results even though their centroids differ.
# ---------------------------------------------------------------------------
def test_local_and_mllib_trainers_identical_full_probe(spark):
    pytest.importorskip("pyspark.ml.clustering")
    from etl_for_dumdums_spark.operators.ivf import ivf_topk, train_ivf_index

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = list(range(6))
    out = {}
    for trainer in ("local", "mllib"):
        assigned, cents = train_ivf_index(
            emb, k=4, seed=7, trainer=trainer,
            train_on=emb.filter("vec_id < 2000"),
        )
        assert len(cents) == 4
        out[trainer] = ivf_topk(
            emb, assigned, queries, k=5, nprobe=4, centroids=cents
        ).collect()
    assert out["local"] == out["mllib"]


def test_local_trainer_deterministic_and_assignment_consistent(spark):
    from etl_for_dumdums_spark.operators.ivf import train_ivf_index

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    a1, c1 = train_ivf_index(emb, k=4, seed=7, trainer="local")
    # repartitioned input: the driver-side sample sort makes the draw
    # order (hence centroids) partitioning-independent
    a2, c2 = train_ivf_index(emb.repartition(7), k=4, seed=7, trainer="local")
    assert c1 == c2
    assert a1.orderBy("vec_id").collect() == a2.orderBy("vec_id").collect()
    # every vector lands in exactly one bucket in [0, k)
    import pyspark.sql.functions as F

    stats = a1.agg(
        F.count("*").alias("n"),
        F.count_distinct("vec_id").alias("d"),
        F.min("bucket").alias("lo"),
        F.max("bucket").alias("hi"),
    ).collect()[0]
    assert stats["n"] == stats["d"] == emb.count()
    assert 0 <= stats["lo"] and stats["hi"] <= 3


# ---------------------------------------------------------------------------
# Connected components: large-star/small-star contraction vs the r9
# min-label propagation. Same fixpoint (node -> component minimum) on real
# candidate graphs and synthetic chain/star/cycle shapes; round count on a
# long chain is logarithmic in the diameter (the point of the rewrite).
# ---------------------------------------------------------------------------
def _pairs(spark, lst):
    return spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in lst], "da long, db long"
    ).distinct()


def _labels(df):
    return sorted((r["node"], r["lbl"]) for r in df.collect())


def _cc_labels_minlabel(cand):
    """Min-label propagation over the candidate pair graph — the r9 form,
    kept as the pin-test twin of ``_cc_labels_star`` (identical fixpoint:
    every node labelled with its component's minimum doc_id). Converges in
    O(graph diameter) full-edge-join rounds, which is exactly why the
    query itself now uses the star contraction instead (r10 opt)."""
    cand = cand.cache()
    nodes = cand.select(F.col("da").alias("node")).union(cand.select("db")).distinct()
    edges = cand.select(F.col("da").alias("src"), F.col("db").alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).cache()

    labels = nodes.withColumn("lbl", F.col("node")).localCheckpoint(eager=True)
    # convergence via the label-sum invariant: labels are per-node monotone
    # nonincreasing, so sum(lbl) strictly decreases iff ANY label changed
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    for _ in range(_CC_MAX_ITERS):
        prop = edges.join(labels, edges["src"] == labels["node"]).select(
            F.col("dst").alias("node"), "lbl"
        )
        new_labels = (
            labels.select("node", "lbl")
            .union(prop)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=True)  # truncate per-iteration lineage
        )
        new_sum = new_labels.agg(F.sum("lbl")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select("node", "lbl")


def test_cc_star_matches_minlabel_on_synthetic_graphs(spark):
    from etl_for_dumdums_spark.catalog.dedup import _cc_labels_star

    cases = {
        # chain short enough for min-label's _CC_MAX_ITERS to converge
        "chain20": [(i, i + 1) for i in range(20)],
        "star": [(500, 500 + i) for i in range(1, 40)] + [(7, 500)],
        "cycle+2comp": [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12)],
        "single_edge": [(42, 7)],
    }
    for name, edges in cases.items():
        cand = _pairs(spark, edges)
        assert _labels(_cc_labels_star(cand)) == _labels(
            _cc_labels_minlabel(cand)
        ), name


def test_cc_star_matches_minlabel_on_real_candidates(spark):
    from etl_for_dumdums_spark.catalog.dedup import (
        _cc_labels_star,
        _minhash_candidates,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cand = _minhash_candidates(docs).cache()
    assert _labels(_cc_labels_star(cand)) == _labels(_cc_labels_minlabel(cand))


def test_cc_star_logarithmic_rounds_on_long_chain(spark):
    import math

    from etl_for_dumdums_spark.catalog.dedup import _cc_labels_star

    # diameter 255 — min-label would need 255 propagation rounds (beyond
    # its own _CC_MAX_ITERS cap); star contraction needs ~log2 rounds
    # (+1 round that verifies no change)
    cand = _pairs(spark, [(i, i + 1) for i in range(255)])
    iters: list[int] = []
    lbls = _labels(_cc_labels_star(cand, iters))
    assert lbls == [(i, 0) for i in range(256)]  # one component rooted at 0
    assert iters[0] <= math.ceil(math.log2(255)) + 1, iters


# ---------------------------------------------------------------------------
# dedup_prefix_jaccard: (a) length-bucketed candidate join key must yield
# the byte-identical candidate set as the plain h-only join; (b) the
# array_intersect verification must reproduce the original pair-by-token
# count-join output exactly, including across bucket boundaries.
# ---------------------------------------------------------------------------
def _ppj_frames(spark, docs):
    """prefix / toks / tokarr frames exactly as _prefix_jaccard builds them."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    fp = docs.select(
        "doc_id", F.lower(F.trim(F.col("text"))).alias("t")
    ).select(
        "doc_id", "t",
        F.expr("CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)").alias("fp"),
    )
    grp = fp.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    reps = fp.alias("f").join(
        grp.alias("g"),
        (F.col("f.fp") == F.col("g.fp")) & (F.col("f.doc_id") == F.col("g.rep")),
    ).select(F.col("f.doc_id").alias("doc_id"), F.col("f.t").alias("t"))
    arr = reps.select("doc_id", F.split(F.col("t"), r"\s+").alias("a")).filter(
        F.size("a") >= 3
    )
    toks = (
        arr.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(a) - 3),"
                    " i -> concat_ws(' ', a[i], a[i+1], a[i+2]))"
                )
            ).alias("w"),
        )
        .select(
            "doc_id",
            F.expr("CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT)").alias("h"),
        )
        .distinct()
        .cache()
    )
    dfreq = toks.groupBy("h").agg(F.count("*").alias("df"))
    sized = toks.groupBy("doc_id").agg(F.count("*").alias("s"))
    ranked = toks.join(dfreq, "h").select(
        "doc_id", "h",
        F.row_number().over(W.partitionBy("doc_id").orderBy("df", "h")).alias("rk"),
    )
    prefix = (
        ranked.join(sized, "doc_id")
        .filter(F.col("rk") <= F.col("s") - F.floor((4 * F.col("s") + 4) / 5) + 1)
        .select("doc_id", "h", "rk", "s")
        .cache()
    )
    return toks, sized, prefix


def _ppj_cand_unbucketed(prefix):
    """The r9 candidate join (h-only equi-key) — pin twin."""
    import pyspark.sql.functions as F

    a, b = prefix.alias("a"), prefix.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (5 * F.least("a.s", "b.s") >= 4 * F.greatest("a.s", "b.s"))
            & (
                1 + F.least(F.col("a.s") - F.col("a.rk"), F.col("b.s") - F.col("b.rk"))
                >= F.floor((4 * (F.col("a.s") + F.col("b.s")) + 8) / 9)
            ),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )


def _boundary_docs(spark):
    """Synthetic docs whose token-set sizes straddle a power-of-2 bucket
    boundary while staying within the 0.8-Jaccard size ratio: sizes 60-64
    span buckets 5 and 6 (floor(log2)), and consecutive sizes share all
    but a few trailing trigrams, so qualifying pairs cross the boundary."""
    rows = []
    for i, n_words in enumerate([62, 63, 64, 65, 66, 80]):
        words = " ".join(f"w{j:03d}" for j in range(n_words))
        rows.append((i, words))
    # plus two identical texts (exact-dup group expansion path)
    rows.append((10, rows[0][1]))
    rows.append((11, rows[0][1]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ppj_bucketed_candidates_match_unbucketed(spark):
    from etl_for_dumdums_spark.catalog.dedup import _ppj_candidates

    for src in (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet"),
        _boundary_docs(spark),
    ):
        _, _, prefix = _ppj_frames(spark, src)
        new = _ppj_candidates(prefix)
        old = _ppj_cand_unbucketed(prefix)
        assert new.exceptAll(old).isEmpty() and old.exceptAll(new).isEmpty()


def test_ppj_array_intersect_matches_count_join(spark):
    """Full-output pin: the r10 _prefix_jaccard (bucketed candidates +
    array_intersect verification) vs the r9 pair-by-token formulation."""
    import pyspark.sql.functions as F

    from etl_for_dumdums_spark.catalog.dedup import _ppj_candidates, _prefix_jaccard

    for src in (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet"),
        _boundary_docs(spark),
    ):
        toks, sized, prefix = _ppj_frames(spark, src)
        cand = _ppj_cand_unbucketed(prefix)
        ta = toks.select(F.col("doc_id").alias("da"), "h")
        tb = toks.select(F.col("doc_id").alias("db2"), F.col("h").alias("hb"))
        inter = (
            cand.join(ta, "da")
            .join(tb, (F.col("db") == F.col("db2")) & (F.col("h") == F.col("hb")))
            .groupBy("da", "db")
            .agg(F.count("*").alias("n_shared"))
        )
        old_rep_pairs = sorted(
            (r["da"], r["db"], r["n_shared"], r["sa"], r["sb"])
            for r in (
                inter.join(
                    sized.select(F.col("doc_id").alias("da"), F.col("s").alias("sa")),
                    "da",
                )
                .join(
                    sized.select(F.col("doc_id").alias("db"), F.col("s").alias("sb")),
                    "db",
                )
                .filter(9 * F.col("n_shared") >= 4 * (F.col("sa") + F.col("sb")))
                .collect()
            )
        )
        tokarr = toks.groupBy("doc_id").agg(
            F.sort_array(F.collect_list("h")).alias("hs"), F.count("*").alias("s")
        )
        new_rep_pairs = sorted(
            (r["da"], r["db"], r["n_shared"], r["sa"], r["sb"])
            for r in (
                _ppj_candidates(prefix)
                .join(
                    tokarr.select(
                        F.col("doc_id").alias("da"),
                        F.col("hs").alias("ha"),
                        F.col("s").alias("sa"),
                    ),
                    "da",
                )
                .join(
                    tokarr.select(
                        F.col("doc_id").alias("db"),
                        F.col("hs").alias("hb"),
                        F.col("s").alias("sb"),
                    ),
                    "db",
                )
                .withColumn(
                    "n_shared", F.size(F.array_intersect("ha", "hb")).cast("long")
                )
                .filter(9 * F.col("n_shared") >= 4 * (F.col("sa") + F.col("sb")))
                .collect()
            )
        )
        assert new_rep_pairs == old_rep_pairs
        # and the end-to-end catalog output on the synthetic corpus is sane:
        # identical texts must appear as jaccard-1.0 pairs
        out = _prefix_jaccard(src).collect()
        full = {(r["da"], r["db"]): r["jaccard"] for r in out}
        if (10, 11) in full:
            assert full[(10, 11)] == 1.0


# ---------------------------------------------------------------------------
# dedup_edit_distance: single-evaluation barrier + length prefilter +
# verification repartition must not change results; the plan must contain
# exactly ONE levenshtein (the r9 plan evaluated it 3x per pair: twice in
# the pushed-down join condition, once in the projection).
# ---------------------------------------------------------------------------
def test_edit_distance_matches_original_formulation(spark):
    import pyspark.sql.functions as F

    from etl_for_dumdums_spark.catalog.dedup import (
        _EDIT_MAX,
        _EDIT_PCT,
        _minhash_candidates,
        dedup_edit_distance,
    )

    sf_dir = SF_SMOKE
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cand = _minhash_candidates(docs)
    norm = docs.select(
        "doc_id",
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").alias("nt"),
    )
    na = norm.select(F.col("doc_id").alias("da"), F.col("nt").alias("nta"))
    nb = norm.select(F.col("doc_id").alias("db"), F.col("nt").alias("ntb"))
    old = (
        cand.join(na, "da")
        .join(nb, "db")
        .withColumn("edit_dist", F.levenshtein("nta", "ntb", _EDIT_MAX))
        .withColumn("len_a", F.length("nta").cast("long"))
        .withColumn("len_b", F.length("ntb").cast("long"))
        .filter(
            (F.col("edit_dist") >= 0)
            & (F.col("edit_dist") * _EDIT_PCT <= F.greatest("len_a", "len_b"))
        )
        .select(
            "da", "db", F.col("edit_dist").cast("long").alias("edit_dist"),
            "len_a", "len_b",
        )
        .orderBy("da", "db")
    )
    new = dedup_edit_distance(spark, sf_dir)
    assert new.collect() == old.collect()


def test_edit_distance_plan_single_levenshtein(spark):
    from etl_for_dumdums_spark.catalog.dedup import dedup_edit_distance

    df = dedup_edit_distance(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("levenshtein") == 1, plan


def test_length_prefilter_is_implied_by_edit_threshold(spark):
    """|len_a-len_b| > _EDIT_MAX implies levenshtein(threshold=_EDIT_MAX)
    returns -1 — the prefilter can never drop a surviving pair."""
    import pyspark.sql.functions as F

    from etl_for_dumdums_spark.catalog.dedup import _EDIT_MAX

    rows = [("x" * 10, "x" * (10 + _EDIT_MAX + 1)), ("ab", "a" * (_EDIT_MAX + 10))]
    df = spark.createDataFrame(rows, "a string, b string")
    got = df.select(F.levenshtein("a", "b", _EDIT_MAX).alias("d")).collect()
    assert all(r["d"] == -1 for r in got)


# ---------------------------------------------------------------------------
# join_cooccurrence_pairs: basket-explode pair generation vs the original
# (order, part)-DISTINCT self-join.
# ---------------------------------------------------------------------------
def test_cooccurrence_basket_explode_matches_self_join(spark):
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    from etl_for_dumdums_spark.catalog.joins import _COOC_K, _cooccurrence_pairs

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    items = li.select("l_orderkey", "l_partkey").distinct()
    part_orders = items.groupBy("l_partkey").agg(F.count("*").alias("n_orders"))
    n_total = items.agg(F.count_distinct("l_orderkey").alias("n"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .agg(F.count("*").alias("n_ab"))
    )
    fa = part_orders.select(F.col("l_partkey").alias("pa"), F.col("n_orders").alias("n_a"))
    fb = part_orders.select(F.col("l_partkey").alias("pb"), F.col("n_orders").alias("n_b"))
    scored = (
        pairs.join(fa, "pa")
        .join(fb, "pb")
        .crossJoin(F.broadcast(n_total))
        .select("pa", "pb", "n_ab", "n_a", "n_b", F.col("n"))
        .withColumn(
            "lift",
            F.round(F.col("n_ab") * F.col("n") * 1.0 / (F.col("n_a") * F.col("n_b")), 4),
        )
        .drop("n")
    )
    top = scored.orderBy(F.desc("n_ab"), "pa", "pb").limit(_COOC_K)
    rn = F.row_number().over(W.orderBy(F.desc("n_ab"), "pa", "pb")).cast("long")
    old = (
        top.withColumn("rn", rn)
        .select("pa", "pb", "n_ab", "n_a", "n_b", "lift", "rn")
        .orderBy("rn")
        .collect()
    )
    assert _cooccurrence_pairs(li).collect() == old


def test_local_trainer_cap_raises(spark):
    from etl_for_dumdums_spark.operators import ivf

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    orig = ivf._LOCAL_TRAIN_CAP
    ivf._LOCAL_TRAIN_CAP = 10  # force the driver-memory guard
    try:
        with pytest.raises(ValueError, match="bounded train_on"):
            ivf.train_ivf_index(emb, k=4, seed=7, trainer="local")
    finally:
        ivf._LOCAL_TRAIN_CAP = orig
