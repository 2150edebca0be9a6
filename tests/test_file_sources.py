"""CSV / JSON-lines / ORC ingest (sources/files.py): schema fidelity,
corrupt-record dispositions, quarantine split, and the scale property that
makes ORC the storage format — pushdown + pruning in the physical plan."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_for_dumdums_spark.session import release
from etl_for_dumdums_spark.sources.files import (
    CORRUPT_COL,
    quarantine_split,
    read_csv,
    read_jsonl,
    read_orc,
    write_orc,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


@pytest.fixture()
def csv_dir(tmp_path):
    p = tmp_path / "in.csv"
    p.write_text(
        "id,name,score\n"
        "1,alice,2.5\n"
        "2,bob,not-a-number\n"  # malformed score
        "3,carol,4.0\n"
    )
    return str(p)


def test_csv_permissive_quarantines_bad_rows(spark, csv_dir):
    df = read_csv(spark, csv_dir, SCHEMA)
    clean, bad = quarantine_split(df)
    assert CORRUPT_COL not in clean.columns
    assert sorted(r["id"] for r in clean.collect()) == [1, 3]
    badrows = bad.collect()
    assert len(badrows) == 1
    assert "not-a-number" in badrows[0][CORRUPT_COL]


def test_csv_dropmalformed_and_failfast(spark, csv_dir):
    dropped = read_csv(spark, csv_dir, SCHEMA, mode="DROPMALFORMED")
    assert sorted(r["id"] for r in dropped.collect()) == [1, 3]
    with pytest.raises(Exception):  # Spark raises through the scan
        read_csv(spark, csv_dir, SCHEMA, mode="FAILFAST").collect()
    with pytest.raises(ValueError):
        read_csv(spark, csv_dir, SCHEMA, mode="YOLO")


def test_jsonl_permissive_schema_and_quarantine(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "name": "alice", "score": 2.5}\n'
        "this is not json\n"
        '{"id": 3, "name": "carol", "score": 4.0}\n'
    )
    clean, bad = quarantine_split(read_jsonl(spark, str(p), SCHEMA))
    assert sorted(r["id"] for r in clean.collect()) == [1, 3]
    assert bad.count() == 1
    # declared types survive (no inference drift)
    assert dict(clean.dtypes)["id"] == "bigint"
    assert dict(clean.dtypes)["score"] == "double"


def test_orc_roundtrip_with_types_and_partitions(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, "a", 2.5, True), (2, "b", -1.0, False), (3, "a", 0.0, True)],
        "id long, grp string, score double, flag boolean",
    ).withColumn("ts", F.to_timestamp(F.lit("2024-03-01 10:00:00")))
    out = str(tmp_path / "t.orc")
    write_orc(src, out, "overwrite", "grp")
    back = read_orc(spark, out)
    assert back.count() == 3
    # types survive the round trip (partition col comes back as read type)
    d = dict(back.dtypes)
    assert d["id"] == "bigint" and d["score"] == "double" and d["ts"] == "timestamp"
    assert {r["grp"] for r in back.select("grp").distinct().collect()} == {"a", "b"}


def test_orc_scan_pushes_filters_and_prunes_columns(spark, tmp_path):
    """The reason ORC (not CSV) is the storage format: predicate pushdown
    and column pruning reach the scan, and partition filters prune
    directories — same properties the parquet plans pin."""
    src = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 2).alias("payload"),
        (F.col("id") % 3).alias("part"),
    )
    out = str(tmp_path / "big.orc")
    write_orc(src, out, "overwrite", "part")
    df = read_orc(spark, out).filter((F.col("part") == 1) & (F.col("id") <= 10)).select(
        "id", "grp"
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [IsNotNull(id), LessThanOrEqual(id,10)" in plan
    assert "ReadSchema: struct<id:bigint,grp:bigint>" in plan
    assert "PartitionFilters" in plan and "(part = 1)" in plan.replace("#", " #").replace(
        "part#", "part #"
    ) or "isnotnull(part" in plan
    assert sorted(r["id"] for r in df.collect()) == [1, 4, 7, 10]


def test_csv_is_ingest_only_orc_is_storage(spark, tmp_path, csv_dir):
    """The ingest→columnar hop: PERMISSIVE CSV read → quarantine split →
    ORC write → reread equals the clean frame. The pattern every raw-file
    feed follows before anything queries it."""
    clean, _ = quarantine_split(read_csv(spark, csv_dir, SCHEMA))
    out = str(tmp_path / "clean.orc")
    write_orc(clean, out)
    back = read_orc(spark, out)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in clean.collect()
    )


def test_csv_column_pruning_changes_malformedness_and_split_pins_it(spark, tmp_path):
    """Pins the Spark CSV pitfall that bit round 6: malformedness (wrong
    token count) is checked only by the UNPRUNED parse. A row missing its
    last column is corrupt iff EVERY declared column is referenced — even
    referencing the missing column alone is not enough (the pruned parser
    null-fills without a length check). The oracled
    file_ingest_quarantine query therefore aggregates every declared
    column, and quarantine_split's cache freezes full-schema semantics so
    its counts cannot shift under downstream pruning."""
    p = tmp_path / "short.csv"
    p.write_text("id,name,score\n1,alice,2.5\n2,bob\n3,carol,4.0\n")
    df = read_csv(spark, str(p), SCHEMA)

    def bad_count(*cols):
        sel = [F.count(F.when(F.col(CORRUPT_COL).isNotNull(), 1)).alias("bad")]
        sel += [F.max(c).alias(c) for c in cols]
        return df.select(*sel).collect()[0]["bad"]

    assert bad_count("id", "name", "score") == 1  # unpruned: corrupt
    assert bad_count("id") == 0  # pruned: clean
    assert bad_count("score") == 0  # even the MISSING column alone: clean
    # quarantine_split caches the full frame: stable counts either way
    clean, bad = quarantine_split(read_csv(spark, str(p), SCHEMA))
    assert bad.count() == 1 and clean.count() == 2
    assert bad.select("id").collect()[0]["id"] == 2
    release()


def test_file_ingest_quarantine_fixture_is_idempotent(tmp_path):
    """build_dirty_csv writes byte-identical content on every call and is
    atomic (no partial file is ever visible at the target path)."""
    from etl_for_dumdums_spark.catalog.ingest import build_dirty_csv

    p = str(tmp_path / "fixtures" / "dirty.csv")
    build_dirty_csv(p)
    first = open(p, "rb").read()
    mtime = __import__("os").stat(p).st_mtime_ns
    build_dirty_csv(p)
    assert open(p, "rb").read() == first
    # second call detected byte-identical content and did not rewrite
    assert __import__("os").stat(p).st_mtime_ns == mtime
    assert first.count(b"\n") == 5001  # header + 5000 data lines
