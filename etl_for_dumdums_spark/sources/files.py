"""File-format ingest: CSV / JSON-lines / ORC readers with explicit
schemas and corrupt-record dispositions, plus the matching writers.

The reference's file-shaped inputs are public-dataset CSV extracts it
loads through pandas before the warehouse write (SURVEY §2 S12/S14); a
Spark engine ingests them distributed, so this module fixes the three
decisions that go wrong at 100 TB if left to defaults:

* **Explicit schema, never inferSchema** — schema inference is a full
  extra pass over the data (at crawl scale that doubles the read) and is
  nondeterministic under dirty rows; every reader here requires a
  StructType.
* **Corrupt-record policy is a stated argument** (PERMISSIVE with a
  quarantine column / DROPMALFORMED / FAILFAST), mirroring the MERGE
  dispositions in io.py: ingest never silently invents semantics.
  PERMISSIVE keeps bad lines in ``_corrupt_record`` so the pipeline can
  count + quarantine them (the DQ pattern catalog/advanced.py's
  dq_null_report applies downstream).
* **ORC round-trips through the JVM-native reader/writer** (orc-core is
  on every Spark classpath) — columnar like parquet, so predicate
  pushdown and column pruning survive; CSV/JSON scans cannot prune
  columns and exist only as ingest formats, not storage formats. Write
  once to a columnar format, query there — never re-scan raw CSV.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import pin

_MODES = {"PERMISSIVE", "DROPMALFORMED", "FAILFAST"}

CORRUPT_COL = "_corrupt_record"


def _schema_with_corrupt(schema: T.StructType, mode: str) -> T.StructType:
    """PERMISSIVE quarantine needs the corrupt column declared IN the
    schema (Spark drops it otherwise)."""
    if mode != "PERMISSIVE" or CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType(), True)])


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
    header: bool = True,
    sep: str = ",",
    **options,
) -> DataFrame:
    """Schema-explicit CSV read with a stated corrupt-record policy."""
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {sorted(_MODES)}, got {mode!r}")
    return (
        spark.read.schema(_schema_with_corrupt(schema, mode))
        .option("header", header)
        .option("sep", sep)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .options(**options)
        .csv(path)
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
    **options,
) -> DataFrame:
    """Schema-explicit JSON-lines read (the crawl-dump interchange format)."""
    if mode not in _MODES:
        raise ValueError(f"mode must be one of {sorted(_MODES)}, got {mode!r}")
    return (
        spark.read.schema(_schema_with_corrupt(schema, mode))
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .options(**options)
        .json(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC read — columnar, schema-carrying; pushdown/pruning verified in
    tests/test_file_sources.py against the physical plan."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite", *partition_cols: str) -> None:
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.orc(path)


def quarantine_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a PERMISSIVE read into (clean, quarantined) frames: a row is
    quarantined iff the corrupt column captured its raw text. The clean
    frame drops the quarantine column, ready for the warehouse write; the
    quarantined frame keeps it for triage.

    The parsed frame is cached: Spark disallows queries that reference
    ONLY the corrupt column of a raw CSV/JSON scan
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN — the column is populated during
    parsing, so a pruned re-scan could not reproduce it), and both halves
    re-read the parse anyway. The cache also FREEZES full-schema
    malformedness: Spark checks a row's token count only on the unpruned
    parse, so without the cache the quarantine counts could shift under
    downstream column pruning (pinned in tests/test_file_sources.py). The
    cache is a ``session.pin``: call ``session.release()`` after the
    terminal action."""
    if CORRUPT_COL not in df.columns:
        raise ValueError("quarantine_split needs a PERMISSIVE read (corrupt column absent)")
    df = pin(df)
    bad = F.col(CORRUPT_COL).isNotNull()
    return df.filter(~bad).drop(CORRUPT_COL), df.filter(bad)
