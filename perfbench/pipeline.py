"""Workload ``pipeline_incremental``: the ELT day on the hacker_news source
family (2 raw tables, 9 models, 3 schema tests, 4 marts) at fixture scale
``SCALE``.

Inputs come from the seeded ``tests/fixtures.py`` generators and are staged
to parquet once per (scale, seed), outside every timed region: the initial
load, and one batch per day that is unique on the primary key, carries
updated and new keys, and on each day adds a column to one table (schema
evolution). Pass 0 is the full refresh through ``io.load_table``; every
later pass is one incremental day:

1. the ``hn_comments`` batch is re-scored with ``score_sentiment`` and
   ``stub_scorer`` (staged to parquet by the enrich operation),
2. each batch is merged with ``io.merge_table``,
3. ``build_full_dag(...).build()`` runs and every model is counted,
4. ``run_schema_tests`` runs,
5. every ``fct_*``/``dim_*`` mart is read twice through
   ``serving.LoaderRegistry`` and ``toPandas()``: a miss, then a hit.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
from functools import partial
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 20
DAYS = 12  # incremental days staged per seed; pass p > 0 runs day p
# nominal seconds of a steady pass: with the 10 s run budget a run makes two
# steady passes, the JVM's second and third, which still warm up
PASS_S = 5
NOW = dt.datetime(2024, 3, 15, 12, 0, 0)  # the fixtures' fixed clock
# The reference syncs each source daily over a trailing lookback window and
# upserts by key (SURVEY.md 2.13); 7 days is the shortest of its windows.
# A day's batch is then the rows posted that day (new keys) plus the rows of
# the window's other days (updates). The generators post rows uniformly
# over a span of days, so the shares of a table's keys per day are
# 1 / span new and (LOOKBACK_DAYS - 1) / span updated.
LOOKBACK_DAYS = 7

# table -> (raw schema name, generator name, generator seed)
TABLES = {
    "hn_stories": ("hacker_news.raw_stories", "gen_hn_stories", 11),
    "hn_comments": ("hacker_news.raw_comments", "gen_hn_comments", 13),
}
SENTIMENT = ("sentiment_score", "sentiment_label", "sentiment_category")


def _update(table: str, row: dict) -> dict:
    """The day's change to an existing row (one value column per table)."""
    row = dict(row)
    if table == "hn_stories":
        row["score"] += 1
    else:
        row["text"] += " (edited)"
    return row


def arrow_schema(spark_schema) -> pa.Schema:
    """The Arrow schema whose parquet Spark reads back as ``spark_schema``
    (timestamps as UTC instants, so they stay TimestampType)."""
    from pyspark.sql import types as T

    def conv(t):
        if isinstance(t, T.StringType):
            return pa.string()
        if isinstance(t, T.LongType):
            return pa.int64()
        if isinstance(t, T.IntegerType):
            return pa.int32()
        if isinstance(t, T.DoubleType):
            return pa.float64()
        if isinstance(t, T.BooleanType):
            return pa.bool_()
        if isinstance(t, T.DateType):
            return pa.date32()
        if isinstance(t, T.TimestampType):
            return pa.timestamp("us", tz="UTC")
        if isinstance(t, T.ArrayType):
            return pa.list_(conv(t.elementType))
        raise TypeError(f"no arrow type for {t}")

    return pa.schema([(f.name, conv(f.dataType)) for f in spark_schema.fields])


def _stage(out: Path, seed: int) -> dict:
    """Write initial/<table>.parquet and day<d>/<table>.parquet; returns the
    manifest (row counts per file)."""
    from etl_for_dumdums_spark.schema import PRIMARY_KEYS, RAW_SCHEMAS
    from tests import fixtures

    os.environ["SPARK_GRAFT_FIXTURE_SCALE"] = str(SCALE)
    manifest: dict = {"scale": SCALE, "seed": seed, "days": DAYS, "rows": {}}
    for t_i, (table, (schema_name, gen, base_seed)) in enumerate(TABLES.items()):
        pk = PRIMARY_KEYS[schema_name]
        schema = arrow_schema(RAW_SCHEMAS[schema_name])
        rows = getattr(fixtures, gen)(seed=base_seed + 1000 * seed)
        rng = random.Random(f"{seed}:{table}")
        keys = list(dict.fromkeys(r[pk] for r in rows))
        first = {}
        for r in rows:
            first.setdefault(r[pk], r)
        posted = [r["posted_at"] for r in rows]
        span_days = (max(posted) - min(posted)).total_seconds() / 86400
        n_new = max(1, round(len(keys) / span_days))
        held = rng.sample(keys, n_new * DAYS)
        new_by_day = [held[d * n_new:(d + 1) * n_new] for d in range(DAYS)]
        held_set = set(held)
        initial = [r for r in rows if r[pk] not in held_set]
        state: dict = {}  # a key's current row (the first, where the raw data repeats a key)
        for r in initial:
            state.setdefault(r[pk], r)
        _write(out / "initial" / f"{table}.parquet", initial, schema, manifest)
        for d in range(1, DAYS + 1):
            live = list(state)
            n_updated = max(1, round(len(live) * (LOOKBACK_DAYS - 1) / span_days))
            updated = [_update(table, state[k]) for k in rng.sample(live, n_updated)]
            inserted = [first[k] for k in new_by_day[d - 1]]
            batch = updated + inserted
            if len({r[pk] for r in batch}) != len(batch):  # merge_table's precondition
                raise RuntimeError(f"{table} day {d}: batch repeats a primary key")
            for r in batch:
                state[r[pk]] = r
            day_schema = schema
            if (d - 1) % len(TABLES) == t_i:  # schema evolution: one new column a day
                col = f"batch_day_{d}"
                batch = [{**r, col: d} for r in batch]
                day_schema = schema.append(pa.field(col, pa.int64()))
            if table == "hn_comments":  # the enrich step adds these back
                day_schema = pa.schema([f for f in day_schema if f.name not in SENTIMENT])
            _write(out / f"day{d}" / f"{table}.parquet", batch, day_schema, manifest)
    return manifest


def _write(path: Path, rows: list[dict], schema: pa.Schema, manifest: dict) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    manifest["rows"][str(path.relative_to(path.parent.parent))] = len(rows)


def _verify(stage: Path, manifest: dict) -> bool:
    return all(
        (stage / name).exists() and pq.ParquetFile(stage / name).metadata.num_rows == n
        for name, n in manifest["rows"].items()
    )


def data_dir(work: Path, seed: int) -> Path:
    return work / "data" / f"pipeline-scale{SCALE}-seed{seed}"


def generate(data_dir: Path, seed: int) -> dict:
    """Stage (or reuse) the seeded initial load and daily batches."""
    import time

    manifest_path = data_dir / "manifest.json"
    if manifest_path.exists() and _verify(data_dir, json.loads(manifest_path.read_text())):
        return {"gen_s": 0.0}
    t0 = time.perf_counter()
    shutil.rmtree(data_dir, ignore_errors=True)
    manifest = _stage(data_dir, seed)
    manifest_path.write_text(json.dumps(manifest))
    return {"gen_s": round(time.perf_counter() - t0, 3)}


def locate(b) -> None:
    b.manifest = json.loads((b.data_dir / "manifest.json").read_text())
    if not _verify(b.data_dir, b.manifest):
        raise RuntimeError(f"{b.data_dir} failed its row-count check")
    b.warehouse = b.work / "tmp" / str(os.getpid()) / "warehouse"


def _bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def run_pass(b, p: int, cold: bool) -> None:
    from etl_for_dumdums_spark import io
    from etl_for_dumdums_spark.models.full_dag import build_full_dag
    from etl_for_dumdums_spark.models.schema_tests import run_schema_tests
    from etl_for_dumdums_spark.operators.enrich import score_sentiment, stub_scorer
    from etl_for_dumdums_spark.schema import PRIMARY_KEYS
    from etl_for_dumdums_spark.serving import LoaderRegistry

    spark, rec, wh = b.spark, b.rec, b.warehouse
    if p > DAYS:
        raise RuntimeError(f"only {DAYS} days are staged")
    if cold:
        for table in TABLES:
            with rec.op("io", f"load {table}", "write"):
                io.load_table(spark.read.parquet(str(b.data_dir / "initial" / f"{table}.parquet")),
                              str(wh / table))
    else:
        day = b.data_dir / f"day{p}"
        batches = {t: day / f"{t}.parquet" for t in TABLES}
        enriched = wh / "_enriched" / f"day{p}"
        with rec.op("enrich", "score_sentiment") as op:
            batch = spark.read.parquet(str(batches["hn_comments"]))
            score_sentiment(batch, "text", stub_scorer).write.parquet(str(enriched))
            op.extra["rows"] = b.manifest["rows"][f"day{p}/hn_comments.parquet"]
        batches["hn_comments"] = enriched
        for table, (schema_name, _, _) in TABLES.items():
            with rec.op("io", f"merge {table}", "write") as op:
                io.merge_table(spark, spark.read.parquet(str(batches[table])), str(wh / table),
                               PRIMARY_KEYS[schema_name])
            op.extra["batch_bytes"] = _bytes(batches[table])
            op.extra["bytes_written"] = _bytes(wh / table)

    reg = build_full_dag({t: str(wh / t) for t in TABLES}, NOW, mart_dir=str(wh / "marts"))
    with rec.op("runner", "build"):
        built = reg.build(spark)
    for name in reg.topo_order():
        with rec.op("models", name) as op:
            op.extra["rows"] = built[name].count()
    with rec.op("checks", "run_schema_tests") as op:
        results = run_schema_tests(built)
    op.extra["tests"] = len(results)
    op.extra["tests_failed"] = [f"{r.detail} {r.check} {r.column}" for r in results if not r.passed]

    marts = [m for m in reg.topo_order() if m.startswith(("fct_", "dim_"))]
    loaders = LoaderRegistry(ttl_seconds=24 * 3600)
    built_by_loader = dict.fromkeys(marts, 0)  # the registry calls a loader only on a miss

    def loader(_spark, m):
        built_by_loader[m] += 1
        return built[m]

    for m in marts:
        loaders.loader(m)(partial(loader, m=m))
    for _ in ("miss", "hit"):
        for m in marts:
            calls = built_by_loader[m]
            with rec.op("serving", m, "read") as op:
                pdf = loaders.load(spark, m).toPandas()
            op.extra["hit"] = built_by_loader[m] == calls
            b.outputs.setdefault((p, m), []).append((op, pdf))
    loaders.invalidate()
    spark.catalog.clearCache()
    b.last_pass = p


def _same_rows(a, b) -> bool:
    from check_oracle import normalize

    def rows(pdf):
        return normalize(list(pdf.columns), list(pdf.astype(object).itertuples(index=False)))

    return list(a.columns) == list(b.columns) and rows(a) == rows(b)


def _expected(b, table: str) -> pa.Table:
    """The documented upsert, in Python: rows whose key is in a day's batch
    are replaced by the batch row, all other rows are kept."""
    from etl_for_dumdums_spark.schema import PRIMARY_KEYS

    pk = PRIMARY_KEYS[TABLES[table][0]]
    state: dict = {}
    for r in pq.read_table(b.data_dir / "initial" / f"{table}.parquet").to_pylist():
        state.setdefault(r[pk], []).append(r)
    for d in range(1, b.last_pass + 1):
        batch = pq.read_table(b.data_dir / f"day{d}" / f"{table}.parquet").to_pylist()
        if table == "hn_comments":
            batch = score_rows(batch)
        for r in batch:
            state[r[pk]] = [r]
    rows = [r for rs in state.values() for r in rs]
    cols = list(dict.fromkeys(c for r in rows for c in r))
    return pa.Table.from_pylist([{c: r.get(c) for c in cols} for r in rows])


def score_rows(rows: list[dict]) -> list[dict]:
    """``score_sentiment``'s documented rule with ``stub_scorer``: the text
    is cut to MAX_CHARS, texts shorter than 10 characters are neutral."""
    from etl_for_dumdums_spark.operators.enrich import MAX_CHARS, categorize, stub_scorer

    out = []
    for r in rows:
        text = (r["text"] or "")[:MAX_CHARS]
        if len(text.strip()) < 10:
            s, label, cat = 0.0, "NEUTRAL", "neutral"
        else:
            s = stub_scorer([text])[0]
            label, cat = ("POSITIVE" if s >= 0 else "NEGATIVE"), categorize(s)
        out.append({**r, "sentiment_score": s, "sentiment_label": label,
                    "sentiment_category": cat})
    return out


def _same_table(actual: pa.Table, expected: pa.Table) -> str | None:
    if sorted(actual.column_names) != sorted(expected.column_names):
        return f"columns {sorted(actual.column_names)} != {sorted(expected.column_names)}"
    expected = expected.select(actual.column_names).cast(actual.schema)
    keys = [(c, "ascending") for c in actual.column_names]
    if actual.num_rows != expected.num_rows:
        return f"rows {actual.num_rows} != {expected.num_rows}"
    if not actual.sort_by(keys).equals(expected.sort_by(keys)):
        return "values differ"
    return None


def check(b) -> None:
    """Merged tables equal the upsert expectation, the enriched batches carry
    exactly ``stub_scorer``'s sentiment, and the second read of each mart was
    a loader-cache hit with the same rows as the miss."""
    for (miss_op, miss_pdf), (hit_op, hit_pdf) in b.outputs.values():
        if miss_op.extra["hit"] or not hit_op.extra["hit"]:
            b.fail(hit_op, "the second read of a mart was not the loader cache's hit")
        elif not _same_rows(miss_pdf, hit_pdf):
            b.fail(hit_op, "serving hit returned other rows than its miss")
    for table in TABLES:
        actual = pq.read_table(b.warehouse / table)
        actual = actual.cast(pa.schema([
            pa.field(f.name, pa.timestamp("us", tz="UTC")) if pa.types.is_timestamp(f.type) else f
            for f in actual.schema
        ]))
        problem = _same_table(actual, _expected(b, table))
        if problem:
            last_merge = [op for op in b.rec.ops if op.name in (f"merge {table}", f"load {table}")]
            b.fail(last_merge[-1], f"merged table != upsert expectation: {problem}")
    for op in b.rec.ops:
        if op.layer != "enrich":
            continue
        day = op.pass_no
        got = pq.read_table(b.warehouse / "_enriched" / f"day{day}")
        want = pa.Table.from_pylist(
            score_rows(pq.read_table(b.data_dir / f"day{day}" / "hn_comments.parquet").to_pylist()))
        got = got.select(["id", *SENTIMENT]).sort_by("id")
        want = want.select(["id", *SENTIMENT]).cast(got.schema).sort_by("id")
        if not got.equals(want):
            b.fail(op, "sentiment columns differ from stub_scorer on the same texts")
