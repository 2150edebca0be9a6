"""Workload ``headline_sf0.1``: the 16 ``bench.HEADLINE`` catalog queries at
scale factor 0.1, one query at a time, noop sink, cache released between
queries as ``bench.py`` does. Steady passes run the queries in a seeded
order; the cold pass runs them in ``bench.HEADLINE`` order.

The cold pass collects every result to the driver; after the timed passes
those results are compared with the DuckDB oracle of each query, using the
comparison of ``tools/check_oracle.py`` (column names, type families, row
count, normalized values).
"""

from __future__ import annotations

import random
import sys
import time
from pathlib import Path

import tpch
from bench import HEADLINE
from etl_for_dumdums_spark.catalog import EXTRA_ORACLE, EXTRA_QUERIES, ORACLE, QUERIES, load_all
from spans import storage

SF = 0.1
# nominal seconds of a steady pass: with the 10 s run budget a run makes one
# steady pass, the second pass of the JVM, which still warms up
PASS_S = 10


def data_dir(work: Path, seed: int) -> Path:
    return work / "data" / f"tpch-sf{SF}-seed{seed}"


def generate(data_dir: Path, seed: int) -> dict:
    """Generate (or reuse) the seeded tables and the oracle's answers."""
    return {"gen_s": round(tpch.materialize(data_dir, SF, seed), 3),
            "oracle_s": round(_oracle_answers(data_dir), 3)}


def _oracle_answers(data_dir: Path) -> float:
    """Run each headline query's DuckDB oracle once per data set and keep
    the answers as parquet beside the data; returns the seconds spent."""
    import duckdb
    import pyarrow.parquet as pq

    out = data_dir / "oracle"
    if all((out / f"{q}.parquet").exists() for q in HEADLINE):
        return 0.0
    t0 = time.perf_counter()
    load_all()
    sql = {**ORACLE, **EXTRA_ORACLE}
    out.mkdir(exist_ok=True)
    with duckdb.connect() as con:
        con.execute(f"SET temp_directory='{data_dir / 'duckdb_tmp'}'")
        for name in tpch.TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir / name}.parquet')"
            )
        for q in HEADLINE:
            table = con.execute(sql[q]).arrow()
            pq.write_table(table, out / f"{q}.parquet.tmp")
            (out / f"{q}.parquet.tmp").rename(out / f"{q}.parquet")
    return time.perf_counter() - t0


def locate(b) -> None:
    """Inputs located: every table present with its manifest row count."""
    if not tpch.verify(b.data_dir):
        raise RuntimeError(f"{b.data_dir} failed its row-count check")


def run_pass(b, p: int, cold: bool) -> None:
    queries = {**EXTRA_QUERIES, **QUERIES}
    order = list(HEADLINE)
    if not cold:  # the cold pass keeps bench.py's order: its JIT warm-up depends on it
        random.Random(f"{b.seed}:{p}").shuffle(order)
    spark, rec, sf_dir = b.spark, b.rec, str(b.data_dir)
    for q in order:
        try:
            with rec.op("catalog", q, "read") as op:
                with rec.span("define", "catalog"):
                    df = queries[q](spark, sf_dir)
                if rec.traced:
                    with rec.span("plan", "catalog"):
                        op.extra["plan_s"] = plan_seconds(df)
                with rec.span("exec", "catalog") as ex:
                    if cold:
                        b.outputs[q] = (df.columns, df.schema, [tuple(r) for r in df.collect()])
                    else:
                        df.write.format("noop").mode("overwrite").save()
                op.extra["exec_s"] = ex.seconds
        except Exception as exc:  # one failing query must not end the run
            print(f"perfbench: {q} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
        spark.catalog.clearCache()
        op.extra["residual_bytes"], op.extra["residual_rdds"] = storage(spark)


def plan_seconds(df) -> float:
    """Analysis + optimization + physical planning of ``df``'s plan, from the
    query-execution tracker (forces planning of the DataFrame's own plan)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    jvm = df.sparkSession.sparkContext._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
    return sum(phases.get(k).durationMs() for k in phases.keySet()) / 1000


def check(b) -> None:
    """Compare the cold pass's results with the oracle's; a mismatch marks
    that query's cold operation failed."""
    import pyarrow.parquet as pq

    from check_oracle import normalize, type_mismatches

    cold_ops = {op.name: op for op in b.rec.ops if op.pass_no == 0}
    for q, op in cold_ops.items():
        if op.failed:
            continue
        table = pq.read_table(b.data_dir / "oracle" / f"{q}.parquet")
        dcols = table.column_names
        drows = [tuple(d[c] for c in dcols) for d in table.to_pylist()]
        scols, sschema, srows = b.outputs[q]
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns {sorted(scols)} != {sorted(dcols)}")
        else:
            problems += type_mismatches(sschema, table.schema)
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} != {len(drows)}")
        elif not problems and normalize(scols, srows)[1] != normalize(dcols, drows)[1]:
            problems.append("values differ")
        if problems:
            b.fail(op, "; ".join(problems))
