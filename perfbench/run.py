"""The repository's benchmark: one workload per run, end-to-end metrics by
default, per-layer metrics with ``--trace 1``.

    python3 perfbench/run.py --workload headline_sf0.1 --seed 1 --seconds 10 --trace 0

A run generates its inputs from ``--seed`` in a child process (cached under
``.bench_work/``), starts one Spark session (``local[nproc]`` unless
``SPARK_GRAFT_CPUS`` is set), runs a cold pass and then a fixed number of
steady passes (``--seconds`` over the workload's nominal pass time, at
least one), checks the outputs, and prints one JSON object as the last
line of standard output. The run record (box context,
spans, per-operation counts) is written to ``.bench_work/runs/``. See
README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = {"headline_sf0.1": "headline", "pipeline_incremental": "pipeline"}
LAYERS = ("catalog", "io", "enrich", "runner", "models", "checks", "serving")
MB = 1024 * 1024
KEEP_INPUTS = 24  # cached data sets per workload


def per_layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric a traced run prints, in
    BENCHMARK.json order."""
    from bench import HEADLINE

    s, n, mb, ratio = "s", "count", "MB", "ratio"
    out = [("session.start_s", s)]
    out += [("catalog.define_s", s), ("catalog.plan_s", s), ("catalog.exec_s", s),
            ("catalog.jobs", n), ("catalog.stages", n), ("catalog.tasks", n)]
    for q in HEADLINE:
        out += [(f"catalog.tasks.{q}", n), (f"catalog.plan_s.{q}", s), (f"catalog.exec_s.{q}", s)]
    out += [
        ("catalog.task_busy_frac", ratio), ("catalog.shuffle_mb", mb), ("catalog.spill_mb", mb),
        ("catalog.task_skew", ratio), ("catalog.live_storage_mb", mb), ("catalog.leaky_ops", n),
        ("io.merge_s", s), ("io.merge_jobs", n), ("io.write_amplification", ratio),
        ("enrich.score_s", s), ("enrich.rows_per_s", "1/s"),
        ("runner.build_s", s), ("runner.jobs", n), ("models.count_s", s), ("models.jobs", n),
        ("checks.run_s", s), ("checks.jobs", n),
        ("serving.miss_s", s), ("serving.hit_s", s), ("serving.hit_ratio", ratio),
        ("serving.cached_mb", mb),
    ]
    out += [(f"{layer}.failed_tasks", n) for layer in LAYERS]
    out += [("trace.overhead_frac", ratio), ("trace.coverage", ratio)]
    return out


END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("pass_s", "s")]


@dataclass
class Bench:
    """State of one run, shared by the pass loop and the workload (which may
    keep its own state on it too)."""

    root: Path
    work: Path
    seed: int
    seconds: float
    traced: bool
    spark: object = None
    rec: object = None
    data_dir: Path | None = None
    outputs: dict = field(default_factory=dict)
    record: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def fail(self, op, message: str) -> None:
        """Count ``op`` as failed for a wrong output."""
        op.failed = True
        self.errors.append(f"{op.layer} {op.name} (pass {op.pass_no}): {message}")
        print(f"perfbench: wrong output: {self.errors[-1]}", file=sys.stderr)


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    start_ticks = int(Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _environment(work: Path, traced: bool) -> Path:
    """Point Spark's and Python's scratch space into the checkout and, for a
    traced run, turn the event log on for this process's JVM only."""
    tmp = work / "tmp" / str(os.getpid())
    (tmp / "spark-local").mkdir(parents=True, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # PerfDisableSharedMem: no hsperfdata file under /tmp
    args = [f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"']
    if traced:
        (tmp / "eventlog").mkdir()
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{tmp / 'eventlog'}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return tmp


def steady_passes(seconds: float, mod) -> int:
    """How many steady passes a run makes: ``seconds`` over the workload's
    nominal pass time ``PASS_S``, at least one. The count never depends on
    how long the passes actually take, so every commit takes its median over
    the same pass positions of a warming JVM."""
    return max(1, int(seconds // mod.PASS_S))


def _passes(b: Bench, mod) -> dict:
    """The cold pass, then ``steady_passes`` steady passes. A traced run puts
    one pass with the per-operation instrumentation off on each side of its
    steady passes: their mean is the base of ``trace.overhead_frac``, so
    warm-up across passes cancels to first order."""
    rec = b.rec
    timings: dict = {"steady": [], "steady_passes": [], "bare": [], "coverage": {}}
    p = 0

    def one(cold: bool = False, instrumented: bool = True) -> float:
        nonlocal p
        rec.pass_no, rec.traced = p, b.traced and instrumented
        with rec.span(f"pass{p}", "pass") as sp:
            mod.run_pass(b, p, cold)
        covered = sum(s.seconds for s in rec.spans if s.parent == sp.id and s.layer in LAYERS)
        timings["coverage"][p] = covered / sp.seconds
        p += 1
        return sp.seconds

    timings["cold"] = one(cold=True)
    if b.traced:
        timings["bare"].append(one(instrumented=False))
    for _ in range(steady_passes(b.seconds, mod)):
        timings["steady_passes"].append(p)
        timings["steady"].append(one())
    if b.traced:
        timings["bare"].append(one(instrumented=False))
    return timings


def _generate(module: str, data_dir: Path, seed: int) -> dict:
    """Build (or verify the cached) inputs in a child process, so that the
    generator's memory never shows in the run's resident-set figures;
    returns the child's timings."""
    out = subprocess.run([sys.executable, str(HERE / "gen.py"), module, str(data_dir), str(seed)],
                         check=True, stdout=subprocess.PIPE, text=True)
    return json.loads(out.stdout.splitlines()[-1])


def _prune_inputs(in_use: Path) -> None:
    """Keep the ``KEEP_INPUTS`` most recently used data sets of this
    workload (the directory names up to ``-seed``)."""
    os.utime(in_use)
    kind = in_use.name.rsplit("-seed", 1)[0]
    sets = sorted((d for d in in_use.parent.iterdir() if d.name.rsplit("-seed", 1)[0] == kind),
                  key=lambda d: d.stat().st_mtime, reverse=True)
    for d in sets[KEEP_INPUTS:]:
        shutil.rmtree(d, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session, then the JVM PySpark launched for it, and wait
    for it to exit (it leaves when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    needed = ["etl_for_dumdums_spark/__init__.py", "bench.py", "tests/fixtures.py",
              "tools/check_oracle.py"]
    missing = [n for n in needed if not (ROOT / n).is_file()]
    if missing:
        print(f"perfbench: not a checkout of the package (missing {missing})", file=sys.stderr)
        return 2

    work = ROOT / ".bench_work"
    tmp = _environment(work, bool(args.trace))
    sys.path[:0] = [str(ROOT), str(HERE), str(ROOT / "tools")]
    from context import RunContext, status_mb

    ctx = RunContext(ROOT)
    b = Bench(ROOT, work, args.seed, args.seconds, bool(args.trace))
    spark = None
    try:
        # set-up: the package imports, the session and the catalog
        import bench  # noqa: F401  (HEADLINE is read from it)
        from etl_for_dumdums_spark.catalog import load_all
        from etl_for_dumdums_spark.session import get_spark

        mod = importlib.import_module(WORKLOADS[args.workload])
        from spans import Recorder, read_event_log

        load_all()
        t = time.perf_counter()
        b.data_dir = mod.data_dir(work, b.seed)
        b.record.update(_generate(WORKLOADS[args.workload], b.data_dir, b.seed))
        prepare_s = time.perf_counter() - t
        _prune_inputs(b.data_dir)
        t = time.perf_counter()
        spark = b.spark = get_spark("perfbench")
        session_s = time.perf_counter() - t
        mod.locate(b)
        setup_s = _process_age() - prepare_s
        jvm = _jvm_pid(spark) or 0
        b.rec = Recorder(spark, b.traced,
                         lambda: status_mb("self", "VmRSS") + status_mb(jvm, "VmRSS"))

        timings = _passes(b, mod)
        mod.check(b)
        peak_rss = status_mb("self", "VmHWM") + status_mb(jvm, "VmHWM")
        b.record["context"] = ctx.record(spark)
    finally:
        if spark is not None:
            _stop(spark)

    rec = b.rec
    # peak RSS follows the JVM's heap growth, which varies run to run by more
    # than any usable bound (3.1-6.2 GB for the same code on a 4-core box), so it is
    # recorded rather than gated
    b.record["peak_rss_mb"] = peak_rss
    end_to_end = _end_to_end(b, timings, setup_s)
    metrics = {"end_to_end": end_to_end}
    tasks = {}
    if b.traced:
        tasks = read_event_log(tmp / "eventlog")
        metrics["per_layer"] = _per_layer(b, timings, tasks, session_s)
    failed = sum(op.failed for op in rec.ops)
    b.record.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        attempted=len(rec.ops), failed=failed, error_rate=failed / max(len(rec.ops), 1),
        errors=b.errors, timings=timings, prepare_s=round(prepare_s, 3), metrics=metrics,
        ops=[_op_record(op, tasks.get(op.id)) for op in rec.ops],
    )
    runs = work / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    (runs / f"{stem}.json").write_text(json.dumps(b.record, indent=1, default=str))
    rec.dump(runs / f"{stem}.spans.json")
    shutil.rmtree(tmp, ignore_errors=True)

    shown = metrics["per_layer"] if b.traced else end_to_end
    units = dict(per_layer_metrics() if b.traced else END_TO_END)
    if set(shown) != set(units):
        raise RuntimeError(f"metric names drifted: {sorted(set(shown) ^ set(units))}")
    print(f"perfbench: record {runs / stem}.json; error_rate {b.record['error_rate']}",
          file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and not b.errors,
        "attempted": len(rec.ops),
        "failed": failed,
        "metrics": {k: {"value": shown[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def _op_record(op, task_stats) -> dict:
    rec = {
        "id": op.id, "layer": op.layer, "name": op.name, "pass": op.pass_no, "kind": op.kind,
        "s": round(op.span.seconds, 6), "failed": op.failed, "jobs": op.jobs,
        "stages": op.stages, "tasks": op.tasks, "storage_bytes": op.storage_bytes,
        "cached_rdds": op.cached_rdds, "rss_mb": round(op.rss_mb, 1), **op.extra,
    }
    if task_stats is not None:  # traced: the event log's task metrics of this op
        t = task_stats
        rec["task_metrics"] = {
            "run_ms": t.run_ms, "cpu_ms": round(t.cpu_ms, 1), "gc_ms": t.gc_ms,
            "shuffle_read_bytes": t.shuffle_read, "shuffle_write_bytes": t.shuffle_write,
            "spill_bytes": t.spill, "output_bytes": t.output, "failed_tasks": t.failed_tasks,
            "max_task_ms": max(t.durations, default=0), "skew": round(t.skew, 3),
        }
    return rec


def _end_to_end(b: Bench, timings: dict, setup_s: float) -> dict:
    from stats import median, tail

    steady = set(timings["steady_passes"])
    reads = [op.span.seconds for op in b.rec.ops if op.kind == "read" and op.pass_no in steady]
    writes = [op.span.seconds for op in b.rec.ops if op.kind == "write" and op.pass_no in steady]
    # read latencies swing with the machine's load more than pass_s does (IQR/median
    # up to 0.33 where pass_s read 0.12), too much for a bound, so they are recorded only
    b.record.update(read_p50_s=median(reads), read_samples=len(reads))
    p90 = tail(reads, 0.9)
    if p90 is not None:  # only where at least ten reads lie beyond it
        b.record["read_p90_s"] = p90
    if writes:
        b.record["write_p50_s"] = median(writes)
        b.record["write_samples"] = len(writes)
    # storage left behind by an operation, and what survived the release
    ops = [op for op in b.rec.ops if op.pass_no in steady]
    b.record["ops_leaving_cached_rdds"] = sum(op.cached_rdds > 0 for op in ops)
    b.record["residual_bytes_max"] = max((op.extra.get("residual_bytes", 0) for op in ops),
                                         default=0)
    return {
        "setup_s": setup_s,
        "cold_pass_s": timings["cold"],
        "pass_s": median(timings["steady"]),
    }


def _per_layer(b: Bench, timings: dict, tasks: dict, session_s: float) -> dict:
    """Per-layer metrics from the instrumented steady passes: sums per pass,
    then the median over passes; ratios over all those passes together."""
    from bench import HEADLINE
    from stats import median

    steady = timings["steady_passes"]
    ops = [op for op in b.rec.ops if op.pass_no in steady]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    def per_pass(layer: str, value) -> float:
        return median([sum(value(op) for op in ops if op.layer == layer and op.pass_no == p)
                       for p in steady])

    def child(op, name: str) -> float:
        return sum(s.seconds for s in b.rec.spans if s.parent == op.span.id and s.name == name)

    def seconds(layer):
        return per_pass(layer, lambda op: op.span.seconds)

    def jobs(layer):
        return per_pass(layer, lambda op: op.jobs)

    cat = [op for op in ops if op.layer == "catalog"]
    cat_tasks = [tasks.get(op.id) for op in cat if op.id in tasks]
    exec_s = sum(op.extra.get("exec_s", 0) for op in cat)
    out = {"session.start_s": session_s}
    out["catalog.define_s"] = per_pass("catalog", lambda op: child(op, "define"))
    out["catalog.plan_s"] = per_pass("catalog", lambda op: op.extra.get("plan_s", 0))
    out["catalog.exec_s"] = per_pass("catalog", lambda op: op.extra.get("exec_s", 0))
    out["catalog.jobs"] = jobs("catalog")
    out["catalog.stages"] = per_pass("catalog", lambda op: op.stages)
    out["catalog.tasks"] = per_pass("catalog", lambda op: op.tasks)
    for q in HEADLINE:
        mine = [op for op in cat if op.name == q] or [None]
        out[f"catalog.tasks.{q}"] = median([op.tasks if op else 0 for op in mine])
        out[f"catalog.plan_s.{q}"] = median([op.extra.get("plan_s", 0) if op else 0
                                            for op in mine])
        out[f"catalog.exec_s.{q}"] = median([op.extra.get("exec_s", 0) if op else 0
                                            for op in mine])
    run_ms = sum(t.run_ms for t in cat_tasks)
    out["catalog.task_busy_frac"] = run_ms / 1000 / (exec_s * cores) if exec_s else 0.0
    out["catalog.shuffle_mb"] = sum(t.shuffle_write for t in cat_tasks) / MB / len(steady)
    out["catalog.spill_mb"] = sum(t.spill for t in cat_tasks) / MB / len(steady)
    out["catalog.task_skew"] = max((t.skew for t in cat_tasks), default=0.0)
    out["catalog.live_storage_mb"] = max((op.storage_bytes for op in cat), default=0) / MB
    out["catalog.leaky_ops"] = per_pass("catalog", lambda op: op.cached_rdds > 0)

    merges = [op for op in ops if op.layer == "io" and op.kind == "write"]
    out["io.merge_s"] = per_pass("io", lambda op: op.span.seconds if op.kind == "write" else 0)
    out["io.merge_jobs"] = per_pass("io", lambda op: op.jobs if op.kind == "write" else 0)
    staged = sum(op.extra.get("batch_bytes", 0) for op in merges)
    written = sum(op.extra.get("bytes_written", 0) for op in merges)
    out["io.write_amplification"] = written / staged if staged else 0.0
    out["enrich.score_s"] = seconds("enrich")
    rows = per_pass("enrich", lambda op: op.extra.get("rows", 0))
    out["enrich.rows_per_s"] = rows / out["enrich.score_s"] if out["enrich.score_s"] else 0.0
    out["runner.build_s"] = seconds("runner")
    out["runner.jobs"] = jobs("runner")
    out["models.count_s"] = seconds("models")
    out["models.jobs"] = jobs("models")
    out["checks.run_s"] = seconds("checks")
    out["checks.jobs"] = jobs("checks")
    hit = [op.extra.get("hit") for op in ops if op.layer == "serving"]
    out["serving.miss_s"] = per_pass("serving", lambda op: 0 if op.extra.get("hit") else
                                     op.span.seconds)
    out["serving.hit_s"] = per_pass("serving", lambda op: op.span.seconds if op.extra.get("hit")
                                    else 0)
    out["serving.hit_ratio"] = sum(bool(h) for h in hit) / len(hit) if hit else 0.0
    out["serving.cached_mb"] = max((op.storage_bytes for op in ops if op.layer == "serving"),
                                   default=0) / MB
    for layer in LAYERS:
        out[f"{layer}.failed_tasks"] = sum(
            tasks[op.id].failed_tasks for op in b.rec.ops if op.layer == layer and op.id in tasks
        )
    bare = sum(timings["bare"]) / len(timings["bare"])
    out["trace.overhead_frac"] = median(timings["steady"]) / bare - 1
    out["trace.coverage"] = min(timings["coverage"][i] for i in steady)
    return out


if __name__ == "__main__":
    sys.exit(main())
