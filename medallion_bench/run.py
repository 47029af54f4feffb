"""Medallion lakehouse benchmark.

    python3 medallion_bench/run.py --workload cdc_trickle --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. One process, one client, Spark
``local[<cores>]``. The engine is driven only through its public API.
Set-up (session start, seeded input generation, pre-load, warm-up)
is timed as ``setup_s``; then passes of the workload's operations run
until ``--seconds`` have elapsed and at least ``MIN_PASSES`` passes
are done (the pass in flight completes); then the final state is
checked against DuckDB, outside the timed window.

``--trace 0`` prints the end-to-end metrics:

- ``setup_s``: wall time of the set-up.
- ``step_p50_s``: each primary operation kind's median wall time,
  summed over those kinds: one drop to silver on ``cdc_trickle``, one
  round of the seven reference statements on ``serve_sql``.
- ``pass_s``: the same over every kind of a pass: the drop plus the
  gold refresh, or one round of the statements plus the registry
  queries.

Taking each kind's median before summing makes every run's figure
cover the same operations once, whatever their order.

``--trace 1`` is the separate traced run: every other operation runs
with spans recorded around the engine's public functions and Spark counters
read per step, and the per-layer metrics are printed. The last stdout
line is the JSON result; each result is also appended to
``.bench_out/results.jsonl`` (see ``layer_diff.py``) and the traced
run's spans are written to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
PKG = "medallion_architecture_using_apache_iceberg_table_buckets_spark"

E2E_UNITS = {"setup_s": "s", "step_p50_s": "s", "pass_s": "s"}
# a traced run then runs every kind both traced and bare
MIN_PASSES = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def trace_targets():
    """(owner, attribute, span name, on_result) for every public
    function the traced run wraps. Module-level names are patched where
    the caller looks them up (``runner``'s and ``cdc``'s imports)."""
    from pyspark.sql.readwriter import DataFrameWriter

    import medallion_architecture_using_apache_iceberg_table_buckets_spark.pipeline.runner as runner
    import medallion_architecture_using_apache_iceberg_table_buckets_spark.pipeline.cdc as cdc
    import medallion_architecture_using_apache_iceberg_table_buckets_spark.pipeline.gold as gold
    import medallion_architecture_using_apache_iceberg_table_buckets_spark.pipeline.ingest as ingest
    from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
        SqlSession, Table,
    )

    return [
        (runner.MedallionPipeline, "run_once", "pipeline.run_once", None),
        (runner, "ingest_raw_to_bronze", "ingest.ingest_raw_to_bronze", None),
        (runner, "bronze_to_silver", "cdc.bronze_to_silver", None),
        (ingest.IncrementalFileSource, "new_files", "ingest.new_files", _on_files),
        (ingest.HadoopIncrementalFileSource, "_list_files", "ingest.list_files", _on_listing),
        (Table, "append", "table.append", _on_snap),
        (Table, "replace_files", "table.replace_files", _on_snap),
        (Table, "append_merge_delta", "table.append_merge_delta", _on_snap),
        (Table, "read_incremental", "table.read_incremental", None),
        (Table, "snapshots", "table.snapshots", None),
        (Table, "metadata_aggregate", "table.metadata_aggregate", None),
        (cdc, "merge_into", "merge.merge_into", None),
        (DataFrameWriter, "parquet", "writer.parquet", None),
        (gold, "build_gold_mart", "gold.build_gold_mart", _on_gold),
        (SqlSession, "sql", "sql.sql", None),
    ]


def _on_snap(sp, snap):
    sp.update(added_files=len(snap.added_files), removed_files=len(snap.removed_files),
              live_files=len(snap.files), added_records=snap.summary.get("added_records", 0))


def _on_files(sp, result):
    sp["new_files"] = len(result[0])


def _on_listing(sp, result):
    sp["listed"] = len(result)


def _on_gold(sp, result):
    sp["mode"] = result.get("mode", "")


def timed_loop(w, seconds: float, tracer, stats, targets):
    """Passes until ``seconds`` have elapsed and ``MIN_PASSES`` are
    done. With a tracer, operations alternate between traced and bare
    (op ``j`` of pass ``p`` is traced when ``p + j`` is even), so one
    run yields both and each kind of operation is traced in every other
    pass."""
    ops = []
    t_end = time.perf_counter() + seconds
    p = 0
    while True:
        failed = False
        for j, op in enumerate(w.pass_ops()):
            traced = tracer is not None and (p + j) % 2 == 0
            rec = {"id": f"{p}.{j}:{op.kind}", "pass": p, "kind": op.kind,
                   "primary": op.primary, "traced": traced, **op.info}
            if traced:
                tracer.install(targets)
                tracer.op_id = rec["id"]
                stats.begin(rec["id"])
            c0, t0 = stats.cpu_s(), time.perf_counter()
            try:
                if traced:
                    with tracer.span("op", kind=op.kind):
                        op.fn(tracer)
                else:
                    op.fn(None)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                rec["error"] = failed = True
            finally:
                rec["wall"] = time.perf_counter() - t0
                if traced:
                    tracer.uninstall()
            rec["cpu"] = stats.cpu_s() - c0
            if traced:
                rec["spark"] = stats.end(rec["id"], rec["wall"])
                tracer.op_id = None
            ops.append(rec)
            if failed:
                break
        p += 1
        if failed or (time.perf_counter() >= t_end and p >= MIN_PASSES):
            return ops, p


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / PKG / "__init__.py").is_file() or not (root / "__spark_entry__.py").is_file():
        print(f"error: run from a checkout root holding {PKG}/ and __spark_entry__.py",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(root)]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = root / ".bench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out_dir = root / ".bench_out"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out_dir.mkdir(exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update(SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=str(work / "spark-local"),
                      TMPDIR=str(work / "tmp"))
    spark = None
    try:
        t0 = time.perf_counter()
        from medallion_architecture_using_apache_iceberg_table_buckets_spark import get_spark

        spark = get_spark(app_name=f"medallion-bench-{args.workload}", extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        })
        spark.sparkContext.setLogLevel("ERROR")
        import numpy as np

        from layers import kind_median_sum
        from sparkstats import SparkStats

        w = workloads.WORKLOADS[args.workload](spark, work, np.random.default_rng(args.seed))
        w.setup()
        w.begin_timed()
        setup_s = time.perf_counter() - t0

        stats = SparkStats(spark)
        tracer = targets = None
        sched_ms = 0.0
        if args.trace:
            from spans import Tracer

            sched_ms = stats.sched_probe_ms()
            tracer = Tracer()
            targets = trace_targets()
        ops, passes = timed_loop(w, args.seconds, tracer, stats, targets)

        try:
            bad = w.check()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            bad = {o["kind"]: 1 for o in ops}
        failed = sum(1 for o in ops if o.get("error") or bad.get(o["kind"], 0))
        detail = w.detail(ops) if not any(o.get("error") for o in ops) else {}
        e2e = {
            "setup_s": setup_s,
            "step_p50_s": kind_median_sum([o for o in ops if o["primary"]], "wall"),
            "pass_s": kind_median_sum(ops, "wall"),
        }
        # printed, not a gated metric: JVM heap growth follows GC timing,
        # and same-seed runs differed by up to a third
        detail["peak_rss_mb"] = stats.peak_rss_mb()
        if args.trace:
            import layers

            per_layer = layers.derive(ops, tracer.spans, detail.get("write_amp", 0.0), sched_ms)
            metrics = {k: {"value": v, "unit": layers.LAYER_METRICS[k][0]}
                       for k, v in per_layer.items()}
            tracer.dump(out_dir / f"spans-{args.workload}-s{args.seed}.jsonl")
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload}  seed {args.seed}  cores {cores}  "
          f"passes {passes}  ops {len(ops)}  failed {failed}")
    for k, v in bad.items():
        if v:
            print(f"  WRONG RESULT  {k}: {v} mismatching rows")
    for k, v in {**e2e, **detail}.items():
        print(f"  {k:32s} {v:.6g}")
    if args.trace:
        for k, m in metrics.items():
            print(f"  {k:40s} {m['value']:.6g} {m['unit']}")
    result = {"correct": failed == 0 and bool(ops), "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    with open(out_dir / "results.jsonl", "a") as fh:
        fh.write(json.dumps({"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "detail": detail,
                             "ops": [[o["kind"], o["wall"], o["cpu"]] for o in ops],
                             **result}) + "\n")
    print(json.dumps(result))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


if __name__ == "__main__":
    sys.exit(main())
