"""Per-layer metrics: what each one measures, which end-to-end metric
on which workload it should move, and how it is derived from the
traced run's spans and Spark counters.

Layer names follow the package's modules: ``ingest`` and ``cdc`` and
``gold`` are ``pipeline.*``, ``table`` and ``merge`` and ``sql`` are
``lakehouse.*``, ``operators`` is the registry's operator code, and
``spark`` is the engine underneath. A metric a workload never
exercises reads 0 there.

Each metric names the end-to-end metric and workload it should move,
or ``None`` when it is context (the machine, the tracer), not a target.
"""

from __future__ import annotations

import numpy as np

from spans import ancestors, self_times

# registry queries serve_sql runs after its statements: a TPC-H join
# chain, MinHash-LSH near-duplicate pairs and TF-IDF top-k. On tables
# with sf0.1's row counts, one warm, cold-cache round of the three
# takes about 4 s on 4 cores.
OPERATOR_QUERIES = (
    "q21_waiting_supplier",
    "dedup_minhash_lsh_pairs",
    "text_tfidf_topk",
)
SQL_KINDS = ("count_star", "group_agg", "key_filter", "history",
             "time_travel", "gold_read", "show_tables")

_TRICKLE = ("step_p50_s", "cdc_trickle")
_TRICKLE_PASS = ("pass_s", "cdc_trickle")
_SERVE = ("step_p50_s", "serve_sql")
_OPS = ("pass_s", "serve_sql")

# name -> (unit, better, (end-to-end metric, workload) it should move)
LAYER_METRICS: dict[str, tuple[str, str, tuple[str, str] | None]] = {
    # Spark counters of one pass: on cdc_trickle the drop's jobs
    # dominate them, on serve_sql the registry queries'
    "spark.jobs": ("count", "lower", _TRICKLE_PASS),
    "spark.stages": ("count", "lower", _TRICKLE_PASS),
    "spark.tasks": ("count", "lower", _TRICKLE_PASS),
    "spark.task_run_s": ("s", "lower", _OPS),
    "spark.task_cpu_s": ("s", "lower", _OPS),
    "spark.gc_s": ("s", "lower", _OPS),
    "spark.shuffle_write_bytes": ("bytes", "lower", _OPS),
    "spark.spill_bytes": ("bytes", "lower", _OPS),
    "spark.output_bytes": ("bytes", "lower", _TRICKLE_PASS),
    "spark.not_in_tasks_s": ("s", "lower", _TRICKLE_PASS),
    "spark.sched_probe_ms": ("ms", "lower", None),
    # CPU of the JVM, its Python workers and the client per pass: with
    # spark.task_cpu_s it splits work outside tasks from work inside them
    "process.cpu_s": ("s", "lower", _TRICKLE_PASS),
    "ingest.discover_s": ("s", "lower", _TRICKLE),
    "ingest.files_listed": ("count", "lower", _TRICKLE),
    "ingest.new_file_ratio": ("ratio", "higher", _TRICKLE),
    "ingest.self_s": ("s", "lower", _TRICKLE),
    "table.bronze_write_s": ("s", "lower", _TRICKLE),
    "table.silver_write_s": ("s", "lower", _TRICKLE),
    "table.commit_s": ("s", "lower", _TRICKLE),
    "table.snapshots_calls": ("count", "lower", _TRICKLE),
    "table.snapshots_s": ("s", "lower", _SERVE),
    "table.read_incremental_s": ("s", "lower", _TRICKLE),
    "table.files_added": ("count", "lower", _TRICKLE),
    "table.files_removed": ("count", "lower", _TRICKLE),
    "table.live_files": ("count", "lower", _TRICKLE),
    "table.write_amp": ("ratio", "lower", _TRICKLE),
    "merge.discover_s": ("s", "lower", _TRICKLE),
    "merge.touched_file_ratio": ("ratio", "lower", _TRICKLE),
    "merge.rewrite_ratio": ("ratio", "lower", _TRICKLE),
    "cdc.self_s": ("s", "lower", _TRICKLE),
    "gold.refresh_s": ("s", "lower", _TRICKLE_PASS),
    "gold.incremental_share": ("ratio", "higher", _TRICKLE_PASS),
    "sql.dispatch_s": ("s", "lower", _SERVE),
    "sql.execute_s": ("s", "lower", _SERVE),
    "sql.metadata_answered_ratio": ("ratio", "higher", _SERVE),
    **{f"sql.{k}_s": ("s", "lower", _SERVE) for k in SQL_KINDS},
    **{m: v for q in OPERATOR_QUERIES for m, v in (
        (f"operators.{q}_s", ("s", "lower", _OPS)),
        (f"operators.{q}_jobs", ("count", "lower", _OPS)),
    )},
    "trace.overhead_s": ("s", "lower", None),
    "trace.glue_share": ("ratio", "lower", None),
}


def _med(xs) -> float:
    xs = list(xs)
    return float(np.median(xs)) if xs else 0.0


def kind_median_sum(ops: list[dict], value) -> float:
    """Each operation kind's median ``value`` (a record key, or a
    function of the record) over ``ops``, summed over the kinds."""
    get = value if callable(value) else (lambda o: o[value])
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(get(o))
    return float(sum(np.median(v) for v in by_kind.values()))


def derive(ops: list[dict], spans: list[dict], write_amp: float, sched_probe_ms: float) -> dict:
    """Per-layer values of one traced run: medians over its drops and
    statements; Spark and process counters per pass."""
    by_id = {sp["id"]: sp for sp in spans}
    self_t = self_times(spans)
    per_op: dict[str, list[dict]] = {}
    for sp in spans:
        sp["_anc"] = ancestors(by_id, sp)
        per_op.setdefault(sp["op"], []).append(sp)

    def dur(sp):
        return sp["end"] - sp["start"]

    traced = [o for o in ops if o["traced"] and not o.get("error")]
    bare = [o for o in ops if not o["traced"] and not o.get("error")]

    def wall_of(kind):
        """Median wall time of ``kind``, from its bare runs."""
        return _med(o["wall"] for o in bare if o["kind"] == kind)

    out = dict.fromkeys(LAYER_METRICS, 0.0)

    # per pass: each kind's median over its traced runs, summed
    for c in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_write_bytes", "spill_bytes", "output_bytes", "not_in_tasks_s"):
        out[f"spark.{c}"] = kind_median_sum(traced, lambda o: o["spark"][c])
    out["spark.sched_probe_ms"] = sched_probe_ms
    out["process.cpu_s"] = kind_median_sum(traced, "cpu")

    commits = ("table.append", "table.replace_files", "table.append_merge_delta")
    per_drop: dict[str, list[float]] = {}
    for o in traced:
        if o["kind"] != "drop_to_silver":
            continue
        sps = per_op.get(o["id"], [])

        def add(metric, value):
            per_drop.setdefault(metric, []).append(value)

        def total(names, under=None, own=False):
            """Summed duration (``own``: self time) of the drop's spans
            named in ``names``, optionally only those below ``under``."""
            return sum(self_t[sp["id"]] if own else dur(sp) for sp in sps
                       if sp["name"] in names and (under is None or under in sp["_anc"]))

        new = sum(sp.get("new_files", 0) for sp in sps if sp["name"] == "ingest.new_files")
        listed = sum(sp.get("listed", 0) for sp in sps if sp["name"] == "ingest.list_files")
        add("ingest.discover_s", total({"ingest.new_files"}))
        add("ingest.files_listed", listed)
        add("ingest.new_file_ratio", new / listed if listed else 0.0)
        add("ingest.self_s", total({"ingest.ingest_raw_to_bronze"}, own=True))
        add("table.bronze_write_s", total({"writer.parquet"}, "ingest.ingest_raw_to_bronze"))
        add("table.silver_write_s", total({"writer.parquet"}, "cdc.bronze_to_silver"))
        add("table.commit_s", total(commits, own=True))
        add("table.snapshots_calls", sum(sp["name"] == "table.snapshots" for sp in sps))
        add("table.snapshots_s", total({"table.snapshots"}))
        add("table.read_incremental_s", total({"table.read_incremental"}))
        add("merge.discover_s", total({"merge.merge_into"}, own=True))
        add("cdc.self_s", total({"cdc.bronze_to_silver"}, own=True))
        for sp in sps:
            if sp["name"] in commits[1:] and "cdc.bronze_to_silver" in sp["_anc"]:
                before = sp["live_files"] - sp["added_files"] + sp["removed_files"]
                add("table.files_added", sp["added_files"])
                add("table.files_removed", sp["removed_files"])
                add("table.live_files", sp["live_files"])
                add("merge.touched_file_ratio", sp["removed_files"] / before if before else 0.0)
                add("merge.rewrite_ratio", sp["added_records"] / o["records"])
    out.update({k: _med(v) for k, v in per_drop.items()})
    out["table.write_amp"] = write_amp

    gold = [sp for sp in spans if sp["name"] == "gold.build_gold_mart"]
    out["gold.refresh_s"] = _med(dur(sp) for sp in gold)
    if gold:
        out["gold.incremental_share"] = sum(
            sp.get("mode", "full") != "full" for sp in gold) / len(gold)

    stmts = [o for o in traced if o["kind"] in SQL_KINDS]
    if stmts:
        sql_spans = [sp for sp in spans if sp["name"] == "sql.sql"]
        out["sql.dispatch_s"] = _med(dur(sp) for sp in sql_spans)
        out["sql.execute_s"] = _med(dur(sp) for sp in spans if sp["name"] == "sql.execute")
        answered = {sp["op"] for sp in spans
                    if sp["name"] == "table.metadata_aggregate" and not sp.get("error")}
        # share of statement kinds the manifest metadata answered
        kinds = {o["kind"] for o in stmts}
        out["sql.metadata_answered_ratio"] = len(
            {o["kind"] for o in stmts if o["id"] in answered}) / len(kinds)
        for k in SQL_KINDS:
            out[f"sql.{k}_s"] = wall_of(k)

    for q in OPERATOR_QUERIES:
        out[f"operators.{q}_s"] = wall_of(q)
        out[f"operators.{q}_jobs"] = _med(o["spark"]["jobs"] for o in traced if o["kind"] == q)

    # each kind runs traced and bare in alternate passes: the overhead
    # per pass is the summed per-kind difference of medians
    kinds = {o["kind"] for o in ops}
    out["trace.overhead_s"] = sum(
        _med(o["wall"] for o in traced if o["kind"] == k) - wall_of(k) for k in kinds)
    roots = [sp for sp in spans if sp["name"] == "op"]
    out["trace.glue_share"] = _med(self_t[sp["id"]] / dur(sp) for sp in roots)
    return out
