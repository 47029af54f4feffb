"""The two workloads. Each one prepares its inputs and table state in
``setup``, hands the timed loop one pass of operations at a time, and
checks the final state against DuckDB after the timed window.

Why each workload exists:

- ``cdc_trickle``: many small drops; fixed per-drop costs (about ten
  Spark jobs, a listing that grows with history, manifest reads, the
  single-process commit) dominate, not the data moved. Uniform updates
  also make the copy-on-write MERGE rewrite every silver file, so the
  write path is measured here too.
- ``serve_sql``: read-only closed loop over the query surface: the
  reference's SQL statements, so a write-path gain that costs reads
  shows up here, then the registry operators (``OperatorMix``), which
  no pipeline step touches.

A pass's *primary* operations are the workload's steps: the drop on
``cdc_trickle``, the seven statements (two rounds a pass) on
``serve_sql``. The gold refresh and the registry queries run in every
pass but are not steps.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import numpy as np
import pyarrow as pa

import checks
import gen
from layers import OPERATOR_QUERIES

NS = "bench"


@dataclass
class Op:
    """One timed operation; ``fn(tracer)`` runs it (``tracer`` is None
    when the operation runs bare)."""

    kind: str
    fn: Callable[[object], object]
    primary: bool = True
    info: dict = field(default_factory=dict)


def _pkg():
    import medallion_architecture_using_apache_iceberg_table_buckets_spark as pkg
    import medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse  # noqa: F401
    import medallion_architecture_using_apache_iceberg_table_buckets_spark.pipeline  # noqa: F401

    return pkg


def _parquet_bytes_since(table, version: int) -> int:
    """Bytes of the data files committed to ``table`` after ``version``."""
    total = 0
    for s in table.snapshots():
        if s.version > version:
            total += sum((table.data_root / f).stat().st_size for f in s.added_files)
    return total


class Workload:
    name = ""

    def __init__(self, spark, root: Path, rng: np.random.Generator):
        self.spark = spark
        self.root = root
        self.rng = rng
        self.last: dict[str, object] = {}  # kind -> last result

    def setup(self) -> None:
        raise NotImplementedError

    def pass_ops(self) -> list[Op]:
        raise NotImplementedError

    def begin_timed(self) -> None:
        """Called once between set-up and the timed window."""

    def check(self) -> dict[str, int]:
        """kind -> mismatching rows (0 = correct)."""
        raise NotImplementedError

    def detail(self, ops: list[dict]) -> dict:
        """Workload-specific figures, printed beside the metrics."""
        return {}


def tail_of(samples: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it; the
    maximum (labelled ``max_nN``) when there are too few samples."""
    n = len(samples)
    if n < 20:
        return f"max_n{n}", float(max(samples))
    pct = int(100 * (1 - 10 / n))
    return f"p{pct}", float(np.percentile(samples, pct))


class CdcTrickle(Workload):
    name = "cdc_trickle"
    key = "event_id"
    ddl = gen.EVENTS_DDL
    tables = ("events_bronze", "events_silver", "events_gold")
    PRELOAD = 5_000
    FRESH = 2_500
    UPDATES = 500  # 20% of a drop re-emits earlier keys
    # in a fresh JVM a drop's time settles only after about ten
    # drops, as the JIT compiles the pipeline's code paths
    WARM_DROPS = 8
    GOLD = {"events": ("*", "count"), "value_sum": ("value", "sum"),
            "value_max": ("value", "max")}

    def _make_pipeline(self):
        pkg = _pkg()
        from pyspark.sql import types as T

        self.raw = self.root / "raw"
        self.raw.mkdir(parents=True)
        self.catalog = pkg.lakehouse.Catalog(self.root / "warehouse")
        self.catalog.create_namespace(NS)
        self.pipe = pkg.pipeline.MedallionPipeline(
            catalog=self.catalog, namespace=NS, input_path=str(self.raw),
            checkpoint_dir=str(self.root / "checkpoints"),
            bronze_table=self.tables[0], silver_table=self.tables[1],
            key=self.key, schema=T._parse_datatype_string(self.ddl), sep="\t",
        )
        self.drops: list = []
        self.tsv_bytes: list[int] = []

    def _land(self, rows) -> Op:
        """Write one drop into the raw prefix; the op runs it to silver."""
        n = len(self.drops)
        self.tsv_bytes.append(gen.write_tsv(self.raw / f"drop_{n:06d}.csv", rows))
        self.drops.append(rows)
        return Op("drop_to_silver", lambda _tracer: self.pipe.run_once(self.spark),
                  info={"records": len(rows), "tsv_bytes": self.tsv_bytes[-1]})

    def begin_timed(self) -> None:
        self.first_timed_drop = len(self.drops)
        self.versions = {
            t: self.catalog.table(NS, t)._current_version() for t in self.tables
        }

    def check_silver(self, con) -> int:
        checks.register_drops(con, "drops", self.drops)
        got = self.catalog.table(NS, self.tables[1]).read(self.spark).toArrow()
        con.execute("CREATE OR REPLACE TEMP TABLE want_silver AS "
                    + checks.latest_per_key_sql("drops", self.key))
        return checks.diff_rows(con, got, "SELECT * FROM want_silver")

    def detail(self, ops: list[dict]) -> dict:
        drops = [o for o in ops if o["kind"] == "drop_to_silver"]
        wall = [o["wall"] for o in drops]
        written = sum(
            _parquet_bytes_since(self.catalog.table(NS, t), v)
            for t, v in self.versions.items()
        )
        tail_pct, tail = tail_of(wall)
        out = {
            "drop_to_silver_p50_s": float(np.median(wall)),
            f"drop_to_silver_{tail_pct}_s": tail,
            "cdc_records_per_s": sum(o["records"] for o in drops) / sum(wall),
            "write_amp": written / sum(self.tsv_bytes[self.first_timed_drop:]),
            "drops": len(drops),
        }
        gold = [o["wall"] for o in ops if o["kind"] == "gold_refresh"]
        if gold:
            out["gold_refresh_p50_s"] = float(np.median(gold))
        return out

    def setup(self) -> None:
        self._make_pipeline()
        self.next_key = 0
        self._run_pass(self._drop(self.PRELOAD, 0))
        for _ in range(self.WARM_DROPS):
            self._run_pass(self.pass_ops())

    def _drop(self, fresh: int, updates: int) -> list[Op]:
        keys = np.concatenate([
            np.arange(self.next_key, self.next_key + fresh),
            gen.update_keys(self.rng, self.next_key, updates),
        ])
        self.next_key += fresh
        return [self._land(gen.events_rows(self.rng, keys)),
                Op("gold_refresh", lambda _tracer: self._gold(), primary=False)]

    @staticmethod
    def _run_pass(ops: list[Op]) -> None:
        for op in ops:
            op.fn(None)

    def _gold(self):
        return _pkg().pipeline.gold.build_gold_mart(
            self.spark, self.catalog, NS, self.tables[1], self.tables[2],
            ["event_type"], self.GOLD,
        )

    def pass_ops(self) -> list[Op]:
        return self._drop(self.FRESH, self.UPDATES)

    def check(self) -> dict[str, int]:
        con = checks.connect()
        bad = {"drop_to_silver": self.check_silver(con)}
        got = self.catalog.table(NS, self.tables[2]).read(self.spark).toArrow()
        bad["gold_refresh"] = checks.diff_rows(con, got, (
            "SELECT event_type, count(*) AS events,"
            " round(sum(value::DECIMAL(18,4))::DOUBLE, 4) AS value_sum,"
            " round(max(value), 4) AS value_max FROM want_silver GROUP BY event_type"
        ))
        return bad


class ServeSql(CdcTrickle):
    """Read-only closed loop over the query surface: the reference's SQL
    statements through ``SqlSession`` on a pipeline-built medallion,
    then the registry queries of ``OperatorMix``."""

    name = "serve_sql"
    HISTORY_DROPS = 3
    # In a fresh JVM the statements speed up over their first rounds,
    # and the round right after the registry queries runs slower: warm
    # them up, and run two rounds a pass so each kind's median falls on
    # the settled ones.
    WARM_ROUNDS = 2
    ROUNDS = 2

    def setup(self) -> None:
        self._make_pipeline()
        self.next_key = 0
        for fresh, updates in [(self.PRELOAD, 0)] + [(self.FRESH, self.UPDATES)] * self.HISTORY_DROPS:
            self._drop(fresh, updates)[0].fn(None)
        self._gold()
        silver = self.catalog.table(NS, self.tables[1])
        snaps = silver.snapshots()
        self.tt_snapshot = snaps[len(snaps) // 2].snapshot_id
        self.lo = lo = int(self.rng.integers(0, self.next_key - 1_000))
        self.statements = {
            "show_tables": "SHOW TABLES",
            "count_star": "SELECT COUNT(*) FROM events_silver",
            "group_agg": "SELECT event_type, COUNT(*) AS n,"
                         " SUM(CAST(value AS DECIMAL(18,2))) AS v"
                         " FROM events_silver GROUP BY event_type",
            "key_filter": f"SELECT * FROM events_silver"
                          f" WHERE event_id BETWEEN {lo} AND {lo + 999}",
            "history": "SELECT snapshot_id, parent_id FROM events_silver.history",
            "time_travel": "SELECT COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS v"
                           f" FROM events_silver VERSION AS OF {self.tt_snapshot}",
            "gold_read": "SELECT * FROM events_gold",
        }
        self.sess = _pkg().lakehouse.SqlSession(self.spark, self.catalog)
        self.sess.sql(f"USE {NS}")
        self.registry = OperatorMix(self.spark, self.root / "sf", self.rng)
        for op in self.registry.pass_ops() + self._round() * self.WARM_ROUNDS:
            op.fn(None)

    def _round(self) -> list[Op]:
        return [Op(kind, self._stmt(kind, stmt)) for kind, stmt in self.statements.items()]

    def pass_ops(self) -> list[Op]:
        return self._round() * self.ROUNDS + self.registry.pass_ops()

    def _stmt(self, kind: str, stmt: str):
        def run(tracer):
            df = self.sess.sql(stmt)
            if tracer is None:
                out = df.toArrow()
            else:
                with tracer.span("sql.execute"):
                    out = df.toArrow()
            self.last[kind] = out
            return out

        return run

    def begin_timed(self) -> None:
        pass

    def check(self) -> dict[str, int]:
        con = checks.connect()
        silver = self.catalog.table(NS, self.tables[1])
        gold = self.catalog.table(NS, self.tables[2])

        def files(t, snap):
            if snap.delete_files or t._delta_files(snap):
                raise AssertionError("check expects a plain copy-on-write snapshot")
            return "read_parquet([" + ", ".join(
                f"'{t.data_root / f}'" for f in snap.files) + "])"

        cur = files(silver, silver.current_snapshot())
        old = files(silver, silver.snapshot_by_id(self.tt_snapshot))
        history = [(s.snapshot_id, s.parent_id) for s in silver.snapshots()]
        con.register("history", pa.table({
            "snapshot_id": [h[0] for h in history], "parent_id": [h[1] for h in history]}))
        want = {
            "show_tables": "SELECT * FROM (VALUES ('bench', 'events_bronze', false),"
                           " ('bench', 'events_gold', false), ('bench', 'events_silver', false))"
                           " t(namespace, tableName, isTemporary)",
            "count_star": f"SELECT count(*) FROM {cur}",
            "group_agg": f"SELECT event_type, count(*) AS n, sum(value::DECIMAL(18,2)) AS v"
                         f" FROM {cur} GROUP BY event_type",
            "key_filter": f"SELECT * FROM {cur} WHERE event_id BETWEEN {self.lo} AND {self.lo + 999}",
            "history": "SELECT * FROM history",
            "time_travel": f"SELECT count(*) AS n, sum(value::DECIMAL(18,2)) AS v FROM {old}",
            "gold_read": f"SELECT * FROM {files(gold, gold.current_snapshot())}",
        }
        bad = {k: checks.diff_rows(con, self.last[k], sql) for k, sql in want.items()}
        return {**bad, **self.registry.check()}

    def detail(self, ops: list[dict]) -> dict:
        wall = [o["wall"] for o in ops if o["kind"] in self.statements]
        tail_pct, tail = tail_of(wall)
        per_pass: dict[int, float] = {}
        for o in ops:
            if o["kind"] in self.registry.QUERIES:
                per_pass[o["pass"]] = per_pass.get(o["pass"], 0.0) + o["wall"]
        return {"query_p50_s": float(np.median(wall)), f"query_{tail_pct}_s": tail,
                "statements": len(wall),
                "operator_mix_s": float(np.median(list(per_pass.values())))}


class OperatorMix:
    """The registry queries ``serve_sql`` runs after its statements, on
    generated tables with the registry's sf0.1 row counts, each checked
    against its ``oracle_sql()`` oracle."""

    QUERIES = OPERATOR_QUERIES

    def __init__(self, spark, sf_dir: Path, rng: np.random.Generator):
        import __spark_entry__ as entry

        self.spark = spark
        self.sf_dir = sf_dir
        gen.write_registry_tables(rng, sf_dir)
        registry, oracles = entry.queries(), entry.oracle_sql()
        self.fns = {q: registry[q] for q in self.QUERIES}
        self.oracles = {q: oracles[q] for q in self.QUERIES}
        self.last: dict[str, tuple] = {}

    def pass_ops(self) -> list[Op]:
        return [Op(q, self._query(q), primary=False) for q in self.QUERIES]

    def _query(self, q: str):
        def run(tracer):
            # operators persist intermediates: start each query cold
            self.spark.catalog.clearCache()
            if tracer is None:
                df = self.fns[q](self.spark, str(self.sf_dir))
                rows = df.collect()
            else:
                df = tracer.traced(f"operators.{q}", self.fns[q])(self.spark, str(self.sf_dir))
                with tracer.span("operators.execute"):
                    rows = df.collect()
            self.last[q] = (df.columns, [tuple(r) for r in rows])
            return rows

        return run

    def check(self) -> dict[str, int]:
        """query -> mismatching rows (0 = correct)."""
        from tools.check_oracles import TABLES, canon

        con = checks.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        bad = {}
        for q in self.QUERIES:
            cols, rows = self.last[q]
            res = con.execute(self.oracles[q])
            ocols = [d[0] for d in res.description]
            want = canon(res.fetchall(), ocols)
            got = canon(rows, cols)
            bad[q] = 0 if sorted(cols) == sorted(ocols) and got == want else max(
                1, len(set(got) ^ set(want)))
        return bad


WORKLOADS = {w.name: w for w in (CdcTrickle, ServeSql)}
