"""Streaming constraint monitor (streaming/quality.py): per-batch
metrics rows accumulate in the lakehouse table; a fail_on check
poisons the query and blocks the downstream sink, and the tripping
batch's metrics are still recorded."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
)
from medallion_architecture_using_apache_iceberg_table_buckets_spark.streaming.quality import (
    ExpectationFailed,
    monitor_stream,
)

SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("amount", T.DoubleType())]
)


def _write_jsonl(d, name, rows):
    (d / name).write_text(
        "\n".join(json.dumps(r) for r in rows) + "\n"
    )


def _stream(spark, d):
    return (
        spark.readStream.format("json")
        .schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .load(str(d))
    )


def _checks():
    # built lazily: F.col needs an active SparkContext, which does
    # not exist at pytest collection time
    return {
        "amount_not_null": F.col("amount").isNull(),
        "amount_nonnegative": F.col("amount") < 0,
    }


def test_metrics_accumulate_per_batch(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_jsonl(src, "a.jsonl", [{"id": 1, "amount": 5.0}, {"id": 2, "amount": None}])
    _write_jsonl(src, "b.jsonl", [{"id": 3, "amount": -2.0}])
    cat = Catalog(tmp_path / "wh")
    seen = []

    n = monitor_stream(
        _stream(spark, src),
        _checks(),
        cat,
        "mon",
        "metrics",
        tmp_path / "cp",
        sink=lambda df, bid: seen.append((bid, df.count())),
    )
    assert n == 2 and len(seen) == 2
    m = cat.table("mon", "metrics").read(spark)
    rows = {(r["batch_id"], r["check"]): r for r in m.collect()}
    assert len(rows) == 4  # 2 batches x 2 checks
    assert sum(r["n_violations"] for r in rows.values()) == 2
    by_check = {}
    for (_, check), r in rows.items():
        by_check[check] = by_check.get(check, 0) + r["n_violations"]
    assert by_check == {"amount_not_null": 1, "amount_nonnegative": 1}
    # n_rows is the batch's row count, the same on each check's row
    n_rows = {bid: r["n_rows"] for (bid, _), r in rows.items()}
    assert sorted(n_rows.values()) == [1, 2]
    assert all(
        r["n_rows"] == n_rows[bid] for (bid, _), r in rows.items()
    )


def test_fail_on_blocks_sink_but_records_metrics(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_jsonl(src, "bad.jsonl", [{"id": 1, "amount": -1.0}])
    cat = Catalog(tmp_path / "wh")
    reached = []

    with pytest.raises(ExpectationFailed):
        monitor_stream(
            _stream(spark, src),
            _checks(),
            cat,
            "mon",
            "metrics2",
            tmp_path / "cp2",
            fail_on=["amount_nonnegative"],
            sink=lambda df, bid: reached.append(bid),
        )
    assert reached == []  # gate fired before the sink
    m = {r["check"]: r for r in cat.table("mon", "metrics2").read(spark).collect()}
    assert m["amount_nonnegative"]["ok"] is False  # failure is recorded


def test_fail_on_unknown_check_rejected(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    cat = Catalog(tmp_path / "wh")
    with pytest.raises(ValueError):
        monitor_stream(
            _stream(spark, src), _checks(), cat, "mon", "m3", tmp_path / "cp3",
            fail_on=["nope"],
        )
