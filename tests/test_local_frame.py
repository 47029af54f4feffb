"""Driver-built frames (lakehouse/local.py): rows round-trip exactly as
``createDataFrame`` would convert them, and the frames the metadata
SQL surface and bronze ingest build are JVM LocalRelations — no
Python-RDD (``LogicalRDD``) scan that would run a Python-worker job."""

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse import (
    Catalog,
)
from medallion_architecture_using_apache_iceberg_table_buckets_spark.lakehouse.local import (
    local_frame,
)
from medallion_architecture_using_apache_iceberg_table_buckets_spark.pipeline import (
    ingest,
)

ROUNDTRIP = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("day", T.DateType()),
        T.StructField("amount", T.DecimalType(12, 3)),
        T.StructField("props", T.MapType(T.StringType(), T.StringType())),
        T.StructField("xs", T.ArrayType(T.IntegerType())),
        T.StructField(
            "pt",
            T.StructType(
                [T.StructField("x", T.DoubleType()), T.StructField("y", T.StringType())]
            ),
        ),
        T.StructField("blob", T.BinaryType()),
        T.StructField("flag", T.BooleanType()),
    ]
)

ROWS = [
    (
        1, "a", dt.datetime(2024, 1, 2, 3, 4, 5, 6), dt.datetime(2024, 1, 2),
        dt.date(2024, 2, 29), Decimal("12.345"), {"k": "v", "gone": None},
        [1, None, 3], Row(x=1.5, y="q"), b"\x00\x01", True,
    ),
    (2, None, None, None, None, None, None, None, None, None, None),
    Row(
        id=3, name="", ts=dt.datetime(1969, 12, 31, 23, 59, 59,
                                       tzinfo=dt.timezone.utc),
        ntz=None, day=dt.date(1, 1, 1), amount=Decimal("-0.001"), props={},
        xs=[], pt=(None, None), blob=bytearray(b"z"), flag=False,
    ),
    {
        "id": 4, "name": "d", "ts": None, "ntz": None, "day": None,
        "amount": Decimal("999999999.999"), "props": {"": ""}, "xs": [7],
        "pt": {"x": -0.0, "y": None}, "blob": b"", "flag": None,
    },
]

SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("state", T.StringType())]
)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_roundtrip_matches_create_dataframe(spark):
    got = local_frame(spark, ROWS, ROUNDTRIP)
    assert got.schema == ROUNDTRIP
    assert got.collect() == spark.createDataFrame(ROWS, ROUNDTRIP).collect()
    first = got.orderBy("id").first()
    assert first["ts"] == dt.datetime(2024, 1, 2, 3, 4, 5, 6)
    assert first["amount"] == Decimal("12.345")
    assert first["props"] == {"k": "v", "gone": None}


def test_empty_rows_and_ddl_schema(spark):
    empty = local_frame(spark, [], ROUNDTRIP)
    assert empty.schema == ROUNDTRIP and empty.collect() == []
    ddl = local_frame(spark, [(1, "x"), (None, None)], "a int, b string")
    assert ddl.schema == T.StructType.fromDDL("a int, b string")
    assert ddl.collect() == [Row(a=1, b="x"), Row(a=None, b=None)]
    assert "LocalRelation" in _optimized(empty)


def test_rows_are_checked_against_the_schema(spark):
    # id is declared NOT NULL
    with pytest.raises(ValueError):
        local_frame(spark, [(None, "x")], T.StructType(ROUNDTRIP.fields[:2]))
    with pytest.raises(TypeError):
        local_frame(spark, [("not a long",)], "id long")


def test_metadata_frames_are_local_relations(spark, tmp_path):
    cat = Catalog(tmp_path / "wh")
    t = cat.create_table("ns", "t", SCHEMA, partition_by=["state"])
    t.append(local_frame(spark, [(1, "SC"), (2, "CT"), (3, None)], SCHEMA))
    t.append(local_frame(spark, [(4, "SC")], SCHEMA))
    sess = cat.sql_session(spark)
    sess.sql("USE ns")
    frames = {
        "history": t.history_df(spark),
        "files": t.files_df(spark),
        "partitions": t.partitions_df(spark),
        "show tables": sess.sql("SHOW TABLES"),
    }
    assert dict(
        (f.name, f.dataType) for f in frames["partitions"].schema.fields
    )["partition"] == T.MapType(T.StringType(), T.StringType())
    for name, df in frames.items():
        plan = _optimized(df)
        assert "LogicalRDD" not in plan, (name, plan)
        assert "LocalRelation" in plan, (name, plan)
    assert frames["history"].count() == len(t.snapshots())
    assert {r["partition"]["state"] for r in frames["partitions"].collect()} == {
        "SC", "CT", None
    }


def test_ingest_side_input_is_local(spark, tmp_path, monkeypatch):
    seen = []
    enrich = ingest.enrich_for_bronze

    def spy(df, file_seq=None):
        seen.append(file_seq)
        return enrich(df, file_seq=file_seq)

    monkeypatch.setattr(ingest, "enrich_for_bronze", spy)
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "a.csv").write_text("k\tv\n1\talpha\n2\tbeta\n")
    cat = Catalog(tmp_path / "wh")
    assert ingest.ingest_raw_to_bronze(
        spark, cat, str(raw), "bronze", "t", tmp_path / "ck.json"
    ) == 1
    (file_seq,) = seen
    plan = _optimized(file_seq)
    assert "LogicalRDD" not in plan and "LocalRelation" in plan, plan
    rows = cat.table("bronze", "t").read(spark).collect()
    assert sorted((r.k, r.ingest_seq) for r in rows) == [(1, 0), (2, 0)]
