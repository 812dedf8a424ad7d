"""Regression: batch reads of mixed-schema change-log directories must not
drop the late-added column (a bare spark.read.parquet adopts ONE file's
schema; the engine's reader pins the superset schema)."""

from __future__ import annotations

from nifi_dicom_spark.fixtures.generator import (
    GeneratorConfig,
    generate_change_events,
    write_event_files,
)
from nifi_dicom_spark.sources import read_change_log


def test_mixed_schema_batch_read_keeps_tool(spark, tmp_path):
    cfg = GeneratorConfig(seed=13, n_events=2000, schema_change_at=1000)
    log = generate_change_events(cfg)
    write_event_files(log, str(tmp_path / "ev"), n_files=8)

    df = read_change_log(spark, str(tmp_path / "ev"))
    assert "tool" in df.columns
    n_tool = df.filter(df.tool.isNotNull()).count()
    assert n_tool == int(log["tool"].notna().sum()) > 0


def test_json_change_log_replays_identically(spark, tmp_path):
    """S5 format breadth: the same log delivered as newline-delimited JSON
    (the CDC-connector wire format) replays to the same final state as the
    parquet delivery."""
    import os

    import pytest

    from nifi_dicom_spark.fixtures.oracle import (
        assert_final_state_equal,
        replay_oracle,
    )
    from nifi_dicom_spark.operators.apply import (
        apply_changes,
        create_transcripts_table,
        read_final_state,
    )

    log = generate_change_events(
        GeneratorConfig(seed=17, n_events=1500, schema_change_at=700)
    )
    jdir = tmp_path / "ev-json"
    os.makedirs(jdir)
    log.to_json(
        jdir / "events.json", orient="records", lines=True, date_format="iso"
    )
    df = read_change_log(spark, str(jdir), fmt="json")
    assert df.count() == len(log) and "tool" in df.columns
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=8)
    apply_changes(table, df, epoch=0)
    assert_final_state_equal(read_final_state(table).toPandas(), replay_oracle(log))
    with pytest.raises(ValueError, match="unsupported"):
        read_change_log(spark, str(jdir), fmt="csv")


def test_parquet_and_json_change_logs_store_the_same_instants(spark, tmp_path):
    """Zone-less wire timestamps are UTC instants whatever the session time
    zone: Spark reads pandas-written parquet (``isAdjustedToUTC=false``) as
    UTC, and the JSON readers parse zone-less ISO strings as UTC too. So
    under ``Asia/Tokyo`` a parquet replay and a JSON replay of one log, and
    a streaming JSON read of it, store the instants the log holds."""
    import os

    from pyspark.sql import functions as F

    from nifi_dicom_spark.operators.apply import (
        apply_changes,
        create_transcripts_table,
    )
    from nifi_dicom_spark.sources import stream_change_log

    log = generate_change_events(GeneratorConfig(seed=19, n_events=300))
    write_event_files(log, str(tmp_path / "parquet"), n_files=1)
    os.makedirs(tmp_path / "json")
    log.to_json(
        tmp_path / "json" / "events.json", orient="records", lines=True,
        date_format="iso",
    )
    # naive = UTC, in µs
    want = sorted(log["ts"].astype("datetime64[us]").astype("int64"))

    def instants(df):
        return sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())

    def stored(fmt):
        t = create_transcripts_table(spark, str(tmp_path / f"t-{fmt}"), n_buckets=2)
        apply_changes(t, read_change_log(spark, str(tmp_path / fmt), fmt=fmt), epoch=0)
        return instants(t.read())

    tz_key = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "Asia/Tokyo")
    try:
        for fmt in ("parquet", "json"):
            assert instants(read_change_log(spark, str(tmp_path / fmt), fmt=fmt)) == want
        streamed = []
        q = (
            stream_change_log(spark, str(tmp_path / "json"), fmt="json")
            .writeStream.foreachBatch(lambda df, _: streamed.extend(instants(df)))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert sorted(streamed) == want
        assert stored("json") == stored("parquet")
    finally:
        spark.conf.set(tz_key, prev)


def test_schema_evolution_rules():
    """evolve/conform: widenings allowed, narrowings rejected, adds appended."""
    import pytest
    from pyspark.sql import types as T

    from nifi_dicom_spark.operators.reconcile import evolve_schema

    cur = T.StructType(
        [
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.StringType()),
        ]
    )
    inc = T.StructType(
        [
            T.StructField("a", T.LongType()),  # widen int → bigint
            T.StructField("c", T.DoubleType()),  # new column
        ]
    )
    out = evolve_schema(cur, inc)
    assert [f.name for f in out.fields] == ["a", "b", "c"]
    assert out["a"].dataType == T.LongType()

    bad = T.StructType([T.StructField("b", T.IntegerType())])  # string→int
    with pytest.raises(ValueError, match="incompatible"):
        evolve_schema(cur, bad)


def test_conform_rejects_narrowing(spark):
    import pytest
    from pyspark.sql import types as T

    from nifi_dicom_spark.operators.reconcile import conform_to_schema

    df = spark.createDataFrame([(1.5,)], "x double")
    target = T.StructType([T.StructField("x", T.IntegerType())])
    with pytest.raises(ValueError, match="cannot reconcile"):
        conform_to_schema(df, target)


def test_debezium_parse_semantics(spark):
    import json

    from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA
    from nifi_dicom_spark.sources.debezium import parse_debezium

    def env(op, image, lsn, part=None):
        payload = {
            "before": image if op == "d" else None,
            "after": None if op == "d" else image,
            "op": op,
            "ts_ms": 1704067200123,
            "source": {"lsn": lsn, "txId": 7, "connector": "postgres"},
        }
        row = {"value": json.dumps({"payload": payload})}
        if part is not None:
            row["part"] = part
        return row

    img = {
        "conv_id": "c1",
        "turn_idx": 3,
        "role": "user",
        "text": "hi \"there\"\nnewline",
        "tool": None,
        "ts": 1704067200123456,
    }
    rows = [
        env("c", img, 10, 0),
        env("u", dict(img, text="edited", tool="bash"), 11, 1),
        env("d", img, 12, 0),
        env("x", img, 13, 1),  # unknown op code
    ]
    df = spark.createDataFrame(
        [(r["value"], r["part"]) for r in rows], "value string, part int"
    )
    out = parse_debezium(df, partition_col="part").orderBy("offset").collect()

    assert [f.name for f in parse_debezium(df).schema.fields] == [
        f.name for f in CHANGE_EVENTS_SCHEMA.fields
    ]
    assert [r.op for r in out] == ["insert", "update", "delete", None]
    assert [r.partition_id for r in out] == [0, 1, 0, 1]
    assert out[0].text == 'hi "there"\nnewline'  # JSON escaping roundtrip
    assert out[1].tool == "bash"
    assert out[2].conv_id == "c1"  # delete reads the BEFORE image
    assert out[0].op_seq == 10 and out[0].offset == 10  # lsn is the LWW order
    assert str(out[0].ts) == "2024-01-01 00:00:00.123456"


def test_debezium_parse_is_streaming_safe(spark, tmp_path):
    import json
    import os

    from nifi_dicom_spark.sources.debezium import parse_debezium

    d = tmp_path / "wire"
    os.makedirs(d)
    payload = {
        "before": None,
        "after": {"conv_id": "s1", "turn_idx": 0, "role": "user",
                  "text": "t", "tool": None, "ts": 1704067200000000},
        "op": "c",
        "ts_ms": 1,
        "source": {"lsn": 1, "txId": 1, "connector": "mysql"},
    }
    (d / "a.json").write_text(json.dumps({"payload": payload}) + "\n")
    stream = spark.readStream.schema("value string").text(str(d)).withColumnRenamed(
        "value", "value"
    )
    parsed = parse_debezium(stream)
    assert parsed.isStreaming  # pure expressions: no action, no UDF
    q = (
        parsed.writeStream.format("memory")
        .queryName("dbz_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # availableNow: terminates deterministically
    got = spark.sql("select * from dbz_stream").collect()
    assert len(got) == 1 and got[0].conv_id == "s1" and got[0].op == "insert"
