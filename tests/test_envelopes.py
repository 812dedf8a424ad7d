"""Maxwell / Canal envelope adapters — normalization into the canonical
change-event frame (SURVEY §2.1 S1/S5, alongside the Debezium adapter)."""

from __future__ import annotations

import json

from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA
from nifi_dicom_spark.sources.envelopes import parse_canal, parse_maxwell


def _maxwell(op, image, position, xid=7, part=None):
    row = {
        "value": json.dumps(
            {
                "database": "db",
                "table": "transcripts",
                "type": op,
                "ts": 1704067200,
                "xid": xid,
                "commit": True,
                "position": position,
                "data": image,
                "old": {"text": "prev"} if op == "update" else None,
            }
        )
    }
    if part is not None:
        row["part"] = part
    return row


IMG = {
    "conv_id": "c1",
    "turn_idx": 3,
    "role": "user",
    "text": 'hi "there"\nnewline',
    "tool": None,
    "ts": "2024-01-01 00:00:00",
}


def test_maxwell_parse_semantics(spark):
    rows = [
        _maxwell("insert", IMG, "master.000006:800911", part=0),
        _maxwell(
            "update",
            dict(IMG, text="edited", tool="bash"),
            "master.000006:800950",
            part=1,
        ),
        _maxwell("delete", IMG, "master.000007:104", part=0),
        _maxwell("bootstrap-insert", IMG, "master.000007:300", part=0),
        _maxwell("table-create", IMG, "master.000007:400", part=1),  # DDL
    ]
    df = spark.createDataFrame(
        [(r["value"], r["part"]) for r in rows], "value string, part int"
    )
    out = parse_maxwell(df, partition_col="part").orderBy("offset").collect()

    assert [f.name for f in parse_maxwell(df).schema.fields] == [
        f.name for f in CHANGE_EVENTS_SCHEMA.fields
    ]
    assert [r.op for r in out] == ["insert", "update", "delete", "insert", None]
    assert [r.partition_id for r in out] == [0, 1, 0, 0, 1]
    # position "file:pos" composes into a total order across file rolls
    assert out[0].offset == 6 * 2**32 + 800911
    assert out[2].offset == 7 * 2**32 + 104
    assert out[0].offset < out[1].offset < out[2].offset
    # the image is ALWAYS `data` (Maxwell puts the deleted row there)
    assert out[2].conv_id == "c1" and out[2].turn_idx == 3
    assert out[1].tool == "bash"
    assert out[0].text == 'hi "there"\nnewline'
    assert str(out[0].ts) == "2024-01-01 00:00:00"


def test_maxwell_malformed_position_quarantines_not_aborts(spark):
    """A missing or malformed ``position`` must not abort the batch under
    ANSI mode (Spark's default): the row gets a NULL offset/op_seq and
    routing quarantines it, while the valid envelope beside it passes."""
    from nifi_dicom_spark.operators.routing import route_events

    df = spark.createDataFrame(
        [
            (_maxwell("insert", IMG, pos)["value"],)
            for pos in (
                "master.000006:800911",
                None,
                "garbage",
                "master.000006:",
                "master.9999999999:1",  # file_seq * 2^32 overflows a long
            )
        ],
        "value string",
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        valid, bad = route_events(parse_maxwell(df))
        assert [r.offset for r in valid.collect()] == [6 * 2**32 + 800911]
        bad_rows = bad.collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert len(bad_rows) == 4
    assert all(r.offset is None and r.op_seq is None for r in bad_rows)


def _canal(op, images, batch_id, ddl=False):
    return json.dumps(
        {
            "data": images,
            "database": "db",
            "es": 1589373515000,
            "id": batch_id,
            "isDdl": ddl,
            "old": None,
            "pkNames": ["conv_id", "turn_idx"],
            "sql": "ALTER TABLE t ADD COLUMN x INT" if ddl else "",
            "table": "transcripts",
            "ts": 1589373515477,
            "type": op,
        }
    )


def test_canal_parse_semantics(spark):
    # Canal flat messages stringify EVERY value
    simg = {
        "conv_id": "c9",
        "turn_idx": "5",
        "role": "assistant",
        "text": "answer",
        "tool": None,
        "ts": "2024-06-01 12:30:00",
    }
    rows = [
        (_canal("INSERT", [simg, dict(simg, turn_idx="6")], 3),),
        (_canal("DELETE", [dict(simg, turn_idx="5")], 4),),
        (_canal("ALTER", None, 5, ddl=True),),  # DDL: no rows
        (_canal("UPDATE", [], 6),),  # empty data array: no rows
    ]
    df = spark.createDataFrame(rows, "value string")
    out = parse_canal(df).orderBy("offset").collect()

    assert [f.name for f in parse_canal(df).schema.fields] == [
        f.name for f in CHANGE_EVENTS_SCHEMA.fields
    ]
    assert len(out) == 3  # 2 inserts + 1 delete; DDL and empty drop out
    assert [r.op for r in out] == ["insert", "insert", "delete"]
    # id * 2^32 + element position: within-batch order is total
    assert [r.offset for r in out] == [3 * 2**32, 3 * 2**32 + 1, 4 * 2**32]
    # string-typed images cast to the canonical types
    assert [r.turn_idx for r in out] == [5, 6, 5]
    assert out[0].turn_idx == 5 and isinstance(out[0].turn_idx, int)
    assert str(out[0].ts) == "2024-06-01 12:30:00"


def test_canal_offsets_stay_unique_past_65536_rows(spark):
    """One flat message may batch more than 65,536 rows (a single large
    binlog entry). Element positions 65,536 and 65,537 must not take the
    offsets of positions 0 and 1 of the next batch id, which would corrupt
    the LWW total order. A batch id too large for the radix overflows to a
    NULL offset, and routing quarantines the row instead of aborting the
    batch under ANSI."""
    from pyspark.sql import functions as F

    from nifi_dicom_spark.operators.routing import route_events

    def img(conv, i):
        return {"conv_id": conv, "turn_idx": str(i % 7)}

    n = 65_538
    df = spark.createDataFrame(
        [
            (_canal("INSERT", [img("big", i) for i in range(n)], 3),),
            (_canal("INSERT", [img("next", 0), img("next", 1)], 4),),
        ],
        "value string",
    )
    out = parse_canal(df)
    assert out.count() == n + 2
    assert out.select("offset").distinct().count() == n + 2
    tail = sorted(
        r.offset
        for r in out.filter(F.col("conv_id") == "big")
        .orderBy(F.col("offset").desc())
        .limit(2)
        .collect()
    )
    head = sorted(
        r.offset for r in out.filter(F.col("conv_id") == "next").collect()
    )
    assert tail == [3 * 2**32 + 65_536, 3 * 2**32 + 65_537]
    assert head == [4 * 2**32, 4 * 2**32 + 1]
    assert tail[-1] < head[0]

    overflow = spark.createDataFrame(
        [
            (_canal("INSERT", [img("ok", 1)], 5),),
            (_canal("INSERT", [img("huge", 1)], 2**62),),
        ],
        "value string",
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        valid, bad = route_events(parse_canal(overflow))
        assert [(r.conv_id, r.offset) for r in valid.collect()] == [
            ("ok", 5 * 2**32)
        ]
        bad_rows = bad.collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert [r.conv_id for r in bad_rows] == ["huge"]
    assert bad_rows[0].offset is None and bad_rows[0].op_seq is None


def test_envelopes_are_streaming_safe(spark, tmp_path):
    import os

    d = tmp_path / "wire"
    os.makedirs(d)
    (d / "a.json").write_text(
        _maxwell("insert", IMG, "master.000001:4")["value"] + "\n"
    )
    stream = spark.readStream.schema("value string").text(str(d))
    assert parse_maxwell(stream).isStreaming
    assert parse_canal(stream).isStreaming  # pure expressions both


def test_canal_feeds_lww_merge(spark):
    """End-to-end: a Canal batch with an in-batch update resolves by the
    derived offset order (later element wins)."""
    from nifi_dicom_spark.operators.dedup import lww_dedup

    simg = {
        "conv_id": "c1",
        "turn_idx": "1",
        "role": "user",
        "text": "v1",
        "tool": None,
        "ts": "2024-01-01 00:00:00",
    }
    df = spark.createDataFrame(
        [
            (_canal("INSERT", [simg], 1),),
            (_canal("UPDATE", [dict(simg, text="v2"), dict(simg, text="v3")], 2),),
        ],
        "value string",
    )
    ev = parse_canal(df)
    winner = lww_dedup(ev, ["conv_id", "turn_idx"]).collect()
    assert len(winner) == 1 and winner[0].text == "v3"
