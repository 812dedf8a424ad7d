"""Maxwell and Canal CDC envelope adapters (SURVEY §2.1 S1/S5).

:mod:`~nifi_dicom_spark.sources.debezium` covers the Debezium wire format;
the other two JSON envelopes a MySQL binlog tail commonly emits are
**Maxwell's daemon** (one flat JSON object per row change) and **Alibaba
Canal** (a "flat message" that batches every row of one binlog entry into
a ``data`` array and stringifies every column value). Both normalize here
to the engine's canonical change-event frame
(:data:`~nifi_dicom_spark.model.CHANGE_EVENTS_SCHEMA`) with pure column
expressions — ONE ``from_json`` each, zero UDFs, identical on batch and
streaming inputs.

Maxwell (https://maxwells-daemon.io, ``Maxwell JSON``)::

    {"database": "db", "table": "transcripts", "type": "insert",
     "ts": 1477053217, "xid": 23396, "commit": true,
     "position": "master.000006:800911",
     "data": {"conv_id": "c1", "turn_idx": 3, "role": "user",
              "text": "...", "tool": null, "ts": "2026-01-01 00:00:00"},
     "old": {"text": "previous"}}

* ``type`` insert/bootstrap-insert → ``insert``; update → ``update``;
  delete → ``delete``; anything else (``table-create`` DDL …) → null op,
  which the validity router (P2/P8) quarantines.
* ``data`` is ALWAYS the row image (Maxwell puts the full deleted row in
  ``data``, not ``old`` — ``old`` holds only the changed columns' before
  values, which LWW apply never needs).
* Maxwell has no LSN: the total order is ``position`` ("file:pos").
  ``offset``/``op_seq`` = ``file_seq * 2^32 + pos`` — a binlog position
  is < 4 GiB, so the composite is strictly monotone across file rolls.
* MySQL DATETIME serializes as ``"yyyy-MM-dd HH:mm:ss"`` → TimestampType.

Canal flat message (Alibaba Canal ``FlatMessage``)::

    {"data": [{"conv_id": "c1", "turn_idx": "3", ...}],
     "database": "db", "es": 1589373515000, "id": 3, "isDdl": false,
     "old": [{"text": "old"}], "pkNames": ["conv_id", "turn_idx"],
     "sql": "", "table": "transcripts", "ts": 1589373515477,
     "type": "INSERT"}

* ``data`` batches N rows → ``posexplode`` fans them out; ``offset`` =
  ``id * 2^32 + row_index`` keeps the within-batch order total (Canal's
  ``id`` is the ack/batch id, monotone per destination). The 2^32 radix
  holds any row count one binlog entry can carry; an ``id`` of 2^31 or
  more overflows a long, so its rows get a NULL offset and are
  quarantined.
* Canal's flat message STRINGIFIES every value (``mysqlType``/``sqlType``
  carry the real types separately) — ``turn_idx`` casts from string,
  ``ts`` parses from the DATETIME string. Nulls survive (JSON null).
* ``type`` is uppercase; ``isDdl: true`` records carry no row images →
  null op, quarantined by the router like any unknown op.

Reference analog: ``ListenDICOM``'s wire boundary, same as debezium.py —
the engine treats every connector dialect as a declarative projection
into one canonical frame, so the merge/apply path is dialect-blind.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "MAXWELL_ENVELOPE_SCHEMA",
    "CANAL_ENVELOPE_SCHEMA",
    "parse_maxwell",
    "parse_canal",
]

#: row image as Maxwell serializes the transcripts table (JSON-native
#: types; DATETIME as "yyyy-MM-dd HH:mm:ss" strings)
_MAXWELL_IMAGE = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.StringType(), True),
    ]
)

MAXWELL_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("database", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("ts", T.LongType(), True),
        T.StructField("xid", T.LongType(), True),
        T.StructField("commit", T.BooleanType(), True),
        T.StructField("position", T.StringType(), True),
        T.StructField("data", _MAXWELL_IMAGE, True),
        T.StructField("old", _MAXWELL_IMAGE, True),
    ]
)

#: Canal stringifies EVERY column value in the flat message
_CANAL_IMAGE = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.StringType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.StringType(), True),
    ]
)

CANAL_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("data", T.ArrayType(_CANAL_IMAGE), True),
        T.StructField("database", T.StringType(), True),
        T.StructField("es", T.LongType(), True),
        T.StructField("id", T.LongType(), True),
        T.StructField("isDdl", T.BooleanType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("ts", T.LongType(), True),
        T.StructField("type", T.StringType(), True),
    ]
)

_CANONICAL = [
    "offset",
    "partition_id",
    "op",
    "op_seq",
    "conv_id",
    "turn_idx",
    "role",
    "text",
    "tool",
    "ts",
    "schema_ver",
]


def _part(partition_col: "str | Column | None") -> Column:
    if partition_col is None:
        return F.lit(0)
    return F.col(partition_col) if isinstance(partition_col, str) else partition_col


def parse_maxwell(
    df: DataFrame,
    value_col: str = "value",
    partition_col: "str | Column | None" = None,
) -> DataFrame:
    """Normalize Maxwell JSON envelopes in ``df[value_col]`` into the
    canonical change-event frame. ``partition_col`` = the Kafka partition
    (→ ``partition_id``, the exactly-once commit-key dimension); defaults
    to 0. Pure expressions — batch and streaming alike."""
    e = F.from_json(F.col(value_col), MAXWELL_ENVELOPE_SCHEMA)
    img = e["data"]
    # "master.000006:800911" → 6 * 2^32 + 800911 (monotone across rolls);
    # a missing or malformed position yields NULL (try_*: under ANSI a bad
    # cast or an overflow would abort the whole batch), and routing
    # quarantines that row
    file_seq = F.regexp_extract(e["position"], r"\.(\d+):(\d+)$", 1).try_cast("long")
    pos = F.regexp_extract(e["position"], r"\.(\d+):(\d+)$", 2).try_cast("long")
    lsn = F.try_add(F.try_multiply(file_seq, F.lit(4294967296).cast("long")), pos)
    return df.select(
        lsn.alias("offset"),
        _part(partition_col).cast("int").alias("partition_id"),
        F.when(e["type"].isin("insert", "bootstrap-insert"), "insert")
        .when(e["type"] == "update", "update")
        .when(e["type"] == "delete", "delete")
        .alias("op"),
        lsn.alias("op_seq"),
        img["conv_id"].alias("conv_id"),
        img["turn_idx"].alias("turn_idx"),
        img["role"].alias("role"),
        img["text"].alias("text"),
        img["tool"].alias("tool"),
        F.to_timestamp(img["ts"], "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.lit(2).alias("schema_ver"),
    ).select(*_CANONICAL)


def parse_canal(
    df: DataFrame,
    value_col: str = "value",
    partition_col: "str | Column | None" = None,
) -> DataFrame:
    """Normalize Canal flat-message envelopes in ``df[value_col]`` into the
    canonical frame. One envelope fans out to one row per ``data`` element
    (``posexplode`` keeps the within-batch order in the offset); every
    image value casts FROM STRING (the flat-message contract). DDL records
    (``isDdl`` or an empty ``data``) produce no rows."""
    e = F.from_json(F.col(value_col), CANAL_ENVELOPE_SCHEMA)
    # parse once per envelope, THEN explode: envelope fields selected
    # beside the generator would be evaluated after it, re-parsing the
    # whole message for every row it fans out to (quadratic in its size)
    rows = (
        df.select(
            e["id"].alias("_batch_id"),
            e["type"].alias("_type"),
            e["isDdl"].alias("_ddl"),
            e["data"].alias("_data"),
        )
        .select(
            "_batch_id",
            "_type",
            "_ddl",
            F.posexplode_outer("_data").alias("_pos", "_img"),
        )
        .filter(
            ~F.coalesce(F.col("_ddl"), F.lit(False)) & F.col("_img").isNotNull()
        )
    )
    img = F.col("_img")
    # id * 2^32 + element position: the radix must exceed any message's
    # row count (one binlog entry may hold 65,536 rows or more), or a
    # message's tail would take the offsets of the next batch id's head.
    # An id too large for the radix overflows to NULL (try_*: under ANSI
    # the overflow would abort the whole batch), and routing quarantines
    # that row
    lsn = F.try_add(
        F.try_multiply(F.col("_batch_id"), F.lit(4294967296).cast("long")),
        F.col("_pos").cast("long"),
    )
    return rows.select(
        lsn.alias("offset"),
        _part(partition_col).cast("int").alias("partition_id"),
        F.when(F.col("_type") == "INSERT", "insert")
        .when(F.col("_type") == "UPDATE", "update")
        .when(F.col("_type") == "DELETE", "delete")
        .alias("op"),
        lsn.alias("op_seq"),
        img["conv_id"].alias("conv_id"),
        img["turn_idx"].cast("int").alias("turn_idx"),
        img["role"].alias("role"),
        img["text"].alias("text"),
        img["tool"].alias("tool"),
        F.to_timestamp(img["ts"], "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.lit(2).alias("schema_ver"),
    ).select(*_CANONICAL)
