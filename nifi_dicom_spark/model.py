"""Data model: the ``transcripts`` target table and the change-event log.

Shape fixed by BASELINE.json ``input_hint``:
``transcripts(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)``.

Reference analogs (SURVEY.md §1):
* the entity hierarchy Patient→Study→Series→Instance
  (``com/pixelmed/dicom/InformationEntity.java:29-41``) collapses to
  ``conv_id`` (study-level) / ``turn_idx`` (instance-level);
* the reference's dynamic-schema relational projection
  (``DatabaseInformationModel.java:672-698`` — ``ALTER TABLE ADD COLUMN`` at
  ingest) maps to explicit ``schema_ver`` dispatch + schema reconciliation
  (see :mod:`nifi_dicom_spark.operators.reconcile`);
* the change event is the analog of the attribute-level diff
  ``getRemovedOrModified`` (``DeidentifyEncryptDICOM.java:406-408``).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

# --- target table ----------------------------------------------------------

#: columns that carry payload (everything except the identity key)
PAYLOAD_COLUMNS = ["role", "text", "tool", "ts"]
KEY_COLUMNS = ["conv_id", "turn_idx"]

# --- change-event log ------------------------------------------------------

OPS = ("insert", "update", "delete")

#: schema_ver=1 events predate the ``tool`` column (the late-added column in
#: schema-evolution tests; reference precedent ``extendTablesAsNecessary``,
#: ``DatabaseInformationModel.java:672-698``).
CHANGE_EVENTS_SCHEMA_V1 = T.StructType(
    [
        T.StructField("offset", T.LongType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("op_seq", T.LongType(), False),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("schema_ver", T.IntegerType(), False),
    ]
)

CHANGE_EVENTS_SCHEMA = T.StructType(
    CHANGE_EVENTS_SCHEMA_V1.fields[:8]
    + [T.StructField("tool", T.StringType(), True)]
    + CHANGE_EVENTS_SCHEMA_V1.fields[8:]
)

#: Arrow types of the change-event WIRE format — the single source of truth
#: for every single-file parquet writer of event logs (fixture generator,
#: the streaming requeue path). Kept next to CHANGE_EVENTS_SCHEMA so the
#: Spark and Arrow views of the wire schema cannot drift apart. Explicit
#: types matter: an all-null string column written from pandas without a
#: schema becomes a null-typed parquet column that readers reject.
ARROW_WIRE_FIELDS = {
    "offset": pa.int64(),
    "partition_id": pa.int32(),
    "op": pa.string(),
    "op_seq": pa.int64(),
    "conv_id": pa.string(),
    "turn_idx": pa.int32(),
    "role": pa.string(),
    "text": pa.string(),
    "tool": pa.string(),
    "ts": pa.timestamp("us"),
    "schema_ver": pa.int32(),
}
