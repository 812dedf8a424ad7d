"""Change-log source connectors (SURVEY §2.1 S1/S5).

ALWAYS read the event log with the explicit superset schema. A bare
``spark.read.parquet(dir)`` over a mixed-schema directory (files written
before/after the ``tool`` column appeared) silently adopts ONE file's schema
— pre-evolution files then erase the column for every row. Pinning the
schema makes the parquet reader fill missing columns with nulls per file,
which is the correct schema-evolution read (reference precedent: columns
added by ``ALTER TABLE`` are null for pre-existing rows,
``DatabaseInformationModel.java:672-698``).

Zone-less wire timestamps are UTC instants whatever the session time zone
(the engine policy in ``session.py``): Spark reads pandas-written parquet
(``isAdjustedToUTC=false``) that way, and the JSON readers parse zone-less
ISO strings in UTC to match. Zone-qualified strings keep their own zone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA


def read_change_log(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Batch read of a change-log directory (backfill / full replay).

    ``fmt``: ``parquet`` (columnar, the fast path) or ``json`` (newline-
    delimited records with ISO-8601 timestamps — the wire format a CDC
    connector like Debezium emits). Both read through the pinned superset
    schema."""
    reader = spark.read.schema(CHANGE_EVENTS_SCHEMA)
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt == "json":
        return reader.option("timeZone", "UTC").json(path)
    raise ValueError(f"unsupported change-log format {fmt!r}")


def stream_change_log(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
    fmt: str = "parquet",
) -> DataFrame:
    """Streaming tail of a change-log directory, offset-ordered micro-batches
    (``maxFilesPerTrigger`` ≙ the reference's batch-size knob, SURVEY W3)."""
    reader = (
        spark.readStream.schema(CHANGE_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", "false")
    )
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt == "json":
        return reader.option("timeZone", "UTC").json(path)
    raise ValueError(f"unsupported change-log format {fmt!r}")
