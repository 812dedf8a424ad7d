"""apply_changes — the engine's merge-apply planner (one micro-batch or one
batch replay), composing SURVEY §2's operators:

    route (P2/P8) → schema reconcile (§4 evolution) → LWW dedup (A1/W2)
    → MERGE upsert (K3-K6) → lineage metrics (T6/K7)

A batch takes one of two routes, both ending in ``SnapshotTable.merge``.
A small one (Spark sizes its plan at most ``DRIVER_READ_MAX_BYTES``) is
collected once as Arrow, one scan job with no shuffle; routing, the
lineage metrics and the LWW reduce then run in pyarrow on the driver and
the merge writes its deltas with pyarrow. A larger one stays one
declarative DataFrame expression: Catalyst fuses route+reconcile into the
scan and the dedup is a single shuffle with map-side combine (see
tests/test_plans.py for plan assertions).
"""

from __future__ import annotations

import os
import warnings
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nifi_dicom_spark.lake.snapshot_table import (
    MergeStats,
    SnapshotTable,
    _bucket_expr,
    _driver_codec,
    _fits_driver_plan,
    _manifest_schema,
    _murmur3_buckets,
)
from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA, KEY_COLUMNS, PAYLOAD_COLUMNS
from nifi_dicom_spark.operators.dedup import lww_dedup
from nifi_dicom_spark.operators.reconcile import conform_to_schema
from nifi_dicom_spark.operators.routing import arrow_validity, route_events


@dataclass
class ApplyResult:
    merge: MergeStats
    metrics: list[dict]  # one per source partition_id


#: what the transcripts lake table physically stores: payload + the winning
#: event's version columns (cross-batch LWW comparison) + op (tombstones)
STORED_COLUMNS = [*KEY_COLUMNS, "op", "op_seq", "offset", *PAYLOAD_COLUMNS]


def plan_upserts(events: DataFrame) -> DataFrame:
    """valid events → ≤1 winner row per (conv_id, turn_idx) with op, the
    winning (op_seq, offset) version, and payload.

    Pure transformation (no actions) so it composes into streaming
    foreachBatch and batch replay alike.
    """
    valid, _ = route_events(conform_to_schema(events, CHANGE_EVENTS_SCHEMA))
    winners = lww_dedup(valid, KEY_COLUMNS)
    return winners.select(*STORED_COLUMNS, "partition_id")


def partition_metrics(events: DataFrame, bucket_expr=None) -> DataFrame:
    """Per-source-partition lineage: applied-op counts, quarantine count,
    high-watermark offset (SURVEY T6/K7; reference provenance
    ``ListenDICOM.java:163-164`` and cache-stats JSON
    ``LogCacheStatistics.java:50-60``).

    One aggregation pass over the batch — map-side combined. When
    ``bucket_expr`` is given, the same pass also collects the set of target
    buckets touched by valid events (``_buckets`` column), so the merge
    needs no separate bucket-discovery job.
    """
    from nifi_dicom_spark.operators.routing import validity_predicate

    ok = validity_predicate()
    aggs = [
        F.sum(F.when(ok & (F.col("op") == "insert"), 1).otherwise(0)).alias("n_insert"),
        F.sum(F.when(ok & (F.col("op") == "update"), 1).otherwise(0)).alias("n_update"),
        F.sum(F.when(ok & (F.col("op") == "delete"), 1).otherwise(0)).alias("n_delete"),
        F.sum(F.when(~ok, 1).otherwise(0)).alias("n_quarantined"),
        F.max("offset").alias("high_watermark_offset"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    if bucket_expr is not None:
        # collect_set skips nulls, so invalid events touch no bucket
        aggs.append(F.collect_set(F.when(ok, bucket_expr)).alias("_buckets"))
    # null partition_id (malformed source metadata) groups under -1 rather
    # than producing a null-keyed row that breaks int(...) commit keys
    pid = F.coalesce(F.col("partition_id"), F.lit(-1)).alias("partition_id")
    return events.groupBy(pid).agg(*aggs)


def _arrow_metrics(batch, ok) -> list[dict]:
    """:func:`partition_metrics` of an Arrow batch, whose validity mask is
    ``ok``: the same rows, from one Arrow group-by."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def count_if(mask):
        return pc.cast(pc.fill_null(mask, False), pa.int64())

    flags = {
        f"n_{op}": count_if(pc.and_(ok, pc.equal(batch["op"], op)))
        for op in ("insert", "update", "delete")
    }
    flags["n_quarantined"] = count_if(pc.invert(ok))
    pid = pc.coalesce(batch["partition_id"], pa.scalar(-1, pa.int32()))
    grouped = (
        pa.table({"partition_id": pid, **flags, "offset": batch["offset"]})
        .group_by("partition_id", use_threads=False)
        .aggregate(
            [(c, "sum") for c in flags]
            + [("offset", "max"), ("offset", "count", pc.CountOptions("all"))]
        )
    )
    return [
        {
            "partition_id": r["partition_id"],
            **{c: r[f"{c}_sum"] for c in flags},
            "high_watermark_offset": r["offset_max"],
            "n_events": r["offset_count"],
        }
        for r in grouped.to_pylist()
    ]


def apply_changes(
    table: SnapshotTable,
    events: DataFrame,
    epoch: int | None = None,
    quarantine_dir: str | None = None,
    dead_letter: SnapshotTable | None = None,
) -> ApplyResult:
    """Apply one batch of change events to the transcripts table with
    idempotent commit keys (epoch, partition_id).

    The table's manifest is read once; the column bridge, the bucket ids
    and the merge's commit all come from it. Then the batch takes one of
    two routes:

    * **driver**, when Spark sizes the batch's plan at most
      ``DRIVER_READ_MAX_BYTES`` and the batch has no ``quarantine_dir``
      or ``dead_letter``: one ``toArrow`` scan, the validity predicate and
      the lineage metrics in pyarrow, and an Arrow source for ``merge``.
      No shuffle, one Spark job;
    * **Spark**, otherwise: one fused lineage-metrics + bucket-discovery
      pass, then the merge decodes the batch again. Measured on the
      scaling harness (BENCH/MATRIX.md), decoding the columnar source
      twice beat persisting it by ~35%.

    Both give the same metrics, commit keys, table rows and files.
    """
    if "tool" not in events.columns and "schema_ver" in events.columns:
        # a batch WITHOUT the tool column but WITH rows claiming
        # schema_ver >= 2 is almost certainly a mis-read, not a v1 feed:
        # raw spark.read.parquet on a mixed-vintage directory samples ONE
        # file's schema and silently drops the late-added column for the
        # whole batch (use sources.read_change_log, which pins the wire
        # schema). Conforming would null 'tool' for every v2 row — warn
        # before that happens silently.
        probe = events.filter(F.col("schema_ver") >= 2).limit(1).collect()
        if probe:
            warnings.warn(
                "batch carries schema_ver>=2 rows but no 'tool' column — "
                "likely a raw parquet read of a mixed-vintage directory "
                "(one file's schema sampled); read with "
                "sources.read_change_log to pin the wire schema, or "
                "'tool' will be nulled for the whole batch",
                stacklevel=2,
            )
    if dead_letter is not None and epoch is None:
        # the retry ledger is keyed by epoch — a batch caller asking for
        # DLQ bookkeeping without one would silently get nothing
        raise ValueError(
            "dead_letter requires an epoch (the retry ledger's "
            "idempotency key); pass epoch=<n> or drop dead_letter"
        )
    events = conform_to_schema(events, CHANGE_EVENTS_SCHEMA)
    m = table.manifest()

    # schema-evolution bridge between the FIXED wire frame and the
    # table's evolved schema: a DROPPED table column is projected away
    # (merging it would trip the resurrection guard) and a RENAMED one
    # is aliased to its current name (the wire name is historical) —
    # the wire schema stays the superset, the TABLE decides what it
    # stores and what it calls it
    props = m.get("props") or {}
    dropped = props.get("dropped_columns") or {}
    to_current = {
        old: new
        for new, olds in (props.get("renamed_columns") or {}).items()
        for old in olds
    }
    wire = [c for c in STORED_COLUMNS if c not in dropped]
    stored = [to_current.get(c, c) for c in wire]

    if (
        quarantine_dir is None
        and dead_letter is None
        and _driver_codec(table.spark, _manifest_schema(m)) is not None
        and _fits_driver_plan(events)
    ):
        batch = events.toArrow()
        ok = arrow_validity(batch)
        metrics_rows = _arrow_metrics(batch, ok)
        source = batch.filter(ok).select(wire).rename_columns(stored)
        touched = None  # the merge places the winners itself
    else:
        bucket = _bucket_expr(KEY_COLUMNS[0], _murmur3_buckets(m))
        metrics_rows = [
            r.asDict()
            for r in partition_metrics(events, bucket_expr=bucket).collect()
        ]
        touched = sorted({int(b) for r in metrics_rows for b in r.pop("_buckets")})
        valid, bad = route_events(events)
        if dead_letter is not None:
            # T7: penalize-then-retry bookkeeping (idempotent per epoch)
            from nifi_dicom_spark.operators.deadletter import record_quarantine

            record_quarantine(dead_letter, bad, epoch)
        if quarantine_dir is not None:
            if epoch is not None:
                # epoch-keyed dir + overwrite ⇒ replaying the epoch
                # rewrites the same quarantine rows (exactly-once for the
                # reject channel, same idempotency key as the merge ledger)
                bad.write.mode("overwrite").parquet(
                    os.path.join(quarantine_dir, f"epoch={int(epoch)}")
                )
            else:
                bad.write.mode("append").parquet(quarantine_dir)
        # no pre-dedup: versioned_upsert's own LWW reduce dedups in-batch
        # and cross-batch in ONE shuffle (pre-deduping here would add a
        # second full shuffle for no correctness gain)
        source = valid.select(
            *[F.col(w).alias(c) for w, c in zip(wire, stored)]
        )

    commit_keys = None
    if epoch is not None:
        commit_keys = [(epoch, int(r["partition_id"])) for r in metrics_rows]
        for r in metrics_rows:
            r["checkpoint_epoch"] = epoch
    stats = table.merge(
        source,
        op_col="op",
        policy="versioned_upsert",
        commit_keys=commit_keys,
        touched_buckets=touched,
        manifest=m,
    )
    return ApplyResult(merge=stats, metrics=metrics_rows)


def create_transcripts_table(
    spark, path: str, n_buckets: int = 64
) -> SnapshotTable:
    """DDL for the engine's target table (stored schema = transcripts payload
    + LWW version columns; FIXTURES.md §1)."""
    from pyspark.sql import types as T

    by_name = {f.name: f for f in CHANGE_EVENTS_SCHEMA.fields}
    stored = T.StructType([by_name[c] for c in STORED_COLUMNS])
    return SnapshotTable.create(
        spark,
        path,
        stored,
        key_cols=KEY_COLUMNS,
        n_buckets=n_buckets,
        # per-file ts min/max in the manifest → stats-pruned time scans
        # (SnapshotTable.scan) skip files without opening footers
        props={"stats_cols": ["ts"]},
    )


def read_final_state(table: SnapshotTable, version: int | None = None) -> DataFrame:
    """The user-facing transcripts table: tombstones filtered, version
    columns dropped, stable (conv_id, turn_idx) order left to the caller."""
    df = table.read(version)
    # evolved schemas: a DROPped payload column stays dropped, a RENAMED
    # one surfaces under its current name (the wire name is historical)
    props = table.manifest(version).get("props") or {}
    to_current = {
        old: new
        for new, olds in (props.get("renamed_columns") or {}).items()
        for old in olds
    }
    have = set(df.columns)
    cols = [
        c2
        for c in PAYLOAD_COLUMNS
        if (c2 := to_current.get(c, c)) in have
    ]
    return df.filter(F.col("op") != F.lit("delete")).select(*KEY_COLUMNS, *cols)
