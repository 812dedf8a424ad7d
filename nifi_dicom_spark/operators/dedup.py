"""Key-partitioned writer-wins dedup (SURVEY §2.5 A1, §2.6 W2).

Reference semantics: entity inserts are FIRST-writer-wins
(``DatabaseInformationModel.java:787-794``; test ``DeidentifyDICOMTest.java:81-103``
— 3 files sharing a series ⇒ 6 uid mappings, not 12), while attribute
re-application is overwrite (``DecryptReidentifyDICOM.java:192-193``). The
CDC engine pins LAST-writer-wins per ``(conv_id, turn_idx)`` with total order
``(op_seq, offset)`` (offset tie-breaks duplicate op_seq).

Scale design — why ``max_by`` aggregation, not a ``row_number`` window:
an aggregation gets map-side partial combine (two-phase local→global reduce
for free), so a hot conversation key collapses to ONE row per map task before
the shuffle — the generic fix for celebrity-key skew at 10^10 events. A
window function would shuffle+sort ALL duplicate rows of the hot key into one
task first. ``lww_dedup_window`` is kept as the semantic cross-check in
tests.

Small inputs skip Spark altogether: :func:`arrow_conform` and
:func:`arrow_lww` are the pure-pyarrow form of the same rule, used where a
Spark job's fixed cost would be the whole bill — point lookups and range
scans whose files fit on the driver, and the change-feed worker, which
runs with no SparkSession at all.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pyarrow as pa


def lww_dedup(events: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """One row per key: the event with max (op_seq, offset).

    Single shuffle with map-side partial aggregation (check the plan: two
    HashAggregate nodes around the Exchange).
    """
    key_cols = key_cols or ["conv_id", "turn_idx"]
    payload = [c for c in events.columns if c not in key_cols]
    winner = F.max_by(
        F.struct(*[F.col(c) for c in payload]),
        F.struct(F.col("op_seq"), F.col("offset")),
    ).alias("_w")
    out = events.groupBy(*key_cols).agg(winner)
    return out.select(*key_cols, *[F.col(f"_w.{c}").alias(c) for c in payload])


def arrow_conform(
    tables: "list[pa.Table]",
    schema: "pa.Schema | None" = None,
    renames: dict | None = None,
) -> "pa.Table":
    """Concatenate per-file Arrow tables of mixed schema eras into one.

    ``renames`` maps a current column name to its historical names, newest
    first: a file written before a rename answers to an old name, which
    coalesces into the current column (current name first, then newest to
    oldest), as :meth:`SnapshotTable._load_files` does in Spark. With
    ``schema`` the result has exactly its fields: columns a file predates
    fill with nulls, widened columns cast (int32 in an old file, int64 in
    a new one). Without it the files' own schemas unify, with permissive
    type promotion."""
    import pyarrow as pa
    import pyarrow.compute as pc

    renames = renames or {}
    out = []
    for t in tables:
        for new, olds in renames.items():
            legs = [n for n in (new, *olds) if n in t.column_names]
            if not legs or legs == [new]:
                continue
            typ = t[legs[0]].type
            merged = pc.coalesce(*[t[n].cast(typ) for n in legs])
            t = t.drop_columns(legs).append_column(new, merged)
        if schema is not None:
            t = pa.table(
                [
                    t[f.name].cast(f.type)
                    if f.name in t.column_names
                    else pa.nulls(t.num_rows, f.type)
                    for f in schema
                ],
                schema=schema,
            )
        out.append(t)
    if not out:
        return (schema or pa.schema([])).empty_table()
    return pa.concat_tables(out, promote_options="permissive")


def arrow_lww(
    table: "pa.Table", key_cols: list[str], drop_tombstones: bool = False
) -> "pa.Table":
    """One row per key: the LAST row after a stable ``(op_seq, offset)``
    sort — :func:`lww_dedup` over an Arrow table. Whole rows win, never a
    per-column last value (which would skip nulls and stitch superseded
    values into the winner). Nulls sort first, as in Spark's struct
    ordering. ``drop_tombstones`` removes winners whose ``op`` is
    ``delete`` (the visible state); by default they stay, as in
    ``read()``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if table.num_rows:
        order = pc.sort_indices(
            table,
            sort_keys=[("op_seq", "ascending"), ("offset", "ascending")],
            null_placement="at_start",
        )
        table = table.take(order)
        last = (
            table.select(key_cols)
            .append_column("_pos", pa.array(np.arange(table.num_rows)))
            .group_by(key_cols, use_threads=False)
            .aggregate([("_pos", "max")])
        )
        table = table.take(last["_pos_max"])
    if drop_tombstones:
        table = table.filter(
            pc.fill_null(pc.not_equal(table["op"], "delete"), True)
        )
    return table


def fww_dedup(events: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """First-writer-wins variant (the reference's insertObject contract)."""
    key_cols = key_cols or ["conv_id", "turn_idx"]
    payload = [c for c in events.columns if c not in key_cols]
    winner = F.min_by(
        F.struct(*[F.col(c) for c in payload]),
        F.struct(F.col("op_seq"), F.col("offset")),
    ).alias("_w")
    out = events.groupBy(*key_cols).agg(winner)
    return out.select(*key_cols, *[F.col(f"_w.{c}").alias(c) for c in payload])


def lww_dedup_window(events: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """row_number()==1 formulation (SURVEY A1's literal mapping). Correct but
    skew-prone: kept as the semantic cross-check in tests."""
    key_cols = key_cols or ["conv_id", "turn_idx"]
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("op_seq").desc(), F.col("offset").desc()
    )
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
