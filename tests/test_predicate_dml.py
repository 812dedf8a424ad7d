"""Predicate DML — DELETE WHERE / UPDATE WHERE on SnapshotTable.

The Delta/Iceberg row-level DML surface without a source relation
(reference analog: predicate-keyed study purge,
``DatabaseInformationModel.java:805-892``): two-pass
copy-on-write built on merge_into, so tombstone/exactly-once semantics
are inherited, not re-implemented.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.IntegerType(), True),
        T.StructField("note", T.StringType(), True),
    ]
)

VERSIONED_SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("op", T.StringType(), True),
        T.StructField("op_seq", T.LongType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("v", T.IntegerType(), True),
    ]
)


def _table(spark, tmp_path, rows=(("a", 1, "x"), ("b", 2, "y"), ("c", 3, None))):
    tab = SnapshotTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_cols=["k"], n_buckets=4
    )
    tab.overwrite(spark.createDataFrame(list(rows), SCHEMA))
    return tab


def test_delete_where_basic(spark, tmp_path):
    tab = _table(spark, tmp_path)
    stats = tab.delete_where("v >= 2")
    assert stats.applied
    assert sorted(r.k for r in tab.read().collect()) == ["a"]


def test_delete_where_null_predicate_keeps_row(spark, tmp_path):
    # SQL WHERE semantics: only TRUE deletes; NULL (note is null for c) keeps
    tab = _table(spark, tmp_path)
    tab.delete_where(F.col("note") != F.lit("x"))
    assert sorted(r.k for r in tab.read().collect()) == ["a", "c"]


def test_delete_where_no_match_is_noop_commit(spark, tmp_path):
    tab = _table(spark, tmp_path)
    v0 = tab.current_version()
    stats = tab.delete_where("v > 100")
    assert not stats.applied and stats.touched_buckets == 0
    assert tab.current_version() == v0


def test_update_where_assignments(spark, tmp_path):
    tab = _table(spark, tmp_path)
    tab.update_where({"note": "upper(t.note)", "v": "t.v * 10"}, "v <= 2")
    got = sorted((r.k, r.v, r.note) for r in tab.read().collect())
    assert got == [("a", 10, "X"), ("b", 20, "Y"), ("c", 3, None)]


def test_update_where_requires_assignments(spark, tmp_path):
    tab = _table(spark, tmp_path)
    with pytest.raises(ValueError, match="assignment"):
        tab.update_where({}, "v = 1")


def test_update_where_rejects_key_assignment(spark, tmp_path):
    # rewriting the key would move the row out from under its bucket and
    # its LWW identity — refuse it, like dropping or renaming a key column
    tab = _table(spark, tmp_path)
    before = sorted(tab.read().collect())
    v0 = tab.current_version()
    with pytest.raises(ValueError, match="key column 'k'"):
        tab.update_where({"k": "'x'"}, "v = 1")
    with pytest.raises(ValueError, match="key column 'k'"):
        tab.merge_into(
            tab.read().filter("v = 2"),
            when_matched_update={"k": "s.k || '_moved'", "v": "s.v"},
        )
    assert sorted(tab.read().collect()) == before
    assert tab.current_version() == v0


def test_delete_where_versioned_writes_tombstones(spark, tmp_path):
    """On LWW tables a predicate delete must tombstone (op_seq+1), so a
    late replay of the superseded event stays dead."""
    tab = SnapshotTable.create(
        spark,
        str(tmp_path / "vt"),
        VERSIONED_SCHEMA,
        key_cols=["k"],
        n_buckets=4,
    )
    rows = [("a", "insert", 5, 5, 1), ("b", "insert", 7, 7, 2)]
    tab.merge(
        spark.createDataFrame(rows, VERSIONED_SCHEMA), policy="versioned_upsert"
    )
    tab.delete_where("v = 1")

    def live():
        return tab.read().filter(F.col("op") != "delete")

    assert [r.k for r in live().collect()] == ["b"]
    # the tombstone stays in the physical state with a bumped seq (6):
    # replaying the original insert (seq 5) must NOT resurrect the row
    tomb = tab.read().filter("op = 'delete'").collect()
    assert [(r.k, r.op_seq) for r in tomb] == [("a", 6)]
    tab.merge(
        spark.createDataFrame(
            [("a", "insert", 5, 5, 1)], VERSIONED_SCHEMA
        ),
        policy="versioned_upsert",
    )
    assert [r.k for r in live().collect()] == ["b"]
    # but a genuinely NEWER event does supersede the tombstone
    tab.merge(
        spark.createDataFrame(
            [("a", "insert", 100, 100, 9)], VERSIONED_SCHEMA
        ),
        policy="versioned_upsert",
    )
    got = sorted((r.k, r.v) for r in live().collect())
    assert got == [("a", 9), ("b", 2)]


def test_update_where_versioned_bumps_seq(spark, tmp_path):
    tab = SnapshotTable.create(
        spark,
        str(tmp_path / "vt2"),
        VERSIONED_SCHEMA,
        key_cols=["k"],
        n_buckets=4,
    )
    tab.merge(
        spark.createDataFrame(
            [("a", "insert", 5, 5, 1)], VERSIONED_SCHEMA
        ),
        policy="versioned_upsert",
    )
    tab.update_where({"v": "t.v + 100"}, "k = 'a'")
    row = tab.read().filter(F.col("op") != "delete").collect()[0]
    assert (row.v, row.op_seq) == (101, 6)
    # replay of the superseded event (seq 5) loses to the manual edit
    tab.merge(
        spark.createDataFrame(
            [("a", "update", 5, 5, 1)], VERSIONED_SCHEMA
        ),
        policy="versioned_upsert",
    )
    live = tab.read().filter(F.col("op") != "delete").collect()
    assert [r.v for r in live] == [101]


def test_delete_where_commit_keys_replay_gate(spark, tmp_path):
    tab = _table(spark, tmp_path)
    tab.delete_where("v = 1", commit_keys=[(7, 0)])
    v1 = tab.current_version()
    # replaying the same commit key is a detected no-op
    stats = tab.delete_where("v = 2", commit_keys=[(7, 0)])
    assert not stats.applied and stats.skipped_commit_keys >= 1
    assert tab.current_version() == v1
    assert sorted(r.k for r in tab.read().collect()) == ["b", "c"]


def test_change_feed_reports_predicate_deletes(spark, tmp_path):
    from nifi_dicom_spark.operators.diff import table_changes

    tab = _table(spark, tmp_path)
    v0 = tab.current_version()
    tab.delete_where("v >= 2")
    ch = table_changes(tab, v0, tab.current_version())
    ops = sorted((r.k, r.op) for r in ch.select("k", "op").collect())
    assert ops == [("b", "delete"), ("c", "delete")]


# --- forget(): right-to-be-forgotten physical purge ---------------------------


def _all_table_cells(path: str):
    """Every cell value in every parquet file under the table dir (live,
    historical, delta — whatever vacuum left), via pandas so compression
    cannot hide stored payloads from the scan."""
    import glob

    import pandas as pd

    for f in glob.glob(f"{path}/**/*.parquet", recursive=True):
        df = pd.read_parquet(f)
        for c in df.columns:
            for v in df[c].tolist():
                yield f, c, v


def test_forget_unversioned_physically_erases(spark, tmp_path):
    tab = _table(
        spark,
        tmp_path,
        rows=[("a", 1, "SECRET-AAA"), ("b", 2, "keep-b"), ("c", 3, "SECRET-CCC")],
    )
    # create some history so vacuum has something to destroy
    tab.update_where({"v": "t.v + 10"}, "v >= 0")
    report = tab.forget("note LIKE 'SECRET%'")
    assert report["rows_forgotten"] == 2
    assert report["files_vacuumed"] >= 1
    assert sorted(r.k for r in tab.read().collect()) == ["b"]
    leaked = [
        (f, c, v)
        for f, c, v in _all_table_cells(str(tmp_path / "t"))
        if isinstance(v, str) and "SECRET" in v
    ]
    assert leaked == [], f"payload bytes survived the purge: {leaked}"
    # history below the purge is burned by design
    with pytest.raises(Exception, match="vacuum"):
        tab.read(version=0).collect()


def test_forget_versioned_scrubs_tombstone_and_holds_replay(spark, tmp_path):
    tab = SnapshotTable.create(
        spark,
        str(tmp_path / "vt"),
        VERSIONED_SCHEMA,
        key_cols=["k"],
        n_buckets=4,
    )
    rows = [("a", "insert", 5, 5, 111), ("b", "insert", 7, 7, 222)]
    tab.merge(
        spark.createDataFrame(rows, VERSIONED_SCHEMA), policy="versioned_upsert"
    )
    report = tab.forget("v = 111")
    assert report["rows_forgotten"] == 1
    # live state: only b
    live = tab.read().filter(F.col("op") != "delete").collect()
    assert [r.k for r in live] == ["b"]
    # the tombstone keeps key identity but the payload column is NULLED
    tomb = tab.read().filter("op = 'delete'").collect()
    assert [(r.k, r.op_seq, r.v) for r in tomb] == [("a", 6, None)]
    # the forgotten payload value exists nowhere on disk
    leaked = [
        (f, c, v)
        for f, c, v in _all_table_cells(str(tmp_path / "vt"))
        if v == 111
    ]
    assert leaked == [], f"payload bytes survived the purge: {leaked}"
    # a late replay of the forgotten row (seq 5 < tombstone 6) stays dead
    tab.merge(
        spark.createDataFrame(
            [("a", "insert", 5, 5, 111)], VERSIONED_SCHEMA
        ),
        policy="versioned_upsert",
    )
    live2 = tab.read().filter(F.col("op") != "delete").collect()
    assert [r.k for r in live2] == ["b"]


def test_forget_after_delete_where_scrubs_existing_tombstones(spark, tmp_path):
    """A delete_where tombstone keeps the full payload; a later forget on
    the same rows must scrub it (key, op, op_seq and offset survive) and
    vacuum every file that still holds it."""
    import glob

    import pyarrow.parquet as pq

    path = str(tmp_path / "vt")
    tab = SnapshotTable.create(
        spark, path, VERSIONED_SCHEMA, key_cols=["k"], n_buckets=4
    )
    rows = [("a", "insert", 5, 50, 111), ("b", "insert", 7, 70, 222)]
    tab.merge(
        spark.createDataFrame(rows, VERSIONED_SCHEMA), policy="versioned_upsert"
    )
    tab.delete_where("v = 111")
    tomb = tab.read().filter("op = 'delete'").collect()
    assert [(r.k, r.op_seq, r.v) for r in tomb] == [("a", 6, 111)]

    report = tab.forget("v = 111")
    assert report["rows_forgotten"] == 1
    assert report["files_vacuumed"] >= 1
    got = sorted(tuple(r) for r in tab.read().collect())
    assert got == [("a", "delete", 6, 50, None), ("b", "insert", 7, 70, 222)]
    files = glob.glob(f"{path}/data/**/*.parquet", recursive=True)
    assert files
    leaked = [f for f in files if 111 in pq.read_table(f).column("v").to_pylist()]
    assert leaked == [], f"payload survived the purge in {leaked}"
    # the scrubbed tombstone still holds a late replay of the row dead
    tab.merge(
        spark.createDataFrame([("a", "insert", 5, 50, 111)], VERSIONED_SCHEMA),
        policy="versioned_upsert",
    )
    live = tab.read().filter(F.col("op") != "delete").collect()
    assert [r.k for r in live] == ["b"]


def test_forget_no_match_reports_zero(spark, tmp_path):
    tab = _table(spark, tmp_path)
    v0 = tab.current_version()
    report = tab.forget("v > 999")
    assert report == {
        "rows_forgotten": 0,
        "touched_buckets": [],
        "delete_version": None,
        "files_vacuumed": 0,
    }
    assert tab.current_version() == v0
