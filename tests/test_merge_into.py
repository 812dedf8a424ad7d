"""Conditional MERGE INTO (Delta-style WHEN clauses) on SnapshotTable."""

from __future__ import annotations

import os

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


def _table(spark, tmp_path, rows=(("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z"))):
    tab = SnapshotTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_cols=["k"], n_buckets=4
    )
    tab.overwrite(spark.createDataFrame(list(rows), SCHEMA))
    return tab


def test_clause_semantics(spark, tmp_path):
    tab = _table(spark, tmp_path)
    src = spark.createDataFrame(
        [("a", 10, "del"), ("b", 1, "upd"), ("d", 40, "new"), ("e", 5, "skip")],
        "k string, v int, flag string",
    )
    stats = tab.merge_into(
        src,
        when_matched_update={"v": "s.v + t.v", "note": F.lit("updated")},
        update_condition="s.v < t.v",
        delete_condition="s.flag = 'del'",
        insert_condition="s.v >= 10",
    )
    assert stats.applied and stats.mode == "cow"
    got = sorted((r.k, r.v, r.note) for r in tab.read().collect())
    # a deleted; b updated (1 < 2); c untouched; d inserted (missing source
    # column 'note' -> null); e's insert declined
    assert got == [("b", 3, "updated"), ("c", 3, "z"), ("d", 40, None)]


def test_delete_clause_wins_over_update(spark, tmp_path):
    tab = _table(spark, tmp_path)
    src = spark.createDataFrame([("a", 0, "both")], "k string, v int, flag string")
    tab.merge_into(
        src,
        when_matched_update={"v": F.lit(99)},
        delete_condition="s.flag = 'both'",  # matches the same row
    )
    assert sorted(r.k for r in tab.read().collect()) == ["b", "c"]


def test_matched_rows_missing_every_clause_survive_unchanged(spark, tmp_path):
    tab = _table(spark, tmp_path)
    src = spark.createDataFrame([("a", -1, "x"), ("f", 9, "x")], "k string, v int, flag string")
    tab.merge_into(
        src,
        when_matched_update={"v": "s.v"},
        update_condition="s.v > 0",  # a fails the condition -> kept as-is
        when_not_matched_insert=False,  # f ignored
    )
    got = sorted((r.k, r.v) for r in tab.read().collect())
    assert got == [("a", 1), ("b", 2), ("c", 3)]


def test_untouched_buckets_not_rewritten(spark, tmp_path):
    tab = _table(spark, tmp_path)
    before = dict(tab.manifest()["files"])
    src = spark.createDataFrame([("a", 5, "u")], "k string, v int, flag string")
    tab.merge_into(src, when_matched_update={"v": "s.v"})
    after = tab.manifest()["files"]
    touched = {
        b for b in before if before[b] != after.get(b)
    }
    assert len(touched) == 1  # only a's bucket rewritten
    for b in before:
        if b not in touched:
            assert after[b] == before[b]
            for rel in before[b]:
                assert os.path.exists(os.path.join(tab.data_dir, rel))


def test_validation_errors(spark, tmp_path):
    tab = _table(spark, tmp_path)
    src = spark.createDataFrame([("a", 1, "f")], "k string, v int, flag string")
    with pytest.raises(ValueError, match="at least one WHEN clause"):
        tab.merge_into(src, when_not_matched_insert=False)
    with pytest.raises(ValueError, match="ambiguous"):
        tab.merge_into(
            src, when_matched_update={"v": "s.v"}, when_matched_delete=True
        )
    with pytest.raises(ValueError, match="unknown columns"):
        tab.merge_into(src, when_matched_update={"nope": "s.v"})
    dup = src.unionByName(src)
    with pytest.raises(ValueError, match="duplicate keys"):
        tab.merge_into(
            dup, when_matched_update={"v": "s.v"}, assert_unique_source=True
        )


def test_commit_key_replay_is_noop(spark, tmp_path):
    tab = _table(spark, tmp_path)
    src = spark.createDataFrame([("a", 100, "u")], "k string, v int, flag string")
    s1 = tab.merge_into(src, when_matched_update={"v": "s.v"}, commit_keys=[(1, 0)])
    assert s1.applied
    s2 = tab.merge_into(
        src, when_matched_update={"v": F.lit(-1)}, commit_keys=[(1, 0)]
    )
    assert not s2.applied and s2.skipped_commit_keys == 1
    assert {r.k: r.v for r in tab.read().collect()}["a"] == 100


_SRC = "k string, v int, note string, op string"

# (policy, source rows, source DDL, commit keys, final rows, versions added)
_POLICY_CASES = {
    "upsert_delete_present": (
        "upsert", [("a", None, None, "delete")], _SRC, None,
        [("b", 2, "y"), ("c", 3, "z")], 1,
    ),
    "upsert_delete_absent": (
        "upsert", [("q", 9, "n", "delete")], _SRC, None,
        [("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z")], 1,
    ),
    # a NULL op is neither an insert nor an update: the matched row goes
    "upsert_null_op": (
        "upsert", [("a", 5, "n", None), ("y", 6, "m", None)], _SRC, None,
        [("b", 2, "y"), ("c", 3, "z")], 1,
    ),
    # a non-key column the source lacks becomes NULL on matched rows too
    "upsert_source_lacks_column": (
        "upsert", [("a", 10, "update"), ("d", 4, "insert")],
        "k string, v int, op string", None,
        [("a", 10, None), ("b", 2, "y"), ("c", 3, "z"), ("d", 4, None)], 1,
    ),
    "upsert_source_adds_column": (
        "upsert", [("b", 20, "q", "E", "update")],
        "k string, v int, note string, extra string, op string", None,
        [("a", 1, "x", None), ("b", 20, "q", "E"), ("c", 3, "z", None)], 1,
    ),
    "insert_if_absent_keeps_existing": (
        "insert_if_absent",
        [("a", 99, "no", "insert"), ("e", 5, "new", "insert"),
         ("f", 6, "gone", "delete")],
        _SRC, None,
        [("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z"), ("e", 5, "new")], 1,
    ),
    # an empty source with commit keys commits an empty version that
    # records them
    "upsert_empty_with_keys": (
        "upsert", [], _SRC, [(3, 0)],
        [("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z")], 1,
    ),
    "insert_if_absent_empty_with_keys": (
        "insert_if_absent", [], _SRC, [(3, 0)],
        [("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z")], 1,
    ),
}


@pytest.mark.parametrize("case", sorted(_POLICY_CASES))
def test_merge_policy_semantics(spark, tmp_path, case):
    """``merge``'s copy-on-write policies on an unversioned table: what
    ``upsert`` and ``insert_if_absent`` do with deletes, NULL ops, narrow
    and wide sources and an empty keyed source, and what each commit
    records."""
    policy, rows, ddl, keys, want, n_versions = _POLICY_CASES[case]
    tab = _table(spark, tmp_path)
    v0 = tab.current_version()
    stats = tab.merge(
        spark.createDataFrame(rows, ddl), op_col="op", policy=policy,
        commit_keys=keys,
    )
    assert stats.applied and stats.mode == "cow"
    assert tab.current_version() == v0 + n_versions
    cols = ["k", "v", "note"]
    cols += [c for c in tab.read().columns if c not in cols]
    got = sorted(tuple(r[c] for c in cols) for r in tab.read().collect())
    assert got == sorted(want)
    h = tab.history()[-1]
    assert (h["operation"], h["policy"], h["mode"]) == ("merge", policy, "cow")
    if keys:
        assert tab.applied_watermarks() == {0: 3}


def test_upsert_on_a_versioned_table_writes_tombstones(spark, tmp_path):
    """On a versioned table ``merge(policy="upsert")`` follows
    ``merge_into``'s tombstone semantics: a matched delete keeps the row as
    a tombstone one ``op_seq`` above it, a matched update bumps ``op_seq``,
    and an unmatched row is inserted with its own version."""
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.IntegerType(), True),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), True),
            T.StructField("offset", T.LongType(), True),
        ]
    )
    tab = SnapshotTable.create(
        spark, str(tmp_path / "v"), schema, key_cols=["k"], n_buckets=4
    )
    tab.overwrite(
        spark.createDataFrame(
            [("a", 1, "insert", 5, 0), ("b", 2, "insert", 6, 1),
             ("c", 3, "insert", 7, 2)],
            schema,
        )
    )
    tab.merge(
        spark.createDataFrame(
            [("a", None, "delete"), ("b", 20, "update"), ("d", 4, "insert")],
            "k string, v int, op string",
        ),
        op_col="op",
        policy="upsert",
    )
    got = sorted(
        (r.k, r.v, r.op, r.op_seq, r.offset) for r in tab.read().collect()
    )
    assert got == [
        ("a", 1, "delete", 6, 0),
        ("b", 20, "update", 7, 1),
        ("c", 3, "insert", 7, 2),
        ("d", 4, "insert", 0, 0),
    ]


def test_replayed_upsert_is_a_noop_even_if_its_source_readds_a_dropped_column(
    spark, tmp_path
):
    """The replay gate runs before schema evolution: a replayed epoch is a
    no-op even when its source still carries a column dropped since."""
    tab = _table(spark, tmp_path)
    src = spark.createDataFrame([("a", 100, "u", "update")], _SRC)
    assert tab.merge(src, op_col="op", commit_keys=[(1, 0)]).applied
    tab.drop_column("note")
    v = tab.current_version()
    replay = tab.merge(src, op_col="op", commit_keys=[(1, 0)])
    assert not replay.applied and replay.skipped_commit_keys == 1
    assert tab.current_version() == v
    with pytest.raises(ValueError, match="previously dropped"):
        tab.merge(src, op_col="op", commit_keys=[(2, 0)])


def test_merge_into_versioned_lww_semantics(spark, tmp_path):
    """On versioned tables MERGE operates on the LOGICAL state: tombstoned
    keys are NOT MATCHED (re-insert supersedes the tombstone), WHEN MATCHED
    DELETE writes a tombstone instead of physically removing the row, and
    updates bump op_seq so manual edits survive replays."""
    import pandas as pd

    from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA
    from nifi_dicom_spark.operators.apply import (
        apply_changes,
        create_transcripts_table,
        read_final_state,
    )

    table = create_transcripts_table(spark, str(tmp_path / "v"), n_buckets=4)
    ev = pd.DataFrame(
        [
            {
                "offset": i, "partition_id": 0, "op": op, "op_seq": 10 + i,
                "conv_id": conv, "turn_idx": 0, "role": "user",
                "text": f"t{i}", "tool": None,
                "ts": pd.Timestamp("2024-01-01"), "schema_ver": 2,
            }
            for i, (conv, op) in enumerate(
                [("A", "insert"), ("B", "insert"), ("C", "insert")]
            )
        ]
    )
    apply_changes(table, spark.createDataFrame(ev, CHANGE_EVENTS_SCHEMA), epoch=0)
    # delete C via CDC so a tombstone exists
    tomb = ev.tail(1).copy()
    tomb["op"], tomb["op_seq"], tomb["offset"] = "delete", 99, 99
    apply_changes(table, spark.createDataFrame(tomb, CHANGE_EVENTS_SCHEMA), epoch=1)
    assert {r["conv_id"] for r in read_final_state(table).collect()} == {"A", "B"}
    seq_a = table.read().filter("conv_id='A'").collect()[0]["op_seq"]

    # MERGE: update A, delete B, re-insert C (tombstoned => NOT MATCHED)
    src = spark.createDataFrame(
        [("A", 0, "edited"), ("B", 0, "del"), ("C", 0, "revived")],
        "conv_id string, turn_idx int, text string",
    )
    stats = table.merge_into(
        src,
        when_matched_update={"text": "s.text"},
        update_condition="s.text = 'edited'",
        delete_condition="s.text = 'del'",
    )
    assert stats.applied
    state = {r["conv_id"]: r for r in read_final_state(table).collect()}
    assert set(state) == {"A", "C"}
    assert state["A"]["text"] == "edited"
    assert state["C"]["text"] == "revived"
    raw_state = {r["conv_id"]: r for r in table.read().collect()
                 if r["op"] != "delete"}
    assert raw_state["A"]["op_seq"] == seq_a + 1  # edit out-sequences replay
    assert raw_state["C"]["op"] == "insert"
    assert raw_state["C"]["op_seq"] == 100  # tombstone seq 99 + 1

    # B's delete left a TOMBSTONE: a late CDC event below its seq stays dead
    raw = {r["conv_id"]: r for r in table.read().collect()}
    assert raw["B"]["op"] == "delete"
    late = ev.head(2).tail(1).copy()  # B insert, op_seq 11 < tombstone seq
    late["text"] = "resurrected?"
    apply_changes(table, spark.createDataFrame(late, CHANGE_EVENTS_SCHEMA), epoch=2)
    assert "B" not in {r["conv_id"] for r in read_final_state(table).collect()}

    # a replay of A's ORIGINAL event (seq_a) loses to the manual edit
    replay = ev.head(1).copy()
    replay["text"] = "stale"
    apply_changes(table, spark.createDataFrame(replay, CHANGE_EVENTS_SCHEMA), epoch=3)
    assert read_final_state(table).filter("conv_id='A'").collect()[0]["text"] == "edited"


def test_merge_into_rejects_orphan_conditions(spark, tmp_path):
    tab = _table(spark, tmp_path)
    src = spark.createDataFrame([("a", 9, "n")], SCHEMA)
    with pytest.raises(ValueError, match="update_condition given"):
        tab.merge_into(src, update_condition="s.v > t.v")
    with pytest.raises(ValueError, match="insert_condition given with"):
        tab.merge_into(
            src,
            when_matched_update={"v": "s.v"},
            when_not_matched_insert=False,
            insert_condition="s.v > 0",
        )


def test_merge_into_versioned_delete_insert_cycles_keep_one_row_per_key(
    spark, tmp_path
):
    """Repeated MERGE delete/insert cycles must never accumulate several
    physical rows per key in the CoW base files (read() does not dedup
    delta-free buckets), and a re-insert whose SOURCE carries an op_seq
    below the tombstone still supersedes it."""
    import pandas as pd

    from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA
    from nifi_dicom_spark.operators.apply import (
        apply_changes,
        create_transcripts_table,
        read_final_state,
    )

    table = create_transcripts_table(spark, str(tmp_path / "c"), n_buckets=2)
    ev = pd.DataFrame(
        [
            {
                "offset": 1, "partition_id": 0, "op": "insert", "op_seq": 10,
                "conv_id": "K", "turn_idx": 0, "role": "user", "text": "t0",
                "tool": None, "ts": pd.Timestamp("2024-01-01"), "schema_ver": 2,
            }
        ]
    )
    apply_changes(table, spark.createDataFrame(ev, CHANGE_EVENTS_SCHEMA), epoch=0)

    def src(text, with_seq=None):
        if with_seq is None:
            return spark.createDataFrame(
                [("K", 0, text)], "conv_id string, turn_idx int, text string"
            )
        return spark.createDataFrame(
            [("K", 0, text, with_seq)],
            "conv_id string, turn_idx int, text string, op_seq long",
        )

    for cycle in range(3):
        table.merge_into(
            src("kill"), when_matched_delete=True, when_not_matched_insert=False
        )
        assert read_final_state(table).count() == 0
        # re-insert with a LOW source op_seq: must still supersede
        table.merge_into(src(f"rev{cycle}", with_seq=1))
        state = read_final_state(table).collect()
        assert [r["text"] for r in state] == [f"rev{cycle}"]
        # base invariant: exactly ONE physical row for K (+ no dup keys)
        raw = table.read().filter("conv_id = 'K'").collect()
        assert len(raw) == 1 and raw[0]["op"] == "insert"
