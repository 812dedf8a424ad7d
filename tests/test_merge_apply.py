"""M1 keystone: batch replay of a change log → final-state equality vs the
pure-pandas oracle (reference test style: round-trip oracle,
``DeidentifyEncryptDICOMTest.java:97-123``; state-count assertions,
``DeidentifyDICOMTest.java:81-103``)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from nifi_dicom_spark.fixtures.generator import GeneratorConfig, generate_change_events
from nifi_dicom_spark.fixtures.oracle import (
    assert_final_state_equal,
    replay_oracle,
    split_malformed,
)
from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA
from nifi_dicom_spark.operators.apply import (
    apply_changes,
    create_transcripts_table,
    read_final_state,
)


def _spark_events(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf, schema=CHANGE_EVENTS_SCHEMA)


def _spark_wrote(table) -> set[bool]:
    """For each commit directory of ``table``: whether Spark's writer wrote
    it (it leaves a ``_SUCCESS`` marker; the driver's pyarrow writer does
    not)."""
    import os

    return {
        os.path.exists(os.path.join(table.data_dir, d, "_SUCCESS"))
        for d in os.listdir(table.data_dir)
        if d.startswith("c-")
    }


def _unreferenced(table) -> set[str]:
    """Data files under ``table``'s data directory that the current
    manifest does not reference."""
    import os

    m = table.manifest()
    refs = {
        rel
        for which in ("files", "delta_files")
        for rels in m[which].values()
        for rel in rels
    }
    return {
        os.path.relpath(os.path.join(r, fn), table.data_dir)
        for r, _d, fns in os.walk(table.data_dir)
        for fn in fns
        if fn.endswith(".parquet")
    } - refs


@pytest.fixture(scope="module")
def small_log():
    cfg = GeneratorConfig(
        seed=7,
        n_conversations=30,
        max_turns=8,
        n_events=2_000,
        duplicate_ratio=0.08,
        late_ratio=0.15,
        malformed_ratio=0.03,
    )
    return generate_change_events(cfg)


def test_generator_deterministic():
    cfg = GeneratorConfig(seed=11, n_events=500)
    a = generate_change_events(cfg)
    b = generate_change_events(cfg)
    pd.testing.assert_frame_equal(a, b)
    assert set(a["schema_ver"].unique()) <= {1, 2}
    assert (a["op"].isin(["insert", "update", "delete"])).all()


def test_oracle_basics():
    ev = pd.DataFrame(
        {
            "offset": [0, 1, 2, 3, 4],
            "partition_id": [0] * 5,
            "op": ["insert", "update", "delete", "insert", "update"],
            "op_seq": [1, 2, 3, 1, 1],  # last row duplicates op_seq=1 of key B
            "conv_id": ["A", "A", "A", "B", "B"],
            "turn_idx": [0, 0, 0, 0, 0],
            "role": ["user", "user", None, "user", "assistant"],
            "text": ["t1", "t2", None, "b1", "b2"],
            "tool": [None] * 5,
            "ts": pd.to_datetime(["2024-01-01"] * 5),
            "schema_ver": [2] * 5,
        }
    )
    final = replay_oracle(ev)
    # key A deleted; key B: duplicate op_seq=1 → offset 4 wins (b2)
    assert final["conv_id"].tolist() == ["B"]
    assert final["text"].tolist() == ["b2"]


def test_batch_replay_matches_oracle(spark, small_log, tmp_path):
    table = create_transcripts_table(spark, str(tmp_path / "transcripts"))
    res = apply_changes(table, _spark_events(spark, small_log), epoch=0)
    assert res.merge.applied

    actual = read_final_state(table).toPandas()
    expected = replay_oracle(small_log)
    assert_final_state_equal(actual, expected)

    # lineage metrics account for every event exactly once
    mt = pd.DataFrame(res.metrics)
    assert mt["n_events"].sum() == len(small_log)
    _, bad = split_malformed(small_log)
    assert mt["n_quarantined"].sum() == len(bad)
    assert mt["high_watermark_offset"].max() == small_log["offset"].max()


def test_multi_batch_replay_with_late_events(spark, small_log, tmp_path):
    """Cross-batch LWW: split the log by delivery order into 4 epochs (late
    events land in later epochs with *lower* op_seq) — final state must still
    equal the global oracle."""
    table = create_transcripts_table(spark, str(tmp_path / "transcripts"))
    chunks = np.array_split(np.arange(len(small_log)), 4)
    for epoch, idx in enumerate(chunks):
        apply_changes(table, _spark_events(spark, small_log.iloc[idx]), epoch=epoch)

    actual = read_final_state(table).toPandas()
    assert_final_state_equal(actual, replay_oracle(small_log))


def test_reapply_epoch_is_noop(spark, small_log, tmp_path, read_path):
    """Exactly-once: re-merging an already-committed epoch is detected and
    skipped (reference analog: idempotent uid_map MERGE,
    ``DeidentificationController.java:108-123``), on both apply routes."""
    table = create_transcripts_table(spark, str(tmp_path / "transcripts"))
    ev = _spark_events(spark, small_log)
    r1 = apply_changes(table, ev, epoch=0)
    assert _spark_wrote(table) == {read_path == "spark"}
    v1 = table.current_version()
    r2 = apply_changes(table, ev, epoch=0)  # crash-replay of the same epoch
    assert r1.merge.applied and not r2.merge.applied
    assert table.current_version() == v1
    assert_final_state_equal(
        read_final_state(table).toPandas(), replay_oracle(small_log)
    )


def test_duplicate_op_seq_conflict_policy(spark, tmp_path):
    """Conflict policy: duplicate op_seq resolved by offset (total order)."""
    pdf = pd.DataFrame(
        {
            "offset": [10, 11],
            "partition_id": [0, 1],
            "op": ["insert", "update"],
            "op_seq": [5, 5],
            "conv_id": ["X", "X"],
            "turn_idx": [1, 1],
            "role": ["user", "user"],
            "text": ["first", "second"],
            "tool": [None, None],
            "ts": pd.to_datetime(["2024-01-01", "2024-01-02"]),
            "schema_ver": [2, 2],
        }
    )
    table = create_transcripts_table(spark, str(tmp_path / "t"))
    apply_changes(table, _spark_events(spark, pdf), epoch=0)
    out = read_final_state(table).toPandas()
    assert out["text"].tolist() == ["second"]


def test_one_file_per_bucket_layout(spark, small_log, tmp_path):
    """Physical layout invariant: each committed data file holds exactly the
    rows of its manifest bucket (file part-index == bucket id), so bucket
    pruning at read/merge time is exact."""
    import os

    from pyspark.sql import functions as F

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable, _bucket_expr

    table = create_transcripts_table(spark, str(tmp_path / "transcripts"))
    apply_changes(table, _spark_events(spark, small_log), epoch=0)

    m = table.manifest()
    n_buckets = m["n_buckets"]
    checked = 0
    for which in ("files", "delta_files"):
        for b_str, rels in m.get(which, {}).items():
            for rel in rels:
                df = spark.read.parquet(os.path.join(table.data_dir, rel))
                got = df.select(
                    _bucket_expr("conv_id", n_buckets).alias("b")
                ).distinct().collect()
                assert {r["b"] for r in got} <= {int(b_str)}, (
                    f"file {rel} contains rows outside bucket {b_str}"
                )
                checked += 1
    assert checked > 0, "no data files were checked"
    # bucket-pruned read returns exactly the rows of those buckets
    all_buckets = sorted(set(m["files"]) | set(m.get("delta_files", {})), key=int)
    some = [int(b) for b in all_buckets[:3]]
    pruned = table.read(buckets=some)
    full = table.read().withColumn("_b", _bucket_expr("conv_id", n_buckets))
    expect = full.filter(F.col("_b").isin(some)).drop("_b")
    assert pruned.count() == expect.count()


def test_untouched_bucket_survives_incremental_merge(spark, tmp_path):
    """Regression: Spark always materializes shuffle partition 0 (possibly
    empty); a merge NOT touching bucket 0 must not replace bucket 0's files
    with that empty artifact (was: silent data loss)."""
    from pyspark.sql import functions as F

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable, _bucket_expr

    n_buckets = 4
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=n_buckets)
    # find conv_ids landing in bucket 0 and in some other bucket
    probe = spark.range(0, 200).select(
        F.concat(F.lit("conv-"), F.col("id").cast("string")).alias("conv_id")
    ).withColumn("b", _bucket_expr("conv_id", n_buckets))
    by_bucket = {r["b"]: r["conv_id"] for r in probe.collect()}
    assert 0 in by_bucket and any(b != 0 for b in by_bucket)
    other = next(b for b in by_bucket if b != 0)

    def ev(conv_id, offset):
        return pd.DataFrame(
            {
                "offset": [offset], "partition_id": [0], "op": ["insert"],
                "op_seq": [1], "conv_id": [conv_id], "turn_idx": [0],
                "role": ["user"], "text": [f"row-{conv_id}"], "tool": [None],
                "ts": pd.to_datetime(["2024-01-01"]), "schema_ver": [2],
            }
        )

    apply_changes(table, _spark_events(spark, ev(by_bucket[0], 0)), epoch=0)
    assert read_final_state(table).count() == 1
    apply_changes(table, _spark_events(spark, ev(by_bucket[other], 1)), epoch=1)
    rows = {r["conv_id"] for r in read_final_state(table).collect()}
    assert rows == {by_bucket[0], by_bucket[other]}, rows


def test_merge_on_read_epoch_cost_proportional_to_change_set(
    spark, small_log, tmp_path, read_path
):
    """The MoR hot path never rewrites base files: a merge on a large table
    registers only batch-sized delta files for the touched buckets (epoch
    cost ∝ change set, not table size), and reads stay correct."""
    import os

    from nifi_dicom_spark.fixtures import replay_oracle
    from nifi_dicom_spark.fixtures.oracle import assert_final_state_equal

    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=8)
    # big base (compacted so it lives in base files)
    apply_changes(table, _spark_events(spark, small_log), epoch=0)
    table.compact()
    m0 = table.manifest()
    assert m0["delta_files"] == {} and m0["files"], "base materialized"
    base_files = {b: list(v) for b, v in m0["files"].items()}
    # the route taken: Spark's writer leaves a _SUCCESS marker, the
    # driver's fold does not
    (commit_dir,) = {rel.split(os.sep)[0] for v in base_files.values() for rel in v}
    marker = os.path.join(table.data_dir, commit_dir, "_SUCCESS")
    assert os.path.exists(marker) == (read_path == "spark")

    # tiny incremental batch → delta-only commit
    tiny = small_log.iloc[:7].copy()
    tiny["offset"] = tiny["offset"] + 10_000
    tiny["op_seq"] = tiny["op_seq"] + 10_000
    tiny["text"] = "updated-by-tiny-batch"
    stats = apply_changes(table, _spark_events(spark, tiny), epoch=1)
    assert stats.merge.mode == "mor"
    m1 = table.manifest()
    assert m1["files"] == base_files, "base files untouched by MoR merge"
    n_delta = sum(len(v) for v in m1["delta_files"].values())
    assert 0 < n_delta <= stats.merge.touched_buckets

    # read-time LWW over base∪delta matches the pandas oracle
    combined = pd.concat([small_log, tiny], ignore_index=True)
    assert_final_state_equal(
        read_final_state(table).toPandas(), replay_oracle(combined)
    )

    # compaction folds deltas into base; result identical
    v = table.compact()
    assert v is not None and table.manifest()["delta_files"] == {}
    assert_final_state_equal(
        read_final_state(table).toPandas(), replay_oracle(combined)
    )


def test_auto_compaction_bounds_delta_count(spark, tmp_path, read_path):
    """Past props[compact_threshold] deltas, merge triggers compaction on
    the hot buckets — read amplification stays bounded over many epochs."""
    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA
    from nifi_dicom_spark.operators.apply import STORED_COLUMNS

    from pyspark.sql import types as T

    by_name = {f.name: f for f in CHANGE_EVENTS_SCHEMA.fields}
    stored = T.StructType([by_name[c] for c in STORED_COLUMNS])
    table = SnapshotTable.create(
        spark,
        str(tmp_path / "t"),
        stored,
        key_cols=["conv_id", "turn_idx"],
        n_buckets=4,
        props={"compact_threshold": 3},
    )
    for e in range(8):
        batch = pd.DataFrame(
            {
                "offset": [e], "partition_id": [0], "op": ["insert"],
                "op_seq": [e], "conv_id": ["conv-hot"], "turn_idx": [e],
                "role": ["user"], "text": [f"t{e}"], "tool": [None],
                "ts": pd.to_datetime(["2024-01-01"]), "schema_ver": [2],
            }
        )
        table.merge(
            _spark_events(spark, batch).select(*STORED_COLUMNS),
            op_col="op",
            policy="versioned_upsert",
            commit_keys=[(e, 0)],
        )
        worst = max(
            (len(v) for v in table.manifest()["delta_files"].values()),
            default=0,
        )
        assert worst < 3, f"delta count unbounded: {worst}"
    assert table.read().count() == 8
    # ledger stayed O(partitions): one watermark entry, not 8 keys
    m = table.manifest()
    assert list(m["applied_hw"].keys()) == ["0"] and m["applied_hw"]["0"] == 7
    assert "applied_keys" not in m


def _hot_batch(spark, e: int, turns: int = 4):
    """Versioned-table rows of one epoch: ``turns`` turns of one conv."""
    from nifi_dicom_spark.operators.apply import STORED_COLUMNS

    return _hot_events(spark, e, turns).select(*STORED_COLUMNS)


def _hot_events(spark, e: int, turns: int = 4):
    """The change events of :func:`_hot_batch`, in the wire schema."""
    batch = pd.DataFrame(
        {
            "offset": [e * turns + t for t in range(turns)],
            "partition_id": [0] * turns,
            "op": ["insert"] * turns,
            "op_seq": [e] * turns,
            "conv_id": [f"conv-{t % 3}" for t in range(turns)],
            "turn_idx": list(range(turns)),
            "role": ["user"] * turns,
            "text": [f"e{e}t{t}" for t in range(turns)],
            "tool": [None] * turns,
            "ts": pd.to_datetime(["2024-01-01"] * turns),
            "schema_ver": [2] * turns,
        }
    )
    return _spark_events(spark, batch)


_WRITES = {
    "merge": lambda t, spark: t.merge(
        _hot_batch(spark, 5), op_col="op", policy="versioned_upsert",
        commit_keys=[(5, 0)],
    ),
    "merge_upsert": lambda t, spark: t.merge(
        _hot_batch(spark, 5), op_col="op", policy="upsert"
    ),
    "merge_insert_if_absent": lambda t, spark: t.merge(
        _hot_batch(spark, 5), op_col="op", policy="insert_if_absent"
    ),
    "merge_into": lambda t, spark: t.merge_into(
        _hot_batch(spark, 5).select("conv_id", "turn_idx", "text"),
        when_matched_update={"text": "s.text"},
    ),
    "delete_where": lambda t, spark: t.delete_where("turn_idx = 0"),
    "update_where": lambda t, spark: t.update_where(
        {"text": "upper(t.text)"}, "turn_idx = 1"
    ),
    "forget": lambda t, spark: t.forget("turn_idx = 2"),
    "compact": lambda t, spark: t.compact(),
    "optimize": lambda t, spark: t.optimize(),
    "overwrite": lambda t, spark: t.overwrite(_hot_batch(spark, 5)),
    "rebucket": lambda t, spark: t.rebucket(2),
    "apply_changes_driver": lambda t, spark: apply_changes(
        t, _hot_events(spark, 5), epoch=5
    ),
    "apply_changes_spark": lambda t, spark: apply_changes(
        t, _hot_events(spark, 5), epoch=5
    ),
}


@pytest.mark.parametrize("op", sorted(_WRITES))
def test_write_reads_only_the_manifest_it_commits_against(
    spark, tmp_path, monkeypatch, op
):
    """Every write loads the current manifest once and takes its schema,
    key columns and data reads from it, so the reduce reads exactly the
    version ``_commit_merge`` validates against. A second load could see
    a newer version, and each costs a version LIST and a GET."""
    from nifi_dicom_spark.lake import snapshot_table
    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    for e in range(2):
        table.merge(
            _hot_batch(spark, e), op_col="op", policy="versioned_upsert",
            commit_keys=[(e, 0)],
        )
    table.set_clustering(sort_by=["ts"])
    # the Spark routes: compaction and reads go through read(), not
    # pyarrow, and apply_changes merges a DataFrame
    if op != "apply_changes_driver":
        monkeypatch.setattr(snapshot_table, "DRIVER_READ_MAX_BYTES", 0)

    loads: list = []
    at_commit: list[int] = []
    real_manifest = SnapshotTable.manifest
    real_commit = SnapshotTable._commit_merge

    def counting_manifest(self, version=None):
        loads.append(version)
        return real_manifest(self, version)

    def counting_commit(self, *args, **kwargs):
        at_commit.append(len(loads))
        return real_commit(self, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "manifest", counting_manifest)
    monkeypatch.setattr(SnapshotTable, "_commit_merge", counting_commit)
    _WRITES[op](table, spark)
    assert at_commit and at_commit[0] == 1, (
        f"{op}: {at_commit[0] if at_commit else 'no'} manifest loads "
        "before its commit"
    )


def test_history_lists_versions(spark, small_log, tmp_path, read_path):
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=8)
    apply_changes(table, _spark_events(spark, small_log), epoch=0)
    table.compact()
    h = table.history()
    assert [r["version"] for r in h] == [0, 1, 2]
    assert h[0]["operation"] == "create"
    assert h[1]["operation"] == "merge" and h[1]["mode"] == "mor"
    assert h[1]["n_delta_files"] > 0 and h[1]["n_base_files"] == 0
    assert h[2]["policy"] == "compact" and h[2]["n_delta_files"] == 0
    assert h[2]["applied_hw"]  # ledger carried through
    # any listed version is time-travel readable
    assert table.read(version=1).count() == table.read(version=2).count()


def test_concurrent_merges_on_two_tables(spark, tmp_path):
    """Two threads merging DIFFERENT tables concurrently: placement stays
    exact for both (no write touches the shared session's conf)."""
    from concurrent.futures import ThreadPoolExecutor

    def build(tag):
        t = create_transcripts_table(spark, str(tmp_path / tag), n_buckets=4)
        for e in range(3):
            batch = pd.DataFrame(
                {
                    "offset": [e], "partition_id": [0], "op": ["insert"],
                    "op_seq": [e], "conv_id": [f"{tag}-c{e}"], "turn_idx": [0],
                    "role": ["user"], "text": [f"{tag}-{e}"], "tool": [None],
                    "ts": pd.to_datetime(["2024-01-01"]), "schema_ver": [2],
                }
            )
            apply_changes(t, _spark_events(spark, batch), epoch=e)
        return t

    with ThreadPoolExecutor(2) as pool:
        ta, tb = pool.map(build, ["ta", "tb"])
    assert read_final_state(ta).count() == 3
    assert read_final_state(tb).count() == 3
    # placement exactness: every row is found by the bucket-pruned read of
    # its own bucket
    from nifi_dicom_spark.lake.snapshot_table import _bucket_expr

    for t in (ta, tb):
        rows = t.read().withColumn("_b", _bucket_expr("conv_id", 4)).collect()
        for r in rows:
            pruned = {
                x["conv_id"] for x in t.read(buckets=[r["_b"]]).collect()
            }
            assert r["conv_id"] in pruned


def test_table_changes_changelog_view(spark, tmp_path):
    """CDC read side: table_changes(v0→v1) reproduces exactly the
    insert/update/delete set that the applied batch caused."""
    from nifi_dicom_spark.operators.diff import table_changes

    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)

    def ev(rows):
        return pd.DataFrame(
            {
                "offset": [r[0] for r in rows],
                "partition_id": [0] * len(rows),
                "op": [r[1] for r in rows],
                "op_seq": [r[2] for r in rows],
                "conv_id": [r[3] for r in rows],
                "turn_idx": [r[4] for r in rows],
                "role": ["user"] * len(rows),
                "text": [r[5] for r in rows],
                "tool": [None] * len(rows),
                "ts": pd.to_datetime(["2024-01-01"] * len(rows)),
                "schema_ver": [2] * len(rows),
            }
        )

    apply_changes(
        table,
        _spark_events(
            spark,
            ev([(0, "insert", 1, "a", 0, "keep"), (1, "insert", 1, "b", 0, "old"),
                (2, "insert", 1, "c", 0, "gone")]),
        ),
        epoch=0,
    )
    v1 = table.current_version()
    apply_changes(
        table,
        _spark_events(
            spark,
            ev([(3, "update", 2, "b", 0, "new"), (4, "delete", 2, "c", 0, None),
                (5, "insert", 1, "d", 0, "fresh")]),
        ),
        epoch=1,
    )
    got = {
        (r["conv_id"], r["op"]): r
        for r in table_changes(table, v1, compare_cols=["text"]).collect()
    }
    assert set(got) == {("b", "update"), ("c", "delete"), ("d", "insert")}
    assert got[("b", "update")]["old_text"] == "old"
    assert got[("b", "update")]["new_text"] == "new"
    assert got[("d", "insert")]["new_text"] == "fresh"


def test_ledger_watermark_semantics(spark, tmp_path, read_path):
    """Replayed (≤ watermark) epochs skip; advancing epochs apply, on both
    apply routes."""
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)

    def ev(e):
        return pd.DataFrame(
            {
                "offset": [e], "partition_id": [0], "op": ["insert"],
                "op_seq": [e], "conv_id": [f"c{e}"], "turn_idx": [0],
                "role": ["user"], "text": [f"row{e}"], "tool": [None],
                "ts": pd.to_datetime(["2024-01-01"]), "schema_ver": [2],
            }
        )  # column order == CHANGE_EVENTS_SCHEMA (createDataFrame is positional)

    for e in (0, 1, 2):
        apply_changes(table, _spark_events(spark, ev(e)), epoch=e)
    assert _spark_wrote(table) == {read_path == "spark"}
    assert read_final_state(table).count() == 3
    # replay an OLD epoch (crash/restart rewind) → no-op
    s = apply_changes(table, _spark_events(spark, ev(1)), epoch=1)
    assert not s.merge.applied and s.merge.skipped_commit_keys == 1
    assert read_final_state(table).count() == 3
    assert table.is_applied(2, 0) and not table.is_applied(3, 0)


def test_null_keyed_events_quarantined_not_lost(spark, tmp_path):
    """Regression: a NULL in a validity-tested field must route to
    quarantine (three-valued predicate dropped it from BOTH streams)."""
    pdf = pd.DataFrame(
        {
            "offset": [0, 1, 2],
            "partition_id": [0, None, 0],
            "op": ["insert", "update", "insert"],
            "op_seq": [1, 5, None],
            "conv_id": ["A", "B", "C"],
            "turn_idx": [0, None, 1],
            "role": ["user"] * 3,
            "text": ["ok", "null-turn", "null-seq"],
            "tool": [None] * 3,
            "ts": pd.to_datetime(["2024-01-01"] * 3),
            "schema_ver": [2] * 3,
        }
    )
    for c in ("turn_idx", "op_seq", "partition_id"):
        pdf[c] = pd.Series(
            [int(v) if pd.notna(v) else None for v in pdf[c]], dtype=object
        )
    # inject through parquet: schema nullability is advisory on read, and a
    # real change-log file CAN carry nulls in any field
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nifi_dicom_spark.fixtures.generator import _ARROW_FIELDS
    from nifi_dicom_spark.sources.changelog import read_change_log

    ev_dir = tmp_path / "ev"
    ev_dir.mkdir()
    schema = pa.schema([(c, _ARROW_FIELDS[c]) for c in pdf.columns])
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
        str(ev_dir / "events-0.parquet"),
    )
    events = read_change_log(spark, str(ev_dir))
    table = create_transcripts_table(spark, str(tmp_path / "t"))
    qdir = str(tmp_path / "quarantine")
    res = apply_changes(table, events, epoch=0, quarantine_dir=qdir)
    final = read_final_state(table).toPandas()
    assert final["conv_id"].tolist() == ["A"]
    quarantined = spark.read.parquet(qdir + "/epoch=0").toPandas()
    assert set(quarantined["conv_id"]) == {"B", "C"}
    mt = pd.DataFrame(res.metrics)
    assert mt["n_quarantined"].sum() == 2
    assert mt["n_events"].sum() == 3  # nothing vanished
    # replaying the epoch must not duplicate quarantine rows
    apply_changes(table, events, epoch=0, quarantine_dir=qdir)
    assert spark.read.parquet(qdir + "/epoch=0").count() == 2


def test_crashed_commit_litter_recovery(spark, small_log, tmp_path):
    """A writer that died mid-commit (single-step link protocol: payload
    temp written, link never executed) published NOTHING — the table loads,
    the next merge commits the next version normally, and the aged litter
    is swept at load."""
    import os

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    table = create_transcripts_table(spark, str(tmp_path / "t"))
    apply_changes(table, _spark_events(spark, small_log), epoch=0)
    cur = table.current_version()
    # simulate the crash: a fully written but never-linked temp payload
    litter = os.path.join(table.meta_dir, f".v{cur + 1}.deadbeef.tmp")
    with open(litter, "w") as f:
        f.write('{"version": "never published"}')
    os.utime(litter, (1, 1))
    # the dead writer published nothing; the next merge commits cur+1
    r = apply_changes(table, _spark_events(spark, small_log), epoch=1)
    assert r.merge.applied and table.current_version() == cur + 1
    assert_final_state_equal(read_final_state(table).toPandas(), replay_oracle(small_log))
    # loading the table sweeps the aged litter (backend repair at load)
    SnapshotTable.load(spark, table.path)
    assert not os.path.exists(litter)


def test_driver_compaction_crash_before_publish(
    spark, small_log, tmp_path, monkeypatch
):
    """Crash point: a driver compaction dies after its files are written
    and before its manifest is published (``_commit_merge`` raises). The
    version and ``read()`` are unchanged; an auto-compaction inside
    ``merge`` turns the failure into its warning and the merge's own
    commit stands; ``vacuum`` removes the orphaned files and their commit
    directories."""
    import os

    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.operators.apply import KEY_COLUMNS, STORED_COLUMNS

    by_name = {f.name: f for f in CHANGE_EVENTS_SCHEMA.fields}
    table = SnapshotTable.create(
        spark,
        str(tmp_path / "t"),
        T.StructType([by_name[c] for c in STORED_COLUMNS]),
        key_cols=KEY_COLUMNS,
        n_buckets=4,
        props={"stats_cols": ["ts"], "compact_threshold": 3},
    )
    parts = np.array_split(np.arange(len(small_log)), 3)
    for e in (0, 1):
        apply_changes(table, _spark_events(spark, small_log.iloc[parts[e]]), epoch=e)
    assert table.manifest()["delta_files"], "deltas to compact"

    real_commit = SnapshotTable._commit_merge

    def crash_compaction(self, *args, **kw):
        if args[5] == "compact":  # (m, schema, touched, files, keys, policy)
            raise RuntimeError("crashed before the compaction was published")
        return real_commit(self, *args, **kw)

    monkeypatch.setattr(SnapshotTable, "_commit_merge", crash_compaction)

    v = table.current_version()
    before = sorted(map(tuple, table.read().collect()))
    with pytest.raises(RuntimeError, match="crashed before"):
        table.compact()
    assert table.current_version() == v
    assert sorted(map(tuple, table.read().collect())) == before
    orphans = _unreferenced(table)
    assert orphans, "the compaction wrote its files before it died"
    assert not any(  # the driver route wrote them: no Spark _SUCCESS marker
        os.path.exists(os.path.join(table.data_dir, rel.split(os.sep)[0], "_SUCCESS"))
        for rel in orphans
    )

    # the third epoch pushes its buckets to the threshold: the merge
    # commits, then its auto-compaction dies and becomes a warning
    with pytest.warns(UserWarning, match="auto-compaction skipped"):
        r = apply_changes(
            table, _spark_events(spark, small_log.iloc[parts[2]]), epoch=2
        )
    assert r.merge.applied and table.current_version() == v + 1
    assert max(table.applied_watermarks().values()) == 2
    assert table.manifest()["delta_files"], "the deltas remain"
    assert_final_state_equal(
        read_final_state(table).toPandas(), replay_oracle(small_log)
    )
    orphans = _unreferenced(table)
    orphan_dirs = {rel.split(os.sep)[0] for rel in orphans}
    assert len(orphan_dirs) == 2  # one per crashed compaction

    assert table.vacuum(keep_versions=1, min_file_age_s=0) == len(orphans)
    assert not _unreferenced(table)
    for d in orphan_dirs:
        assert not os.path.exists(os.path.join(table.data_dir, d))
    assert_final_state_equal(
        read_final_state(table).toPandas(), replay_oracle(small_log)
    )


def test_driver_merge_crash_before_publish(
    spark, small_log, tmp_path, monkeypatch
):
    """Crash point: a batch applied on the driver route dies after its
    delta files are written and before its manifest is published
    (``_commit_merge`` raises). The version, ``read()`` and the ledger are
    unchanged; ``vacuum`` removes the orphaned files and their commit
    directory; re-applying the epoch then commits it."""
    import os

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    parts = np.array_split(np.arange(len(small_log)), 2)
    apply_changes(table, _spark_events(spark, small_log.iloc[parts[0]]), epoch=0)

    def crash(self, *args, **kw):
        raise RuntimeError("crashed before the merge was published")

    v = table.current_version()
    hw = table.applied_watermarks()
    before = sorted(map(tuple, table.read().collect()))
    second = _spark_events(spark, small_log.iloc[parts[1]])
    with monkeypatch.context() as mp:
        mp.setattr(SnapshotTable, "_commit_merge", crash)
        with pytest.raises(RuntimeError, match="crashed before"):
            apply_changes(table, second, epoch=1)
    assert table.current_version() == v
    assert table.applied_watermarks() == hw
    assert sorted(map(tuple, table.read().collect())) == before
    orphans = _unreferenced(table)
    assert orphans, "the merge wrote its delta files before it died"
    orphan_dirs = {rel.split(os.sep)[0] for rel in orphans}
    assert len(orphan_dirs) == 1
    assert _spark_wrote(table) == {False}  # the driver route wrote them

    assert table.vacuum(keep_versions=1, min_file_age_s=0) == len(orphans)
    assert not _unreferenced(table)
    assert not os.path.exists(os.path.join(table.data_dir, *orphan_dirs))
    assert sorted(map(tuple, table.read().collect())) == before

    r = apply_changes(table, second, epoch=1)
    assert r.merge.applied and table.current_version() == v + 1
    assert_final_state_equal(
        read_final_state(table).toPandas(), replay_oracle(small_log)
    )


def test_apply_warns_on_v2_batch_missing_tool_column(spark, tmp_path):
    """A batch claiming schema_ver >= 2 but lacking the tool column is the
    signature of a raw parquet read over a mixed-vintage directory (one
    file's schema sampled) — warn before nulling tool for every row. A
    genuine v1 batch (schema_ver 1, no tool) stays silent."""
    import warnings as _w

    import pandas as pd

    from nifi_dicom_spark.operators.apply import (
        apply_changes,
        create_transcripts_table,
    )

    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=2)

    def batch(ver):
        from pyspark.sql import functions as F

        return spark.createDataFrame(
            pd.DataFrame(
                [
                    {
                        "offset": 1, "partition_id": 0, "op": "insert",
                        "op_seq": 10, "conv_id": "A", "turn_idx": 0,
                        "role": "user", "text": "x",
                        "ts": pd.Timestamp("2024-01-01"), "schema_ver": ver,
                    }
                ]
            )
        ).select(  # note: NO tool column; int widths as on the wire
            "offset",
            F.col("partition_id").cast("int").alias("partition_id"),
            "op", "op_seq", "conv_id",
            F.col("turn_idx").cast("int").alias("turn_idx"),
            "role", "text", "ts",
            F.col("schema_ver").cast("int").alias("schema_ver"),
        )

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        apply_changes(table, batch(2), epoch=0)
    assert any("read_change_log" in str(r.message) for r in rec), rec

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        apply_changes(table, batch(1), epoch=1)
    assert not any("read_change_log" in str(r.message) for r in rec)
