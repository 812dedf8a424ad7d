"""Streaming change-feed source (`format("snapshot_cdf")`, PySpark Python
Data Source API): offsets are table versions, partitions are changed
buckets, rows are the Delta-CDF image form. Exactly-once on the read side:
offsets live in the stream checkpoint and manifests are immutable, so a
restarted query resumes exactly after the last committed batch."""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pandas as pd
from pyspark.sql import functions as F

from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA
from nifi_dicom_spark.operators.apply import (
    apply_changes,
    create_transcripts_table,
)
from nifi_dicom_spark.sources.table_stream import SnapshotCDFDataSource


def _ev(spark, op="insert", conv="A", seq=10, text="x", tool=None):
    return spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "offset": seq,
                    "partition_id": 0,
                    "op": op,
                    "op_seq": seq,
                    "conv_id": conv,
                    "turn_idx": 0,
                    "role": "user",
                    "text": text,
                    "tool": tool,
                    "ts": pd.Timestamp("2024-01-01"),
                    "schema_ver": 2,
                }
            ]
        ),
        CHANGE_EVENTS_SCHEMA,
    )


def _drain(spark, q, view, want, timeout=60):
    # Deterministic: block until every available micro-batch has committed
    # (the source table is static while we drain), then read the sink.
    if q.exception():
        raise AssertionError(f"stream died: {q.exception()}")
    q.processAllAvailable()
    deadline = time.time() + timeout
    rows = []
    while time.time() < deadline:
        if q.exception():
            raise AssertionError(f"stream died: {q.exception()}")
        rows = spark.sql(f"select * from {view}").collect()
        if len(rows) >= want:
            break
        time.sleep(0.5)
    return rows


def test_feed_runner_imports_stay_light():
    """The ``snapshot_cdf`` source's Python runner imports ``lake.commit``
    and ``table_stream`` in a fresh interpreter; neither may pull in
    ``snapshot_table`` (and pandas behind it) through the ``lake`` package
    ``__init__``. The package-level re-exports must still resolve."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys\n"
        "import nifi_dicom_spark.lake.commit\n"
        "import nifi_dicom_spark.sources.table_stream\n"
        "assert 'nifi_dicom_spark.lake.snapshot_table' not in sys.modules\n"
        "from nifi_dicom_spark.lake import (SnapshotTable, PosixCommitBackend,\n"
        "    VersionVacuumedError, CheckConstraintViolation)\n"
        "import nifi_dicom_spark.lake.snapshot_table as st\n"
        "assert SnapshotTable is st.SnapshotTable\n"
        "assert VersionVacuumedError is st.VersionVacuumedError\n"
        "assert CheckConstraintViolation is st.CheckConstraintViolation\n"
        "assert PosixCommitBackend.__module__ == 'nifi_dicom_spark.lake.commit'\n"
    )
    env = dict(os.environ, PYTHONPATH=root)
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr


def test_snapshot_cdf_stream_tail_and_restart(spark, tmp_path):
    spark.dataSource.register(SnapshotCDFDataSource)
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    apply_changes(
        table, _ev(spark, conv="A", seq=10, text="a1", tool="calc"), epoch=0
    )
    v0 = table.current_version()

    feed = (
        spark.readStream.format("snapshot_cdf")
        .option("path", table.path)
        .option("startingVersion", v0)
        .option("maxVersionsPerBatch", 1)  # exact per-commit attribution
        .load()
    )
    assert feed.isStreaming
    assert feed.schema.fieldNames()[-2:] == ["_change_type", "_commit_version"]
    # version bookkeeping columns are hidden from the feed
    assert "op_seq" not in feed.schema.fieldNames()

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start():
        return (
            spark.readStream.format("snapshot_cdf")
            .option("path", table.path)
            .option("startingVersion", v0)
            .option("maxVersionsPerBatch", 1)  # exact per-commit attribution
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )

    def sink_rows(q, want, timeout=60):
        # Deterministic drain: the table is static between apply_changes
        # calls, so processAllAvailable() terminates once every paced
        # micro-batch (maxVersionsPerBatch=1) has committed — no wall-clock
        # race under host load. The short poll after it only covers sink
        # file visibility.
        if q.exception():
            raise AssertionError(f"stream died: {q.exception()}")
        q.processAllAvailable()
        deadline = time.time() + timeout
        rows = []
        while time.time() < deadline:
            if q.exception():
                raise AssertionError(f"stream died: {q.exception()}")
            try:
                rows = spark.read.parquet(out).collect()
            except Exception:
                rows = []
            if len(rows) >= want:
                break
            time.sleep(0.5)
        return rows

    q = start()
    try:
        apply_changes(table, _ev(spark, conv="B", seq=20, text="b1"), epoch=1)
        apply_changes(table, _ev(spark, conv="A", seq=30, text="a2"), epoch=2)
        apply_changes(table, _ev(spark, op="delete", conv="B", seq=40), epoch=3)
        rows = sink_rows(q, 4)
    finally:
        q.stop()

    got = {(r["conv_id"], r["_change_type"]): r for r in rows}
    assert len(rows) == 4, rows
    assert got[("B", "insert")]["text"] == "b1"
    assert got[("A", "update_preimage")]["text"] == "a1"
    assert got[("A", "update_postimage")]["text"] == "a2"
    # whole-ROW image semantics: the winner cleared tool to NULL — the
    # postimage must NOT stitch the superseded non-null value back in
    assert got[("A", "update_preimage")]["tool"] == "calc"
    assert got[("A", "update_postimage")]["tool"] is None
    assert got[("B", "delete")]["text"] == "b1"  # pre-delete image
    # attribution is monotone: the delete's commit is never before the
    # insert's (strict ordering holds when maxVersionsPerBatch=1 pacing is
    # in effect, which is best-effort in-process state — see _note_offset)
    assert (
        got[("B", "delete")]["_commit_version"]
        >= got[("B", "insert")]["_commit_version"]
    )

    # ---- crash/restart: new commits while the stream is DOWN ----------
    apply_changes(table, _ev(spark, conv="C", seq=50, text="c1"), epoch=4)
    q2 = start()  # same checkpoint: resumes after the last committed batch
    try:
        rows2 = sink_rows(q2, 5)
    finally:
        q2.stop()
    # exactly one NEW row (no replay of committed batches), appended to
    # the previous four — the exactly-once read side
    assert len(rows2) == 5, rows2
    kinds = {(r["conv_id"], r["_change_type"]) for r in rows2}
    assert ("C", "insert") in kinds


def test_snapshot_cdf_batch_parity(spark, tmp_path):
    """The streamed feed over (v0, current] equals the batch change_feed
    collapsed over the same range (same images, same types)."""
    from nifi_dicom_spark.operators.diff import change_feed

    spark.dataSource.register(SnapshotCDFDataSource)
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    apply_changes(table, _ev(spark, conv="A", seq=10, text="a1"), epoch=0)
    v0 = table.current_version()
    apply_changes(table, _ev(spark, conv="B", seq=20, text="b1"), epoch=1)
    apply_changes(table, _ev(spark, conv="A", seq=30, text="a2"), epoch=2)

    feed = (
        spark.readStream.format("snapshot_cdf")
        .option("path", table.path)
        .option("startingVersion", v0)
        .load()
    )
    q = (
        feed.writeStream.format("memory")
        .queryName("cdf_parity")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        rows = _drain(spark, q, "cdf_parity", 3)
    finally:
        q.stop()

    batch = change_feed(table, from_version=v0, per_commit=False)
    cols = ["conv_id", "turn_idx", "text", "_change_type"]
    streamed = sorted(tuple(r[c] for c in cols) for r in rows)
    expected = sorted(tuple(r[c] for c in cols) for r in batch.collect())
    assert streamed == expected


def test_snapshot_cdf_stream_across_rebucket(spark, tmp_path):
    """A rebucket commit (layout change) falls back to one whole-table diff
    partition: content-neutral, so it contributes ZERO change rows, and the
    stream keeps tailing correctly in the NEW layout afterwards."""
    spark.dataSource.register(SnapshotCDFDataSource)
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    apply_changes(table, _ev(spark, conv="A", seq=10, text="a1"), epoch=0)
    v0 = table.current_version()

    feed = (
        spark.readStream.format("snapshot_cdf")
        .option("path", table.path)
        .option("startingVersion", v0)
        .load()
    )
    q = (
        feed.writeStream.format("memory")
        .queryName("cdf_rb")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        table.rebucket(8)  # content-neutral layout change
        apply_changes(table, _ev(spark, conv="D", seq=60, text="d1"), epoch=1)
        rows = _drain(spark, q, "cdf_rb", 1)
    finally:
        q.stop()
    assert {(r["conv_id"], r["_change_type"], r["text"]) for r in rows} == {
        ("D", "insert", "d1")
    }


def test_replication_pipeline_exactly_once(spark, tmp_path):
    """Table→table CDC replication through the snapshot_cdf source: the
    replica's visible state converges to the source's across inserts,
    updates and deletes, survives a stop/restart without replaying
    committed batches, and a crash-replayed batch is a ledger no-op."""
    from nifi_dicom_spark.operators.apply import read_final_state
    from nifi_dicom_spark.streaming.replicate import (
        create_replica_table,
        replicate_stream,
    )

    src = create_transcripts_table(spark, str(tmp_path / "src"), n_buckets=4)
    apply_changes(src, _ev(spark, conv="A", seq=10, text="a1"), epoch=0)
    v0 = src.current_version()
    replica = create_replica_table(spark, str(tmp_path / "dst"), src)
    ckpt = str(tmp_path / "ck")

    def converged(query, want_rows, timeout=60):
        # Deterministic: drain every available micro-batch first; the poll
        # after only covers replica-read visibility.
        if query.exception():
            raise AssertionError(f"stream died: {query.exception()}")
        query.processAllAvailable()
        deadline = time.time() + timeout
        while time.time() < deadline:
            got = {
                (r["conv_id"], r["turn_idx"], r["text"])
                for r in read_final_state(replica).collect()
            }
            if got == want_rows:
                return got
            time.sleep(0.5)
        return got

    q = replicate_stream(spark, src.path, replica, ckpt, starting_version=v0)
    try:
        apply_changes(src, _ev(spark, conv="B", seq=20, text="b1"), epoch=1)
        apply_changes(src, _ev(spark, conv="A", seq=30, text="a2"), epoch=2)
        want = {("A", 0, "a2"), ("B", 0, "b1")}
        assert converged(q, want) == want
    finally:
        q.stop()

    # commits while the replication is DOWN, including a delete
    apply_changes(src, _ev(spark, op="delete", conv="B", seq=40), epoch=3)
    apply_changes(src, _ev(spark, conv="C", seq=50, text="c1"), epoch=4)
    q2 = replicate_stream(spark, src.path, replica, ckpt)
    try:
        want = {("A", 0, "a2"), ("C", 0, "c1")}
        assert converged(q2, want) == want
    finally:
        q2.stop()

    # note: only rows the feed produced were merged (no duplicate keys)
    raw = replica.read().filter("op != 'delete'").groupBy(
        "conv_id", "turn_idx"
    ).count().filter("count > 1").count()
    assert raw == 0


def test_snapshot_cdf_upserts_mode(spark, tmp_path, read_path):
    """mode=upserts streams each commit's appended delta files directly —
    cost ∝ the change set, no state read, no pre-images; commits whose
    change set is not recoverable from deltas raise instead of silently
    dropping changes."""
    import pytest

    from nifi_dicom_spark.sources.table_stream import _CDFStreamReader

    spark.dataSource.register(SnapshotCDFDataSource)
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    apply_changes(
        table, _ev(spark, conv="A", seq=10, text="a1", tool="calc"), epoch=0
    )
    v0 = table.current_version()

    feed = (
        spark.readStream.format("snapshot_cdf")
        .option("path", table.path)
        .option("startingVersion", v0)
        .option("mode", "upserts")
        .load()
    )
    q = (
        feed.writeStream.format("memory")
        .queryName("ups")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        apply_changes(table, _ev(spark, conv="B", seq=20, text="b1"), epoch=1)
        apply_changes(
            table, _ev(spark, conv="A", seq=30, text="a2", op="update"), epoch=2
        )
        apply_changes(
            table, _ev(spark, op="delete", conv="B", seq=40, text=None), epoch=3
        )
        table.compact()  # content-neutral: contributes nothing
        rows = _drain(spark, q, "ups", 3)
    finally:
        q.stop()
    got = {(r["conv_id"], r["_change_type"], r["text"]) for r in rows}
    # raw change events: update is the post row only, delete a tombstone
    assert got == {
        ("B", "insert", "b1"),
        ("A", "update", "a2"),
        ("B", "delete", None),
    }
    # per-commit attribution is EXACT in upserts mode (one partition set
    # per commit, regardless of batch collapse)
    vers = {(r["conv_id"], r["_change_type"]): r["_commit_version"] for r in rows}
    assert len(set(vers.values())) == 3

    # a CoW commit (merge_into) in range must raise, not drop changes
    src = spark.createDataFrame(
        [("A", 0, "edited")], "conv_id string, turn_idx int, text string"
    )
    table.merge_into(src, when_matched_update={"text": "s.text"})
    rdr = _CDFStreamReader(
        {"path": table.path, "mode": "upserts"}, feed.schema
    )
    with pytest.raises(RuntimeError, match="merge-on-read"):
        rdr.partitions(
            {"version": v0}, {"version": table.current_version()}
        )


def test_upserts_feed_same_over_driver_and_spark_deltas(
    spark, tmp_path, monkeypatch
):
    """The ``snapshot_cdf`` feed in ``upserts`` mode reads each commit's
    delta files as they are on disk; it returns the same rows over deltas
    the driver apply route wrote with pyarrow as over deltas Spark wrote
    (checked at the reader level, one version per batch, every column)."""
    import os

    from nifi_dicom_spark.lake import snapshot_table
    from nifi_dicom_spark.sources.table_stream import _CDFStreamReader

    spark.dataSource.register(SnapshotCDFDataSource)
    batches = [
        _ev(spark, conv="A", seq=10, text="a1", tool="calc"),
        _ev(spark, conv="B", seq=20, text="b1"),
        _ev(spark, conv="A", seq=30, text="a2", op="update"),
        _ev(spark, op="delete", conv="B", seq=40, text=None),
    ]
    feeds = {}
    for route, cap in (
        ("driver", snapshot_table.DRIVER_READ_MAX_BYTES),
        ("spark", 0),
    ):
        monkeypatch.setattr(snapshot_table, "DRIVER_READ_MAX_BYTES", cap)
        table = create_transcripts_table(spark, str(tmp_path / route), n_buckets=4)
        for e, b in enumerate(batches):
            apply_changes(table, b, epoch=e)
        assert {
            os.path.exists(os.path.join(table.data_dir, c, "_SUCCESS"))
            for c in os.listdir(table.data_dir)
        } == {route == "spark"}
        schema = (
            spark.readStream.format("snapshot_cdf")
            .option("path", table.path)
            .option("mode", "upserts")
            .load()
            .schema
        )
        rdr = _CDFStreamReader(
            {"path": table.path, "mode": "upserts", "maxversionsperbatch": "1"},
            schema,
        )
        rows = []
        end = {"version": table.current_version()}
        for p in rdr.partitions({"version": 0}, end):
            for batch in rdr.read(p):
                for d in batch.to_pylist():
                    rows.append(tuple(sorted((k, str(v)) for k, v in d.items())))
        feeds[route] = sorted(rows)
    assert len(feeds["driver"]) == len(batches)
    assert feeds["driver"] == feeds["spark"]


def test_stream_option_validation(spark, tmp_path):
    import pytest

    from nifi_dicom_spark.sources.table_stream import _CDFStreamReader
    from nifi_dicom_spark.streaming.replicate import create_replica_table

    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=2)
    apply_changes(table, _ev(spark), epoch=0)
    spark.dataSource.register(SnapshotCDFDataSource)
    schema = (
        spark.readStream.format("snapshot_cdf")
        .option("path", table.path)
        .load()
        .schema
    )
    with pytest.raises(ValueError, match="maxVersionsPerBatch"):
        _CDFStreamReader(
            {"path": table.path, "maxversionsperbatch": "-5"}, schema
        )
    with pytest.raises(ValueError, match="cdf|upserts"):
        _CDFStreamReader({"path": table.path, "mode": "nope"}, schema)

    # a replica source with a PARTIAL version-column overlap is rejected
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    clash = SnapshotTable.create(
        spark,
        str(tmp_path / "clash"),
        T.StructType(
            [
                T.StructField("k", T.StringType(), False),
                T.StructField("op", T.StringType(), True),
            ]
        ),
        key_cols=["k"],
        n_buckets=2,
    )
    with pytest.raises(ValueError, match="collide"):
        create_replica_table(spark, str(tmp_path / "r"), clash)


def test_cdf_key_hash_splits_preserve_content(spark, tmp_path):
    """Forcing tiny maxPartitionDiffBytes subdivides every bucket diff into
    key-hash splits; the streamed content must be identical to the unsplit
    feed (no dropped or double-emitted keys across sibling splits)."""
    spark.dataSource.register(SnapshotCDFDataSource)
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=2)
    apply_changes(table, _ev(spark, conv="A", seq=10, text="a1"), epoch=0)
    v0 = table.current_version()
    for i, conv in enumerate(["B", "C", "D", "E", "F", "G"]):
        apply_changes(
            table, _ev(spark, conv=conv, seq=20 + i, text=f"t{conv}"), epoch=1 + i
        )
    apply_changes(table, _ev(spark, conv="A", seq=90, text="a2", op="update"), epoch=9)

    def drain(name, **opts):
        reader = (
            spark.readStream.format("snapshot_cdf")
            .option("path", table.path)
            .option("startingVersion", v0)
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            rows = _drain(spark, q, name, 8)
        finally:
            q.stop()
        return sorted(
            (r["conv_id"], r["_change_type"], r["text"]) for r in rows
        )

    plain = drain("split_plain")
    split = drain("split_forced", maxPartitionDiffBytes=2000)  # forces multi-split
    assert split == plain
    assert len(plain) == 8  # 6 inserts + pre/post pair for A


def test_stream_across_added_int_column_arrow_nulls(spark, tmp_path):
    """An ADD COLUMN of an INT type makes old-side images null-fill; the
    Arrow emission must carry those as proper nulls (nullable-Int path),
    not crash on float-NaN → int casts. Stream starts AFTER the evolution
    so the declared schema includes the new column."""
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=["k"], n_buckets=2
    )
    t.overwrite(spark.createDataFrame([("a", 1), ("b", 2)], schema=schema))
    # evolution: int column 'score' arrives; 'a' gets a value, 'b' keeps null
    t.merge(
        spark.createDataFrame([("a", 10, 7)], "k string, v long, score int"),
        op_col=None,
        policy="upsert",
    )
    v_mid = t.current_version()

    spark.dataSource.register(SnapshotCDFDataSource)
    feed = (
        spark.readStream.format("snapshot_cdf")
        .option("path", t.path)
        .option("startingVersion", v_mid - 1)
        .load()
    )
    assert "score" in feed.schema.fieldNames()
    q = (
        feed.writeStream.format("memory")
        .queryName("ev_int")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        rows = _drain(spark, q, "ev_int", 2)
    finally:
        q.stop()
    got = {(r["k"], r["_change_type"]): r["score"] for r in rows}
    # pre-image predates the column -> null; post-image carries the int
    assert got[("a", "update_preimage")] is None
    assert got[("a", "update_postimage")] == 7


def test_replication_in_upserts_mode(spark, tmp_path):
    """Change-set-proportional replication: the replica converges from the
    delta-file feed, including a delete and a multi-commit batch (several
    rows per key LWW-reduced by source commit version)."""
    from nifi_dicom_spark.operators.apply import read_final_state
    from nifi_dicom_spark.streaming.replicate import (
        create_replica_table,
        replicate_stream,
    )

    src = create_transcripts_table(spark, str(tmp_path / "src"), n_buckets=4)
    apply_changes(src, _ev(spark, conv="A", seq=10, text="a1"), epoch=0)
    # several commits BEFORE the stream starts — one batch, multi-commit
    apply_changes(src, _ev(spark, conv="A", seq=20, text="a2", op="update"), epoch=1)
    apply_changes(src, _ev(spark, conv="B", seq=30, text="b1"), epoch=2)
    apply_changes(src, _ev(spark, op="delete", conv="B", seq=40, text=None), epoch=3)
    replica = create_replica_table(spark, str(tmp_path / "dst"), src)

    q = replicate_stream(
        spark, src.path, replica, str(tmp_path / "ck"),
        starting_version=0, mode="upserts",
    )
    try:
        q.processAllAvailable()  # deterministic drain; poll covers visibility
        deadline = time.time() + 60
        want = {("A", 0, "a2")}
        got = None
        while time.time() < deadline:
            got = {
                (r["conv_id"], r["turn_idx"], r["text"])
                for r in read_final_state(replica).collect()
            }
            if got == want:
                break
            time.sleep(0.5)
        assert got == want, got
    finally:
        q.stop()

    import pytest

    with pytest.raises(ValueError, match="cdf|upserts"):
        replicate_stream(
            spark, src.path, replica, str(tmp_path / "ck2"), mode="nope"
        )


def test_bucket_state_tie_guard(tmp_path):
    """The pandas LWW reduce mirrors lww_dedup only when (key, op_seq,
    offset) identifies a row. Byte-identical duplicate deliveries (same
    event in two epochs' delta files) are fine — any winner is the same
    row; ties with DIFFERENT payloads are a malformed table and must fail
    loudly instead of streaming an order-dependent state."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from nifi_dicom_spark.sources.table_stream import (
        _BucketDiffPartition,
        _bucket_state,
    )

    cols = ["k", "op", "op_seq", "offset", "v"]

    def write(name, rows):
        pq.write_table(
            pa.Table.from_pandas(pd.DataFrame(rows, columns=cols)),
            str(tmp_path / name),
        )
        return name

    p = _BucketDiffPartition(
        data_dir=str(tmp_path), key_cols=["k"], columns=cols, versioned=True
    )
    # exact duplicate delivery across two files: one winner, no error
    f1 = write("a.parquet", [("k1", "update", 5, 10, "same")])
    f2 = write("b.parquet", [("k1", "update", 5, 10, "same"),
                             ("k2", "update", 1, 11, "x")])
    out = _bucket_state(p, [f1, f2])
    assert sorted(out["k"]) == ["k1", "k2"] and len(out) == 2
    # same version key, different payloads: ambiguous winner -> ValueError
    f3 = write("c.parquet", [("k1", "update", 5, 10, "DIFFERENT")])
    with pytest.raises(ValueError, match="DIFFERENT payloads"):
        _bucket_state(p, [f1, f3])


def test_bucket_state_tie_guard_across_schema_evolution(tmp_path):
    """A byte-identical duplicate delivery STRADDLING an ADD COLUMN commit
    is the same logical row: the pre-evolution file lacks the new column
    (concat null-fills it as NaN) while the post-evolution file stores an
    explicit null — the guard must not read NaN-vs-None as a payload
    conflict and kill a well-formed stream."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nifi_dicom_spark.sources.table_stream import (
        _BucketDiffPartition,
        _bucket_state,
    )

    old_cols = ["k", "op", "op_seq", "offset", "v"]
    new_cols = [*old_cols, "tool"]
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame([("k1", "update", 5, 10, "same")], columns=old_cols)
        ),
        str(tmp_path / "old.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(
                [("k1", "update", 5, 10, "same", None)], columns=new_cols
            ).astype({"tool": "object"})
        ),
        str(tmp_path / "new.parquet"),
    )
    p = _BucketDiffPartition(
        data_dir=str(tmp_path), key_cols=["k"], columns=new_cols, versioned=True
    )
    out = _bucket_state(p, ["old.parquet", "new.parquet"])
    assert len(out) == 1 and out.iloc[0]["v"] == "same"


def test_starting_timestamp_option(spark, tmp_path):
    """startingTimestamp resolves to the version at-or-before the given
    wall-clock and streams exactly the commits after it; mutually
    exclusive with startingVersion; the batch change_feed's
    from_timestamp agrees."""
    import time as _time

    import pytest
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.operators.diff import change_feed
    from nifi_dicom_spark.sources.table_stream import SnapshotCDFDataSource

    spark.dataSource.register(SnapshotCDFDataSource)
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=["k"], n_buckets=4
    )

    def batch(seq):
        return spark.createDataFrame(
            [(f"k{i}", "update", seq, i, f"s{seq}") for i in range(4)], schema
        )

    t.merge(batch(1), op_col="op", policy="versioned_upsert")
    ts_after_1 = float(t.manifest()["committed_at"]) + 0.01
    _time.sleep(0.05)
    t.merge(batch(2), op_col="op", policy="versioned_upsert")
    t.merge(batch(3), op_col="op", policy="versioned_upsert")

    v_at_ts = t.version_at(ts_after_1)
    feed = (
        spark.readStream.format("snapshot_cdf")
        .option("path", t.path)
        .option("startingTimestamp", str(ts_after_1))
        .load()
    )
    q = (
        feed.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(str(tmp_path / "out"))
    rows = got.collect()
    # the start boundary is the version the timestamp resolves to: every
    # change is attributed strictly AFTER it, the s1 state appears only as
    # preimages, and the net postimage of the one availableNow batch is
    # the collapsed s1→s3 diff (per-commit pacing is a trigger concern,
    # covered by the processingTime tests above)
    assert rows and all(r["_commit_version"] > v_at_ts for r in rows)
    pre = {r["v"] for r in rows if r["_change_type"] == "update_preimage"}
    post = {
        r["v"]
        for r in rows
        if r["_change_type"] in ("insert", "update_postimage")
    }
    assert pre == {"s1"} and post == {"s3"}
    # batch change feed agrees
    cf = change_feed(t, from_timestamp=ts_after_1)
    cf_vals = {
        r["v"]
        for r in cf.filter(
            cf["_change_type"].isin("insert", "update_postimage")
        ).collect()
    }
    assert cf_vals == {"s2", "s3"}
    # .load() is lazy (the reader spawns at query start) — validate the
    # mutual exclusion on the reader itself
    from nifi_dicom_spark.sources.table_stream import _CDFStreamReader

    with pytest.raises(ValueError, match="not both"):
        _CDFStreamReader(
            {
                "path": t.path,
                "startingversion": "0",
                "startingtimestamp": str(ts_after_1),
            },
            feed.schema,
        )
    with pytest.raises(ValueError, match="from_version or from_timestamp"):
        change_feed(t)


def test_mid_stream_schema_change_fails_query_not_data(spark, tmp_path):
    """An ADD COLUMN committed WHILE the stream runs must fail the query
    (Delta-CDF behavior) rather than silently conforming the batch down to
    the query-start columns — an update touching only the new column would
    diff as a no-op and be lost forever once the offset advanced. The
    checkpoint resumes exactly before the failed batch, so a restart
    (which re-plans the wider schema) loses nothing."""
    import pytest
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.sources.table_stream import _CDFStreamReader

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=["k"], n_buckets=2
    )
    t.merge(
        spark.createDataFrame([("a", "update", 1, 1, "x")], schema),
        op_col="op", policy="versioned_upsert",
    )
    v0 = t.current_version()
    # reader planned at the CURRENT schema (no 'score' yet)
    from nifi_dicom_spark.sources.table_stream import (
        CDF_META_FIELDS,
        _visible_fields,
    )

    fields, _ = _visible_fields(t.manifest())
    declared = T.StructType(fields + CDF_META_FIELDS)
    for mode in ("cdf", "upserts"):
        reader = _CDFStreamReader(
            {"path": t.path, "startingversion": str(v0), "mode": mode}, declared
        )
        # mid-stream evolution: the next commit adds 'score'
        t.merge(
            spark.createDataFrame(
                [("a", "update", 2, 2, "y", 7)],
                "k string, op string, op_seq long, offset long, v string, score int",
            ),
            op_col="op", policy="versioned_upsert",
        )
        with pytest.raises(RuntimeError, match="schema changed mid-stream"):
            reader.partitions(
                {"version": v0}, {"version": t.current_version()}
            )


def test_upserts_tombstone_with_nonnullable_payload_column(spark, tmp_path):
    """A table created with a non-nullable payload column still streams
    deletes in upserts mode: tombstones carry null payload by design, so
    the feed declares every payload field nullable — the Arrow emission
    must not reject the tombstone row against the table's declared
    nullability."""
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("v", T.StringType(), False),  # non-nullable payload
        ]
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=["k"], n_buckets=2
    )
    t.merge(
        spark.createDataFrame([("a", "insert", 1, 1, "x")], schema),
        op_col="op", policy="versioned_upsert",
    )
    v0 = t.current_version()
    tomb = T.StructType([*schema.fields[:4], T.StructField("v", T.StringType(), True)])
    t.merge(
        spark.createDataFrame([("a", "delete", 2, 2, None)], tomb),
        op_col="op", policy="versioned_upsert",
    )
    spark.dataSource.register(SnapshotCDFDataSource)
    feed = (
        spark.readStream.format("snapshot_cdf")
        .option("path", t.path)
        .option("startingVersion", v0)
        .option("mode", "upserts")
        .load()
    )
    q = (
        feed.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert len(rows) == 1
    assert rows[0]["_change_type"] == "delete" and rows[0]["v"] is None


def test_replication_across_schema_evolution_restart(spark, tmp_path):
    """The operational story for mid-stream ADD COLUMN under replication:
    the running replication query FAILS (no silent divergence), and a
    plain restart — same checkpoint — re-plans the wider schema, resumes
    before the failed batch, and converges the replica including the new
    column (the replica's merge evolves its schema on the first wider
    batch)."""
    import time as _time

    from nifi_dicom_spark.operators.apply import read_final_state
    from nifi_dicom_spark.streaming.replicate import (
        create_replica_table,
        replicate_stream,
    )

    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    src = SnapshotTable.create(
        spark, str(tmp_path / "src"), schema, key_cols=["k"], n_buckets=4
    )
    src.merge(
        spark.createDataFrame([("A", "update", 1, 1, "a1")], schema),
        op_col="op", policy="versioned_upsert",
    )
    replica = create_replica_table(spark, str(tmp_path / "dst"), src)
    ck = str(tmp_path / "ck")

    def count_live():
        import pyspark.sql.functions as F

        return replica.read().filter(F.col("op") != "delete").count()

    q = replicate_stream(spark, src.path, replica, ck, starting_version=0,
                         trigger_interval="1 second")
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if count_live() >= 1:
                break
            _time.sleep(0.5)
        assert count_live() == 1
        # mid-stream evolution on the SOURCE: a wider merge adds 'rating'
        src.merge(
            spark.createDataFrame(
                [("B", "update", 2, 2, "b1", 5)],
                "k string, op string, op_seq long, offset long, "
                "v string, rating int",
            ),
            op_col="op", policy="versioned_upsert",
        )
        died = None
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if q.exception() is not None:
                died = str(q.exception())
                break
            _time.sleep(0.5)
        assert died and "schema changed mid-stream" in died, died
    finally:
        try:
            q.stop()
        except Exception:
            pass
    # restart: the feed re-plans with 'rating'; the replica merge evolves
    q2 = replicate_stream(spark, src.path, replica, ck, starting_version=0,
                          trigger_interval="1 second")
    try:
        import pyspark.sql.functions as F

        deadline = _time.time() + 90
        ok = False
        while _time.time() < deadline:
            if q2.exception() is not None:
                raise AssertionError(f"restarted stream died: {q2.exception()}")
            st = replica.read().filter(F.col("op") != "delete").toPandas()
            if len(st) == 2 and "rating" in st.columns:
                got = dict(zip(st["k"], st["rating"]))
                if got.get("B") == 5:
                    ok = True
                    break
            _time.sleep(0.5)
        assert ok, replica.read().toPandas().to_dict("records")
    finally:
        q2.stop()


def test_rollup_stream_maintains_group_aggregates(spark, tmp_path):
    """Continuous rollup: COUNT/SUM per group maintained incrementally from
    the CDF feed — converges to the from-scratch GROUP BY after inserts,
    a group MIGRATION (update that moves a row between groups), restart
    with commits applied while the stream was down, and a delete that
    empties a group (row removed, not left at zero)."""
    from nifi_dicom_spark.operators.apply import read_final_state
    from nifi_dicom_spark.streaming.rollup import create_rollup_table, rollup_stream

    def ev(op, conv, seq, role, turn=0):
        return spark.createDataFrame(
            pd.DataFrame(
                [
                    {
                        "offset": seq,
                        "partition_id": 0,
                        "op": op,
                        "op_seq": seq,
                        "conv_id": conv,
                        "turn_idx": turn,
                        "role": role,
                        "text": "t",
                        "tool": None,
                        "ts": pd.Timestamp("2024-01-01"),
                        "schema_ver": 2,
                    }
                ]
            ),
            CHANGE_EVENTS_SCHEMA,
        )

    src = create_transcripts_table(spark, str(tmp_path / "src"), n_buckets=4)
    v0 = src.current_version()  # BEFORE any data: the feed must see every insert
    roll = create_rollup_table(
        spark, str(tmp_path / "roll"), src, group_cols=["role"], sum_cols=["turn_idx"]
    )
    ckpt = str(tmp_path / "ck")

    def recompute():
        return {
            (r["role"], r["n"], float(r["s"]))
            for r in read_final_state(src)
            .groupBy("role")
            .agg(F.count("*").alias("n"), F.sum("turn_idx").alias("s"))
            .collect()
        }

    def state():
        return {
            (r["role"], r["n_rows"], float(r["sum_turn_idx"]))
            for r in roll.read().filter("op != 'delete'").collect()
        }

    def converged(timeout=90):
        deadline = time.time() + timeout
        while time.time() < deadline:
            want, got = recompute(), state()
            if want == got:
                return True
            time.sleep(0.5)
        raise AssertionError(f"rollup {state()} != recomputed {recompute()}")

    q = rollup_stream(
        spark, src.path, roll, ckpt, group_cols=["role"],
        sum_cols=["turn_idx"], starting_version=v0,
        trigger_interval="300 milliseconds",
    )
    try:
        apply_changes(src, ev("insert", "A", 10, "user"), epoch=0)
        apply_changes(src, ev("insert", "B", 20, "user", turn=3), epoch=1)
        apply_changes(src, ev("insert", "C", 30, "tool", turn=5), epoch=2)
        assert converged()
        # group migration: the EXISTING key ('A', turn 0) moves
        # user -> assistant in one update, so the feed emits a real
        # update_preimage/update_postimage pair — the signed-delta path
        # this module exists for (preimage decrements user, postimage
        # increments assistant)
        apply_changes(src, ev("update", "A", 40, "assistant", turn=0), epoch=3)
        assert converged()
        assert ("assistant", 1, 0.0) in state()
        assert ("user", 1, 3.0) in state()  # only B remains under user
    finally:
        q.stop()

    # commits while the rollup is DOWN: B deleted (user group shrinks),
    # then restart resumes from the checkpoint exactly-once
    apply_changes(src, ev("delete", "B", 50, "user", turn=3), epoch=4)
    apply_changes(src, ev("delete", "C", 60, "tool", turn=5), epoch=5)
    q2 = rollup_stream(
        spark, src.path, roll, ckpt, group_cols=["role"],
        sum_cols=["turn_idx"], trigger_interval="300 milliseconds",
    )
    try:
        assert converged()
        # the emptied tool group is a tombstone, not a zero row
        assert "tool" not in {t[0] for t in state()}
    finally:
        q2.stop()


def test_rollup_minmax_recompute_and_batch_refresh(spark, tmp_path):
    """MIN/MAX (non-decrementable) rollup arm + the batch refresh path:
    arrivals maintain max_ts/min_turn_idx incrementally, a delete that
    removes the row HOLDING the max forces the recompute-touched-groups
    fallback (reference analog: StudyReceiver.updateStudyMostRecentInsertionTime
    re-derived per arrival; deletes re-derive from state), and after every
    refresh the rollup equals the from-scratch GROUP BY — including an
    emptied group becoming a tombstone."""
    from nifi_dicom_spark.operators.apply import read_final_state
    from nifi_dicom_spark.streaming.rollup import (
        create_rollup_table,
        refresh_rollup,
    )

    def ev(op, conv, seq, role, turn=0, ts="2024-01-01"):
        return spark.createDataFrame(
            pd.DataFrame(
                [
                    {
                        "offset": seq,
                        "partition_id": 0,
                        "op": op,
                        "op_seq": seq,
                        "conv_id": conv,
                        "turn_idx": turn,
                        "role": role,
                        "text": "t",
                        "tool": None,
                        "ts": pd.Timestamp(ts),
                        "schema_ver": 2,
                    }
                ]
            ),
            CHANGE_EVENTS_SCHEMA,
        )

    src = create_transcripts_table(spark, str(tmp_path / "srcmm"), n_buckets=4)
    roll = create_rollup_table(
        spark,
        str(tmp_path / "rollmm"),
        src,
        group_cols=["role"],
        sum_cols=["turn_idx"],
        max_cols=["ts"],
        min_cols=["turn_idx"],
    )
    # max_ts column carries the SOURCE dtype (timestamp), not double
    ts_field = {f.name: f for f in roll.schema().fields}["max_ts"]
    import pyspark.sql.types as T

    assert isinstance(ts_field.dataType, (T.TimestampType, T.TimestampNTZType))

    def recompute():
        return {
            (r["role"], r["n"], float(r["s"]), r["mx"], r["mn"])
            for r in read_final_state(src)
            .groupBy("role")
            .agg(
                F.count("*").alias("n"),
                F.sum("turn_idx").alias("s"),
                F.max("ts").alias("mx"),
                F.min("turn_idx").alias("mn"),
            )
            .collect()
        }

    def state():
        return {
            (r["role"], r["n_rows"], float(r["sum_turn_idx"]), r["max_ts"], r["min_turn_idx"])
            for r in roll.read().filter("op != 'delete'").collect()
        }

    v = src.current_version()
    # arrivals: A holds user's max ts, B an earlier ts; C alone under tool
    apply_changes(src, ev("insert", "A", 10, "user", turn=2, ts="2024-03-01"), epoch=0)
    apply_changes(src, ev("insert", "B", 20, "user", turn=5, ts="2024-01-15"), epoch=1)
    apply_changes(src, ev("insert", "C", 30, "tool", turn=1, ts="2024-02-01"), epoch=2)
    refresh_rollup(roll, src, from_version=v, sum_cols=["turn_idx"],
                   max_cols=["ts"], min_cols=["turn_idx"])
    assert state() == recompute()

    # strictly-inside departure: B (NOT the max holder, NOT the min turn)
    # leaves — incremental path, no recompute needed, still exact
    v = src.current_version()
    apply_changes(src, ev("delete", "B", 40, "user", turn=5, ts="2024-01-15"), epoch=3)
    refresh_rollup(roll, src, from_version=v, sum_cols=["turn_idx"],
                   max_cols=["ts"], min_cols=["turn_idx"])
    assert state() == recompute()

    # re-insert B then delete A — A HOLDS user's max ts (2024-03-01), so
    # the departure ties the stored max and forces the recompute arm; the
    # max must FALL BACK to B's ts, which greatest() alone can never do
    v = src.current_version()
    apply_changes(src, ev("insert", "B", 50, "user", turn=5, ts="2024-01-15"), epoch=4)
    apply_changes(src, ev("delete", "A", 60, "user", turn=2, ts="2024-03-01"), epoch=5)
    refresh_rollup(roll, src, from_version=v, sum_cols=["turn_idx"],
                   max_cols=["ts"], min_cols=["turn_idx"])
    assert state() == recompute()
    got = {t[0]: t for t in state()}
    assert got["user"][3] == pd.Timestamp("2024-01-15")  # recomputed, not kept

    # empty the tool group: tombstone, not a zero row with stale max
    v = src.current_version()
    apply_changes(src, ev("delete", "C", 70, "tool", turn=1, ts="2024-02-01"), epoch=6)
    refresh_rollup(roll, src, from_version=v, sum_cols=["turn_idx"],
                   max_cols=["ts"], min_cols=["turn_idx"])
    assert state() == recompute()
    assert "tool" not in {t[0] for t in state()}


def test_rollup_hll_distinct_counts(spark, tmp_path):
    """Distinct-count (non-decrementable) rollup arm: arrivals union the
    stored Datasketches HLL sketch incrementally; a departure whose value
    does not re-arrive in the same group in the same batch recomputes that
    group's sketch from the source snapshot. Invariant after every
    refresh: dv_conv_id == from-scratch COUNT(DISTINCT conv_id) per group
    (exact at this cardinality — Datasketches is exact far beyond it),
    including a same-conv second turn (dv flat while n_rows grows), a
    group MIGRATION (old group recomputes, new group unions), a departure
    that does NOT change the distinct set (another turn of the conv
    remains), and an emptied group tombstoned."""
    from nifi_dicom_spark.operators.apply import read_final_state
    from nifi_dicom_spark.streaming.rollup import (
        backfill_rollup,
        create_rollup_table,
        refresh_rollup,
    )

    def ev(op, conv, seq, role, turn=0):
        return spark.createDataFrame(
            pd.DataFrame(
                [
                    {
                        "offset": seq,
                        "partition_id": 0,
                        "op": op,
                        "op_seq": seq,
                        "conv_id": conv,
                        "turn_idx": turn,
                        "role": role,
                        "text": "t",
                        "tool": None,
                        "ts": pd.Timestamp("2024-01-01"),
                        "schema_ver": 2,
                    }
                ]
            ),
            CHANGE_EVENTS_SCHEMA,
        )

    src = create_transcripts_table(spark, str(tmp_path / "srchll"), n_buckets=4)
    roll = create_rollup_table(
        spark,
        str(tmp_path / "rollhll"),
        src,
        group_cols=["role"],
        hll_cols=["conv_id"],
    )
    fields = {f.name for f in roll.schema().fields}
    assert {"hll_conv_id", "dv_conv_id"} <= fields
    assert roll.manifest()["props"]["hll_lgk"] == 12

    def recompute():
        return {
            (r["role"], r["n"], r["dv"])
            for r in read_final_state(src)
            .groupBy("role")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("conv_id").alias("dv"),
            )
            .collect()
        }

    def state():
        return {
            (r["role"], r["n_rows"], r["dv_conv_id"])
            for r in roll.read().filter("op != 'delete'").collect()
        }

    def refresh(v):
        refresh_rollup(roll, src, from_version=v, hll_cols=["conv_id"])

    # backfill path builds the seed sketches too
    apply_changes(src, ev("insert", "A", 10, "user", turn=0), epoch=0)
    apply_changes(src, ev("insert", "B", 20, "user"), epoch=1)
    v = backfill_rollup(roll, src, hll_cols=["conv_id"])
    assert state() == recompute() == {("user", 2, 2)}

    # pure-arrival batch (incremental union path): same conv again ->
    # n_rows grows, dv stays; a new conv in a new group -> new sketch
    apply_changes(src, ev("insert", "A", 30, "user", turn=1), epoch=2)
    apply_changes(src, ev("insert", "C", 40, "tool"), epoch=3)
    refresh(v)
    assert state() == recompute() == {("user", 3, 2), ("tool", 1, 1)}

    # departure that does NOT shrink the distinct set (A's other turn
    # remains): the uncovered departure still flags a recompute, which
    # must come back with dv unchanged
    v = src.current_version()
    apply_changes(src, ev("delete", "A", 50, "user", turn=0), epoch=4)
    refresh(v)
    assert state() == recompute() == {("user", 2, 2), ("tool", 1, 1)}

    # group migration: B moves user->tool in one batch (preimage departs
    # the user group, postimage arrives in tool) — user loses a distinct
    # conv, tool gains one
    v = src.current_version()
    apply_changes(src, ev("update", "B", 60, "tool"), epoch=5)
    refresh(v)
    assert state() == recompute() == {("user", 1, 1), ("tool", 2, 2)}

    # emptied group: the last user row leaves -> tombstone, not a zero row
    v = src.current_version()
    apply_changes(src, ev("delete", "A", 70, "user", turn=1), epoch=6)
    refresh(v)
    assert state() == recompute() == {("tool", 2, 2)}
    assert "user" not in {t[0] for t in state()}

    # backfill/refresh with forgotten hll_cols is rejected, not a silent
    # null-out (the seed/merge would null hll_/dv_ for every group)
    import pytest

    roll2 = create_rollup_table(
        spark,
        str(tmp_path / "rollhll2"),
        src,
        group_cols=["role"],
        hll_cols=["conv_id"],
    )
    with pytest.raises(ValueError, match="must cover the rollup"):
        backfill_rollup(roll2, src)
    with pytest.raises(ValueError, match="must cover the rollup"):
        refresh_rollup(roll2, src, from_version=0)


def test_rollup_percentiles_recompute_every_touch(spark, tmp_path):
    """Percentile rollup arm: no incremental form exists, so every touched
    group recomputes its quantiles from the snapshot (and the scan folds
    the other families in). Invariant after every refresh: p50/p90 ==
    from-scratch percentile() per group, through arrivals, an interior
    delete, a group migration, and an emptied group; quantile-spec
    mismatches (different q, omitted pct_cols) fail loudly instead of
    writing the wrong quantile into the column."""
    from nifi_dicom_spark.operators.apply import read_final_state
    from nifi_dicom_spark.streaming.rollup import (
        backfill_rollup,
        create_rollup_table,
        refresh_rollup,
    )

    def ev(op, conv, seq, role, turn=0):
        return spark.createDataFrame(
            pd.DataFrame(
                [
                    {
                        "offset": seq,
                        "partition_id": 0,
                        "op": op,
                        "op_seq": seq,
                        "conv_id": conv,
                        "turn_idx": turn,
                        "role": role,
                        "text": "t",
                        "tool": None,
                        "ts": pd.Timestamp("2024-01-01"),
                        "schema_ver": 2,
                    }
                ]
            ),
            CHANGE_EVENTS_SCHEMA,
        )

    src = create_transcripts_table(spark, str(tmp_path / "srcpct"), n_buckets=4)
    roll = create_rollup_table(
        spark,
        str(tmp_path / "rollpct"),
        src,
        group_cols=["role"],
        sum_cols=["turn_idx"],
        pct_cols={"turn_idx": [0.5, 0.9]},
    )
    fields = {f.name for f in roll.schema().fields}
    assert {"p50_turn_idx", "p90_turn_idx", "sum_turn_idx"} <= fields
    assert roll.manifest()["props"]["pct_cols"] == {"turn_idx": [0.5, 0.9]}

    PCT = {"turn_idx": [0.5, 0.9]}

    def recompute():
        return {
            (r["role"], r["n"], r["p50"], r["p90"])
            for r in read_final_state(src)
            .groupBy("role")
            .agg(
                F.count("*").alias("n"),
                F.percentile(F.col("turn_idx").cast("double"), F.lit(0.5)).alias("p50"),
                F.percentile(F.col("turn_idx").cast("double"), F.lit(0.9)).alias("p90"),
            )
            .collect()
        }

    def state():
        return {
            (r["role"], r["n_rows"], r["p50_turn_idx"], r["p90_turn_idx"])
            for r in roll.read().filter("op != 'delete'").collect()
        }

    def refresh(v):
        refresh_rollup(
            roll, src, from_version=v, sum_cols=["turn_idx"], pct_cols=PCT
        )

    # seed over turns 0,2,10 in one group: p50=2, p90 interpolates
    apply_changes(src, ev("insert", "A", 10, "user", turn=0), epoch=0)
    apply_changes(src, ev("insert", "B", 20, "user", turn=2), epoch=1)
    apply_changes(src, ev("insert", "C", 30, "user", turn=10), epoch=2)
    v = backfill_rollup(roll, src, sum_cols=["turn_idx"], pct_cols=PCT)
    assert state() == recompute()
    assert {t[2] for t in state()} == {2.0}  # p50 of (0, 2, 10)

    # arrival shifts the quantiles (recompute-on-touch, no stale median)
    apply_changes(src, ev("insert", "D", 40, "user", turn=4), epoch=3)
    apply_changes(src, ev("insert", "E", 50, "tool", turn=7), epoch=4)
    refresh(v)
    assert state() == recompute()

    # interior delete (not the extremum, not the median's last copy):
    # percentiles still recompute — they have no decrement
    v = src.current_version()
    apply_changes(src, ev("delete", "B", 60, "user", turn=2), epoch=5)
    refresh(v)
    assert state() == recompute()

    # group migration: D moves user->tool; both groups' quantiles re-derive
    v = src.current_version()
    apply_changes(src, ev("update", "D", 70, "tool", turn=4), epoch=6)
    refresh(v)
    assert state() == recompute()

    # emptied group: tool loses both rows -> tombstone
    v = src.current_version()
    apply_changes(src, ev("delete", "E", 80, "tool", turn=7), epoch=7)
    apply_changes(src, ev("delete", "D", 90, "tool", turn=4), epoch=8)
    refresh(v)
    assert state() == recompute()
    assert "tool" not in {t[0] for t in state()}

    # spec mismatches fail loudly: omitted pct_cols, and a different q
    import pytest

    with pytest.raises(ValueError, match="percentile spec"):
        refresh_rollup(roll, src, from_version=0, sum_cols=["turn_idx"])
    with pytest.raises(ValueError, match="percentile spec"):
        refresh_rollup(
            roll,
            src,
            from_version=0,
            sum_cols=["turn_idx"],
            pct_cols={"turn_idx": [0.5, 0.95]},
        )


def test_refresh_rollup_rejects_partial_agg_cols(spark, tmp_path):
    """refresh_rollup must enforce the same exact-coverage contract as
    rollup_stream: omitting an aggregate column the table carries would
    silently null it for every touched group via the LWW merge."""
    from nifi_dicom_spark.streaming.rollup import (
        create_rollup_table,
        refresh_rollup,
    )

    src = create_transcripts_table(spark, str(tmp_path / "srcg"), n_buckets=2)
    roll = create_rollup_table(
        spark,
        str(tmp_path / "rollg"),
        src,
        group_cols=["role"],
        sum_cols=["turn_idx"],
        max_cols=["ts"],
    )
    import pytest

    # forgotten sum_cols entirely
    with pytest.raises(ValueError, match="must cover the rollup"):
        refresh_rollup(roll, src, from_version=0, max_cols=["ts"])
    # forgotten max_cols
    with pytest.raises(ValueError, match="must cover the rollup"):
        refresh_rollup(roll, src, from_version=0, sum_cols=["turn_idx"])
    # extra column the table does not carry
    with pytest.raises(ValueError, match="lacks aggregate column"):
        refresh_rollup(
            roll, src, from_version=0, sum_cols=["turn_idx", "offset"],
            max_cols=["ts"],
        )


def test_create_rollup_table_validation(spark, tmp_path):
    from nifi_dicom_spark.streaming.rollup import create_rollup_table

    src = create_transcripts_table(spark, str(tmp_path / "s2"), n_buckets=2)
    import pytest

    with pytest.raises(ValueError, match="not in source schema"):
        create_rollup_table(spark, str(tmp_path / "r1"), src, ["nope"])
    with pytest.raises(ValueError, match="version bookkeeping"):
        create_rollup_table(spark, str(tmp_path / "r2"), src, ["op_seq"])

    # stream-side guards: group_cols must equal the table's key columns,
    # and every requested sum_<c> must exist in the table
    from nifi_dicom_spark.streaming.rollup import rollup_stream

    roll = create_rollup_table(
        spark, str(tmp_path / "r3"), src, ["role", "tool"], sum_cols=["turn_idx"]
    )
    with pytest.raises(ValueError, match="key columns"):
        rollup_stream(spark, src.path, roll, str(tmp_path / "ck3"), ["tool", "role"])
    with pytest.raises(ValueError, match="lacks aggregate column"):
        rollup_stream(
            spark, src.path, roll, str(tmp_path / "ck4"),
            ["role", "tool"], sum_cols=["schema_ver"],
        )
    # subset is rejected too: the LWW merge would null the omitted
    # sum_turn_idx totals on every touched group (ADVICE r4)
    with pytest.raises(ValueError, match="exactly"):
        rollup_stream(
            spark, src.path, roll, str(tmp_path / "ck5"),
            ["role", "tool"], sum_cols=[],
        )


def test_backfill_rollup_then_stream_handoff(spark, tmp_path):
    """The documented recovery path: seed the rollup from a snapshot, then
    start the feed at exactly that snapshot's version — pre-backfill rows
    are counted once (by the seed), post-backfill commits once (by the
    stream), and the result still equals the from-scratch GROUP BY."""
    from nifi_dicom_spark.operators.apply import read_final_state
    from nifi_dicom_spark.streaming.rollup import (
        backfill_rollup,
        create_rollup_table,
        rollup_stream,
    )

    def ev(op, conv, seq, role, turn=0):
        return spark.createDataFrame(
            pd.DataFrame(
                [
                    {
                        "offset": seq,
                        "partition_id": 0,
                        "op": op,
                        "op_seq": seq,
                        "conv_id": conv,
                        "turn_idx": turn,
                        "role": role,
                        "text": "t",
                        "tool": None,
                        "ts": pd.Timestamp("2024-01-01"),
                        "schema_ver": 2,
                    }
                ]
            ),
            CHANGE_EVENTS_SCHEMA,
        )

    src = create_transcripts_table(spark, str(tmp_path / "src"), n_buckets=4)
    # history the stream will NEVER see — only the backfill covers it
    apply_changes(src, ev("insert", "A", 10, "user", turn=2), epoch=0)
    apply_changes(src, ev("insert", "B", 20, "tool", turn=5), epoch=1)

    roll = create_rollup_table(
        spark, str(tmp_path / "roll"), src, ["role"], sum_cols=["turn_idx"]
    )
    v = backfill_rollup(roll, src, sum_cols=["turn_idx"])
    assert {
        (r["role"], r["n_rows"], float(r["sum_turn_idx"]))
        for r in roll.read().collect()
    } == {("user", 1, 2.0), ("tool", 1, 5.0)}
    # a second backfill must refuse (stale-group hazard)
    import pytest

    with pytest.raises(ValueError, match="empty rollup"):
        backfill_rollup(roll, src, sum_cols=["turn_idx"])

    q = rollup_stream(
        spark, src.path, roll, str(tmp_path / "ck"), ["role"],
        sum_cols=["turn_idx"], starting_version=v,
        trigger_interval="300 milliseconds",
    )
    try:
        # post-backfill commits: an insert and a migration of seeded key A
        apply_changes(src, ev("insert", "C", 30, "user", turn=1), epoch=2)
        apply_changes(src, ev("update", "A", 40, "assistant", turn=2), epoch=3)
        deadline = time.time() + 90
        want = {("user", 1, 1.0), ("tool", 1, 5.0), ("assistant", 1, 2.0)}
        got = set()
        while time.time() < deadline:
            got = {
                (r["role"], r["n_rows"], float(r["sum_turn_idx"]))
                for r in roll.read().filter("op != 'delete'").collect()
            }
            if got == want:
                break
            time.sleep(0.5)
        assert got == want, got
        # and the invariant: equals the from-scratch GROUP BY
        recomputed = {
            (r["role"], r["n"], float(r["s"]))
            for r in read_final_state(src)
            .groupBy("role")
            .agg(F.count("*").alias("n"), F.sum("turn_idx").alias("s"))
            .collect()
        }
        assert got == recomputed
    finally:
        q.stop()


def test_restart_backlog_bounded_by_partition_diff_bytes(spark, tmp_path):
    """Restart-with-backlog memory bound (ADVICE r3 #2 / VERDICT r4 #9):
    the Python Data Source API gives ``latestOffset(self)`` no view of the
    checkpointed start offset, so ``maxVersionsPerBatch`` cannot pace the
    FIRST batch after a restart — the whole outstanding backlog lands in
    one batch (documented in the module docstring). The bound that DOES
    hold across restarts is ``maxPartitionDiffBytes``: it is derived
    per-partition from on-disk file sizes, stateless. This test builds a
    multi-version backlog while the stream is down, then asserts (a) at
    the reader level the whole-backlog batch is key-hash split so no
    split's referenced bytes exceed the cap (up to the documented 64-way
    clamp), and (b) the restarted stream drains the backlog completely."""
    import hashlib
    import os as _os

    spark.dataSource.register(SnapshotCDFDataSource)
    table = create_transcripts_table(spark, str(tmp_path / "tb"), n_buckets=2)
    apply_changes(table, _ev(spark, conv="seed", seq=1, text="s"), epoch=0)
    v0 = table.current_version()
    ckpt, out = str(tmp_path / "ckb"), str(tmp_path / "outb")

    def start():
        return (
            spark.readStream.format("snapshot_cdf")
            .option("path", table.path)
            .option("startingVersion", v0)
            .option("maxVersionsPerBatch", 1)
            .option("maxPartitionDiffBytes", 16384)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="500 milliseconds")
            .start()
        )

    def big_batch(epoch: int, n: int = 250):
        rows = []
        for i in range(n):
            # incompressible-ish text so parquet bytes track logical bytes
            blob = "".join(
                hashlib.sha256(f"{epoch}:{i}:{j}".encode()).hexdigest()
                for j in range(24)
            )
            rows.append(
                {
                    "offset": epoch * 100_000 + i,
                    "partition_id": 0,
                    "op": "insert",
                    "op_seq": epoch * 100_000 + i,
                    "conv_id": f"c{epoch}_{i}",
                    "turn_idx": 0,
                    "role": "user",
                    "text": blob,
                    "tool": None,
                    "ts": pd.Timestamp("2024-01-01"),
                    "schema_ver": 2,
                }
            )
        return spark.createDataFrame(pd.DataFrame(rows), CHANGE_EVENTS_SCHEMA)

    q = start()
    try:
        apply_changes(table, _ev(spark, conv="live", seq=2, text="l"), epoch=1)
        deadline = time.time() + 120
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= 1:
                    break
            except Exception:
                pass
            time.sleep(0.5)
    finally:
        q.stop()
    v_stop = table.current_version()

    # ---- backlog while the stream is DOWN -----------------------------
    n_backlog = 0
    for e in range(2, 6):
        apply_changes(table, big_batch(e), epoch=e)
        n_backlog += 250
    v_end = table.current_version()

    # (a) reader-level: whole-backlog batch splits honor the byte cap
    from nifi_dicom_spark.sources.table_stream import _CDFStreamReader

    feed_schema = (
        spark.readStream.format("snapshot_cdf")
        .option("path", table.path)
        .load()
        .schema
    )
    cap = 16384
    rdr = _CDFStreamReader(
        {"path": table.path, "maxpartitiondiffbytes": str(cap)}, feed_schema
    )
    parts = rdr.partitions({"version": v_stop}, {"version": v_end})
    assert len(parts) > 2  # the backlog really did split
    groups: dict[tuple, list] = {}
    for p in parts:
        groups.setdefault((tuple(p.old_files), tuple(p.new_files)), []).append(p)
    for (old, new), ps in groups.items():
        total = sum(
            _os.path.getsize(_os.path.join(table.path, "data", rel))
            for rel in {*old, *new}
        )
        n_splits = ps[0].split[1]
        assert len(ps) == n_splits
        assert n_splits == min(64, max(1, -(-total // cap))), (total, n_splits)

    # (b) end-to-end: the restarted stream drains the whole backlog
    q2 = start()
    try:
        deadline = time.time() + 180
        got = 0
        while time.time() < deadline:
            if q2.exception():
                raise AssertionError(f"stream died: {q2.exception()}")
            try:
                got = (
                    spark.read.parquet(out)
                    .filter("_change_type = 'insert'")
                    .count()
                )
            except Exception:
                got = 0
            # + 1: the 'live' insert; the seed commit predates the
            # startingVersion baseline so it is not in the feed
            if got >= n_backlog + 1:
                break
            time.sleep(0.5)
        assert got >= n_backlog + 1, got
    finally:
        q2.stop()


def test_rollup_stream_minmax_live(spark, tmp_path):
    """MIN/MAX arm through the LIVE stream (not just refresh_rollup): the
    stream opens the source table itself for the recompute fallback; a
    delete of the max-holding row while streaming must lower max_ts to the
    survivor's value."""
    from nifi_dicom_spark.operators.apply import read_final_state
    from nifi_dicom_spark.streaming.rollup import (
        create_rollup_table,
        rollup_stream,
    )

    def ev(op, conv, seq, role, turn=0, ts="2024-01-01"):
        return spark.createDataFrame(
            pd.DataFrame(
                [
                    {
                        "offset": seq,
                        "partition_id": 0,
                        "op": op,
                        "op_seq": seq,
                        "conv_id": conv,
                        "turn_idx": turn,
                        "role": role,
                        "text": "t",
                        "tool": None,
                        "ts": pd.Timestamp(ts),
                        "schema_ver": 2,
                    }
                ]
            ),
            CHANGE_EVENTS_SCHEMA,
        )

    src = create_transcripts_table(spark, str(tmp_path / "srcls"), n_buckets=4)
    v0 = src.current_version()
    roll = create_rollup_table(
        spark, str(tmp_path / "rollls"), src,
        group_cols=["role"], max_cols=["ts"],
    )

    def state():
        return {
            (r["role"], r["n_rows"], r["max_ts"])
            for r in roll.read().filter("op != 'delete'").collect()
        }

    def recompute():
        return {
            (r["role"], r["n"], r["mx"])
            for r in read_final_state(src)
            .groupBy("role")
            .agg(F.count("*").alias("n"), F.max("ts").alias("mx"))
            .collect()
        }

    def converged(timeout=90):
        deadline = time.time() + timeout
        while time.time() < deadline:
            if recompute() == state():
                return True
            time.sleep(0.5)
        raise AssertionError(f"rollup {state()} != recomputed {recompute()}")

    q = rollup_stream(
        spark, src.path, roll, str(tmp_path / "ckls"), ["role"],
        max_cols=["ts"], starting_version=v0,
        trigger_interval="300 milliseconds",
    )
    try:
        apply_changes(src, ev("insert", "A", 10, "user", ts="2024-03-01"), epoch=0)
        apply_changes(src, ev("insert", "B", 20, "user", ts="2024-01-15"), epoch=1)
        assert converged()
        apply_changes(src, ev("delete", "A", 30, "user", ts="2024-03-01"), epoch=2)
        assert converged()
        assert state() == {("user", 1, pd.Timestamp("2024-01-15"))}
    finally:
        q.stop()


def test_cdf_pacing_is_a_hard_granularity_guarantee(spark, tmp_path):
    """Regression for the one red in the r5 full-suite gate: when the
    in-process pacing state is lost (query restart / driver-side reader
    respawn under host load), one batch covers several versions — the old
    reader diffed the whole range at once, attributing every row to the
    endpoint and NETTING AWAY a transient insert+delete (conv B vanished
    from the feed entirely). ``partitions()`` now decomposes any range
    into maxVersionsPerBatch-sized chunks diffed independently, so the
    emitted rows are identical to the paced sequence, deterministically —
    asserted here at the reader level with no streaming trigger at all."""
    from nifi_dicom_spark.sources.table_stream import _CDFStreamReader

    spark.dataSource.register(SnapshotCDFDataSource)
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    apply_changes(table, _ev(spark, conv="A", seq=10, text="a1"), epoch=0)
    v0 = table.current_version()
    apply_changes(table, _ev(spark, conv="B", seq=20, text="b1"), epoch=1)
    apply_changes(table, _ev(spark, conv="A", seq=30, text="a2"), epoch=2)
    apply_changes(table, _ev(spark, op="delete", conv="B", seq=40), epoch=3)
    v_end = table.current_version()
    feed_schema = (
        spark.readStream.format("snapshot_cdf")
        .option("path", table.path)
        .load()
        .schema
    )

    def rows_for(options):
        rdr = _CDFStreamReader({"path": table.path, **options}, feed_schema)
        out = []
        for p in rdr.partitions({"version": v0}, {"version": v_end}):
            for batch in rdr.read(p):  # arrow RecordBatches (vectorized path)
                for d in batch.to_pylist():
                    out.append(
                        (d["conv_id"], d["_change_type"], d["_commit_version"])
                    )
        return sorted(out)

    # paced reader, one oversized batch: exact per-commit attribution,
    # B's insert+delete BOTH present (never netted away)
    paced = rows_for({"maxversionsperbatch": "1"})
    assert paced == sorted(
        [
            ("B", "insert", v0 + 1),
            ("A", "update_preimage", v0 + 2),
            ("A", "update_postimage", v0 + 2),
            ("B", "delete", v_end),
        ]
    ), paced
    # unpaced reader keeps whole-range state-diff semantics: B nets out
    unpaced = rows_for({})
    assert unpaced == sorted(
        [
            ("A", "update_preimage", v_end),
            ("A", "update_postimage", v_end),
        ]
    ), unpaced


def test_cdf_restart_replays_backlog_across_schema_boundaries(spark, tmp_path):
    """Era-aware schema guard: a reader (re)started ABOVE a rename/add
    boundary replays backlog chunks from BELOW it cleanly — historical
    (pre-rename) names coalesce into the current column and later-added
    columns null-fill. Before the era check, a paced restart whose backlog
    spanned any schema boundary failed _guard_schema_drift on every retry
    (a livelock: the restart re-pins the current schema, the old chunks
    still differ)."""
    from nifi_dicom_spark.sources.table_stream import _CDFStreamReader

    spark.dataSource.register(SnapshotCDFDataSource)
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    apply_changes(table, _ev(spark, conv="A", seq=10, text="a1"), epoch=0)
    v0 = table.current_version()
    apply_changes(table, _ev(spark, conv="B", seq=20, text="b1"), epoch=1)
    table.rename_column("text", "body")  # schema boundary inside backlog
    # the wire frame still says 'text' — the apply path aliases it to the
    # table's current name through the rename ledger
    apply_changes(table, _ev(spark, conv="A", seq=30, text="a2"), epoch=2)
    v_end = table.current_version()

    # reader created AFTER the rename (a restarted query): pinned schema
    # carries 'body'
    feed_schema = (
        spark.readStream.format("snapshot_cdf")
        .option("path", table.path)
        .load()
        .schema
    )
    assert "body" in [f.name for f in feed_schema.fields]

    def rows_for(options):
        rdr = _CDFStreamReader({"path": table.path, **options}, feed_schema)
        out = []
        for p in rdr.partitions({"version": v0}, {"version": v_end}):
            for batch in rdr.read(p):
                for d in batch.to_pylist():
                    out.append(
                        (d["conv_id"], d["_change_type"], d["body"])
                    )
        return sorted(out)

    # paced: B's insert (PRE-rename commit, files carry 'text') must emit
    # its payload under the CURRENT name 'body'
    paced = rows_for({"maxversionsperbatch": "1"})
    assert ("B", "insert", "b1") in paced, paced
    assert ("A", "update_postimage", "a2") in paced, paced
    assert ("A", "update_preimage", "a1") in paced, paced
    # unpaced whole-range diff crosses the boundary in one chunk
    unpaced = rows_for({})
    assert ("B", "insert", "b1") in unpaced, unpaced
    assert ("A", "update_postimage", "a2") in unpaced, unpaced


def test_cdf_live_schema_drift_still_fails(spark, tmp_path):
    """The era check must NOT weaken the live-drift contract: a commit
    ABOVE the reader's pinned version that changes the schema still fails
    the query before the offset commits."""
    import pytest as _pytest

    from nifi_dicom_spark.sources.table_stream import _CDFStreamReader

    spark.dataSource.register(SnapshotCDFDataSource)
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    apply_changes(table, _ev(spark, conv="A", seq=10, text="a1"), epoch=0)
    v0 = table.current_version()
    feed_schema = (
        spark.readStream.format("snapshot_cdf")
        .option("path", table.path)
        .load()
        .schema
    )
    rdr = _CDFStreamReader({"path": table.path}, feed_schema)  # pins NOW
    table.rename_column("text", "body")  # live drift: after reader start
    apply_changes(table, _ev(spark, conv="A", seq=30, text="a2"), epoch=1)
    with _pytest.raises(Exception, match="schema changed mid-stream"):
        rdr.partitions(
            {"version": v0}, {"version": table.current_version()}
        )
