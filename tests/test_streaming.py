"""M2: Structured Streaming tail + exactly-once under crash/restart
(SURVEY §2.9 T1/T5; risk register §7.4 #1)."""

from __future__ import annotations

import pytest

from nifi_dicom_spark.fixtures.generator import (
    GeneratorConfig,
    generate_change_events,
    write_event_files,
)
from nifi_dicom_spark.fixtures.oracle import replay_oracle, assert_final_state_equal
from nifi_dicom_spark.operators.apply import create_transcripts_table, read_final_state
from nifi_dicom_spark.streaming.pipeline import CDCPipeline


@pytest.fixture(scope="module")
def event_log():
    cfg = GeneratorConfig(
        seed=21,
        n_conversations=40,
        max_turns=10,
        n_events=3_000,
        duplicate_ratio=0.05,
        late_ratio=0.10,
        malformed_ratio=0.02,
        schema_change_at=1_500,  # mid-stream schema evolution
    )
    return generate_change_events(cfg)


def _pipeline(spark, tmp_path, event_log, n_files=6, **kw):
    ev_dir = str(tmp_path / "events")
    write_event_files(event_log, ev_dir, n_files=n_files)
    table = create_transcripts_table(spark, str(tmp_path / "transcripts"))
    kw.setdefault("quarantine_dir", str(tmp_path / "quarantine"))
    return CDCPipeline(
        spark=spark,
        events_dir=ev_dir,
        table=table,
        checkpoint_dir=str(tmp_path / "checkpoint"),
        metrics_dir=str(tmp_path / "metrics"),
        **kw,
    )


def test_stream_replay_matches_oracle(spark, event_log, tmp_path):
    p = _pipeline(spark, tmp_path, event_log)
    p.run_available()
    assert len(p.epochs_applied) >= 6  # one epoch per file (maxFilesPerTrigger=1)
    assert_final_state_equal(
        read_final_state(p.table).toPandas(), replay_oracle(event_log)
    )
    # lineage metrics: every valid+quarantined event accounted once
    mt = p.read_metrics()
    assert int(mt["n_events"].sum()) == len(event_log)
    assert int(mt["high_watermark_offset"].max()) == int(event_log["offset"].max())

    # quarantine captured the malformed rows (garbage → reject routing)
    bad = spark.read.parquet(str(tmp_path / "quarantine"))
    assert bad.count() == int(mt["n_quarantined"].sum()) > 0


def test_crash_between_merge_and_checkpoint(spark, event_log, tmp_path, read_path):
    """Kill the stream AFTER the table merge of epoch 2 commits but BEFORE
    Spark checkpoints that epoch. On restart Spark replays epoch 2; the
    commit ledger must make the replay a no-op (no double-apply). On the
    ``driver`` path the pipeline has no quarantine directory, so each
    micro-batch is collected as Arrow and merged on the driver."""
    import os

    class Boom(RuntimeError):
        pass

    applied_counts: dict[int, int] = {}

    def bomb(epoch_id, result):
        applied_counts[epoch_id] = applied_counts.get(epoch_id, 0) + int(
            result.merge.applied
        )
        if epoch_id == 2:
            raise Boom("simulated crash after merge, before checkpoint")

    qdir = str(tmp_path / "quarantine") if read_path == "spark" else None
    p = _pipeline(spark, tmp_path, event_log, on_batch=bomb, quarantine_dir=qdir)
    with pytest.raises(Exception):
        p.run_available()

    v_after_crash = p.table.current_version()

    # restart from the same checkpoint, no bomb
    p2 = CDCPipeline(
        spark=spark,
        events_dir=p.events_dir,
        table=p.table,
        checkpoint_dir=p.checkpoint_dir,
        quarantine_dir=p.quarantine_dir,
        metrics_dir=p.metrics_dir,
    )
    p2.run_available()
    # the route taken: Spark's writer leaves a _SUCCESS marker in each
    # commit directory, the driver's pyarrow writer does not
    data = p.table.data_dir
    assert {
        os.path.exists(os.path.join(data, d, "_SUCCESS"))
        for d in os.listdir(data)
        if d.startswith("c-")
    } == {read_path == "spark"}

    # epoch 2 was replayed but skipped by the ledger: version did not grow
    # for the replay itself (only for the remaining epochs)
    hw = p.table.applied_watermarks()
    assert hw, "ledger recorded watermarks"
    last = max(hw.values())
    for pid in hw:
        assert p.table.is_applied(hw[pid], pid)
        assert not p.table.is_applied(last + 1, pid)
    assert p.table.current_version() > v_after_crash

    assert_final_state_equal(
        read_final_state(p.table).toPandas(), replay_oracle(event_log)
    )


def test_rerun_completed_stream_is_noop(spark, event_log, tmp_path):
    p = _pipeline(spark, tmp_path, event_log)
    p.run_available()
    v = p.table.current_version()
    p.run_available()  # no new files → no new epochs
    assert p.table.current_version() == v


def test_deadletter_retry_loop_parks_poison(spark, tmp_path):
    """T7 end-to-end through the production foreachBatch path: quarantined
    events loop back via ``requeue_retryable`` and re-fail, incrementing
    their retry counters each epoch, until ``max_retries`` parks them as
    poison — after which the loop drains (requeue returns 0) and the
    counters stop moving. Valid rows apply exactly once throughout."""
    import pandas as pd

    from nifi_dicom_spark.operators.deadletter import create_deadletter, poison

    # 2 permanently-bad events (null conv_id / negative turn_idx) + 3 valid
    log = pd.DataFrame(
        {
            "offset": [0, 1, 2, 3, 4],
            "partition_id": [0] * 5,
            "op": ["insert"] * 5,
            "op_seq": [1, 1, 1, 1, 1],
            "conv_id": ["A", None, "B", "C", "D"],
            "turn_idx": [0, 0, -7, 0, 0],
            "role": ["user"] * 5,
            "text": ["a", "bad1", "bad2", "c", "d"],
            "tool": [None] * 5,
            "ts": pd.to_datetime(["2024-01-01"] * 5),
            "schema_ver": [2] * 5,
        }
    )
    ev_dir = str(tmp_path / "events")
    write_event_files(log, ev_dir, n_files=1)
    table = create_transcripts_table(spark, str(tmp_path / "transcripts"))
    dl = create_deadletter(spark, str(tmp_path / "dl"))
    max_retries = 3
    p = CDCPipeline(
        spark=spark,
        events_dir=ev_dir,
        table=table,
        checkpoint_dir=str(tmp_path / "ck"),
        quarantine_dir=str(tmp_path / "q"),
        dead_letter=dl,
        max_retries=max_retries,
    )
    p.run_available()
    first = {r["offset"]: r for r in dl.read().collect()}
    assert set(first) == {1, 2} and all(
        r["retry_count"] == 1 for r in first.values()
    )
    assert first[1]["reason"] == "null_key" and first[2]["reason"] == "bad_turn_idx"

    # the penalize-then-retry loop: requeue → reprocess → re-quarantine
    rounds = 0
    while (n := p.requeue_retryable()) > 0:
        assert n == 2  # both bad events, deduped by offset, never the valid 3
        p.run_available()
        rounds += 1
        assert rounds <= max_retries + 1, "retry loop failed to terminate"
    # poison parked at exactly max_retries — counters stopped moving
    final = {r["offset"]: r for r in dl.read().collect()}
    assert {r["retry_count"] for r in final.values()} == {max_retries}
    assert {r["offset"] for r in poison(dl, max_retries).collect()} == {1, 2}
    assert final[1]["first_epoch"] == 0 and final[1]["last_epoch"] >= 1
    # one more drained pass: nothing requeued, nothing re-counted
    assert p.requeue_retryable() == 0
    p.run_available()
    assert {
        r["retry_count"] for r in dl.read().collect()
    } == {max_retries}
    # valid rows applied exactly once, despite the extra retry epochs
    final_state = read_final_state(table).toPandas()
    assert sorted(final_state["conv_id"]) == ["A", "C", "D"]
    assert sorted(final_state["text"]) == ["a", "c", "d"]


def test_requeue_cap_bounds_poison_flood(spark, tmp_path):
    """A malformed-input flood (upstream schema break → every event
    quarantined) must not pull the whole quarantine backlog into driver
    memory on requeue: each ``requeue_retryable`` call pulls at most
    ``max_requeue_per_epoch`` rows (lowest offsets first), defers the rest
    to later calls, and the loop still drains without losing any retryable
    event or double-counting any retry."""
    import pandas as pd

    from nifi_dicom_spark.operators.deadletter import create_deadletter, poison

    n_bad, n_ok, cap, max_retries = 100_000, 100, 10_000, 2
    n = n_bad + n_ok
    log = pd.DataFrame(
        {
            "offset": range(n),
            "partition_id": [0] * n,
            "op": ["insert"] * n,
            "op_seq": [1] * n,
            # the flood: first n_bad offsets have a null key (permanently bad)
            "conv_id": [None] * n_bad + [f"C{i}" for i in range(n_ok)],
            "turn_idx": [0] * n,
            "role": ["user"] * n,
            "text": [f"t{i}" for i in range(n)],
            "tool": [None] * n,
            "ts": pd.to_datetime(["2024-01-01"] * n),
            "schema_ver": [2] * n,
        }
    )
    ev_dir = str(tmp_path / "events")
    write_event_files(log, ev_dir, n_files=1)
    table = create_transcripts_table(spark, str(tmp_path / "transcripts"))
    dl = create_deadletter(spark, str(tmp_path / "dl"))
    p = CDCPipeline(
        spark=spark,
        events_dir=ev_dir,
        table=table,
        checkpoint_dir=str(tmp_path / "ck"),
        quarantine_dir=str(tmp_path / "q"),
        dead_letter=dl,
        max_retries=max_retries,
        max_requeue_per_epoch=cap,
    )
    p.run_available()
    assert dl.read().count() == n_bad  # whole flood quarantined once

    requeued: list[int] = []
    while (got := p.requeue_retryable()) > 0:
        assert got <= cap  # the driver pull is bounded per call
        requeued.append(got)
        p.run_available()
        assert len(requeued) <= n_bad // cap + 2, "requeue loop failed to drain"
    # the first calls saturate the cap; deferral loses nothing: every bad
    # event was requeued exactly once before parking at max_retries=2
    assert requeued[0] == cap
    assert sum(requeued) == n_bad
    assert poison(dl, max_retries).count() == n_bad
    # valid rows all applied despite the flood
    assert read_final_state(table).count() == n_ok


def test_foreachbatch_clone_write_attribution(spark, tmp_path):
    """Regression: inside ``foreachBatch`` every DataFrame is bound to a
    per-micro-batch CLONED SparkSession. A read-modify-write merge whose
    join on the key produces an ENSURE_REQUIREMENTS exchange with
    numPartitions == n_buckets (shuffle.partitions == n_buckets here) gets
    the write's own repartition elided, and AQE may coalesce the surviving
    exchange. When files were placed by partition index, that attributed
    rows to the wrong buckets — silent row loss at the next compaction (how
    the dead-letter table once lost 7/8 of its rows). Files are now placed
    by each row's bucket value, whatever the session's AQE settings.
    Asserts per-bucket attribution directly: every bucket-pruned
    read returns exactly the keys that hash to it, and compaction preserves
    the full count."""
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    schema = T.StructType(
        [
            T.StructField("offset", T.LongType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("n_seen", T.IntegerType(), False),
        ]
    )
    table = SnapshotTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=["offset"], n_buckets=n_buckets
    )
    n = 400
    pd_events = __import__("pandas").DataFrame(
        {"offset": range(n), "v": [f"x{i}" for i in range(n)]}
    )
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    pd_events.to_parquet(str(src_dir / "b0.parquet"), index=False)

    def rmw(batch_df, epoch_id):
        # dl-style read-modify-write: join against the table's own read on
        # the key → hash(offset, n_buckets) partitioning upstream of the
        # merge's repartition → the elision scenario
        prior = table.read().select(
            "offset", F.col("n_seen").alias("_prior")
        )
        entries = (
            batch_df.select(F.col("offset").cast("long").alias("offset"))
            .dropDuplicates(["offset"])
            .join(prior, on="offset", how="left")
            .select(
                "offset",
                F.lit("update").alias("op"),
                F.lit(int(epoch_id)).cast("long").alias("op_seq"),
                (F.coalesce(F.col("_prior"), F.lit(0)) + 1)
                .cast("int")
                .alias("n_seen"),
            )
        )
        table.merge(entries, op_col="op", policy="versioned_upsert")

    q = (
        spark.readStream.schema("offset long, v string")
        .parquet(str(src_dir))
        .writeStream.foreachBatch(rmw)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert table.read().count() == n
    # direct attribution check: bucket-pruned reads return exactly the keys
    # whose murmur3 hash lands in that bucket
    expect = {
        r["offset"]: r["b"]
        for r in spark.range(n)
        .select(
            F.col("id").alias("offset"),
            F.pmod(F.hash(F.col("id")), F.lit(n_buckets)).alias("b"),
        )
        .collect()
    }
    for b in range(n_buckets):
        got = sorted(r["offset"] for r in table.read(buckets=[b]).collect())
        want = sorted(k for k, v in expect.items() if v == b)
        assert got == want, f"bucket {b}: misattributed rows"
    # compaction over the (correctly attributed) deltas loses nothing
    table.compact()
    assert table.read().count() == n


def test_gap_timeout_conversation_completeness(spark, tmp_path):
    """T2: applyInPandasWithState gap-timeout — a conversation completes only
    after `gap` of event-time quiescence; later traffic advances the
    watermark and flushes it (StudyReceiver.processStudyIfComplete analog)."""
    import os

    import pandas as pd

    from nifi_dicom_spark.streaming.stateful import conversation_completeness

    ev_dir = tmp_path / "events"
    os.makedirs(ev_dir)
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    early = pd.DataFrame(
        {
            "conv_id": ["A", "A", "B"],
            "ts": [t0, t0 + pd.Timedelta(seconds=10), t0 + pd.Timedelta(seconds=5)],
        }
    )
    # watermark delay is 2h, gap 60s: watermark = max_ts - 2h, so an event
    # 2h2m ahead pushes the watermark past A/B's 60s deadlines while a
    # straggler minutes behind still passes Spark's late-input filter —
    # the window where the post-completion tombstone is reachable
    late = pd.DataFrame(
        {"conv_id": ["C"], "ts": [t0 + pd.Timedelta(hours=2, minutes=2)]}
    )
    keeper = pd.DataFrame(  # A/B time out while this batch runs
        {"conv_id": ["D"], "ts": [t0 + pd.Timedelta(hours=2, minutes=3)]}
    )
    straggler = pd.DataFrame(  # late A event AFTER A's completion row
        {"conv_id": ["A"], "ts": [t0 + pd.Timedelta(minutes=4)]}
    )
    flusher = pd.DataFrame(  # advances watermark past the straggler deadline
        {"conv_id": ["E"], "ts": [t0 + pd.Timedelta(hours=2, minutes=10)]}
    )
    final = pd.DataFrame(  # one more batch so the superseding timeout fires
        {"conv_id": ["F"], "ts": [t0 + pd.Timedelta(hours=2, minutes=20)]}
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("conv_id", pa.string()), ("ts", pa.timestamp("us"))])
    for i, pdf in enumerate((early, late, keeper, straggler, flusher, final)):
        path = ev_dir / f"part-{i:03d}.parquet"
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path
        )
        # the file source takes files in mtime order, and files written in
        # the same millisecond tie in listing order: give each its own second
        os.utime(path, (1_700_000_000 + i,) * 2)

    src = (
        spark.readStream.schema("conv_id string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ev_dir))
    )
    out = conversation_completeness(src, gap_seconds=60, watermark_delay="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("completions")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # availableNow: terminates deterministically
    all_rows = spark.sql("select * from completions").collect()
    by_conv: dict = {}
    for r in all_rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    # C/D/E/F stay within their gaps (the watermark never reaches their
    # deadlines under the 2h delay); only A and B complete
    assert set(by_conv) == {"A", "B"}, all_rows
    assert [r["n_events"] for r in by_conv["B"]] == [1]
    # A completed at n=2, then the straggler landed inside the tombstone
    # window -> ONE superseding row with the CUMULATIVE count (3, not 1)
    a_counts = sorted(r["n_events"] for r in by_conv["A"])
    assert a_counts == [2, 3], all_rows
    assert all(r["completed"] for r in by_conv["A"])
    assert by_conv["A"][0]["last_ts"] == (
        t0 + pd.Timedelta(seconds=10)
    ).to_pydatetime()

    # regression: the kernel receives NAIVE session-zone wall times but
    # setTimeoutTimestamp/watermark are UTC epoch ms — in a UTC-8 session
    # the unconverted deadline sat 8h behind the watermark, so EVERY
    # conversation (C/D/E/F included) completed prematurely at the next
    # batch regardless of the gap. Same inputs, non-UTC session, same
    # completion set.
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        src_la = (
            spark.readStream.schema("conv_id string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(ev_dir))
        )
        out_la = conversation_completeness(
            src_la, gap_seconds=60, watermark_delay="2 hours"
        )
        q2 = (
            out_la.writeStream.format("memory")
            .queryName("completions_la")
            .option("checkpointLocation", str(tmp_path / "ck_la"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()  # availableNow: terminates deterministically
        la_rows = spark.sql("select * from completions_la").collect()
        la_by_conv: dict = {}
        for r in la_rows:
            la_by_conv.setdefault(r["conv_id"], []).append(r)
        assert set(la_by_conv) == {"A", "B"}, la_rows
        assert sorted(
            r["n_events"] for r in la_by_conv["A"]
        ) == [2, 3], la_rows
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_streaming_incremental_dedup_exactly_once(spark, tmp_path):
    """incremental_dedup as a foreachBatch consumer: per-epoch commit keys
    make the signature-store inserts exactly-once across a restart-replay,
    and the re-run epoch returns byte-identical decisions (self-matches are
    ignored). This is the ingest-dedup half of the CDC engine driven by the
    real streaming machinery."""
    import os

    from pyspark.sql import functions as F

    from nifi_dicom_spark.operators.incremental_dedup import (
        create_signature_store,
        incremental_dedup,
    )

    docs_dir = str(tmp_path / "docs")
    os.makedirs(docs_dir)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    batches = [
        [(1, base), (2, "completely different text one two three")],
        [(10, base), (11, "fresh unseen content here today")],
        [(20, base), (21, "fresh unseen content here today"), (22, "third new thing")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(
            f"{docs_dir}/b{i}", mode="overwrite"
        )
    store = create_signature_store(spark, str(tmp_path / "sigs"))
    decisions: dict[int, list] = {}

    def handle(batch_df, epoch_id):
        out = incremental_dedup(
            store, batch_df, "text", "doc_id", commit_keys=[(epoch_id, 0)]
        )
        decisions[epoch_id] = sorted(
            (r["id"], r["is_unique"], r["matched_id"]) for r in out.collect()
        )

    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir + "/b*")
    )
    q = (
        src.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(decisions) == 3
    flat = {i: d for e in decisions.values() for (i, u, m) in e for d in [(u, m)]}
    assert flat["1"] == (True, None) and flat["2"] == (True, None)
    assert flat["10"] == (False, "1") and flat["11"] == (True, None)
    assert flat["20"] == (False, "1") and flat["22"] == (True, None)
    assert flat["21"] == (False, "11")  # dup of the earlier epoch's unique
    n_store = store.read().count()

    # crash-replay: wipe the checkpoint so EVERY epoch re-runs against the
    # already-populated store; decisions must be identical and the ledger
    # must skip every insert
    import shutil

    shutil.rmtree(str(tmp_path / "ckpt"))
    replay: dict[int, list] = {}

    def handle2(batch_df, epoch_id):
        out = incremental_dedup(
            store, batch_df, "text", "doc_id", commit_keys=[(epoch_id, 0)]
        )
        replay[epoch_id] = sorted(
            (r["id"], r["is_unique"], r["matched_id"]) for r in out.collect()
        )

    q2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir + "/b*")
        .writeStream.foreachBatch(handle2)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert replay == decisions
    assert store.read().count() == n_store
