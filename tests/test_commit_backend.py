"""Commit-protocol tests: the pluggable CommitBackend contract, two-writer
fault injection (writers killed before/after the atomic publish, stalled
writers racing repair), object-store (conditional-put) semantics, the
vacuum time-travel guard and the ledger strict mode.

Reference behavior being replaced: embedded Derby's transactional MERGE
store gave the reference atomic commits for free
(``DeidentificationController.java:93-123``); at the engine's 100-TB target
the table lives on an object store, so atomicity must come from the
conditional-put contract these tests pin down."""

from __future__ import annotations

import json
import os
import threading

import pandas as pd
import pytest

from nifi_dicom_spark.fixtures.generator import GeneratorConfig, generate_change_events
from nifi_dicom_spark.fixtures.oracle import assert_final_state_equal, replay_oracle
from nifi_dicom_spark.lake import (
    CommitConflict,
    ConditionalPutCommitBackend,
    InMemoryKVStore,
    LedgerRegression,
    PosixCommitBackend,
    VersionVacuumedError,
)
from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA
from nifi_dicom_spark.operators.apply import (
    apply_changes,
    create_transcripts_table,
    read_final_state,
)


def _spark_events(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf, schema=CHANGE_EVENTS_SCHEMA)


@pytest.fixture(scope="module")
def tiny_log():
    cfg = GeneratorConfig(
        seed=23, n_conversations=12, max_turns=5, n_events=400,
        duplicate_ratio=0.1, late_ratio=0.1, malformed_ratio=0.0,
    )
    return generate_change_events(cfg)


# --------------------------------------------------------------- POSIX races


def test_posix_two_writer_race_single_winner(tmp_path):
    be = PosixCommitBackend(str(tmp_path / "meta"))
    be.initialize()
    assert be.try_commit(0, b'{"version": 0}')
    wins = []
    barrier = threading.Barrier(2)

    def writer(tag: bytes):
        barrier.wait()
        if be.try_commit(1, b'{"version": 1, "by": "' + tag + b'"}'):
            wins.append(tag)

    ts = [threading.Thread(target=writer, args=(t,)) for t in (b"a", b"b")]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert len(wins) == 1  # exactly one winner per version
    assert be.current_version() == 1
    assert wins[0] in be.load_manifest(1)


def test_posix_writer_killed_before_link_published_nothing(tmp_path):
    """Fault injection: writer A writes its temp payload but dies BEFORE
    the link (the single-step protocol's only crash point). It has
    published nothing; writer B commits the same version cleanly, and the
    aged temp litter is swept by repair()."""
    be = PosixCommitBackend(str(tmp_path / "meta"))
    be.initialize()
    assert be.try_commit(0, b'{"version": 0}')
    # what a dead writer leaves behind: a fully written temp, never linked
    litter = os.path.join(be.meta_dir, ".v1.deadbeef.tmp")
    with open(litter, "wb") as f:
        f.write(b'{"version": 1, "by": "dead-writer"}')
    os.utime(litter, (1, 1))  # aged past the sweep guard
    assert be.current_version() == 0  # the dead writer published nothing
    assert be.try_commit(1, b'{"version": 1, "by": "writer-b"}')
    assert be.current_version() == 1
    assert b"writer-b" in be.load_manifest(1)
    assert be.repair() == 1  # the aged litter is swept
    assert not os.path.exists(litter)
    assert be.current_version() == 1  # sweeping never touches manifests


def test_posix_writer_killed_after_link_is_committed(tmp_path):
    """A writer dying just AFTER the link (before returning True to its
    caller) HAS committed: the manifest is complete by construction, a
    competing writer loses, and repair never deletes it — the retired
    two-step protocol 'repaired away' exactly this state."""
    be = PosixCommitBackend(str(tmp_path / "meta"))
    be.initialize()
    assert be.try_commit(0, b'{"version": 0}')
    # simulate the post-link crash: published manifest + un-unlinked temp
    dead_tmp = os.path.join(be.meta_dir, ".v1.cafe.tmp")
    with open(dead_tmp, "wb") as f:
        f.write(b'{"version": 1, "by": "dead-writer"}')
    os.link(dead_tmp, os.path.join(be.meta_dir, "v1.json"))
    os.utime(dead_tmp, (1, 1))
    assert be.current_version() == 1  # the commit is real
    assert not be.try_commit(1, b'{"version": 1, "by": "intruder"}')
    assert b"dead-writer" in be.load_manifest(1)
    be.repair()  # sweeps the temp name...
    assert b"dead-writer" in be.load_manifest(1)  # ...manifest untouched


def test_posix_stalled_writer_cannot_double_commit(tmp_path):
    """The stall race the two-step protocol lost: writer A stalls longer
    than the age guard mid-commit, a concurrent repair sweeps its temp
    file, writer B commits the version. A must LOSE (False), not
    double-commit — exactly one True per version even under stalls."""
    import unittest.mock as mock

    be = PosixCommitBackend(str(tmp_path / "meta"), orphan_age_s=0.0)
    be.initialize()
    assert be.try_commit(0, b'{"version": 0}')

    real_link = os.link
    stall = {"done": False}

    def stalled_link(src, dst, **kw):
        # A is 'stalled' between payload write and link: a repair sweeps
        # its temp (age 0 = everything stale) and B commits the version
        if not stall["done"]:
            stall["done"] = True
            be.repair()
            with mock.patch("os.link", real_link):
                assert be.try_commit(1, b'{"version": 1, "by": "writer-b"}')
        return real_link(src, dst, **kw)

    with mock.patch("os.link", side_effect=stalled_link):
        won = be.try_commit(1, b'{"version": 1, "by": "writer-a"}')
    assert not won  # A lost safely
    assert b"writer-b" in be.load_manifest(1)  # B's commit is intact


def test_posix_initialize_rejects_existing_table_but_not_litter(tmp_path):
    """initialize() must refuse a location holding committed manifests and
    accept one holding only dead creators' temp litter (a dead creator
    published NOTHING under the single-step protocol)."""
    meta = str(tmp_path / "meta")
    os.makedirs(meta)
    with open(os.path.join(meta, ".v0.feed.tmp"), "wb") as f:
        f.write(b'{"version": 0, "by": "dead-creator"}')
    be = PosixCommitBackend(meta)
    be.initialize()  # litter-only location is reusable
    assert be.try_commit(0, b'{"version": 0, "by": "second-creator"}')
    assert be.current_version() == 0
    with pytest.raises(FileExistsError):
        PosixCommitBackend(meta).initialize()  # a committed table now exists


# ----------------------------------------------------- conditional-put store


class _DiesAfterPut(InMemoryKVStore):
    """Fault injector: the process 'dies' immediately after the conditional
    put lands (network op done, ack never processed) — the object-store
    analog of dying just after the POSIX link."""

    def __init__(self):
        super().__init__()
        self.kill_next = False

    def put_if_absent(self, key: str, payload: bytes) -> bool:
        won = super().put_if_absent(key, payload)
        if won and self.kill_next:
            self.kill_next = False
            raise RuntimeError("simulated writer death after put")
        return won


def test_conditional_put_no_partial_state_after_death():
    """Unlike POSIX, the conditional-put commit is ONE atomic op: a writer
    dying 'mid-commit' has either published a complete manifest or nothing.
    The surviving writer observes exactly one of those two worlds."""
    kv = _DiesAfterPut()
    be = ConditionalPutCommitBackend(kv, prefix="t1/")
    be.initialize()
    assert be.try_commit(0, b'{"version": 0}')
    kv.kill_next = True
    with pytest.raises(RuntimeError, match="simulated writer death"):
        be.try_commit(1, b'{"version": 1, "by": "dead-writer"}')
    # writer B: the dead writer's commit is COMPLETE (put landed) — B loses
    # version 1, reads the intact manifest, and proceeds to version 2
    assert be.current_version() == 1
    assert not be.try_commit(1, b'{"version": 1, "by": "writer-b"}')
    assert json.loads(be.load_manifest(1))["by"] == "dead-writer"
    assert be.repair() == 0  # nothing partial can exist, by construction
    assert be.try_commit(2, b'{"version": 2, "by": "writer-b"}')
    assert be.current_version() == 2


def test_conditional_put_interleaved_writers_one_winner_per_version():
    kv = InMemoryKVStore()
    be = ConditionalPutCommitBackend(kv, prefix="t2/")
    be.initialize()
    assert be.try_commit(0, b"{}")
    results = {}
    barrier = threading.Barrier(2)

    def writer(tag: str):
        barrier.wait()
        v = be.current_version() + 1
        won = be.try_commit(v, json.dumps({"by": tag}).encode())
        if not won:  # lost the race → retry at the next version (OCC loop)
            won = be.try_commit(v + 1, json.dumps({"by": tag}).encode())
            v = v + 1
        results[tag] = (v, won)

    ts = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b")]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert all(won for _, won in results.values())
    assert results["a"][0] != results["b"][0]  # serialized into distinct versions
    assert be.current_version() == max(v for v, _ in results.values())


def test_snapshot_table_full_cdc_flow_on_conditional_put_backend(
    spark, tiny_log, tmp_path
):
    """The MoR merge path must be byte-identical across backends: full CDC
    replay (multi-epoch, idempotent replay, compaction) against the
    object-store backend, final state vs the pandas oracle."""
    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.model import KEY_COLUMNS
    from nifi_dicom_spark.operators.apply import STORED_COLUMNS

    from pyspark.sql import types as T

    by_name = {f.name: f for f in CHANGE_EVENTS_SCHEMA.fields}
    stored = T.StructType([by_name[c] for c in STORED_COLUMNS])
    kv = InMemoryKVStore()
    table = SnapshotTable.create(
        spark, str(tmp_path / "t"), stored, key_cols=KEY_COLUMNS, n_buckets=16,
        backend=ConditionalPutCommitBackend(kv, prefix="transcripts/"),
    )
    half = len(tiny_log) // 2
    r0 = apply_changes(table, _spark_events(spark, tiny_log.iloc[:half]), epoch=0)
    r1 = apply_changes(table, _spark_events(spark, tiny_log.iloc[half:]), epoch=1)
    assert r0.merge.applied and r1.merge.applied and r1.merge.mode == "mor"
    # replayed epoch is an idempotent no-op through the same ledger
    r0b = apply_changes(table, _spark_events(spark, tiny_log.iloc[:half]), epoch=0)
    assert not r0b.merge.applied and r0b.merge.skipped_commit_keys > 0
    table.compact()
    assert_final_state_equal(
        read_final_state(table).toPandas(), replay_oracle(tiny_log)
    )
    # reload through the backend and the version history is intact
    t2 = SnapshotTable.load(
        spark, str(tmp_path / "t"),
        backend=ConditionalPutCommitBackend(kv, prefix="transcripts/"),
    )
    ops = [h["operation"] for h in t2.history()]
    assert ops[0] == "create" and "merge" in ops


def test_commit_conflict_surfaces_from_snapshot_table(spark, tmp_path):
    """A lost race at the table level raises CommitConflict (caller retries
    on a fresh manifest) — no silent overwrite."""
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    table = SnapshotTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=["k"], n_buckets=4
    )
    # another writer steals the next version; committing it again conflicts
    m = table.manifest()
    stolen = dict(m, version=m["version"] + 1, parent=m["version"])
    table._try_commit(stolen)
    with pytest.raises(CommitConflict):
        table._try_commit(stolen)


# --------------------------------------------------- optimistic concurrency


def _mini_table(spark, path, n_buckets=8):
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
    return (
        SnapshotTable.create(spark, path, schema, key_cols=["k"], n_buckets=n_buckets),
        schema,
    )


def _rows(spark, schema, keys, tag, seq=1):
    return spark.createDataFrame(
        [(k, "update", seq, i, f"{tag}-{k}") for i, k in enumerate(keys)],
        schema=schema,
    )


def _keys_by_bucket(spark, n_buckets, want=2):
    """Distinct murmur3 buckets → one key each (driver-side probe)."""
    from pyspark.sql import functions as F

    rows = (
        spark.range(200)
        .select(
            F.concat(F.lit("key-"), F.col("id")).alias("k"),
            F.pmod(F.hash(F.concat(F.lit("key-"), F.col("id"))), n_buckets).alias("b"),
        )
        .collect()
    )
    seen: dict[int, str] = {}
    for r in rows:
        seen.setdefault(r["b"], r["k"])
        if len(seen) >= want:
            break
    buckets = list(seen)
    return [seen[b] for b in buckets[:want]], buckets[:want]


def test_concurrent_disjoint_merges_validate_and_rebase(spark, tmp_path):
    """Two writers racing commits over DISJOINT buckets both succeed: the
    loser's bucket files stay valid, its manifest is rebuilt on the
    winner's (validate-and-rebase), and the commits serialize into
    consecutive versions — the Iceberg optimistic-retry semantics."""
    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    table, schema = _mini_table(spark, str(tmp_path / "t"))
    (k_a, k_b), _ = _keys_by_bucket(spark, 8, want=2)

    competitor = SnapshotTable(spark, table.path)  # second handle, same table
    injected = {"done": False}

    class RacingTable(SnapshotTable):
        def _try_commit(self, manifest):
            if not injected["done"]:
                injected["done"] = True
                # another writer commits to a DIFFERENT bucket between our
                # manifest read and our commit
                competitor.merge(
                    _rows(spark, schema, [k_b], "writer-b"),
                    policy="versioned_upsert",
                    commit_keys=[(1, 1)],
                )
            return super()._try_commit(manifest)

    racer = RacingTable(spark, table.path)
    stats = racer.merge(
        _rows(spark, schema, [k_a], "writer-a"),
        policy="versioned_upsert",
        commit_keys=[(1, 0)],
    )
    assert stats.applied
    final = {r["k"]: r["v"] for r in table.read().collect()}
    assert final == {k_a: f"writer-a-{k_a}", k_b: f"writer-b-{k_b}"}
    # both commits landed as consecutive versions; ledger merged
    assert table.current_version() == 2
    assert table.applied_watermarks() == {0: 1, 1: 1}


def test_concurrent_same_bucket_merge_conflicts(spark, tmp_path):
    """A racing commit that touched OUR bucket invalidates the in-flight
    reduce — the loser must get ConcurrentWriteConflict, never silently
    clobber the winner's rows."""
    import pytest as _pytest

    from nifi_dicom_spark.lake.snapshot_table import (
        ConcurrentWriteConflict,
        SnapshotTable,
    )

    table, schema = _mini_table(spark, str(tmp_path / "t"))
    (k_a, _k_b), _ = _keys_by_bucket(spark, 8, want=2)
    competitor = SnapshotTable(spark, table.path)
    injected = {"done": False}

    class RacingTable(SnapshotTable):
        def _try_commit(self, manifest):
            if not injected["done"]:
                injected["done"] = True
                competitor.merge(
                    _rows(spark, schema, [k_a], "writer-b", seq=9),
                    policy="versioned_upsert",
                )
            return super()._try_commit(manifest)

    racer = RacingTable(spark, table.path)
    with _pytest.raises(ConcurrentWriteConflict, match="bucket"):
        racer.merge(
            _rows(spark, schema, [k_a], "writer-a"), policy="versioned_upsert"
        )
    # the winner's data is intact; a plain re-merge then applies cleanly
    assert {r["v"] for r in table.read().collect()} == {f"writer-b-{k_a}"}
    table.merge(
        _rows(spark, schema, [k_a], "writer-a", seq=10), policy="versioned_upsert"
    )
    assert {r["v"] for r in table.read().collect()} == {f"writer-a-{k_a}"}


def test_concurrent_commit_key_replay_conflicts(spark, tmp_path):
    """A racer that applied OUR commit keys (second writer violating the
    single-writer stream contract) must surface as a conflict, not a silent
    'already applied' skip that drops our different data."""
    import pytest as _pytest

    from nifi_dicom_spark.lake.snapshot_table import (
        ConcurrentWriteConflict,
        SnapshotTable,
    )

    table, schema = _mini_table(spark, str(tmp_path / "t"))
    (k_a, k_b), _ = _keys_by_bucket(spark, 8, want=2)
    competitor = SnapshotTable(spark, table.path)
    injected = {"done": False}

    class RacingTable(SnapshotTable):
        def _try_commit(self, manifest):
            if not injected["done"]:
                injected["done"] = True
                # different bucket, but SAME (epoch, partition) commit key
                competitor.merge(
                    _rows(spark, schema, [k_b], "writer-b"),
                    policy="versioned_upsert",
                    commit_keys=[(5, 0)],
                )
            return super()._try_commit(manifest)

    racer = RacingTable(spark, table.path)
    with _pytest.raises(ConcurrentWriteConflict, match="commit keys"):
        racer.merge(
            _rows(spark, schema, [k_a], "writer-a"),
            policy="versioned_upsert",
            commit_keys=[(5, 0)],
        )


# ------------------------------------------------------------- vacuum guard


def test_vacuum_guard_and_history_flags(spark, tiny_log, tmp_path):
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=8)
    third = len(tiny_log) // 3
    apply_changes(table, _spark_events(spark, tiny_log.iloc[:third]), epoch=0)
    apply_changes(table, _spark_events(spark, tiny_log.iloc[third: 2 * third]), epoch=1)
    # the compaction unreferences epochs 0-1's delta files, so the two
    # retained versions (compaction, epoch 2) leave them to vacuum
    table.compact()
    apply_changes(table, _spark_events(spark, tiny_log.iloc[2 * third:]), epoch=2)
    cur = table.current_version()
    assert cur >= 3
    removed = table.vacuum(keep_versions=2, min_file_age_s=0)
    assert removed > 0
    min_ret = table.min_retained_version()
    assert min_ret == cur - 1
    # vacuumed version: clear checked error, not a mid-scan crash
    with pytest.raises(VersionVacuumedError, match="vacuumed"):
        table.read(version=min_ret - 1)
    # retained versions still read; current unaffected
    assert table.read(version=cur).count() == table.read().count()
    hist = table.history()
    assert [h["vacuumed"] for h in hist] == [h["version"] < min_ret for h in hist]
    # table_changes: retained→current works, vacuumed base raises
    from nifi_dicom_spark.operators.diff import table_changes

    assert table_changes(table, from_version=min_ret).count() >= 0
    with pytest.raises(VersionVacuumedError):
        table_changes(table, from_version=min_ret - 1).count()
    # vacuum is monotonic: a later vacuum never lowers the watermark
    table.vacuum(keep_versions=10_000)
    assert table.min_retained_version() == min_ret


def test_vacuum_age_guard_spares_inflight_writer_files(
    spark, tiny_log, tmp_path
):
    """An OCC writer mid-merge has written bucket files that no manifest
    references yet; vacuum's default min_file_age_s must not delete them
    (its commit would otherwise publish dangling paths). Old unreferenced
    files are still collected."""
    import os

    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=8)
    half = len(tiny_log) // 2
    apply_changes(table, _spark_events(spark, tiny_log.iloc[:half]), epoch=0)
    apply_changes(table, _spark_events(spark, tiny_log.iloc[half:]), epoch=1)

    # simulate a concurrent writer's freshly written, not-yet-committed file
    inflight_dir = os.path.join(table.data_dir, "c-inflight00000")
    os.makedirs(inflight_dir)
    inflight = os.path.join(inflight_dir, "part-00000-w.snappy.parquet")
    with open(inflight, "wb") as f:
        f.write(b"PAR1 pending writer bytes")

    # and a genuinely orphaned OLD file (crashed writer from long ago)
    old = os.path.join(inflight_dir, "part-00001-dead.snappy.parquet")
    with open(old, "wb") as f:
        f.write(b"PAR1 stale")
    ancient = 1_000_000_000.0
    os.utime(old, (ancient, ancient))

    table.vacuum(keep_versions=1)  # default age guard
    assert os.path.exists(inflight), "young pre-commit file must survive"
    assert not os.path.exists(old), "aged orphan must be collected"

    table.vacuum(keep_versions=1, min_file_age_s=0)
    assert not os.path.exists(inflight)


def test_vacuum_removes_writer_litter_and_prunes_commit_dirs(
    spark, tiny_log, tmp_path, monkeypatch
):
    """vacuum() leaves no directory under ``data/`` without a referenced
    data file. Spark writes a ``.<name>.crc`` checksum next to every data
    file and ``_SUCCESS`` (with its own checksum) in every commit
    directory; the checksum dies with its data file, and a commit
    directory whose data files are all gone is pruned with that litter and
    its empty ``b=N/`` directories. Driver-written compaction directories,
    which hold neither, are pruned the same way. The count returned is
    data files only, and ``read()`` is unchanged."""
    from nifi_dicom_spark.lake import snapshot_table

    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=2)
    quarter = len(tiny_log) // 4
    parts = [tiny_log.iloc[i * quarter: (i + 1) * quarter] for i in range(4)]

    def commit_dirs():
        return {
            rel.split(os.sep)[0]
            for rels in table.manifest()["files"].values()
            for rel in rels
        }

    apply_changes(table, _spark_events(spark, parts[0]), epoch=0)
    apply_changes(table, _spark_events(spark, parts[1]), epoch=1)
    with monkeypatch.context() as mp:  # a Spark-written compaction
        mp.setattr(snapshot_table, "DRIVER_READ_MAX_BYTES", 0)
        table.compact()
    (spark_dir,) = commit_dirs()
    assert os.path.exists(os.path.join(table.data_dir, spark_dir, "_SUCCESS"))
    # two driver-written compactions: the second unreferences the first
    apply_changes(table, _spark_events(spark, parts[2]), epoch=2)
    table.compact()
    (driver_dir,) = commit_dirs()
    assert not os.path.exists(os.path.join(table.data_dir, driver_dir, "_SUCCESS"))
    apply_changes(table, _spark_events(spark, parts[3]), epoch=3)
    table.compact()
    m = table.manifest()
    assert set(m["files"]) == {"0", "1"} and not m["delta_files"]
    assert commit_dirs().isdisjoint({spark_dir, driver_dir})
    referenced = {rel for rels in m["files"].values() for rel in rels}

    def data_files():
        return {
            os.path.relpath(os.path.join(r, fn), table.data_dir)
            for r, _d, fns in os.walk(table.data_dir)
            for fn in fns
            if fn.endswith(".parquet")
        }

    before = sorted(map(tuple, table.read().collect()))
    stale = data_files() - referenced
    assert table.vacuum(keep_versions=1, min_file_age_s=0) == len(stale)
    assert data_files() == referenced
    for r, _d, _fns in os.walk(table.data_dir):
        if r == table.data_dir:
            continue
        rel_dir = os.path.relpath(r, table.data_dir) + os.sep
        assert any(rel.startswith(rel_dir) for rel in referenced), (
            f"{rel_dir} holds no referenced data file: {sorted(os.listdir(r))}"
        )
    assert sorted(map(tuple, table.read().collect())) == before


# ------------------------------------------------------------ ledger strict


def test_ledger_replay_modes(spark, tiny_log, tmp_path):
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=8)
    ev = _spark_events(spark, tiny_log)
    apply_changes(table, ev, epoch=5)
    from nifi_dicom_spark.operators.apply import STORED_COLUMNS
    from nifi_dicom_spark.operators.routing import route_events

    src = route_events(ev)[0].select(*STORED_COLUMNS)
    pids = [int(p) for p in tiny_log["partition_id"].unique()]
    # default: silent skip (the exactly-once replay contract)
    stats = table.merge(
        src, policy="versioned_upsert", commit_keys=[(5, pids[0])]
    )
    assert not stats.applied and stats.skipped_commit_keys == 1
    # warn mode: same outcome, loud
    with pytest.warns(UserWarning, match="high-watermark"):
        stats = table.merge(
            src, policy="versioned_upsert",
            commit_keys=[(4, pids[0])], on_replayed="warn",
        )
    assert not stats.applied
    # strict mode: an out-of-order epoch is an error, not silent loss
    with pytest.raises(LedgerRegression, match="high-watermark"):
        table.merge(
            src, policy="versioned_upsert",
            commit_keys=[(3, pids[0])], on_replayed="error",
        )


def test_apply_changes_dead_letter_requires_epoch(spark, tiny_log, tmp_path):
    from nifi_dicom_spark.operators.deadletter import create_deadletter

    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=8)
    dl = create_deadletter(spark, str(tmp_path / "dl"))
    with pytest.raises(ValueError, match="dead_letter requires an epoch"):
        apply_changes(
            table, _spark_events(spark, tiny_log), epoch=None, dead_letter=dl
        )


def test_concurrent_props_change_conflicts(spark, tmp_path):
    """A racing add_constraint between our validation and our commit must
    abort the rebase: our batch was validated against the OLD props, and
    rebasing onto the new ones would commit rows the constraint never saw
    (constraint bypass). Metadata conflicts abort, as in Delta."""
    import pytest as _pytest

    from nifi_dicom_spark.lake.snapshot_table import (
        ConcurrentWriteConflict,
        SnapshotTable,
    )

    table, schema = _mini_table(spark, str(tmp_path / "t"))
    (k_a, k_b), _ = _keys_by_bucket(spark, 8, want=2)
    table.merge(
        _rows(spark, schema, [k_b], "ok"), policy="versioned_upsert"
    )
    competitor = SnapshotTable(spark, table.path)
    injected = {"done": False}

    class RacingTable(SnapshotTable):
        def _try_commit(self, manifest):
            if not injected["done"] and manifest.get("summary", {}).get(
                "operation"
            ) == "merge":
                injected["done"] = True
                competitor.add_constraint("v_short", "length(v) < 10")
            return super()._try_commit(manifest)

    racer = RacingTable(spark, table.path)
    # 'writer-a-<k>' violates the racing length(v) < 10 constraint — the
    # rebase must NOT slide it under the new props
    with _pytest.raises(ConcurrentWriteConflict, match="properties"):
        racer.merge(
            _rows(spark, schema, [k_a], "writer-a"), policy="versioned_upsert"
        )
    # re-merge against the current props now enforces the constraint
    from nifi_dicom_spark.lake import CheckConstraintViolation

    with _pytest.raises(CheckConstraintViolation, match="v_short"):
        table.merge(
            _rows(spark, schema, [k_a], "writer-a"), policy="versioned_upsert"
        )


# ------------------------------------- object-store visibility contract (r4)


class _DiesBeforeManifestPut(InMemoryKVStore):
    """Writer death in the exact object-store hazard window: every data
    file of the epoch is already PUT (visible to anyone who lists the data
    prefix) but the manifest conditional-put never executes."""

    def __init__(self, die_on_version: int):
        super().__init__()
        self.die_on_key = f"transcripts/v{die_on_version}.json"
        self.died = False

    def put_if_absent(self, key: str, payload: bytes) -> bool:
        if key == self.die_on_key and not self.died:
            self.died = True
            raise RuntimeError("writer killed before manifest put")
        return super().put_if_absent(key, payload)


def test_kv_backend_early_visible_data_files_never_surface(
    spark, tiny_log, tmp_path
):
    """Object stores make data files visible the moment they are PUT —
    BEFORE the manifest conditional-put that references them. A writer
    dying (or losing the race) in that window leaves early-visible,
    unreferenced files under the data prefix. The conditional-put backend
    must not care: readers follow the manifest's EXACT paths (never a
    data-prefix LIST), the recovered writer re-merges cleanly, and vacuum
    is what eventually identifies the litter. The POSIX backend gets the
    same ordering for free from link(2); this pins it for the KV path."""
    import os

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.model import KEY_COLUMNS
    from nifi_dicom_spark.operators.apply import STORED_COLUMNS
    from pyspark.sql import types as T

    by_name = {f.name: f for f in CHANGE_EVENTS_SCHEMA.fields}
    stored = T.StructType([by_name[c] for c in STORED_COLUMNS])
    kv = _DiesBeforeManifestPut(die_on_version=2)
    table = SnapshotTable.create(
        spark, str(tmp_path / "t"), stored, key_cols=KEY_COLUMNS, n_buckets=8,
        backend=ConditionalPutCommitBackend(kv, prefix="transcripts/"),
    )
    half = len(tiny_log) // 2
    apply_changes(table, _spark_events(spark, tiny_log.iloc[:half]), epoch=0)

    def data_files():
        out = []
        for root, _dirs, fns in os.walk(str(tmp_path / "t" / "data")):
            out += [os.path.join(root, f) for f in fns if f.endswith(".parquet")]
        return set(out)

    before = data_files()
    with pytest.raises(RuntimeError, match="before manifest put"):
        apply_changes(table, _spark_events(spark, tiny_log.iloc[half:]), epoch=1)
    orphans = data_files() - before
    assert orphans, "the dead writer's data files should be visible early"
    # 1) reads are pinned to the manifest: the early-visible files change
    #    nothing, and a foreign decoy under the data prefix changes nothing
    assert_final_state_equal(
        read_final_state(table).toPandas(), replay_oracle(tiny_log.iloc[:half])
    )
    decoy_dir = tmp_path / "t" / "data" / "c-deadbeefdead"
    decoy_dir.mkdir()
    tiny_log.iloc[:3].to_parquet(str(decoy_dir / "part-00000-decoy.parquet"))
    assert_final_state_equal(
        read_final_state(table).toPandas(), replay_oracle(tiny_log.iloc[:half])
    )
    # 2) the recovered writer re-merges the SAME epoch cleanly (fresh file
    #    tag; the orphans from the failed attempt are inert)
    r = apply_changes(table, _spark_events(spark, tiny_log.iloc[half:]), epoch=1)
    assert r.merge.applied
    assert_final_state_equal(
        read_final_state(table).toPandas(), replay_oracle(tiny_log)
    )
    # 3) vacuum flags the orphan litter once past the in-flight age guard,
    #    and removing it leaves reads byte-identical
    would = table.vacuum(keep_versions=1, min_file_age_s=0.0, dry_run=True)
    assert would >= len(orphans)
    removed = table.vacuum(keep_versions=1, min_file_age_s=0.0)
    assert removed == would
    assert not (orphans & data_files())
    assert_final_state_equal(
        read_final_state(table).toPandas(), replay_oracle(tiny_log)
    )


class _StaleListKV(InMemoryKVStore):
    """LIST-after-PUT inconsistency on the MANIFEST prefix: for ``lag``
    list calls after each put, list_keys serves a stale snapshot that
    omits the newly-put keys (what eventually-consistent stores did, and
    what a cached LIST still does)."""

    def __init__(self, lag: int):
        super().__init__()
        self.lag = lag
        self.armed = False  # inject staleness only in the window under test
        self._stale: list[tuple[list[str], int]] = []  # (snapshot, remaining)

    def put_if_absent(self, key: str, payload: bytes) -> bool:
        with self._lock:
            snapshot = sorted(self._data)
        ok = super().put_if_absent(key, payload)
        if ok and self.armed:
            self._stale.append((snapshot, self.lag))
        return ok

    def list_keys(self, prefix: str) -> list[str]:
        if self._stale:
            snapshot, remaining = self._stale[0]
            if remaining <= 0:
                self._stale.pop(0)
            else:
                self._stale[0] = (snapshot, remaining - 1)
                return [k for k in snapshot if k.startswith(prefix)]
        return super().list_keys(prefix)


def test_kv_backend_stale_list_reads_lag_but_stay_consistent(spark, tmp_path):
    """current_version() is the only LIST in the read path. Under
    list-after-put inconsistency a reader may briefly resolve the PREVIOUS
    version — which is a complete, committed snapshot — and must never see
    an error or partial state; once the listing catches up the new version
    appears. Writers are unaffected: the conditional put is atomic per key
    regardless of LIST staleness."""
    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    # lag sized to outlast the merge's own internal post-commit list calls
    # so the fresh reader is guaranteed to land inside the stale window
    kv = _StaleListKV(lag=50)
    table = SnapshotTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=["k"], n_buckets=4,
        backend=ConditionalPutCommitBackend(kv, prefix="t/"),
    )
    import pandas as pd

    def batch(tag, seq):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "k": [f"k{i}" for i in range(6)],
                    "op": ["update"] * 6,
                    "op_seq": [seq] * 6,
                    "offset": list(range(6)),
                    "v": [seq * 100 + i for i in range(6)],
                }
            )
        )

    table.merge(batch("a", 1), op_col="op", policy="versioned_upsert")
    v_before = table.current_version()
    kv.armed = True  # LIST goes stale exactly around the next commit
    table.merge(batch("b", 2), op_col="op", policy="versioned_upsert")
    # a FRESH reader under stale LIST resolves the previous version: a
    # complete snapshot (all op_seq=1), no error, no mixed state
    stale_reader = SnapshotTable.load(
        spark, str(tmp_path / "t"),
        backend=ConditionalPutCommitBackend(kv, prefix="t/"),
    )
    lagged = stale_reader.read().toPandas()
    assert stale_reader.current_version() >= v_before
    assert set(lagged["op_seq"]) == {1}
    # the listing catches up -> the committed merge appears, intact
    while kv._stale:
        kv.list_keys("t/")
    fresh = SnapshotTable.load(
        spark, str(tmp_path / "t"),
        backend=ConditionalPutCommitBackend(kv, prefix="t/"),
    ).read().toPandas()
    assert set(fresh["op_seq"]) == {2}
