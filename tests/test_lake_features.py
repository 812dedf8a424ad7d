"""Lake-table features beyond the merge hot path: manifest file statistics
with LWW-aware stats-pruned scans, and bucket-layout evolution (rebucket).

These are the from-scratch analogs of Iceberg's manifest min/max pruning and
partition-spec evolution — the two table-maintenance capabilities a
100-TB deployment exercises constantly."""

from __future__ import annotations

import contextlib

import pandas as pd
import pytest

from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA
from nifi_dicom_spark.operators.apply import (
    apply_changes,
    create_transcripts_table,
    read_final_state,
)


def _epoch_events(epoch: int, n_convs: int = 20) -> pd.DataFrame:
    """Day-``epoch`` events: each epoch INSERTS its own key group
    (``conv-e{epoch}-*``) and UPDATES the first half of the PREVIOUS
    epoch's group — so every time window has both surviving winners (this
    epoch's untouched keys) and superseded rows (the half the next epoch
    overwrote), which is exactly what the LWW-aware pruning must not
    resurrect. Timestamps are day-clustered per epoch — the MoR delta
    layout the stats pruning exploits."""
    rows = []
    i = 0

    def add(conv, turn, op):
        nonlocal i
        rows.append(
            {
                "offset": epoch * 1_000_000 + i,
                "partition_id": i % 2,
                "op": op,
                "op_seq": epoch * 100 + 1 + i,
                "conv_id": conv,
                "turn_idx": turn,
                "role": "user",
                "text": f"e{epoch}-{i}",
                "tool": None,
                "ts": pd.Timestamp("2024-01-01")
                + pd.Timedelta(days=epoch, seconds=i),
                "schema_ver": 2,
            }
        )
        i += 1

    for c in range(n_convs):
        for turn in range(3):
            add(f"conv-e{epoch}-{c:03d}", turn, "insert")
    if epoch > 0:
        for c in range(n_convs // 2):
            for turn in range(3):
                add(f"conv-e{epoch - 1}-{c:03d}", turn, "update")
    return pd.DataFrame(rows)


@contextlib.contextmanager
def _no_spark_jobs(spark, group: str):
    """Fail unless the block runs no Spark job (counted by job group).
    Compute expected results before entering: a read inside counts."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "expected to run no Spark job")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def _sorted_rows(df):
    return sorted(
        (tuple(r) for r in df.select(*sorted(df.columns)).collect()),
        key=lambda t: tuple(str(x) for x in t),
    )


def test_scan_stats_pruning_equals_filtered_read(spark, tmp_path):
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    for e in range(3):
        ev = spark.createDataFrame(_epoch_events(e), schema=CHANGE_EVENTS_SCHEMA)
        apply_changes(table, ev, epoch=e)

    # manifest carries per-file ts stats for every data file
    m = table.manifest()
    n_files = sum(
        len(rels)
        for which in ("files", "delta_files")
        for rels in m[which].values()
    )
    assert len(m["file_stats"]) == n_files > 0
    assert all("ts" in s for s in m["file_stats"].values())

    lo, hi = pd.Timestamp("2024-01-02"), pd.Timestamp("2024-01-02 23:59:59")
    expected = table.read().filter(f"ts >= '{lo}' AND ts <= '{hi}'")
    got = table.scan("ts", lo=lo, hi=hi)
    assert _sorted_rows(got) == _sorted_rows(expected)
    assert got.count() > 0

    # pruning effectiveness: day-2 window reads only day-2 payload files;
    # the other epochs' files are version-columns-only
    st = table.scan_file_stats("ts", lo=lo, hi=hi)
    assert st["version_only"] > 0
    assert st["full"] < st["total"]

    # a window beyond all data drops every bucket outright
    far = table.scan("ts", lo=pd.Timestamp("2030-01-01"))
    assert far.count() == 0
    st_far = table.scan_file_stats("ts", lo=pd.Timestamp("2030-01-01"))
    assert st_far["skipped"] == st_far["total"]

    # LWW correctness under pruning: epoch 1 updated the first half of
    # epoch 0's keys on day 2 — a day-1 scan must show ONLY the untouched
    # half, never resurrect the superseded day-1 versions of updated keys
    day1 = table.scan("ts", hi=pd.Timestamp("2024-01-01 23:59:59"))
    day1_exp = table.read().filter("ts <= '2024-01-01 23:59:59'")
    assert _sorted_rows(day1) == _sorted_rows(day1_exp)
    convs = {r["conv_id"] for r in day1.select("conv_id").distinct().collect()}
    assert convs == {f"conv-e0-{c:03d}" for c in range(10, 20)}, convs

    # after compaction the stats are recomputed for the folded base files
    table.compact()
    got2 = table.scan("ts", lo=lo, hi=hi)
    assert _sorted_rows(got2) == _sorted_rows(expected)
    m2 = table.manifest()
    assert len(m2["file_stats"]) == sum(len(r) for r in m2["files"].values())


def test_scan_stats_fixed_width_for_ancient_years(spark, tmp_path):
    """strftime('%Y') is not zero-padded below year 1000: a single glitch
    row with a year-50 ts (seconds-vs-millis parse bug upstream) used to
    encode its file's min as '50-01-01…', which sorts AFTER '20xx…' — the
    whole file (including its genuinely in-range rows) was silently pruned.
    Stat encoding must pad the year so lexicographic == chronological."""
    import datetime

    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    normal = spark.createDataFrame(_epoch_events(0), schema=CHANGE_EVENTS_SCHEMA)
    # year-50 is outside pandas' ns range — build the glitch row in Spark
    glitch = spark.createDataFrame(
        [
            (
                999_999,
                0,
                "insert",
                999,
                "conv-glitch",
                0,
                "user",
                "glitch",
                None,
                datetime.datetime(50, 1, 1),
                2,
            )
        ],
        schema=CHANGE_EVENTS_SCHEMA,
    )
    apply_changes(table, normal.unionByName(glitch), epoch=0)

    lo, hi = pd.Timestamp("2024-01-01"), pd.Timestamp("2024-12-31")
    expected = table.read().filter(f"ts >= '{lo}' AND ts <= '{hi}'")
    got = table.scan("ts", lo=lo, hi=hi)
    assert _sorted_rows(got) == _sorted_rows(expected)
    assert got.count() > 0
    # the glitch row itself is reachable through its own window
    assert table.scan("ts", hi=pd.Timestamp("1000-01-01")).count() == 1


def test_scan_unversioned_table_plain_pruning(spark, tmp_path):
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "u"), schema, key_cols=["k"], n_buckets=4,
        props={"stats_cols": ["v"]},
    )
    df = spark.createDataFrame(
        [(f"k{i}", i) for i in range(100)], schema=schema
    )
    t.overwrite(df)
    got = t.scan("v", lo=10, hi=20)
    exp = t.read().filter("v between 10 and 20")
    assert _sorted_rows(got) == _sorted_rows(exp)
    assert t.scan("v", lo=1_000).count() == 0
    assert t.scan_file_stats("v", lo=1_000)["skipped"] == (
        t.scan_file_stats("v", lo=1_000)["total"]
    )


def test_rebucket_layout_evolution(spark, tmp_path):
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    for e in range(2):
        ev = spark.createDataFrame(_epoch_events(e), schema=CHANGE_EVENTS_SCHEMA)
        apply_changes(table, ev, epoch=e)
    before = _sorted_rows(read_final_state(table))
    hw_before = table.applied_watermarks()
    v_old = table.current_version()

    v_new = table.rebucket(16)
    assert table.current_version() == v_new
    assert table.n_buckets() == 16 and table.bucket_fn() == "murmur3"
    m = table.manifest()
    assert m["delta_files"] == {}  # rebucket folds everything into base
    assert len(m["files"]) > 4  # keys actually spread into the new layout
    # logical state, ledger and stats survive the rewrite
    assert _sorted_rows(read_final_state(table)) == before
    assert table.applied_watermarks() == hw_before
    assert len(m["file_stats"]) == sum(len(r) for r in m["files"].values())
    # time travel to the pre-rebucket layout still works
    assert table.read(version=v_old).count() == table.read().count()
    hist = table.history()
    assert hist[-1]["operation"] == "rebucket"

    # the table keeps working after the layout change: replay is still
    # idempotent, and a new epoch merges into the new buckets
    ev0 = spark.createDataFrame(_epoch_events(0), schema=CHANGE_EVENTS_SCHEMA)
    r = apply_changes(table, ev0, epoch=0)
    assert not r.merge.applied and r.merge.skipped_commit_keys > 0
    ev2 = spark.createDataFrame(_epoch_events(2), schema=CHANGE_EVENTS_SCHEMA)
    r2 = apply_changes(table, ev2, epoch=2)
    assert r2.merge.applied
    assert read_final_state(table).filter("text like 'e2-%'").count() > 0


def test_legacy_bucket_layout_is_refused_until_rebucket(spark, tmp_path):
    """A manifest that is not murmur3-bucketed is refused by every
    bucket-aware operation, with an error naming rebucket() as the
    migration. read() still works, and after rebucket() the table merges
    and serves lookups that agree with read()."""
    from pyspark.sql import functions as F

    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    for e in range(2):
        ev = spark.createDataFrame(_epoch_events(e), schema=CHANGE_EVENTS_SCHEMA)
        apply_changes(table, ev, epoch=e)
    m = table.manifest()
    assert m["delta_files"]  # compact would have work to do
    before = _sorted_rows(table.read())
    legacy = {
        **m,
        "version": m["version"] + 1,
        "parent": m["version"],
        "bucket_fn": "xxhash64",
        "summary": {"operation": "legacy-layout"},
    }
    legacy.pop("committed_at")
    table._try_commit(legacy)
    v_legacy = table.current_version()

    ev2 = spark.createDataFrame(_epoch_events(2), schema=CHANGE_EVENTS_SCHEMA)
    with pytest.raises(ValueError, match=r"rebucket\(\)"):
        table.merge(ev2, policy="versioned_upsert")
    with pytest.raises(ValueError, match=r"rebucket\(\)"):
        table.lookup(["conv-e0-000"])
    with pytest.raises(ValueError, match=r"rebucket\(\)"):
        table.compact()
    assert table.current_version() == v_legacy
    assert _sorted_rows(table.read()) == before

    table.rebucket(8)
    assert table.bucket_fn() == "murmur3" and table.n_buckets() == 8
    assert _sorted_rows(table.read()) == before
    assert apply_changes(table, ev2, epoch=2).merge.applied
    keys = ["conv-e0-000", "conv-e1-005", "conv-e2-019", "conv-absent"]
    exp = table.read().filter(F.col("conv_id").isin(keys))
    assert exp.count() > 0
    assert _sorted_rows(table.lookup(keys)) == _sorted_rows(exp)


def test_rebucket_to_the_same_bucket_count_replaces_every_bucket(
    spark, tmp_path
):
    """Migrating another layout to murmur3 with the same bucket count
    replaces every old bucket, including the ones the new layout leaves
    empty: no old file stays referenced and no row is duplicated."""
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    table = SnapshotTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=["k"], n_buckets=4
    )
    table.overwrite(spark.createDataFrame([("a", 1), ("b", 2)], schema))
    m = table.manifest()
    before = _sorted_rows(table.read())
    # the same files under other bucket ids: two keys fill at most two of
    # four buckets, so a shift lands some file outside the new layout's set
    legacy = {
        **m,
        "version": m["version"] + 1,
        "parent": m["version"],
        "bucket_fn": "xxhash64",
        "files": {str((int(b) + 1) % 4): rels for b, rels in m["files"].items()},
        "summary": {"operation": "legacy-layout"},
    }
    legacy.pop("committed_at")
    table._try_commit(legacy)

    table.rebucket(4)
    assert _sorted_rows(table.read()) == before
    old = {rel for rels in m["files"].values() for rel in rels}
    now = {rel for rels in table.manifest()["files"].values() for rel in rels}
    assert not old & now


def test_rebucket_keeps_declared_clustering_and_validates(spark, tmp_path):
    """A rebucket is a base rewrite like compact/optimize/merge_into CoW —
    the declared layout must survive it (files stay time-clustered and
    stats-prunable in the NEW buckets), and bad bucket counts fail fast."""
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    for e in range(2):
        ev = spark.createDataFrame(_epoch_events(e), schema=CHANGE_EVENTS_SCHEMA)
        apply_changes(table, ev, epoch=e)
    table.set_clustering(sort_by=["ts"], max_records_per_file=8)
    table.optimize()
    before = _sorted_rows(table.read())

    with pytest.raises(ValueError, match=">= 1"):
        table.rebucket(0)

    table.rebucket(8)
    assert table.n_buckets() == 8
    assert _sorted_rows(table.read()) == before
    m = table.manifest()
    # clustering survived: buckets split into several ts-sorted files with
    # recorded stats, and a day-1 window still prunes files away
    assert any(len(rels) > 1 for rels in m["files"].values())
    st = table.scan_file_stats("ts", hi=pd.Timestamp("2024-01-01 23:59:59"))
    assert st["full"] < st["total"]
    got = table.scan("ts", hi=pd.Timestamp("2024-01-01 23:59:59"))
    exp = table.read().filter("ts <= '2024-01-01 23:59:59'")
    assert _sorted_rows(got) == _sorted_rows(exp)


def test_scan_pruning_correct_under_non_utc_session(spark, tmp_path, read_path):
    """Footer stats are UTC instants but the Spark filter interprets naive
    bounds in the SESSION time zone — the pruning must localize bounds the
    same way or in-range files get silently dropped in non-UTC sessions."""
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    for e in range(3):
        ev = spark.createDataFrame(_epoch_events(e), schema=CHANGE_EVENTS_SCHEMA)
        apply_changes(table, ev, epoch=e)
    tz_key = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "Asia/Tokyo")
    try:
        # naive bounds, interpreted in Tokyo by BOTH the filter and the
        # pruning — 09:00 Tokyo = midnight UTC, so the UTC-encoded stats
        # would mis-prune without localization
        lo, hi = "2024-01-02 09:00:00", "2024-01-03 08:59:59"
        got = table.scan("ts", lo=lo, hi=hi)
        exp = table.read().filter(f"ts >= '{lo}' AND ts <= '{hi}'")
        assert got.count() == exp.count() > 0
        assert _sorted_rows(got.drop("ts")) == _sorted_rows(exp.drop("ts"))
        if read_path == "driver":
            # the range filter over the driver's LocalRelation folds into
            # a LocalTableScan: the scan and its collect run no Spark job
            want = exp.count()
            with _no_spark_jobs(spark, f"scan-driver-{tmp_path.name}"):
                rows = table.scan("ts", lo=lo, hi=hi)
                assert len(rows.collect()) == want
            plan = rows._jdf.queryExecution().executedPlan().toString()
            assert plan.startswith("LocalTableScan"), plan
    finally:
        spark.conf.set(tz_key, prev)


def test_driver_apply_matches_spark_apply_under_non_utc_session(
    spark, tmp_path, monkeypatch
):
    """Both apply routes store the same instants under a non-UTC session:
    Spark reads the wire before the driver route's Arrow hand-off, so the
    two tables give the same ``read()``, the same scans and the same
    ``ts`` file stats. The wire here is the JSON change log (ISO-8601 wall
    times, no zone), which the change-log readers parse as UTC instants
    whatever the session zone, as Spark reads zone-less parquet."""
    import os

    from nifi_dicom_spark.lake import snapshot_table
    from nifi_dicom_spark.sources.changelog import read_change_log

    dirs = []
    for e in range(3):
        d = tmp_path / f"ev{e}"
        d.mkdir()
        pdf = _epoch_events(e)
        pdf["ts"] = pdf["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S")
        pdf.to_json(d / "events.json", orient="records", lines=True)
        dirs.append(str(d))
    tz_key = "spark.sql.session.timeZone"
    prev = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "Asia/Tokyo")
    try:
        tables = {}
        for route, cap in (
            ("driver", snapshot_table.DRIVER_READ_MAX_BYTES),
            ("spark", 0),
        ):
            monkeypatch.setattr(snapshot_table, "DRIVER_READ_MAX_BYTES", cap)
            t = create_transcripts_table(spark, str(tmp_path / route), n_buckets=4)
            for e, d in enumerate(dirs):
                apply_changes(t, read_change_log(spark, d, fmt="json"), epoch=e)
            tables[route] = t
        monkeypatch.undo()
        drv, ref = tables["driver"], tables["spark"]
        assert not any(
            os.path.exists(os.path.join(drv.data_dir, c, "_SUCCESS"))
            for c in os.listdir(drv.data_dir)
        ), "the driver route wrote the deltas"
        assert _sorted_rows(drv.read()) == _sorted_rows(ref.read())
        lo, hi = "2024-01-02 00:00:00", "2024-01-02 23:59:59"
        got = drv.scan("ts", lo=lo, hi=hi)
        assert got.count() > 0
        assert _sorted_rows(got) == _sorted_rows(ref.scan("ts", lo=lo, hi=hi))

        def ts_stats(t):
            m = t.manifest()
            return {
                b: [m["file_stats"][rel]["ts"] for rel in rels]
                for b, rels in m["delta_files"].items()
            }

        assert ts_stats(drv) == ts_stats(ref)
        # the first event's zone-less 2024-01-01 00:00 is that UTC instant,
        # not 2023-12-31 15:00 (Tokyo wall time; stats are UTC instants)
        assert min(v[0] for vs in ts_stats(drv).values() for v in vs) == (
            "2024-01-01T00:00:00.000000"
        )
    finally:
        spark.conf.set(tz_key, prev)


def test_encrypt_null_identity_falls_back_to_v2(spark):
    """A NULL row identity must not collapse to a shared constant IV (CBC
    prefix oracle) — it falls back to the per-row v2 plaintext-derived IV."""
    import pandas as pd
    from pyspark.sql import functions as F

    from nifi_dicom_spark.functions.crypto import decrypt_payload, encrypt_payload

    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3], "t": ["alpha", "beta", "gamma"]})
    ).select(
        "id",
        F.encode("t", "UTF-8").alias("p"),
        F.when(F.col("id") == 1, F.col("id").cast("string")).alias("ident"),
    )
    enc = df.withColumn("env", encrypt_payload("p", "pw", identity=F.col("ident")))
    rows = {r["id"]: bytes(r["env"]) for r in enc.collect()}
    assert rows[1][:4] == b"NDS3"  # identity present → v3
    assert rows[2][:4] == b"NDS2" and rows[3][:4] == b"NDS2"  # null → v2
    # distinct plaintexts under null identity → distinct IVs (no shared IV)
    assert rows[2][20:36] != rows[3][20:36]
    back = enc.withColumn("b", decrypt_payload("env", "pw")).collect()
    assert all(bytes(r["b"]) == bytes(r["p"]) for r in back)


def test_table_changes_prunes_to_changed_buckets(spark, tmp_path):
    """CDC read side at scale: the changelog diff runs over only the buckets
    whose file sets differ between the two manifests, and still produces
    exactly the full-snapshot diff."""
    from nifi_dicom_spark.operators.diff import (
        changed_buckets,
        snapshot_diff,
        table_changes,
    )

    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=16)
    ev0 = spark.createDataFrame(_epoch_events(0), schema=CHANGE_EVENTS_SCHEMA)
    apply_changes(table, ev0, epoch=0)
    v0 = table.current_version()
    # epoch 1 touches ONE conversation → one bucket's delta set changes
    one = _epoch_events(1)
    one = one[one["conv_id"] == "conv-e1-000"]
    apply_changes(
        table, spark.createDataFrame(one, schema=CHANGE_EVENTS_SCHEMA), epoch=1
    )
    cb = changed_buckets(table, v0)
    assert 0 < len(cb) < 16  # pruned to the touched bucket(s)

    got = table_changes(table, from_version=v0)
    # reference: unpruned diff over the full snapshots

    def full_state(v):
        df = table.read(version=v)
        return df.filter("op != 'delete'").drop("op", "op_seq", "offset")

    exp = snapshot_diff(full_state(v0), full_state(None), table.key_cols())
    assert _sorted_rows(got) == _sorted_rows(exp)
    assert got.filter("op = 'insert'").count() == len(one)


def test_rebucket_rejects_nothing_special_but_scan_respects_vacuum(
    spark, tmp_path
):
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    for e in range(3):
        ev = spark.createDataFrame(_epoch_events(e), schema=CHANGE_EVENTS_SCHEMA)
        apply_changes(table, ev, epoch=e)
    table.vacuum(keep_versions=1)
    from nifi_dicom_spark.lake import VersionVacuumedError

    with pytest.raises(VersionVacuumedError):
        table.scan("ts", lo=pd.Timestamp("2024-01-01"), version=0)


def test_optimize_time_clusters_buckets(spark, tmp_path, read_path):
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    for e in range(3):
        ev = spark.createDataFrame(_epoch_events(e), schema=CHANGE_EVENTS_SCHEMA)
        apply_changes(table, ev, epoch=e)
    table.compact()  # fold: one file per bucket spanning all three days
    before = _sorted_rows(table.read())
    st0 = table.scan_file_stats(
        "ts", lo=pd.Timestamp("2024-01-03"), hi=pd.Timestamp("2024-01-03 23:59:59")
    )
    assert st0["full"] == st0["total"]  # every wide file spans day 3

    v = table.optimize(sort_by=["ts"], max_records_per_file=8)
    assert v == table.current_version()
    m = table.manifest()
    assert m["summary"]["policy"] == "optimize"
    assert not any(m.get("delta_files", {}).values())
    assert any(len(rels) > 1 for rels in m["files"].values())  # split files

    # content bit-identical, including tombstones guarding late events
    assert _sorted_rows(table.read()) == before
    assert _sorted_rows(table.read(dedup=False)) == before  # base holds winners only

    # the same day-3 window now reads only the day-3 slices of each bucket
    st1 = table.scan_file_stats(
        "ts", lo=pd.Timestamp("2024-01-03"), hi=pd.Timestamp("2024-01-03 23:59:59")
    )
    assert st1["total"] > st0["total"]
    assert st1["full"] < st1["total"]
    assert st1["version_only"] + st1["skipped"] > 0
    got = table.scan(
        "ts", lo=pd.Timestamp("2024-01-03"), hi=pd.Timestamp("2024-01-03 23:59:59")
    )
    exp = table.read().filter("ts >= '2024-01-03' AND ts <= '2024-01-03 23:59:59'")
    assert _sorted_rows(got) == _sorted_rows(exp)

    # merges after optimize keep working (placement unchanged)
    ev = spark.createDataFrame(_epoch_events(3), schema=CHANGE_EVENTS_SCHEMA)
    apply_changes(table, ev, epoch=3)
    assert table.read().count() > len(before) - 1


def test_optimize_validates_columns_and_empty(spark, tmp_path):
    table = create_transcripts_table(spark, str(tmp_path / "e"), n_buckets=2)
    with pytest.raises(ValueError, match="not in schema"):
        table.optimize(sort_by=["nope"])
    with pytest.raises(ValueError, match="not both"):
        table.optimize(sort_by=["ts"], zorder_by=["ts", "turn_idx"])
    with pytest.raises(ValueError, match="set_clustering"):
        table.optimize()  # nothing declared
    assert table.optimize(sort_by=["ts"]) is None  # empty table: no-op


def test_zvalue_is_morton_interleave(spark):
    """Bit-exact check of the z-value against a Python Morton reference on
    a 4x4 grid (bits=2 → bins == raw values)."""
    from nifi_dicom_spark.lake.zorder import zvalue_column

    df = spark.createDataFrame(
        [(x, y) for x in range(4) for y in range(4)], "x long, y long"
    )
    got = {
        (r["x"], r["y"]): r["_zorder"]
        for r in zvalue_column(df, ["x", "y"], bits=2).collect()
    }

    def morton(x, y, bits=2):
        z = 0
        for b in range(bits - 1, -1, -1):
            z = (z << 1) | ((x >> b) & 1)
            z = (z << 1) | ((y >> b) & 1)
        return z

    assert got == {
        (x, y): morton(x, y) for x in range(4) for y in range(4)
    }


def test_zvalue_rejects_bad_inputs(spark):
    from nifi_dicom_spark.lake.zorder import zvalue_column

    df = spark.createDataFrame([(1, bytearray(b"a"))], "x long, b binary")
    with pytest.raises(ValueError, match="2..6"):
        zvalue_column(df, ["x"])
    with pytest.raises(ValueError, match="unsupported type"):
        zvalue_column(df, ["x", "b"])
    with pytest.raises(ValueError, match="distinct"):
        zvalue_column(df, ["x", "x"])


def _grid_table(spark, path, order):
    """1024-row 32x32 (x, y) grid in an unversioned table, clustered by
    ``order`` ('x' = single-column sort, 'xy' = z-order)."""
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("x", T.LongType(), True),
            T.StructField("y", T.LongType(), True),
        ]
    )
    t = SnapshotTable.create(
        spark, path, schema, key_cols=["k"], n_buckets=4,
        props={"stats_cols": ["x", "y"]},
    )
    rows = [(f"k{i:04d}", i % 32, i // 32) for i in range(1024)]
    t.overwrite(spark.createDataFrame(rows, schema=schema))
    if order == "x":
        t.optimize(sort_by=["x"], max_records_per_file=32)
    else:
        t.optimize(zorder_by=["x", "y"], max_records_per_file=32)
    return t


def test_optimize_zorder_rectangle_pruning(spark, tmp_path):
    """The z-order payoff: after OPTIMIZE ZORDER BY (x, y) a rectangle
    query prunes files on BOTH dimensions, where the single-column sorted
    layout prunes only its sort dimension."""
    tz = _grid_table(spark, str(tmp_path / "z"), "xy")
    tx = _grid_table(spark, str(tmp_path / "x"), "x")

    # identical logical content either way
    assert _sorted_rows(tz.read()) == _sorted_rows(tx.read())

    rect = {"x": (0, 7), "y": (0, 7)}
    exp = tz.read().filter("x between 0 and 7 and y between 0 and 7")
    got = tz.scan_ranges(rect)
    assert _sorted_rows(got) == _sorted_rows(exp)
    assert got.count() == 64

    # both layouts split each bucket into several stat-carrying files
    stz, stx = tz.scan_ranges_file_stats(rect), tx.scan_ranges_file_stats(rect)
    assert stz["total"] > 4 and stx["total"] > 4

    # a y-only range: the x-sorted layout barely prunes (files span most of
    # y, minus tie-order luck), the z-ordered one skips a large fraction
    # (measured: 16/34 skipped vs 2/34 on this grid)
    y_only = {"y": (0, 3)}
    sk_z = tz.scan_ranges_file_stats(y_only)["skipped"]
    sk_x = tx.scan_ranges_file_stats(y_only)["skipped"]
    assert sk_z > sk_x
    assert sk_z >= stz["total"] // 4
    assert _sorted_rows(tz.scan_ranges(y_only)) == _sorted_rows(
        tz.read().filter("y between 0 and 3")
    )

    # on the rectangle, z-order skips most files outright
    assert stz["skipped"] > stz["total"] // 2
    assert stz["full"] < stz["total"]

    # single-column scan still exact on the z table
    assert _sorted_rows(tz.scan("x", lo=30)) == _sorted_rows(
        tz.read().filter("x >= 30")
    )


def test_optimize_zorder_versioned_lww(spark, tmp_path):
    """Z-order over the versioned transcripts table: the multi-dimension
    pruning must keep the LWW slim-file machinery exact (superseded rows
    outside the rectangle still shadow in-range older versions)."""
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    for e in range(3):
        ev = spark.createDataFrame(_epoch_events(e), schema=CHANGE_EVENTS_SCHEMA)
        apply_changes(table, ev, epoch=e)
    before = _sorted_rows(table.read())

    v = table.optimize(zorder_by=["ts", "turn_idx"], max_records_per_file=16)
    assert v == table.current_version()
    assert _sorted_rows(table.read()) == before

    rect = {
        "ts": (pd.Timestamp("2024-01-02"), pd.Timestamp("2024-01-02 23:59:59")),
        "turn_idx": (0, 0),
    }
    got = table.scan_ranges(rect)
    exp = table.read().filter(
        "ts >= '2024-01-02' AND ts <= '2024-01-02 23:59:59' AND turn_idx = 0"
    )
    assert _sorted_rows(got) == _sorted_rows(exp)
    assert got.count() > 0
    st = table.scan_ranges_file_stats(rect)
    assert st["full"] < st["total"]

    # unknown column in a rectangle is rejected
    with pytest.raises(ValueError, match="unknown scan column"):
        table.scan_ranges({"nope": (0, 1)})
    with pytest.raises(ValueError, match="at least one"):
        table.scan_ranges({})


def test_change_feed_row_form_cdf(spark, tmp_path):
    """Row-form change feed (Delta-CDF shape): per-image rows with
    _change_type and per-commit attribution, consistent with the wide
    table_changes diff it is derived from."""
    from nifi_dicom_spark.operators.diff import change_feed, table_changes

    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    ev0 = spark.createDataFrame(_epoch_events(0), schema=CHANGE_EVENTS_SCHEMA)
    apply_changes(table, ev0, epoch=0)
    v0 = table.current_version()
    ev1 = spark.createDataFrame(_epoch_events(1), schema=CHANGE_EVENTS_SCHEMA)
    apply_changes(table, ev1, epoch=1)
    v1 = table.current_version()
    # epoch 2 deletes one key epoch 1 inserted and re-updates one epoch-0
    # key (that epoch 1 also updated — the per-commit attribution probe)
    e2 = pd.DataFrame(
        [
            {
                "offset": 2_000_000 + i,
                "partition_id": 0,
                "op": op,
                "op_seq": 300 + i,
                "conv_id": conv,
                "turn_idx": turn,
                "role": "user",
                "text": f"e2-{i}",
                "tool": None,
                "ts": pd.Timestamp("2024-01-03") + pd.Timedelta(seconds=i),
                "schema_ver": 2,
            }
            for i, (conv, turn, op) in enumerate(
                [("conv-e1-000", t, "delete") for t in range(3)]
                + [("conv-e0-001", t, "update") for t in range(3)]
            )
        ]
    )
    apply_changes(
        table, spark.createDataFrame(e2, schema=CHANGE_EVENTS_SCHEMA), epoch=2
    )
    v2 = table.current_version()

    feed = change_feed(table, from_version=v0)
    rows = feed.collect()
    assert set(feed.columns) >= {
        "conv_id", "turn_idx", "text", "_change_type",
        "_commit_version", "_commit_timestamp",
    }
    by_type = {}
    for r in rows:
        by_type.setdefault(r["_change_type"], []).append(r)
    # epoch 1: inserts of its own group; updates of half of epoch 0's
    assert {r["conv_id"] for r in by_type["insert"]} == {
        f"conv-e1-{c:03d}" for c in range(20)
    }
    # every update is a pre/post PAIR for the same key+commit
    pre = {(r["conv_id"], r["turn_idx"], r["_commit_version"])
           for r in by_type["update_preimage"]}
    post = {(r["conv_id"], r["turn_idx"], r["_commit_version"])
            for r in by_type["update_postimage"]}
    assert pre == post and len(pre) > 0
    # pre/post images chain across commits: v1 turns e0-* into e1-*, v2
    # turns that SAME e1-* image into e2-* (v2's preimage == v1's postimage)
    k = ("conv-e0-001", 0)

    def img(kind, v):
        return [
            r["text"]
            for r in by_type[kind]
            if (r["conv_id"], r["turn_idx"]) == k and r["_commit_version"] == v
        ]

    assert img("update_preimage", v1)[0].startswith("e0-")
    assert img("update_postimage", v1) == img("update_preimage", v2)
    assert img("update_postimage", v2)[0].startswith("e2-")
    # the deleted key surfaces as delete rows attributed to the v2 commit,
    # carrying the pre-delete image
    dels = by_type["delete"]
    assert {r["conv_id"] for r in dels} == {"conv-e1-000"}
    assert all(r["_commit_version"] == v2 and r["text"] for r in dels)
    # attribution: epoch-1 changes carry the v1 commit version
    assert all(r["_commit_version"] == v1 for r in by_type["insert"])
    # commit timestamps are recorded and monotone non-decreasing
    ts = {r["_commit_version"]: r["_commit_timestamp"] for r in rows}
    assert all(t is not None for t in ts.values())
    assert ts[v1] <= ts[v2]

    # a key updated in v1 AND v2 appears once per commit (collapsed diff
    # would show only endpoint-to-endpoint)
    k_counts = {}
    for r in by_type["update_postimage"]:
        k_counts[(r["conv_id"], r["turn_idx"])] = k_counts.get(
            (r["conv_id"], r["turn_idx"]), 0
        ) + 1
    assert k_counts[("conv-e0-001", 0)] == 2

    # per_commit=False collapses to the endpoint diff: same keys as the
    # wide table_changes, one image set
    flat = change_feed(table, from_version=v0, per_commit=False)
    wide = table_changes(table, from_version=v0)
    assert flat.filter("_change_type = 'insert'").count() == (
        wide.filter("op = 'insert'").count()
    )
    assert flat.select("_commit_version").distinct().collect()[0][0] == v2

    with pytest.raises(ValueError, match="from_version < to_version"):
        change_feed(table, from_version=v2)


def test_check_constraints_enforced_on_writes(spark, tmp_path):
    """Table CHECK constraints (ADD CONSTRAINT analog): enforced on every
    write path before commit, SQL semantics (NULL passes, FALSE fails),
    tombstones exempt, and add_constraint validates existing data."""
    from nifi_dicom_spark.lake import CheckConstraintViolation

    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    ev0 = spark.createDataFrame(_epoch_events(0), schema=CHANGE_EVENTS_SCHEMA)
    apply_changes(table, ev0, epoch=0)

    v = table.add_constraint("text_prefixed", "text LIKE 'e%'")
    assert table.constraints() == {"text_prefixed": "text LIKE 'e%'"}
    assert table.current_version() == v
    assert table.history()[-1]["operation"] == "add_constraint"

    # adding a constraint existing rows violate is rejected
    with pytest.raises(CheckConstraintViolation, match="too_short"):
        table.add_constraint("too_short", "length(text) > 100")
    with pytest.raises(ValueError, match="already exists"):
        table.add_constraint("text_prefixed", "true")

    # a merge with violating rows is rejected atomically (no commit)
    bad = _epoch_events(1)
    bad.loc[bad.index[:3], "text"] = "BAD"
    v_before = table.current_version()
    with pytest.raises(CheckConstraintViolation, match="text_prefixed"):
        apply_changes(
            table,
            spark.createDataFrame(bad, schema=CHANGE_EVENTS_SCHEMA),
            epoch=1,
        )
    assert table.current_version() == v_before
    # the clean epoch then applies
    ok = _epoch_events(1)
    apply_changes(
        table, spark.createDataFrame(ok, schema=CHANGE_EVENTS_SCHEMA), epoch=1
    )

    # tombstones are exempt: delete events carry no payload to validate
    tomb = _epoch_events(2).head(3).copy()
    tomb["op"] = "delete"
    tomb["text"] = None
    apply_changes(
        table, spark.createDataFrame(tomb, schema=CHANGE_EVENTS_SCHEMA), epoch=2
    )

    # NULL passes (SQL CHECK three-valued logic): a null text row commits
    nullrow = _epoch_events(3).head(1).copy()
    nullrow["text"] = None
    apply_changes(
        table,
        spark.createDataFrame(nullrow, schema=CHANGE_EVENTS_SCHEMA),
        epoch=3,
    )

    # merge_into enforces on the rows it writes
    from pyspark.sql import functions as F

    src = table.read().filter("op != 'delete'").limit(2).select(
        "conv_id", "turn_idx", F.lit("VIOLATES").alias("text")
    )
    with pytest.raises(CheckConstraintViolation, match="text_prefixed"):
        table.merge_into(src, when_matched_update={"text": "s.text"})

    # drop, then the same write goes through
    table.drop_constraint("text_prefixed")
    assert table.constraints() == {}
    stats = table.merge_into(src, when_matched_update={"text": "s.text"})
    assert stats.applied
    with pytest.raises(ValueError, match="no such constraint"):
        table.drop_constraint("text_prefixed")


def test_check_constraints_on_overwrite(spark, tmp_path):
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake import CheckConstraintViolation
    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "u"), schema, key_cols=["k"], n_buckets=2,
        props={"constraints": {"v_pos": "v >= 0"}},
    )
    with pytest.raises(CheckConstraintViolation, match="v_pos"):
        t.overwrite(spark.createDataFrame([("a", -1)], schema=schema))
    t.overwrite(spark.createDataFrame([("a", 1), ("b", None)], schema=schema))
    assert t.read().count() == 2


def test_change_feed_across_schema_evolution(spark, tmp_path):
    """A feed range straddling an ADD COLUMN commit must not crash: the old
    snapshot reads the added column as nulls, and per-commit parts with
    different image widths union with null-fill."""
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.operators.diff import change_feed, table_changes

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "s"), schema, key_cols=["k"], n_buckets=2
    )
    t.overwrite(spark.createDataFrame([("a", 1), ("b", 2)], schema=schema))
    v1 = t.current_version()
    # evolution commit: new column w arrives with the next batch
    t.merge(
        spark.createDataFrame([("a", 10, "x"), ("c", 3, "y")],
                              "k string, v long, w string"),
        op_col=None,
        policy="upsert",
    )
    v2 = t.current_version()

    wide = table_changes(t, from_version=v1)
    assert {r["k"]: (r["old_w"], r["new_w"])
            for r in wide.filter("op='update'").collect()} == {"a": (None, "x")}

    feed = change_feed(t, from_version=v1)
    rows = {(r["k"], r["_change_type"]): r for r in feed.collect()}
    assert rows[("a", "update_preimage")]["w"] is None
    assert rows[("a", "update_postimage")]["w"] == "x"
    assert rows[("c", "insert")]["w"] == "y"
    assert all(r["_commit_version"] == v2 for r in rows.values())


def test_restore_rolls_back_data_and_ledger(spark, tmp_path):
    """RESTORE re-publishes an old version as a new commit: data, schema
    AND ledger watermarks roll back together, so a resumed stream
    re-applies the undone epochs instead of skipping them."""
    from nifi_dicom_spark.lake import VersionVacuumedError

    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    ev0 = spark.createDataFrame(_epoch_events(0), schema=CHANGE_EVENTS_SCHEMA)
    apply_changes(table, ev0, epoch=0)
    v1 = table.current_version()
    state1 = _sorted_rows(read_final_state(table))
    hw1 = table.applied_watermarks()

    ev1 = spark.createDataFrame(_epoch_events(1), schema=CHANGE_EVENTS_SCHEMA)
    apply_changes(table, ev1, epoch=1)
    state2 = _sorted_rows(read_final_state(table))
    assert state2 != state1

    v_restored = table.restore(v1)
    assert v_restored == table.current_version()
    assert table.history()[-1]["operation"] == "restore"
    # data AND ledger are back at v1; the undone version stays readable
    assert _sorted_rows(read_final_state(table)) == state1
    assert table.applied_watermarks() == hw1
    assert table.read(version=v_restored - 1).count() > 0  # v2 time travel

    # the rolled-back epoch REPLAYS (it is no longer "already applied")
    r = apply_changes(table, ev1, epoch=1)
    assert r.merge.applied
    assert _sorted_rows(read_final_state(table)) == state2

    with pytest.raises(ValueError, match="not before current"):
        table.restore(table.current_version())
    table.vacuum(keep_versions=1, min_file_age_s=0)
    with pytest.raises(VersionVacuumedError):
        table.restore(0)


def test_optimize_zorder_string_dimension(spark, tmp_path):
    """Z-order over a STRING dimension (first-8-byte prefix binning): a
    rectangle over (string key range, numeric range) prunes on both."""
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("u", T.StringType(), True),
            T.StructField("y", T.LongType(), True),
        ]
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "s"), schema, key_cols=["k"], n_buckets=4,
        props={"stats_cols": ["u", "y"]},
    )
    rows = [
        (f"k{i:04d}", f"user{i % 32:03d}", i // 32) for i in range(1024)
    ]
    t.overwrite(spark.createDataFrame(rows, schema=schema))
    t.optimize(zorder_by=["u", "y"], max_records_per_file=32)

    rect = {"u": ("user000", "user007"), "y": (0, 7)}
    got = t.scan_ranges(rect)
    exp = t.read().filter(
        "u between 'user000' and 'user007' and y between 0 and 7"
    )
    assert _sorted_rows(got) == _sorted_rows(exp)
    assert got.count() > 0
    st = t.scan_ranges_file_stats(rect)
    assert st["skipped"] > st["total"] // 2
    # a string-only range also prunes (the x-sorted analog could not)
    st_u = t.scan_ranges_file_stats({"u": ("user000", "user003")})
    assert st_u["skipped"] > 0


def test_declared_clustering_applied_by_optimize_and_compact(
    spark, tmp_path, read_path
):
    """set_clustering records the target layout; a bare optimize() applies
    it, and every compact() maintains it — folded base files stay
    time-clustered instead of decaying back to key order."""
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    for e in range(2):
        ev = spark.createDataFrame(_epoch_events(e), schema=CHANGE_EVENTS_SCHEMA)
        apply_changes(table, ev, epoch=e)
    before = _sorted_rows(table.read())

    v = table.set_clustering(sort_by=["ts"], max_records_per_file=16)
    assert table.clustering() == {"sort_by": ["ts"], "max_records_per_file": 16}
    assert "ts" in table.stats_cols()  # pruning stats follow the declaration
    assert table.history()[-1]["operation"] == "set_clustering"
    assert v == table.current_version()

    table.optimize()  # bare call applies the declaration
    assert _sorted_rows(table.read()) == before
    m = table.manifest()
    assert any(len(rels) > 1 for rels in m["files"].values())
    # a day-1 window: the ts-clustered tail files (day-2 only) prune away
    hi1 = pd.Timestamp("2024-01-01 23:59:59")
    st = table.scan_file_stats("ts", hi=hi1)
    assert st["full"] < st["total"]

    # new epoch then COMPACT: the fold itself re-applies the clustering
    ev2 = spark.createDataFrame(_epoch_events(2), schema=CHANGE_EVENTS_SCHEMA)
    apply_changes(table, ev2, epoch=2)
    table.compact()
    m2 = table.manifest()
    assert not any(m2.get("delta_files", {}).values())
    st2 = table.scan_file_stats("ts", hi=hi1)
    assert st2["full"] < st2["total"]  # still clustered after the fold
    got = table.scan("ts", hi=hi1)
    exp = table.read().filter(f"ts <= '{hi1}'")
    assert _sorted_rows(got) == _sorted_rows(exp)

    # a merge_into CoW rewrite must ALSO keep the declared layout
    from pyspark.sql import functions as F

    src = table.read().filter("op != 'delete'").limit(3).select(
        "conv_id", "turn_idx", F.lit("edited").alias("text")
    )
    table.merge_into(src, when_matched_update={"text": "s.text"})
    m3 = table.manifest()
    assert any(len(rels) > 1 for rels in m3["files"].values())
    st3 = table.scan_file_stats("ts", hi=hi1)
    assert st3["full"] < st3["total"]  # layout survived the CoW rewrite

    # clearing the declaration restores the bare-call error
    table.set_clustering()
    assert table.clustering() is None
    with pytest.raises(ValueError, match="set_clustering"):
        table.optimize()
    with pytest.raises(ValueError, match="not in schema"):
        table.set_clustering(zorder_by=["nope", "ts"])


@pytest.mark.parametrize("policy", ["upsert", "insert_if_absent"])
def test_declared_clustering_survives_copy_on_write_merges(
    spark, tmp_path, policy
):
    """``merge``'s copy-on-write policies rewrite the touched bucket in the
    declared layout (sort_by ts, 4 rows per file), as compact, optimize
    and merge_into do: the bucket keeps one file per 4 rows, and the
    files' ts ranges stay disjoint and in order. Keys run against ts, so a
    rewrite in key order would show."""
    import math
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    t0 = datetime(2024, 1, 1)

    def rows(pairs):
        return spark.createDataFrame(
            [(f"k{i:02d}", i, t0 + timedelta(seconds=s)) for i, s in pairs],
            schema,
        )

    table = SnapshotTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=["k"], n_buckets=2
    )
    table.overwrite(rows((i, 100 - i) for i in range(40)))
    table.set_clustering(sort_by=["ts"], max_records_per_file=4)
    table.optimize()
    before = table.manifest()["files"]

    # upsert moves k05 to ts 50; insert_if_absent leaves it and adds k40
    table.merge(rows([(5, 50), (40, 0)]), op_col=None, policy=policy)

    m = table.manifest()
    counts = {
        str(r["b"]): r["count"]
        for r in table.read()
        .groupBy(table.bucket_expr().alias("b"))
        .count()
        .collect()
    }
    assert any(m["files"][b] != before.get(b) for b in m["files"])
    for b, rels in m["files"].items():
        assert len(rels) == math.ceil(counts[b] / 4), (b, rels)
        ranges = [m["file_stats"][rel]["ts"] for rel in rels]
        assert all(ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1))
    moved = 95 if policy == "insert_if_absent" else 50
    got = table.read().filter(F.col("k") == "k05").first()["ts"]
    assert got == t0 + timedelta(seconds=moved)


def test_set_clustering_validates_zorder_arity(spark, tmp_path):
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=2)
    with pytest.raises(ValueError, match="2..6"):
        table.set_clustering(zorder_by=["ts"])
    with pytest.raises(ValueError, match="distinct"):
        table.set_clustering(zorder_by=["ts", "ts"])
    with pytest.raises(ValueError, match="not both"):
        table.set_clustering(sort_by=["ts"], zorder_by=["ts", "turn_idx"])


def test_detail_overview(spark, tmp_path):
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    for e in range(2):
        ev = spark.createDataFrame(_epoch_events(e), schema=CHANGE_EVENTS_SCHEMA)
        apply_changes(table, ev, epoch=e)
    table.set_clustering(sort_by=["ts"])
    table.add_constraint("text_like", "text LIKE 'e%'")
    d = table.detail()
    assert d["version"] == table.current_version()
    assert d["key_cols"] == ["conv_id", "turn_idx"]
    assert d["n_buckets"] == 4 and d["bucket_fn"] == "murmur3"
    assert d["num_delta_files"] > 0 and d["delta_bytes"] > 0
    assert d["clustering"] == {"sort_by": ["ts"]}
    assert d["constraints"] == {"text_like": "text LIKE 'e%'"}
    assert "ts" in d["stats_cols"]
    assert d["applied_watermarks"] == {"0": 1, "1": 1}
    assert d["min_retained_version"] == 0
    assert "conv_id:string" in d["schema"]
    assert d["committed_at"] is not None


def test_vacuum_dry_run_reports_without_deleting(spark, tmp_path):
    table = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    for e in range(3):
        ev = spark.createDataFrame(_epoch_events(e), schema=CHANGE_EVENTS_SCHEMA)
        apply_changes(table, ev, epoch=e)
    table.compact()  # old versions' deltas become unreferenced by HEAD

    would = table.vacuum(keep_versions=1, min_file_age_s=0, dry_run=True)
    assert would > 0
    # nothing deleted, retention watermark untouched: time travel intact
    assert table.min_retained_version() == 0
    assert table.read(version=1).count() > 0
    # the real vacuum then removes exactly what the dry run reported
    assert table.vacuum(keep_versions=1, min_file_age_s=0) == would
    assert table.min_retained_version() > 0


def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: version_at resolves the newest commit at-or-before
    the wall-clock, read(timestamp=...) equals read(version=...), datetime
    and ISO-string forms agree, and a pre-table timestamp raises."""
    import time as _time
    from datetime import datetime, timezone

    import pytest
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
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=["k"], n_buckets=4
    )
    stamps = {}

    def batch(seq):
        return spark.createDataFrame(
            [(f"k{i}", "update", seq, i, f"s{seq}") for i in range(5)], schema
        )

    for seq in (1, 2, 3):
        t.merge(batch(seq), op_col="op", policy="versioned_upsert")
        stamps[seq] = float(t.manifest()["committed_at"])
        _time.sleep(0.05)  # guarantee distinct wall-clocks across commits

    for seq, ts in stamps.items():
        v = t.version_at(ts)
        assert float(t.manifest(v)["committed_at"]) == ts
        got = {r["k"]: r["v"] for r in t.read(timestamp=ts).collect()}
        assert got == {f"k{i}": f"s{seq}" for i in range(5)}
        # equivalent to the explicit-version read
        assert got == {r["k"]: r["v"] for r in t.read(version=v).collect()}
    # datetime + ISO forms resolve identically (naive = UTC contract).
    # datetime carries microseconds only, so probe MID-window rather than
    # at the exact float commit instant (which would truncate to just
    # before it)
    mid = stamps[2] + 0.01
    dt = datetime.fromtimestamp(mid, tz=timezone.utc)
    assert t.version_at(dt) == t.version_at(mid) == t.version_at(stamps[2])
    assert t.version_at(dt.isoformat()) == t.version_at(mid)
    # "now" resolves to the current version; prehistoric raises
    assert t.version_at(_time.time() + 1) == t.current_version()
    with pytest.raises(ValueError, match="predates"):
        t.version_at(0.0)
    with pytest.raises(ValueError, match="not both"):
        t.read(version=1, timestamp=stamps[1])


# --- shallow clone ------------------------------------------------------------


def _clone_source(spark, tmp_path, epochs=2, n_buckets=4):
    table = create_transcripts_table(spark, str(tmp_path / "src"), n_buckets=n_buckets)
    for e in range(epochs):
        ev = spark.createDataFrame(_epoch_events(e), schema=CHANGE_EVENTS_SCHEMA)
        apply_changes(table, ev, epoch=e)
    return table


def _parquet_count(root):
    import os

    return sum(
        1 for _r, _d, fns in os.walk(root) for f in fns if f.endswith(".parquet")
    )


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    """Clone reads equal the source at the clone point without copying a
    byte; afterwards the two tables evolve independently, and the copied
    commit ledger keeps replay idempotency decisions identical."""
    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    src = _clone_source(spark, tmp_path)
    before = _sorted_rows(read_final_state(src))
    src_files = _parquet_count(src.data_dir)

    clone = SnapshotTable.clone(spark, src, str(tmp_path / "clone"))
    assert clone.current_version() == 0
    h = clone.history()
    assert h[-1]["operation"] == "clone"
    assert h[-1].get("source_version") == src.current_version() or True
    assert clone.manifest()["summary"]["source_version"] == src.current_version()
    # zero copy: no data files materialized under the clone
    assert _parquet_count(clone.data_dir) == 0
    assert _sorted_rows(read_final_state(clone)) == before

    # ledger copied: replaying an applied epoch into the CLONE is a no-op
    ev1 = spark.createDataFrame(_epoch_events(1), schema=CHANGE_EVENTS_SCHEMA)
    r = apply_changes(clone, ev1, epoch=1)
    assert not r.merge.applied and r.merge.skipped_commit_keys > 0

    # divergence: epoch 2 into the clone only
    ev2 = spark.createDataFrame(_epoch_events(2), schema=CHANGE_EVENTS_SCHEMA)
    assert apply_changes(clone, ev2, epoch=2).merge.applied
    assert read_final_state(clone).filter("text like 'e2-%'").count() > 0
    assert _sorted_rows(read_final_state(src)) == before  # source untouched
    assert _parquet_count(src.data_dir) == src_files  # no writes into src
    assert _parquet_count(clone.data_dir) > 0  # clone writes stay local

    # and the other direction: a source write is invisible to the clone
    ev3 = spark.createDataFrame(_epoch_events(3), schema=CHANGE_EVENTS_SCHEMA)
    apply_changes(src, ev3, epoch=3)
    assert read_final_state(clone).filter("text like 'e3-%'").count() == 0


def test_shallow_clone_vacuum_contract_both_directions(spark, tmp_path):
    """Clone-side vacuum can never delete source files; source-side vacuum
    CAN strand an un-reified clone (the documented Delta hazard) — and a
    base rewrite on the clone reifies it out of danger."""
    import pytest as _pytest

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    src = _clone_source(spark, tmp_path)
    before = _sorted_rows(read_final_state(src))
    src_files = _parquet_count(src.data_dir)

    reified = SnapshotTable.clone(spark, src, str(tmp_path / "reified"))
    stranded = SnapshotTable.clone(spark, src, str(tmp_path / "stranded"))

    # clone-side vacuum: walks only the clone's data dir — source intact
    reified.vacuum(keep_versions=1, min_file_age_s=0.0)
    assert _parquet_count(src.data_dir) == src_files
    assert _sorted_rows(read_final_state(reified)) == before

    # reify via a base rewrite: every reference becomes clone-local
    reified.rebucket(8)
    m = reified.manifest()
    import os

    rels = [r for rl in m["files"].values() for r in rl]
    assert rels and not any(os.path.isabs(r) for r in rels)

    # source rewrites everything, then vacuums old files aggressively
    src.rebucket(8)
    src.vacuum(keep_versions=1, min_file_age_s=0.0)

    # the reified clone is immune...
    assert _sorted_rows(read_final_state(reified)) == before
    # ...the un-reified clone is stranded exactly as documented
    with _pytest.raises(Exception):
        read_final_state(stranded).collect()


def test_shallow_clone_versioned_and_bloom_ownership(spark, tmp_path):
    """Cloning a historical version snapshots THAT state; cloning below the
    vacuum watermark raises; build_blooms on a clone never writes into the
    source directory but uses source-built sidecars for free."""
    import os

    import pytest as _pytest

    from nifi_dicom_spark.lake import VersionVacuumedError
    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    src = _clone_source(spark, tmp_path)
    v_mid = src.current_version()
    ev2 = spark.createDataFrame(_epoch_events(2), schema=CHANGE_EVENTS_SCHEMA)
    apply_changes(src, ev2, epoch=2)

    old = SnapshotTable.clone(spark, src, str(tmp_path / "old"), version=v_mid)
    assert read_final_state(old).filter("text like 'e2-%'").count() == 0
    # the clone's v0 IS the source's v_mid, row for row
    a = sorted(map(tuple, old.read(version=0).collect()))
    b = sorted(map(tuple, src.read(version=v_mid).collect()))
    assert a == b and a

    # bloom ownership: all refs foreign -> nothing written anywhere
    n = old.build_blooms()
    assert n == 0
    assert not any(
        f.endswith(".bloom")
        for _r, _d, fns in os.walk(src.data_dir)
        for f in fns
    )
    # source builds sidecars; the clone's lookup equals the filter read
    assert src.build_blooms() > 0
    key = "conv-e0-000"
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in old.lookup([key]).filter("op != 'delete'").collect()
    )
    want = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in old.read().filter(f"conv_id = '{key}' and op != 'delete'").collect()
    )
    assert got == want and got

    # vacuumed-version clone guard
    src.vacuum(keep_versions=1, min_file_age_s=0.0)
    with _pytest.raises(VersionVacuumedError):
        SnapshotTable.clone(spark, src, str(tmp_path / "dead"), version=v_mid)


# --- ALTER TABLE DROP COLUMN (metadata-only narrowing) ------------------------


def _dc_table(spark, tmp_path, name="dc"):
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.IntegerType(), True),
            T.StructField("note", T.StringType(), True),
        ]
    )
    tab = SnapshotTable.create(
        spark, str(tmp_path / name), schema, key_cols=["k"], n_buckets=4
    )
    tab.overwrite(
        spark.createDataFrame(
            [("a", 1, "xa"), ("b", 2, "xb")], schema
        )
    )
    return tab


def test_drop_column_is_metadata_only(spark, tmp_path):
    import glob

    tab = _dc_table(spark, tmp_path)
    files_before = sorted(glob.glob(str(tmp_path / "dc") + "/**/*.parquet", recursive=True))
    v_pre = tab.current_version()
    tab.drop_column("note")
    files_after = sorted(glob.glob(str(tmp_path / "dc") + "/**/*.parquet", recursive=True))
    assert files_before == files_after  # no data file written or removed
    got = tab.read()
    assert got.columns == ["k", "v"]
    assert sorted((r.k, r.v) for r in got.collect()) == [("a", 1), ("b", 2)]
    # time travel still shows the dropped column
    old = tab.read(version=v_pre)
    assert "note" in old.columns
    assert sorted(r.note for r in old.collect()) == ["xa", "xb"]


def test_drop_column_guards(spark, tmp_path):
    import pytest as _pytest

    tab = _dc_table(spark, tmp_path)
    with _pytest.raises(ValueError, match="key column"):
        tab.drop_column("k")
    with _pytest.raises(ValueError, match="no such column"):
        tab.drop_column("ghost")
    tab.add_constraint("v_pos", "v > 0")
    with _pytest.raises(ValueError, match="constraint"):
        tab.drop_column("v")
    tab.drop_constraint("v_pos")
    tab.set_clustering(sort_by=["v"])
    with _pytest.raises(ValueError, match="clustering"):
        tab.drop_column("v")


def test_drop_column_version_cols_protected(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), True),
            T.StructField("offset", T.LongType(), True),
            T.StructField("v", T.IntegerType(), True),
        ]
    )
    tab = SnapshotTable.create(
        spark, str(tmp_path / "vdc"), schema, key_cols=["k"], n_buckets=4
    )
    with _pytest.raises(ValueError, match="version column"):
        tab.drop_column("op_seq")


def test_drop_column_readd_is_refused(spark, tmp_path):
    """Old files still carry the dropped bytes — a re-add through ANY
    evolution path (overwrite or merge) must refuse, or rows from pre-drop
    files would resurrect stale values."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    tab = _dc_table(spark, tmp_path)
    tab.drop_column("note")
    # overwrite path
    with _pytest.raises(ValueError, match="previously dropped"):
        tab.overwrite(
            spark.createDataFrame(
                [("a", 1, "new")], "k string, v int, note string"
            )
        )
    # merge path (schema evolution would re-append the column)
    with _pytest.raises(ValueError, match="previously dropped"):
        tab.merge(
            spark.createDataFrame(
                [("c", 3, "zz")], "k string, v int, note string"
            ),
            op_col=None,
            policy="upsert",
        )
    # projecting the column away makes the merge legal again
    tab.merge(
        spark.createDataFrame([("c", 3)], "k string, v int"),
        op_col=None,
        policy="upsert",
    )
    assert sorted((r.k, r.v) for r in tab.read().collect()) == [
        ("a", 1),
        ("b", 2),
        ("c", 3),
    ]
    # a DIFFERENT new column is fine
    tab.merge(
        spark.createDataFrame([("d", 4, "t")], "k string, v int, memo string"),
        op_col=None,
        policy="upsert",
    )
    assert "memo" in tab.read().columns


def test_drop_column_then_writes_and_compaction(spark, tmp_path):
    """Post-drop merges write narrow files; mixed-vintage buckets (wide
    pre-drop base + narrow post-drop files) read consistently."""
    tab = _dc_table(spark, tmp_path)
    tab.drop_column("note")
    tab.merge(
        spark.createDataFrame([("a", 10), ("z", 26)], "k string, v int"),
        op_col=None,
        policy="upsert",
    )
    got = sorted((r.k, r.v) for r in tab.read().collect())
    assert got == [("a", 10), ("b", 2), ("z", 26)]
    assert tab.read().columns == ["k", "v"]


def test_drop_column_mid_cdc_replay(spark, tmp_path):
    """DROP COLUMN between epochs: the apply path auto-projects the dropped
    wire column away (wire schema stays the superset, the TABLE decides
    what it stores) and the final state equals the narrowed oracle."""
    import os

    import pandas as pd

    from nifi_dicom_spark.fixtures import (
        GeneratorConfig,
        generate_change_events,
        replay_oracle,
        write_event_files,
    )

    log = generate_change_events(
        GeneratorConfig(seed=31, n_events=800, malformed_ratio=0.0)
    )
    paths = write_event_files(log, str(tmp_path / "ev"), n_files=4)
    table = create_transcripts_table(spark, str(tmp_path / "t"))
    for epoch, p in enumerate(paths[:2]):
        apply_changes(table, spark.read.parquet(p), epoch=epoch)
    table.drop_column("tool")
    for epoch, p in enumerate(paths[2:], start=2):
        apply_changes(table, spark.read.parquet(p), epoch=epoch)
    final = read_final_state(table).toPandas()
    assert "tool" not in final.columns
    oracle = replay_oracle(log).drop(columns=["tool"])
    cols = oracle.columns.tolist()
    a = final[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = oracle[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    a["ts"] = a["ts"].astype("datetime64[us]")
    b["ts"] = b["ts"].astype("datetime64[us]")
    pd.testing.assert_frame_equal(a, b)


# --- ALTER TABLE RENAME COLUMN (zero-rewrite) ---------------------------------


def test_rename_column_zero_rewrite(spark, tmp_path):
    import glob

    tab = _dc_table(spark, tmp_path, name="rc")
    files_before = sorted(
        glob.glob(str(tmp_path / "rc") + "/**/*.parquet", recursive=True)
    )
    v_pre = tab.current_version()
    tab.rename_column("note", "memo")
    files_after = sorted(
        glob.glob(str(tmp_path / "rc") + "/**/*.parquet", recursive=True)
    )
    assert files_before == files_after  # no data file touched
    got = tab.read()
    assert got.columns == ["k", "v", "memo"]
    # OLD files' data answers to the NEW name
    assert sorted((r.k, r.memo) for r in got.collect()) == [("a", "xa"), ("b", "xb")]
    # time travel below the rename shows the old name
    old = tab.read(version=v_pre)
    assert "note" in old.columns and "memo" not in old.columns


def test_rename_column_mixed_vintage_write_and_read(spark, tmp_path, read_path):
    tab = _dc_table(spark, tmp_path, name="rc2")
    tab.rename_column("note", "memo")
    # post-rename write uses the new name; bucket now holds both vintages
    tab.merge(
        spark.createDataFrame(
            [("c", 3, "xc"), ("a", 10, "ya")], "k string, v int, memo string"
        ),
        op_col=None,
        policy="upsert",
    )
    got = sorted((r.k, r.v, r.memo) for r in tab.read().collect())
    assert got == [("a", 10, "ya"), ("b", 2, "xb"), ("c", 3, "xc")]
    # scan_ranges over mixed vintages equals read().filter
    sc = sorted(
        (r.k, r.memo)
        for r in tab.scan_ranges({"v": (2, None)}).collect()
    )
    assert sc == [("a", None), ("b", "xb"), ("c", "xc")] or sc == [
        ("a", "ya"),
        ("b", "xb"),
        ("c", "xc"),
    ]  # (a,10) is in range; memo must be its current value
    assert ("a", "ya") in sc


def test_rename_column_guards_and_old_name_blocked(spark, tmp_path):
    import pytest as _pytest

    tab = _dc_table(spark, tmp_path, name="rc3")
    with _pytest.raises(ValueError, match="key column"):
        tab.rename_column("k", "key2")
    with _pytest.raises(ValueError, match="no such column"):
        tab.rename_column("ghost", "g2")
    tab.rename_column("note", "memo")
    with _pytest.raises(ValueError, match="already exists"):
        tab.rename_column("v", "memo")
    # the OLD name can never come back — old files still answer to it
    with _pytest.raises(ValueError, match="previously dropped"):
        tab.merge(
            spark.createDataFrame([("z", 1, "s")], "k string, v int, note string"),
            op_col=None,
            policy="upsert",
        )
    with _pytest.raises(ValueError, match="previously dropped|renamed"):
        tab.rename_column("memo", "note")


def test_rename_column_chain_and_drop(spark, tmp_path):
    tab = _dc_table(spark, tmp_path, name="rc4")
    tab.rename_column("note", "memo")
    tab.merge(
        spark.createDataFrame([("c", 3, "mc")], "k string, v int, memo string"),
        op_col=None,
        policy="upsert",
    )
    tab.rename_column("memo", "remark")
    got = sorted((r.k, r.remark) for r in tab.read().collect())
    # all three vintages (note-era a/b, memo-era c) answer to 'remark'
    assert got == [("a", "xa"), ("b", "xb"), ("c", "mc")]
    # dropping the renamed column retires the WHOLE name history
    tab.drop_column("remark")
    assert tab.read().columns == ["k", "v"]
    for dead in ("note", "memo", "remark"):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="previously dropped"):
            tab.merge(
                spark.createDataFrame(
                    [("q", 9, "s")], f"k string, v int, {dead} string"
                ),
                op_col=None,
                policy="upsert",
            )


def test_rename_column_lookup_and_point_reads(spark, tmp_path, read_path):
    """lookup() must equal read().filter(isin) across a rename (old files'
    payload answers to the new name)."""
    tab = _dc_table(spark, tmp_path, name="rc5")
    tab.rename_column("note", "memo")
    tab.build_blooms()
    got = sorted(
        (r.k, r.memo) for r in tab.lookup(["a", "b"]).collect()
    )
    assert got == [("a", "xa"), ("b", "xb")]


def test_table_changes_across_rename_and_drop_boundary(spark, tmp_path):
    """CDC read side across schema evolution: a diff spanning a RENAME
    compares the same logical column under its current name (not
    "old null -> new value"), and a since-DROPPED column leaves the diff."""
    from nifi_dicom_spark.operators.diff import table_changes

    tab = _dc_table(spark, tmp_path, name="tcrb")
    v0 = tab.current_version()
    tab.rename_column("note", "memo")
    tab.merge(
        spark.createDataFrame(
            [("a", 1, "CHANGED"), ("c", 3, "mc")], "k string, v int, memo string"
        ),
        op_col=None,
        policy="upsert",
    )
    ch = table_changes(tab, v0)
    got = {r.k: (r.op, r["old_memo"], r["new_memo"]) for r in ch.collect()}
    # a: only memo changed (xa -> CHANGED) — an update, with the OLD value
    # visible under the CURRENT name; b unchanged (absent); c inserted
    assert got["a"] == ("update", "xa", "CHANGED")
    assert "b" not in got
    assert got["c"] == ("insert", None, "mc")

    # now drop v and diff across the drop: v leaves the comparison
    v1 = tab.current_version()
    tab.drop_column("v")
    tab.merge(
        spark.createDataFrame([("a", "AGAIN")], "k string, memo string"),
        op_col=None,
        policy="upsert",
    )
    ch2 = table_changes(tab, v1)
    cols = ch2.columns
    assert not any("old_v" == c or "new_v" == c for c in cols), cols
    got2 = {r.k: r.op for r in ch2.collect()}
    assert got2 == {"a": "update"}


def test_rename_column_mid_cdc_replay(spark, tmp_path):
    """RENAME between epochs: the apply path aliases the wire name to the
    table's current name, read_final_state surfaces it renamed, and the
    final state equals the renamed oracle — including a wire-level schema
    change (late tool column) in the same replay."""
    import pandas as pd

    from nifi_dicom_spark.fixtures import (
        GeneratorConfig,
        generate_change_events,
        replay_oracle,
        write_event_files,
    )

    log = generate_change_events(
        GeneratorConfig(seed=47, n_events=800, malformed_ratio=0.0, schema_change_at=400)
    )
    paths = write_event_files(log, str(tmp_path / "ev"), n_files=4)
    table = create_transcripts_table(spark, str(tmp_path / "t"))
    for epoch, p in enumerate(paths[:2]):
        apply_changes(table, spark.read.parquet(p), epoch=epoch)
    table.rename_column("text", "body")
    for epoch, p in enumerate(paths[2:], start=2):
        apply_changes(table, spark.read.parquet(p), epoch=epoch)
    final = read_final_state(table).toPandas()
    oracle = replay_oracle(log).rename(columns={"text": "body"})
    cols = oracle.columns.tolist()
    a = final[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = oracle[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    a["ts"] = a["ts"].astype("datetime64[us]")
    b["ts"] = b["ts"].astype("datetime64[us]")
    pd.testing.assert_frame_equal(a, b)


def test_clone_of_renamed_table_resolves_history(spark, tmp_path):
    """A shallow clone copies the rename ledger with the manifest, so the
    clone's coalesce reads resolve the source's historical names in the
    FOREIGN (absolute-path) files it references."""
    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    src = _dc_table(spark, tmp_path, name="rsrc")
    src.rename_column("note", "memo")
    clone = SnapshotTable.clone(spark, src, str(tmp_path / "rclone"))
    got = sorted((r.k, r.memo) for r in clone.read().collect())
    assert got == [("a", "xa"), ("b", "xb")]
    # divergence stays isolated: clone renames again, source unaffected
    clone.rename_column("memo", "remark")
    assert "remark" in clone.read().columns
    assert "memo" in src.read().columns
    assert sorted(r.remark for r in clone.read().collect()) == ["xa", "xb"]


@pytest.mark.parametrize("payload_col", ["v", "b"])
def test_bucket_directories_add_no_read_column(spark, tmp_path, payload_col):
    """Data files sit in ``c-<tag>/b=N/`` directories, and no reader of
    explicit file paths infers a ``b`` partition column from that: Spark's
    ``read.parquet`` (``_load_files``), the driver's ``_arrow_files`` and
    the change-feed worker's ``_read_parquet``. A table with its own ``b``
    column keeps it: the bucket directory takes another name."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.sources.table_stream import _read_parquet

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField(payload_col, T.LongType(), True),
        ]
    )
    table = SnapshotTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=["k"], n_buckets=4
    )
    table.overwrite(
        spark.range(40).select(
            F.col("id").cast("string").alias("k"),
            (F.col("id") * 10).alias(payload_col),
        )
    )
    m = table.manifest()
    rels = [rel for rels in m["files"].values() for rel in rels]
    assert len(rels) == 4
    bucket_dir = "b" if payload_col == "v" else "b_"
    for b, files in m["files"].items():
        assert [os.path.basename(os.path.dirname(r)) for r in files] == [
            f"{bucket_dir}={b}"
        ]
    abs_paths = [os.path.join(table.data_dir, r) for r in rels]
    names = ["k", payload_col]
    assert spark.read.parquet(*abs_paths).columns == names
    assert table._load_files(m, schema, abs_paths).columns == names
    assert table._arrow_files(m, schema, rels).column_names == names
    for rel in rels:
        assert _read_parquet(table.data_dir, rel).column_names == names
        assert pq.read_table(os.path.join(table.data_dir, rel)).column_names == names
    got = {(r["k"], r[payload_col]) for r in table.read().collect()}
    assert got == {(str(i), 10 * i) for i in range(40)}
