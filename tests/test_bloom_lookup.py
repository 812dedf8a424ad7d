"""Bloom-sidecar point lookups (`lake/bloom.py`, `SnapshotTable.lookup`).

The contract under test everywhere: ``lookup(values)`` equals
``read().filter(key.isin(values))`` EXACTLY — pruning removes IO, never
rows — across MoR deltas, compaction, optimize file splits, time travel
and missing/corrupt sidecars. Reference analog: the unique-key C-FIND
fetch (P6 gating) served without a table scan."""

from __future__ import annotations

import json
import os
import time

import pandas as pd
import pytest

from nifi_dicom_spark.lake import bloom
from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA
from nifi_dicom_spark.operators.apply import (
    apply_changes,
    create_transcripts_table,
)

from test_lake_features import _epoch_events, _no_spark_jobs, _sorted_rows


# ---------------------------------------------------------------- unit level


def test_bloom_params_shape():
    m, k = bloom.bloom_params(1000, 0.01)
    assert m % 8 == 0 and m >= 9000  # ~9.6 bits/key at 1% fpp
    assert 5 <= k <= 9
    # tiny n gets the floor, never zero
    m2, k2 = bloom.bloom_params(0, 0.5)
    assert m2 >= 64 and k2 >= 1
    with pytest.raises(ValueError):
        bloom.bloom_params(10, 0.0)
    with pytest.raises(ValueError):
        bloom.bloom_params(10, 1.5)


def test_bloom_no_false_negatives_and_fpp():
    keys = [f"conv-{i:05d}" for i in range(2000)]
    m, k = bloom.bloom_params(len(keys), 0.01)
    blob = bloom.build_bloom(keys, m, k)
    assert all(bloom.might_contain(blob, m, k, key) for key in keys)
    misses = sum(
        bloom.might_contain(blob, m, k, f"other-{i}") for i in range(2000)
    )
    assert misses < 2000 * 0.05  # 1% nominal, 5x slack for hash variance


def test_sidecar_roundtrip_and_corruption(tmp_path):
    keys = ["a", "b", "c"]
    m, k = bloom.bloom_params(len(keys), 0.01)
    payload = bloom.encode_sidecar("conv_id", 3, m, k, bloom.build_bloom(keys, m, k))
    p = tmp_path / "f.parquet.bloom"
    p.write_bytes(payload)
    doc = bloom.load_sidecar(str(p), "conv_id")
    assert doc is not None and doc["n"] == 3
    assert not bloom.sidecar_excludes(doc, ["zzz", "b"])
    assert bloom.sidecar_excludes(doc, ["zzz"]) or True  # may false-positive
    assert not bloom.sidecar_excludes(None, ["a"])  # no filter -> no pruning
    # wrong key column, truncated json, absent file: all mean "don't prune"
    assert bloom.load_sidecar(str(p), "turn_idx") is None
    p.write_bytes(payload[: len(payload) // 2])
    assert bloom.load_sidecar(str(p), "conv_id") is None
    assert bloom.load_sidecar(str(tmp_path / "nope.bloom"), "conv_id") is None
    # format-version bump is also "don't prune", not an error
    doc2 = json.loads(payload)
    doc2["format"] = 99
    p.write_bytes(json.dumps(doc2).encode())
    assert bloom.load_sidecar(str(p), "conv_id") is None


def test_integral_key_stringification():
    """Spark CAST(int AS STRING) and python str(int) must agree — the
    build side stringifies in Spark, the probe side in Python."""
    keys = [str(i) for i in (0, 7, -3, 123456789)]
    m, k = bloom.bloom_params(len(keys), 0.01)
    blob = bloom.build_bloom(keys, m, k)
    for v in (0, 7, -3, 123456789):
        assert bloom.might_contain(blob, m, k, v)  # int probe, str-built


# ------------------------------------------------------------- table level


def _mor_table(spark, path, epochs=3, n_buckets=4):
    table = create_transcripts_table(spark, path, n_buckets=n_buckets)
    for e in range(epochs):
        ev = spark.createDataFrame(_epoch_events(e), schema=CHANGE_EVENTS_SCHEMA)
        apply_changes(table, ev, epoch=e)
    return table


def test_lookup_equals_filtered_read_mor(spark, tmp_path, read_path):
    table = _mor_table(spark, str(tmp_path / "t"))
    keys = ["conv-e0-015", "conv-e2-003"]  # one stable, one current epoch

    # before any sidecar exists: bucket pruning only, same rows
    from pyspark.sql import functions as F

    exp = table.read().filter(F.col("conv_id").isin(keys))
    got = table.lookup(keys)
    assert _sorted_rows(got) == _sorted_rows(exp) and got.count() > 0
    st0 = table.lookup_file_stats(keys)
    assert st0["bloom_skipped"] == 0 and st0["bucket_skipped"] > 0
    assert st0["read"] + st0["bucket_skipped"] == st0["total"]

    # build sidecars: every current file gets one, second call is a no-op
    n_files = st0["total"]
    assert table.build_blooms() == n_files
    assert table.build_blooms() == 0

    got2 = table.lookup(keys)
    assert _sorted_rows(got2) == _sorted_rows(exp)
    st1 = table.lookup_file_stats(keys)
    # epoch deltas for OTHER conv groups share the bucket; blooms skip them
    assert st1["bloom_skipped"] > 0
    assert st1["read"] < st0["read"]

    # missing key: empty, schema intact — and no file read at all once the
    # blooms exclude it from its bucket (false positives may keep a file)
    miss = table.lookup(["conv-never-existed"])
    assert miss.count() == 0
    assert miss.schema == table.read().schema

    with pytest.raises(ValueError):
        table.lookup([])

    m = table.manifest()
    deltas = {rel for rl in m["delta_files"].values() for rel in rl}
    assert deltas & set(table._lookup_plan(m, keys)[1])
    if read_path == "spark":
        # the LWW reduce over base ∪ deltas runs on one partition: the
        # executed plan aggregates, but has no Exchange
        got2.collect()
        plan = got2._jdf.queryExecution().executedPlan().toString()
        assert "Aggregate" in plan and "Exchange" not in plan
    else:
        # pyarrow reads and reduces the files; the result is a
        # LocalRelation, and neither the lookup nor its collect (nor an
        # empty result's) launches a Spark job
        want = _sorted_rows(exp)
        with _no_spark_jobs(spark, f"lookup-driver-{tmp_path.name}"):
            got3 = table.lookup(keys)
            assert _sorted_rows(got3) == want
            assert table.lookup(["conv-never-existed"]).collect() == []
        plan = got3._jdf.queryExecution().executedPlan().toString()
        assert plan.startswith("LocalTableScan"), plan

    # multi-key lookup across buckets: a live key, an updated key, a
    # tombstoned key and an absent key
    ev = _epoch_events(0).iloc[:1].copy()
    dead, dead_turn = ev["conv_id"].iloc[0], int(ev["turn_idx"].iloc[0])
    ev["op"] = "delete"
    ev["op_seq"] = 10_000
    ev["offset"] = 10_000_000
    apply_changes(
        table, spark.createDataFrame(ev, schema=CHANGE_EVENTS_SCHEMA), epoch=3
    )
    multi = ["conv-e0-015", "conv-e1-004", "conv-e2-010", dead, "conv-absent"]
    assert len(table.lookup_file_stats(multi)["buckets"]) >= 2
    exp_m = table.read().filter(F.col("conv_id").isin(multi))
    got_m = table.lookup(multi)
    assert _sorted_rows(got_m) == _sorted_rows(exp_m)
    tomb = got_m.filter((F.col("conv_id") == dead) & (F.col("turn_idx") == dead_turn))
    assert [r["op"] for r in tomb.collect()] == ["delete"]
    assert not got_m.filter(F.col("conv_id") == "conv-absent").count()


def test_lookup_plan_launches_no_job_and_matches_bucket_expr(spark, tmp_path):
    """Bucket planning for a lookup runs on the driver (no Spark job) and
    yields exactly the buckets the write side's ``_bucket_expr`` assigns,
    for string and integral keys, with duplicate values in the request."""
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable, _bucket_expr

    sc = spark.sparkContext
    cases = [
        (T.StringType(), ["conv-1", "conv-2", "conv-1", "", "zz", "conv-2"]),
        (T.LongType(), [0, 7, -3, 7, 2**40, 123456789, 0]),
        (T.IntegerType(), [1, 1, -5, 2**31 - 1, 42, -5]),
    ]
    for i, (ktype, values) in enumerate(cases):
        schema = T.StructType(
            [T.StructField("k", ktype, False), T.StructField("v", T.StringType())]
        )
        t = SnapshotTable.create(
            spark, str(tmp_path / f"t{i}"), schema, key_cols=["k"], n_buckets=16
        )
        m = t.manifest()
        plan_group = f"lookup-plan-{i}"
        sc.setJobGroup(plan_group, "lookup planning")
        try:
            bks, kept, pruned = t._lookup_plan(m, values)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert kept == [] and pruned == []  # empty table: no files

        # reference: the same expression evaluated by a Spark job. Its
        # jobs show up in the status tracker, which also proves the
        # tracker has caught up past the planning call above
        ref_group = f"lookup-ref-{i}"
        sc.setJobGroup(ref_group, "reference buckets")
        try:
            exp = sorted(
                {
                    r["b"]
                    for r in sc.parallelize([(v,) for v in values], 2)
                    .toDF(T.StructType([T.StructField("k", ktype)]))
                    .select(_bucket_expr("k", 16).alias("b"))
                    .collect()
                }
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(ref_group):
            assert time.monotonic() < deadline, "status tracker never saw a job"
            time.sleep(0.05)
        assert list(tracker.getJobIdsForGroup(plan_group)) == []
        assert bks == exp and len(bks) > 1


def test_lookup_sees_delete_tombstones_like_read(spark, tmp_path):
    """read() exposes LWW tombstones (callers filter op); lookup must not
    silently drop or resurrect them."""
    table = _mor_table(spark, str(tmp_path / "t"), epochs=1)
    key = "conv-e0-000"
    ev = _epoch_events(0).iloc[:1].copy()
    ev["op"] = "delete"
    ev["op_seq"] = 10_000
    ev["offset"] = 10_000_000
    apply_changes(
        table,
        spark.createDataFrame(ev, schema=CHANGE_EVENTS_SCHEMA),
        epoch=1,
    )
    exp = table.read().filter(f"conv_id = '{key}'")
    got = table.lookup([key])
    assert _sorted_rows(got) == _sorted_rows(exp)
    ops = {r["op"] for r in got.collect()}
    assert "delete" in ops  # the tombstone is visible, like read()


def test_lookup_after_compact_and_optimize_split(spark, tmp_path):
    table = _mor_table(spark, str(tmp_path / "t"), epochs=3, n_buckets=2)
    table.compact()
    # split each bucket's base into many small files so blooms have
    # something to prune WITHIN the bucket even with zero deltas
    table.optimize(sort_by=["conv_id"], max_records_per_file=20)
    assert table.build_blooms() > 0

    key = "conv-e1-011"
    exp = table.read().filter(f"conv_id = '{key}'")
    got = table.lookup([key])
    assert _sorted_rows(got) == _sorted_rows(exp) and got.count() > 0
    st = table.lookup_file_stats([key])
    # sorted-by-conv split: the key lives in ~1 file; the rest of its
    # bucket's splits are bloom-pruned
    assert st["bloom_skipped"] > 0
    assert st["read"] <= 2


def test_build_blooms_incremental_buckets_and_vacuum(spark, tmp_path):
    table = _mor_table(spark, str(tmp_path / "t"), epochs=2)
    assert table.build_blooms() > 0
    # a new epoch's delta files are the only unbloomd ones
    ev = spark.createDataFrame(_epoch_events(2), schema=CHANGE_EVENTS_SCHEMA)
    apply_changes(table, ev, epoch=2)
    m = table.manifest()
    n_files = sum(
        len(r) for w in ("files", "delta_files") for r in m[w].values()
    )
    missing = n_files - sum(
        os.path.exists(table._bloom_path(rel))
        for w in ("files", "delta_files")
        for rels in m[w].values()
        for rel in rels
    )
    assert missing > 0
    assert table.build_blooms() == missing

    # compact rewrites files; vacuum reaps replaced parquet AND sidecars
    table.compact()
    table.vacuum(keep_versions=1, min_file_age_s=0.0)
    live = {
        rel
        for w in ("files", "delta_files")
        for rels in table.manifest()[w].values()
        for rel in rels
    }
    on_disk_blooms = [
        os.path.relpath(os.path.join(root, fn), table.data_dir)
        for root, _d, fns in os.walk(table.data_dir)
        for fn in fns
        if fn.endswith(".parquet.bloom")
    ]
    # every surviving sidecar belongs to a live file (orphans reaped)
    assert all(b[: -len(".bloom")] in live for b in on_disk_blooms)
    # and lookups still match (new base files simply have no sidecar yet)
    key = "conv-e2-001"
    exp = table.read().filter(f"conv_id = '{key}'")
    assert _sorted_rows(table.lookup([key])) == _sorted_rows(exp)


def test_lookup_time_travel_and_validation(spark, tmp_path):
    table = _mor_table(spark, str(tmp_path / "t"), epochs=2)
    v1 = table.current_version()
    ev = spark.createDataFrame(_epoch_events(2), schema=CHANGE_EVENTS_SCHEMA)
    apply_changes(table, ev, epoch=2)
    key = "conv-e1-002"  # updated by epoch 2: versions differ
    old = table.lookup([key], version=v1)
    new = table.lookup([key])
    exp_old = table.read(version=v1).filter(f"conv_id = '{key}'")
    assert _sorted_rows(old) == _sorted_rows(exp_old)
    assert _sorted_rows(old) != _sorted_rows(new)
    with pytest.raises(ValueError, match="version OR timestamp"):
        table.lookup([key], version=v1, timestamp=pd.Timestamp("2024-01-05"))


def test_build_blooms_rejects_non_integral_key(spark, tmp_path):
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    schema = T.StructType(
        [
            T.StructField("k", T.DoubleType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "d"), schema, key_cols=["k"], n_buckets=2
    )
    t.overwrite(spark.createDataFrame([(1.0, "a")], schema))
    with pytest.raises(ValueError, match="string/integral"):
        t.build_blooms()
