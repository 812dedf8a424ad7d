"""Physical-plan assertions: the optimizations we rely on at 100 TB must be
visible in `.explain` output, not assumed.

* LWW dedup is an aggregation with map-side partial combine (two
  HashAggregate/ObjectHashAggregate nodes around one Exchange) — the
  hot-key collapse that makes celebrity conversations shuffle O(tasks) rows,
  not O(events).
* Dimension probes broadcast (no sort-merge shuffle of the fact side).
* Filters and projections reach the parquet scan (PushedFilters/ReadSchema).
* The pre-merge pipeline stays inside whole-stage codegen.
* A bucket write places each row by its own bucket value, so no AQE
  re-shaping of the write's exchange can misplace rows, and a versioned
  merge's reduce and write share one exchange.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_lww_dedup_is_partial_aggregated(spark):
    from nifi_dicom_spark.operators.dedup import lww_dedup

    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("conv_id"),
        (F.col("id") % 3).cast("int").alias("turn_idx"),
        F.col("id").alias("op_seq"),
        F.col("id").alias("offset"),
        F.col("id").cast("string").alias("text"),
    )
    plan = _plan(lww_dedup(df, ["conv_id", "turn_idx"]))
    # max_by over a struct buffer plans as SortAggregate (struct agg buffers
    # are not hash-mutable); the invariant that matters for skew is the
    # PARTIAL aggregate below the exchange — hot keys collapse map-side
    n_agg = len(re.findall(r"(?:Hash|Sort|ObjectHash)Aggregate", plan))
    assert n_agg >= 2, f"expected partial+final aggregate, plan:\n{plan}"
    assert "partial_max_by" in plan, f"no map-side combine in plan:\n{plan}"
    # exactly one shuffle between the partial and final aggregates
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_clustered_merge_reduce_is_single_exchange(spark):
    """The versioned-merge formulation: repartition(n, conv_id) = bucket
    placement AND the only shuffle — the LWW reduce's groupBy(conv_id,
    turn_idx) must reuse the conv_id clustering (HashPartitioning on a
    subset of the grouping keys satisfies ClusteredDistribution), so the
    full-payload rows cross the wire exactly once per epoch."""
    from nifi_dicom_spark.operators.dedup import lww_dedup

    df = spark.range(0, 1000).select(
        (F.col("id") % 7).cast("string").alias("conv_id"),
        (F.col("id") % 3).cast("int").alias("turn_idx"),
        F.col("id").alias("op_seq"),
        F.col("id").alias("offset"),
        F.col("id").cast("string").alias("text"),
    )
    merged = lww_dedup(df.repartition(16, "conv_id"), ["conv_id", "turn_idx"])
    plan = _plan(merged)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "REPARTITION_BY_NUM" in plan  # AQE never coalesces it


def test_hierarchy_query_broadcasts_dimension(spark):
    import __spark_entry__ as E

    plan = _plan(E.q_hierarchy_query(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan


def test_filter_and_projection_pushdown(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .filter(F.col("l_quantity") > 10)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) == {
        "l_orderkey:bigint",
        "l_quantity:double",
    }, f"scan reads more columns than projected: {m and m.group(1)}"


def test_premerge_pipeline_is_codegenned(spark):
    """route → reconcile fuses into the scan inside one WholeStageCodegen."""
    import pandas as pd

    from nifi_dicom_spark.fixtures.generator import GeneratorConfig, generate_change_events
    from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA
    from nifi_dicom_spark.operators.apply import plan_upserts

    pdf = generate_change_events(GeneratorConfig(seed=3, n_events=200))
    ev = spark.createDataFrame(pdf, schema=CHANGE_EVENTS_SCHEMA)
    # codegen explain can't descend an unexecuted AdaptiveSparkPlan — build
    # the static plan for the shape check (AQE changes scheduling, not shape)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = plan_upserts(ev)
        plan = _plan(df)
        codegen = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", codegen)
    assert m and int(m.group(1)) >= 1, codegen[:300]
    # the whole thing is one aggregation: no join, no extra exchanges
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


@contextmanager
def _conf(spark, settings: dict[str, str]):
    """Session conf ``settings`` for the block, then the previous values."""
    prev = {key: spark.conf.get(key) for key in settings}
    for key, value in settings.items():
        spark.conf.set(key, value)
    try:
        yield
    finally:
        for key, value in prev.items():
            spark.conf.set(key, value)


def _capture_parquet_writes(monkeypatch) -> list:
    """Record every DataFrame handed to ``DataFrameWriter.parquet``."""
    from pyspark.sql.readwriter import DataFrameWriter

    seen = []
    orig = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        seen.append(self._df)
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    return seen


@pytest.mark.parametrize(
    "n_buckets,shuffle_partitions", [(8, 8), (12, 8)], ids=["elided", "12of8"]
)
def test_bucket_write_places_rows_by_value_under_aqe(
    spark, tmp_path, monkeypatch, n_buckets, shuffle_partitions
):
    """A bucket write under AQE coalescing puts every row in the ``b=N``
    directory of its own ``_bucket_expr`` value. ``elided``: a sort-merge
    join on the key upstream hash-partitions the rows by the key into
    ``shuffle.partitions == n_buckets`` partitions, so Catalyst drops the
    write's own repartition and AQE may coalesce the join's exchange.
    ``12of8``: 8 does not divide 12, so the write clusters into 6 tasks.
    Either way each bucket is one file."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable, _bucket_expr

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    table = SnapshotTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=["k"], n_buckets=n_buckets
    )
    n = 600
    keys = spark.range(n).select(F.col("id").cast("string").alias("k"))
    vals = spark.range(n).select(
        F.col("id").cast("string").alias("k"), F.col("id").alias("v")
    )
    seen = _capture_parquet_writes(monkeypatch)
    with _conf(
        spark,
        {
            "spark.sql.shuffle.partitions": str(shuffle_partitions),
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
        },
    ):
        table.overwrite(keys.join(vals, on="k"))
        plan = seen[-1]._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    if n_buckets == shuffle_partitions:
        assert "REPARTITION_BY_NUM" not in plan, plan  # the elision shape

    want = {
        r["k"]: r["b"]
        for r in keys.select("k", _bucket_expr("k", n_buckets).alias("b")).collect()
    }
    files: dict[int, list[str]] = {}
    for rels in table.manifest()["files"].values():
        for rel in rels:
            d = os.path.basename(os.path.dirname(rel))
            assert d.startswith("b="), rel
            files.setdefault(int(d[2:]), []).append(rel)
    assert sorted(files) == sorted(set(want.values()))
    for b, rels in files.items():
        assert len(rels) == 1, (b, rels)
        got = pq.read_table(os.path.join(table.data_dir, rels[0]), columns=["k"])
        assert {want[k] for k in got.column("k").to_pylist()} == {b}, b
    assert table.read().count() == n


def test_versioned_merge_write_is_single_exchange(spark, tmp_path, monkeypatch):
    """The DataFrame a versioned merge hands to the parquet writer has one
    exchange: the clustering by the key before the LWW reduce is also the
    write's clustering, so payload rows cross the wire once per epoch."""
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), True),
            T.StructField("offset", T.LongType(), True),
            T.StructField("v", T.LongType(), True),
        ]
    )
    table = SnapshotTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=["k"], n_buckets=32
    )
    batch = spark.range(500).select(
        (F.col("id") % 97).cast("string").alias("k"),
        F.lit("insert").alias("op"),
        F.col("id").alias("op_seq"),
        F.col("id").alias("offset"),
        F.col("id").alias("v"),
    )
    seen = _capture_parquet_writes(monkeypatch)
    table.merge(batch, op_col="op", policy="versioned_upsert")
    assert len(seen) == 1
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert table.read().count() == 97
