"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2 of
the nifi_dicom_spark engine; ``oracle_sql()`` carries the DuckDB-equivalent
ANSI SQL. Column aliases match exactly between the two sides. Doubles are
rounded identically on both sides so value-hashes compare despite
summation-order differences.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _oracle_sf_dir() -> str:
    """The sf dir the DRIVER's DuckDB oracle views point at (its
    correctness gate runs at sf0.01). Data-dependent oracles (trained IVF
    centroids, the PNG expected-rows table) re-derive their literals from
    these parquet files; ORACLE_SF_DIR lets the local test harness pin both
    sides to the same smaller scale. Read at call time so the harness can
    set it before invoking ``oracle_sql()``."""
    return os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")


# ---------------------------------------------------------------------------
# CDC / dedup / merge operators (SURVEY §2.2, §2.5, §2.6)
# ---------------------------------------------------------------------------


def q_cdc_lww_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/K5/K6: treat `events` as a change log keyed by user_id, versioned
    by event_id; 'error' events are deletes. Final state = LWW replay."""
    from nifi_dicom_spark.operators.dedup import lww_dedup

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.col("event_id").alias("op_seq"),
        F.col("event_id").alias("offset"),
        F.col("event_type"),
        F.col("value"),
        F.col("ts"),
    )
    last = lww_dedup(ev, ["user_id"])
    return last.filter(F.col("event_type") != "error").select(
        "user_id",
        F.col("op_seq").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.round("value", 4).alias("last_value"),
    )


def q_cdc_fww_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 first-writer-wins (the reference's insertObject contract)."""
    from nifi_dicom_spark.operators.dedup import fww_dedup

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.col("event_type"),
        F.col("event_id").alias("op_seq"),
        F.col("event_id").alias("offset"),
        F.col("value"),
    )
    first = fww_dedup(ev, ["user_id", "event_type"])
    return first.select(
        "user_id",
        "event_type",
        F.col("op_seq").alias("first_event_id"),
        F.round("value", 4).alias("first_value"),
    )


def q_keymap_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4/J2: deterministic lookup-or-create key mapping (uid_map analog)."""
    from nifi_dicom_spark.operators.keymap import deterministic_replacement

    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(F.col("user_id").cast("string").alias("original"))
        .distinct()
        .withColumn("replaced", deterministic_replacement("original"))
    )


def q_watermarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/T6: high-watermark + applied-op counts per group."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.max("event_id").alias("high_watermark"),
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# routing / predicates (SURVEY §2.3)
# ---------------------------------------------------------------------------


def q_route_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: one-pass multi-way routing via a route column."""
    ev = _t(spark, sf_dir, "events")
    route = (
        F.when(F.col("event_type") == "error", F.lit("quarantine"))
        .when(F.col("value") >= 100, F.lit("high"))
        .otherwise(F.lit("normal"))
    )
    return (
        ev.withColumn("route", route)
        .groupBy("route")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def q_wildcard_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: DICOM wildcard → LIKE translation."""
    from nifi_dicom_spark.operators.match import wildcard_match

    docs = _t(spark, sf_dir, "documents")
    return docs.filter(
        wildcard_match("source", "src1?") & wildcard_match("lang", "e?")
    ).select("doc_id", "lang", "source")


def q_datetime_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: open/closed datetime-range predicate on TimestampType."""
    from nifi_dicom_spark.operators.match import datetime_range_match

    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(datetime_range_match("ts", "2024-01-05..2024-01-12"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def q_hierarchy_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: hierarchical parent-child equi-join chain (region→nation→
    customer→orders), the C-FIND query path."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# deidentify / identity (SURVEY §2.4 J1, §2.8 F1-F6)
# ---------------------------------------------------------------------------


def q_deidentify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F4: deterministic pseudo-identity synthesis."""
    from nifi_dicom_spark.operators.deidentify import pseudo_id, pseudo_name, short_hash

    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey"),
        pseudo_name("c_name").alias("alias_name"),
        pseudo_id("c_custkey").alias("alias_id"),
        short_hash("c_mktsegment").alias("segment_hash"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/A6: gap-timeout sessionization (30-min gap) per user."""
    from nifi_dicom_spark.operators.sessionize import sessionize

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    s = sessionize(ev, ["user_id"], "ts", gap_seconds=1800)
    return s.groupBy("user_id").agg(
        (F.max("session_id") + 1).alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_priority_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: earliest-wins group-context merge, nulls never win."""
    from nifi_dicom_spark.operators.merge_context import priority_merge

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "purchase", F.col("props")).alias("purchase_props"),
        F.when(F.col("event_type") == "signup", F.col("ts")).alias("signup_ts"),
    )
    return priority_merge(
        ev, ["user_id"], "seq", ["purchase_props", "signup_ts"], empty_is_null=False
    )


# ---------------------------------------------------------------------------
# text analysis / dedup family (training-data ops)
# ---------------------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nifi_dicom_spark.functions.dedup_text import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nifi_dicom_spark.functions import text as X

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.token_count("text").cast("long").alias("n_tokens"),
        F.round(X.stopword_ratio("text"), 6).alias("stop_ratio"),
        F.round(X.mean_word_len("text"), 6).alias("mean_word_len"),
        X.quality_score("text").alias("quality"),
    )


def q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nifi_dicom_spark.functions.text import lang_guess

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_guess("text").alias("lang_guess"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nifi_dicom_spark.functions.text import fingerprint, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint("text").alias("fp"),
        token_count("text").cast("long").alias("n_tokens"),
    )


def q_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization (word / number / punctuation runs) — the
    token-counting primitive of a training-data pipeline, pure built-in
    regexp (JVM codegen, no Python)."""
    from nifi_dicom_spark.functions.text import token_count, word_tokens

    docs = _t(spark, sf_dir, "documents")
    wt = word_tokens("text")
    return docs.select(
        "doc_id",
        F.size(wt).cast("long").alias("n_bpe_tokens"),
        token_count("text").cast("long").alias("n_ws_tokens"),
        F.concat_ws(" ", F.slice(wt, 1, 5)).alias("head_tokens"),
    )


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (k=3-word grams, window w=4) —
    the guarantee-bearing overlap-detection primitive; md5-prefix hashes
    replay in the DuckDB oracle."""
    from nifi_dicom_spark.functions.dedup_text import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    fps = winnow_fingerprints("text")
    return docs.repartition(n).select(
        "doc_id",
        F.size(fps).cast("long").alias("n_fingerprints"),
        F.concat_ws(",", fps).alias("fingerprints"),
    )


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates verified by exact n-gram Jaccard. The md5
    minhash/bucket method makes every stage reproducible in DuckDB SQL, so
    the full banded-LSH pipeline is oracle-checked end-to-end (the xxhash64
    method is the cheaper JVM-native variant of the same plan)."""
    from nifi_dicom_spark.functions.dedup_text import near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    return near_dup_pairs(docs, "text", "doc_id", threshold=0.5, method="md5")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures via the explode + codegen-aggregation fast path
    (md5-based bit votes — reproduced bit-exactly by the DuckDB oracle)."""
    from nifi_dicom_spark.functions.dedup_text import simhash_signatures

    docs = _t(spark, sf_dir, "documents")
    # partition by count, not bytes: tiny file, ms-per-row expression
    n = spark.sparkContext.defaultParallelism
    return simhash_signatures(
        docs.repartition(n), "text", "doc_id"
    ).withColumnRenamed("id", "doc_id")


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded hamming-≤3 join over 15-bit signature
    chunks (pigeonhole), verified by bit_count(xor) — the pairing operator
    the signature feeds."""
    from nifi_dicom_spark.functions.dedup_text import simhash_near_dup

    docs = _t(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    return simhash_near_dup(docs.repartition(n), "text", "doc_id", max_hamming=3)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-5 cosine neighbors for query vectors vec_id<5."""
    from nifi_dicom_spark.functions.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries, "vec_id", "embedding", k=5)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed ANN. Deterministic seeded hyperplanes are inlined
    into the DuckDB oracle, which replays the exact bucket/candidate/rank
    pipeline — so this approximate operator is value-checked end-to-end,
    and recall vs brute force is additionally asserted in tests."""
    from nifi_dicom_spark.functions.similarity import lsh_bucket_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return lsh_bucket_topk(emb, queries, dim=64, k=5, n_planes=6, n_tables=3)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: trained-centroid clustering (the
    same exact-replay k-means as ann_ivf) + within-cluster cosine pairing;
    a row is a duplicate iff a smaller-id row in its cluster is ≥ the
    threshold. The oracle re-trains identical centroids from the same
    parquet and replays assignment + pairing in SQL."""
    from nifi_dicom_spark.functions.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, n_clusters=8, threshold=0.35, train_sample=256)


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: change-capture diff join — synthesize insert/update/delete events
    between two snapshot versions of the customer dimension."""
    from nifi_dicom_spark.operators.diff import snapshot_diff

    old = _t(spark, sf_dir, "customer")
    new = (
        old.filter(F.col("c_custkey") % 17 != 0)  # deletes
        .withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 10 == 0, F.round(F.col("c_acctbal") + 10.0, 2)
            ).otherwise(F.col("c_acctbal")),
        )
        .unionByName(  # inserts: re-keyed copies
            old.filter(F.col("c_custkey") % 23 == 0).withColumn(
                "c_custkey", F.col("c_custkey") + 10_000_000
            )
        )
    )
    d = snapshot_diff(old, new, ["c_custkey"], ["c_acctbal"])
    return d.select(
        "c_custkey",
        "op",
        F.round("old_c_acctbal", 4).alias("old_bal"),
        F.round("new_c_acctbal", 4).alias("new_bal"),
    )


def q_debezium_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC wire-format boundary: events re-serialized as Debezium JSON
    envelopes (before/after images, op codes, source.lsn), then normalized
    back to the canonical change-event frame by parse_debezium — one
    from_json, zero UDFs. The oracle recomputes the expected frame straight
    from events."""
    from nifi_dicom_spark.sources.debezium import parse_debezium

    ev = _t(spark, sf_dir, "events")
    # A default-config Spark 4 session (inferTimestampNTZ=true) reads the
    # pandas-written parquet `ts` as TIMESTAMP_NTZ, which unix_micros/
    # unix_millis reject. NTZ→LTZ is exact under the engine's pinned UTC
    # session timezone (same defensive cast as operators/sessionize.py).
    ts_ltz = F.col("ts").cast("timestamp_ltz")
    img = F.struct(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("event_id") % 1000).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(
            F.col("event_id") % 2 == 1, F.concat(F.lit("tool_"), F.col("event_type"))
        ).alias("tool"),
        F.unix_micros(ts_ltz).alias("ts"),
    )
    op = (
        F.when(F.col("event_type") == "error", "d")
        .when(F.col("event_id") % 3 == 0, "c")
        .otherwise("u")
    )
    envelope = F.to_json(
        F.struct(
            F.struct(
                F.when(op == "d", img).alias("before"),
                F.when(op != "d", img).alias("after"),
                op.alias("op"),
                F.unix_millis(ts_ltz).alias("ts_ms"),
                F.struct(
                    F.col("event_id").alias("lsn"),
                    F.col("user_id").alias("txId"),
                    F.unix_millis(ts_ltz).alias("ts_ms"),
                    F.lit("mysql").alias("connector"),
                ).alias("source"),
            ).alias("payload")
        )
    )
    wire = ev.select(envelope.alias("value"))
    return parse_debezium(wire)


def q_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional MERGE INTO (Delta-style WHEN clauses) over the lake
    table: deletes where flagged, guarded balance updates, re-keyed
    inserts — final state read back after one copy-on-write commit."""
    import tempfile

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    tab = SnapshotTable.create(
        spark,
        tempfile.mkdtemp(prefix="mergeinto_") + "/t",
        cust.schema,
        key_cols=["c_custkey"],
        n_buckets=8,
    )
    tab.overwrite(cust)
    src = (
        cust.filter((F.col("c_custkey") % 7 == 0) | (F.col("c_custkey") % 5 == 0))
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 7 == 0, "del").otherwise("upd").alias("flag"),
            F.lit(100.0).alias("delta"),
            "c_name",
            "c_acctbal",
            "c_mktsegment",
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 11 == 0).select(
                (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
                F.lit("ins").alias("flag"),
                F.lit(0.0).alias("delta"),
                F.concat(F.lit("new^"), F.col("c_name")).alias("c_name"),
                F.lit(1000.0).alias("c_acctbal"),
                "c_mktsegment",
            )
        )
    )
    tab.merge_into(
        src,
        when_matched_update={"c_acctbal": "round(t.c_acctbal + s.delta, 2)"},
        update_condition="s.flag = 'upd'",
        delete_condition="s.flag = 'del'",
    )
    return tab.read().select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 4).alias("bal"),
        "c_mktsegment",
    )


def q_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate DML: DELETE FROM table WHERE pred (no source relation) —
    two-pass copy-on-write built on merge_into; parquet row-group
    pushdown of the predicate prunes the matching-key scan. Oracle: plain
    anti-filter of the base table."""
    import tempfile

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    tab = SnapshotTable.create(
        spark,
        tempfile.mkdtemp(prefix="delwhere_") + "/t",
        cust.schema,
        key_cols=["c_custkey"],
        n_buckets=8,
    )
    tab.overwrite(cust)
    tab.delete_where("c_mktsegment = 'AUTOMOBILE' AND c_acctbal < 5000.0")
    return tab.read().select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 4).alias("bal"),
        "c_mktsegment",
    )


def q_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate DML: UPDATE table SET assignments WHERE pred — expression
    assignments over the t alias, unlisted columns untouched; same
    two-pass copy-on-write shape as delete_where. Oracle: CASE WHEN
    projection of the base table."""
    import tempfile

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    tab = SnapshotTable.create(
        spark,
        tempfile.mkdtemp(prefix="updwhere_") + "/t",
        cust.schema,
        key_cols=["c_custkey"],
        n_buckets=8,
    )
    tab.overwrite(cust)
    tab.update_where(
        {
            "c_acctbal": "t.c_acctbal + 100.0",
            "c_mktsegment": "lower(t.c_mktsegment)",
        },
        "c_acctbal < 1000.0",
    )
    return tab.read().select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 4).alias("bal"),
        "c_mktsegment",
    )


def q_drop_column_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE DROP COLUMN: metadata-only narrowing — no file rewrite;
    post-drop merges write narrow files and the mixed-vintage read projects
    the pinned schema. Oracle: the same state recomputed without the
    dropped column."""
    import tempfile

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    tab = SnapshotTable.create(
        spark,
        tempfile.mkdtemp(prefix="dropcol_") + "/t",
        cust.schema,
        key_cols=["c_custkey"],
        n_buckets=8,
    )
    tab.overwrite(cust)
    tab.drop_column("c_mktsegment")
    tab.merge(  # post-drop write: narrow source, mixed-vintage buckets
        cust.filter(F.col("c_custkey") % 10 == 0).select(
            "c_custkey", "c_name", (F.col("c_acctbal") + 1000.0).alias("c_acctbal")
        ),
        op_col=None,
        policy="upsert",
    )
    return tab.read().select(
        "c_custkey", "c_name", F.round("c_acctbal", 4).alias("bal")
    )


def q_rename_column_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE RENAME COLUMN: zero-rewrite rename — old files answer
    to the new name via the augmented-schema coalesce read; a post-rename
    merge writes the new name so the bucket holds both vintages. Oracle:
    the same state recomputed under the new name."""
    import tempfile

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    tab = SnapshotTable.create(
        spark,
        tempfile.mkdtemp(prefix="renamecol_") + "/t",
        cust.schema,
        key_cols=["c_custkey"],
        n_buckets=8,
    )
    tab.overwrite(cust)
    tab.rename_column("c_mktsegment", "segment")
    tab.merge(  # post-rename vintage: every 7th row re-segmented
        cust.filter(F.col("c_custkey") % 7 == 0).select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            F.lit("RESEGMENTED").alias("segment"),
        ),
        op_col=None,
        policy="upsert",
    )
    return tab.read().select(
        "c_custkey", "c_name", F.round("c_acctbal", 4).alias("bal"), "segment"
    )


def q_forget_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten purge: forget() = scrubbed predicate delete +
    history-destroying vacuum — after it, the matching payloads exist in NO
    file under the table (pytest asserts the physical side; this row
    oracles the surviving logical state as a plain anti-filter)."""
    import tempfile

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    tab = SnapshotTable.create(
        spark,
        tempfile.mkdtemp(prefix="forget_") + "/t",
        cust.schema,
        key_cols=["c_custkey"],
        n_buckets=8,
    )
    tab.overwrite(cust)
    tab.forget("c_mktsegment = 'HOUSEHOLD' AND c_custkey % 3 = 0")
    return tab.read().select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 4).alias("bal"),
        "c_mktsegment",
    )


def q_maxwell_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC wire-format boundary #2: events re-serialized as Maxwell daemon
    JSON envelopes (type/position/data), then normalized back to the
    canonical change-event frame by parse_maxwell — one from_json, zero
    UDFs. The binlog position string composes into the offset/op_seq total
    order; the oracle recomputes the frame straight from events."""
    from nifi_dicom_spark.sources.envelopes import parse_maxwell

    ev = _t(spark, sf_dir, "events")
    ts_ltz = F.col("ts").cast("timestamp_ltz")  # NTZ-safe under pinned UTC
    img = F.struct(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("event_id") % 1000).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(
            F.col("event_id") % 2 == 1, F.concat(F.lit("tool_"), F.col("event_type"))
        ).alias("tool"),
        F.date_format(ts_ltz, "yyyy-MM-dd HH:mm:ss").alias("ts"),
    )
    mtype = (
        F.when(F.col("event_type") == "error", "delete")
        .when(F.col("event_id") % 9 == 0, "bootstrap-insert")
        .when(F.col("event_id") % 3 == 0, "insert")
        .otherwise("update")
    )
    position = F.concat(
        F.lit("master.00000"),
        (F.col("event_id") % 4 + 1).cast("string"),
        F.lit(":"),
        F.col("event_id").cast("string"),
    )
    envelope = F.to_json(
        F.struct(
            F.lit("db").alias("database"),
            F.lit("transcripts").alias("table"),
            mtype.alias("type"),
            F.unix_seconds(ts_ltz).alias("ts"),
            F.col("user_id").alias("xid"),
            F.lit(True).alias("commit"),
            position.alias("position"),
            img.alias("data"),
        )
    )
    return parse_maxwell(ev.select(envelope.alias("value")))


def q_canal_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC wire-format boundary #3: events batched 16-per-envelope into
    Canal flat messages (data ARRAY, every value stringified), then fanned
    back out by parse_canal (posexplode keeps within-batch order in the
    offset). Exercises the from-string casts of the flat-message contract;
    the oracle recomputes the frame with a window over events."""
    from nifi_dicom_spark.sources.envelopes import parse_canal

    ev = _t(spark, sf_dir, "events")
    ts_ltz = F.col("ts").cast("timestamp_ltz")
    simg = F.struct(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("event_id") % 1000).cast("string").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(
            F.col("event_id") % 2 == 1, F.concat(F.lit("tool_"), F.col("event_type"))
        ).alias("tool"),
        F.date_format(ts_ltz, "yyyy-MM-dd HH:mm:ss").alias("ts"),
    )
    batch = (F.col("event_id") / 16).cast("long")
    grouped = (
        ev.select(batch.alias("bid"), F.col("event_id").alias("eid"), simg.alias("img"))
        .groupBy("bid")
        .agg(F.array_sort(F.collect_list(F.struct("eid", "img"))).alias("rows"))
    )
    envelope = F.to_json(
        F.struct(
            F.transform(F.col("rows"), lambda r: r["img"]).alias("data"),
            F.lit("db").alias("database"),
            F.lit(1589373515000).alias("es"),
            F.col("bid").alias("id"),
            F.lit(False).alias("isDdl"),
            F.lit("transcripts").alias("table"),
            F.lit(1589373515477).alias("ts"),
            F.when(F.col("bid") % 3 == 0, "INSERT")
            .when(F.col("bid") % 3 == 1, "UPDATE")
            .otherwise("DELETE")
            .alias("type"),
        )
    )
    return parse_canal(grouped.select(envelope.alias("value")))


def q_anti_join_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/S6: remote-vs-local anti-join — entities present in the dimension
    but absent from the fact log (the incremental-sync 'what is missing')."""
    customer = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal as-of join: each purchase event matched to the latest
    at-or-before click of the same user (union-tag + running-last window,
    one exchange). Oracle: DuckDB's native ASOF LEFT JOIN."""
    from nifi_dicom_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("click_id"),
            F.max("value").alias("click_value"),
        )
    )
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 4).alias("value"),
        "click_id",
        F.round("click_value", 4).alias("click_value"),
        "matched_ts",
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed range join (``operators/asof.py interval_join``): every
    97th event opens a validity interval of 1–3 hours; all events of the
    same key falling inside any interval match it. The operator turns the
    BETWEEN theta-join (nested-loop at scale) into a bin-bucketed EQUI-join
    (sequence+explode, one shuffle); per-interval match counts + min/max
    matched ids are value-checked against DuckDB's native BETWEEN join."""
    from nifi_dicom_spark.operators.asof import interval_join

    ev = _t(spark, sf_dir, "events")
    ts_ltz = F.col("ts").cast("timestamp_ltz")  # NTZ-proof (sessionize.py)
    pts = ev.select(
        (F.col("user_id") % 50).cast("long").alias("k"),
        F.col("event_id").alias("pid"),
        ts_ltz.alias("pts"),
    )
    iv = ev.filter(F.col("event_id") % 97 == 0).select(
        (F.col("user_id") % 50).cast("long").alias("k"),
        F.col("event_id").alias("iid"),
        ts_ltz.alias("s"),
        (
            ts_ltz
            + F.make_interval(hours=(F.col("event_id") % 3 + 1).cast("int"))
        ).alias("e"),
    )
    out = interval_join(
        pts, iv, "pts", "s", "e", on="k", bin_width_s=3600.0, prefix="i_"
    )
    return out.groupBy(F.col("i_iid").alias("iid")).agg(
        F.count("*").alias("n_pts"),
        F.min("pid").alias("min_pid"),
        F.max("pid").alias("max_pid"),
    )


def q_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (n=1) Jaccard near-dup pairs over a keyed subset — the exact
    verification primitive of the dedup family, oracle-checkable."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    toks = docs.select(
        F.col("doc_id"),
        F.array_distinct(
            F.transform(
                F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != ""),
                F.lower,
            )
        ).alias("toks"),
    )
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= 0.5)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            "jaccard",
        )
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (brute force over a keyed
    subset; the LSH/IVF scale paths are ann_lsh / ann_ivf)."""
    from nifi_dicom_spark.functions.similarity import cosine_sim

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 3 == 0)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            F.round(
                cosine_sim(
                    F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")
                ),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= 0.3)
        .select("id_a", "id_b", "cos_sim")
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell ANN with TRAINED centroids: a deterministic seeded
    mini-k-means over the 256 lowest-id corpus vectors (exact-replay
    training — float64, 6-dp-quantized assignment/update), so the DuckDB
    oracle re-trains identically from the same parquet and inlines the same
    centroids; cell assignment, probe selection and ranking replay in SQL —
    value-checked end-to-end; recall vs brute force is additionally
    asserted in tests (≥0.8 trained)."""
    from nifi_dicom_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(emb, queries, dim=64, k=5, n_cells=16, n_probe=8)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column + typed metadata, Arrow
    mapInPandas feature extraction (decode step is a deterministic stub —
    sha256/n_bytes are the oracle-checkable outputs)."""
    from nifi_dicom_spark.functions.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            (F.col("doc_id") % 640 + 16).cast("int").alias("width"),
            (F.col("doc_id") % 480 + 16).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            (F.col("doc_id") % 30 + 1).cast("int").alias("n_frames"),
            F.lit("application/fake").alias("mime"),
        ).alias("meta"),
    )
    return extract_features(media, dim=16).select(
        "media_id", "kind", "sha256", F.col("n_bytes").cast("long").alias("n_bytes")
    )


def _synth_rgb(doc_id: int, w: int, h: int):
    """Deterministic test-pattern image shared by the Spark query and the
    oracle generator: pixel[y,x,c] = (7·id + 13·y + 5·x + 17·c) mod 256."""
    import numpy as np

    y, x, c = np.meshgrid(
        np.arange(h), np.arange(w), np.arange(3), indexing="ij"
    )
    return ((7 * doc_id + 13 * y + 5 * x + 17 * c) % 256).astype(np.uint8)


def _png_dims(doc_id: int) -> tuple[int, int]:
    return doc_id % 13 + 2, doc_id % 11 + 2


def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode through the multimodal path: a deterministic RGB
    test pattern per doc is encoded with the from-scratch PNG encoder
    (stdlib zlib, filter 0) inside an Arrow batch, then the standard
    ``extract_features`` kernel decodes it (zlib inflate + filter reversal)
    — decoded width/height, the grayscale band feature and the exact
    container size are value-checked against a Python-replayed oracle."""
    from nifi_dicom_spark.functions.multimodal import extract_features

    @F.pandas_udf("binary")
    def make_png(ids: pd.Series) -> pd.Series:
        from nifi_dicom_spark.functions.codecs import encode_png

        out = []
        for i in ids:
            w, h = _png_dims(int(i))
            out.append(encode_png(_synth_rgb(int(i), w, h)))
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        make_png("doc_id").alias("payload"),
        F.lit(None)
        .cast(
            "struct<width:int,height:int,sample_rate:int,n_frames:int,mime:string>"
        )
        .alias("meta"),
    )
    feats = extract_features(media, dim=4)
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("band0"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
    )


def _png_decode_oracle() -> str:
    """Replay the synthesize→encode→decode pipeline in Python with the same
    codec functions over the same doc_ids (sf0.01 parquet — the tables the
    driver's oracle views point at) and inline the expected rows."""
    import pyarrow.parquet as pq

    from nifi_dicom_spark.functions.codecs import (
        decode_png,
        encode_png,
        image_block_features,
    )

    ids = (
        pq.read_table(f"{_oracle_sf_dir()}/documents.parquet", columns=["doc_id"])
        .column("doc_id")
        .to_pylist()
    )
    rows = []
    for i in ids:
        w, h = _png_dims(int(i))
        img = _synth_rgb(int(i), w, h)
        payload = encode_png(img)
        decoded = decode_png(payload)  # lossless: identical to img
        band0 = float(image_block_features(decoded, 4)[0])
        rows.append(f"({int(i)}, {w}, {h}, {band0!r}, {len(payload)})")
    values = ",\n".join(rows)
    return f"""
        SELECT media_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
               round(band0, 6) AS band0, CAST(n_bytes AS BIGINT) AS n_bytes
        FROM (VALUES {values}) AS t(media_id, width, height, band0, n_bytes)
    """


def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode through the multimodal path: the same
    deterministic test pattern as ``png_decode`` is encoded with the
    from-scratch JPEG encoder (Huffman + DCT, 4:4:4, q90) inside an Arrow
    batch, then ``extract_features`` entropy-decodes it — decoded
    width/height, the grayscale band feature OF THE LOSSY DECODE and the
    exact container size replay bit-for-bit in a Python-generated oracle
    (both sides run the identical pure-numpy codec)."""
    from nifi_dicom_spark.functions.multimodal import extract_features

    @F.pandas_udf("binary")
    def make_jpeg(ids: pd.Series) -> pd.Series:
        from nifi_dicom_spark.functions.jpeg import encode_jpeg

        out = []
        for i in ids:
            w, h = _png_dims(int(i))
            out.append(encode_jpeg(_synth_rgb(int(i), w, h), quality=90))
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        make_jpeg("doc_id").alias("payload"),
        F.lit(None)
        .cast(
            "struct<width:int,height:int,sample_rate:int,n_frames:int,mime:string>"
        )
        .alias("meta"),
    )
    feats = extract_features(media, dim=4)
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("band0"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
    )


def _jpeg_decode_oracle() -> str:
    """Replay synthesize→encode→decode in Python with the same codec over
    the same doc_ids and inline the expected rows (cf. png_decode)."""
    import pyarrow.parquet as pq

    from nifi_dicom_spark.functions.codecs import image_block_features
    from nifi_dicom_spark.functions.jpeg import decode_jpeg, encode_jpeg

    ids = (
        pq.read_table(f"{_oracle_sf_dir()}/documents.parquet", columns=["doc_id"])
        .column("doc_id")
        .to_pylist()
    )
    rows = []
    for i in ids:
        w, h = _png_dims(int(i))
        payload = encode_jpeg(_synth_rgb(int(i), w, h), quality=90)
        band0 = float(image_block_features(decode_jpeg(payload), 4)[0])
        rows.append(f"({int(i)}, {w}, {h}, {band0!r}, {len(payload)})")
    values = ",\n".join(rows)
    return f"""
        SELECT media_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
               round(band0, 6) AS band0, CAST(n_bytes AS BIGINT) AS n_bytes
        FROM (VALUES {values}) AS t(media_id, width, height, band0, n_bytes)
    """


def _redact_boxes(doc_id: int, w: int, h: int) -> list[tuple[int, int, int, int]]:
    """Deterministic redaction rectangles per doc: one interior box, one
    partially-out-of-bounds box (clipping), and — every 5th doc — one fully
    outside (contributes nothing). Shared by query and oracle."""
    i = int(doc_id)
    boxes = [(i % 3, i % 2, 3, 2), (w - 2, h - 2, 4, 4)]
    if i % 5 == 0:
        boxes.append((w + 10, h + 10, 3, 3))
    return boxes


def _redact_fmt(doc_id: int) -> str:
    return ("bmp", "png", "jpeg")[int(doc_id) % 3]


def _synth_redact_payload(doc_id: int) -> bytes:
    from nifi_dicom_spark.functions import codecs, jpeg

    i = int(doc_id)
    w, h = _png_dims(i)
    img = _synth_rgb(i, w, h)
    fmt = _redact_fmt(i)
    if fmt == "bmp":
        return codecs.encode_bmp(img)
    if fmt == "png":
        return codecs.encode_png(img)
    return jpeg.encode_jpeg(img, quality=90)


def _decode_any_px_md5(payload: bytes) -> str:
    """md5 of the DECODED pixel bytes — the value that proves both that
    the boxes were zeroed and that every non-redacted pixel survived."""
    import hashlib

    from nifi_dicom_spark.functions import codecs, jpeg

    if codecs.is_bmp(payload):
        img = codecs.decode_bmp(payload)
    elif codecs.is_png(payload):
        img = codecs.decode_png(payload)
    else:
        img = jpeg.decode_jpeg(payload)
    return hashlib.md5(img.tobytes()).hexdigest()


def q_redact_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burned-in-region redaction (the reference's DeidentifyAndRedact
    behavior: ``apps/DeidentifyAndRedact.java:105,271`` selects
    RedactionRegions per image, ``display/DicomImageBlackout.java:400``
    zeroes the rectangles): a deterministic BMP/PNG/JPEG per doc gets
    doc-derived boxes (interior + clipped + out-of-bounds) zeroed via the
    Arrow-batched ``redact_regions`` kernel; the md5 of the redacted
    DECODED pixels plus the re-encoded byte size are value-checked against
    a Python-replayed oracle — proving the right pixels were blacked out
    AND all others survived (bit-exact for BMP/PNG, deterministically for
    the fixed-quality JPEG re-encode)."""
    from nifi_dicom_spark.functions.redact import redact_regions

    @F.pandas_udf("binary")
    def make_img(ids: pd.Series) -> pd.Series:
        return pd.Series([_synth_redact_payload(int(i)) for i in ids])

    @F.pandas_udf("array<struct<x:int,y:int,w:int,h:int>>")
    def make_boxes(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            w, h = _png_dims(int(i))
            out.append(
                [
                    {"x": x, "y": y, "w": bw, "h": bh}
                    for x, y, bw, bh in _redact_boxes(int(i), w, h)
                ]
            )
        return pd.Series(out)

    @F.pandas_udf("string")
    def px_md5(payloads: pd.Series) -> pd.Series:
        return pd.Series([_decode_any_px_md5(bytes(p)) for p in payloads])

    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        make_img("doc_id").alias("payload"),
        make_boxes("doc_id").alias("boxes"),
    )
    red = redact_regions(media, boxes_col="boxes", fill=0)
    return red.select(
        "media_id",
        "mime",
        "status",
        "n_boxes_applied",
        "width",
        "height",
        px_md5("payload").alias("px_md5"),
        F.length("payload").cast("long").alias("n_bytes"),
    )


def _redact_regions_oracle() -> str:
    """Replay synthesize→redact→re-encode→decode→hash in Python with the
    same kernels over the same doc_ids and inline the expected rows."""
    import pyarrow.parquet as pq

    from nifi_dicom_spark.functions.redact import redact_image

    ids = (
        pq.read_table(f"{_oracle_sf_dir()}/documents.parquet", columns=["doc_id"])
        .column("doc_id")
        .to_pylist()
    )
    mimes = {"bmp": "image/bmp", "png": "image/png", "jpeg": "image/jpeg"}
    rows = []
    for i in ids:
        w, h = _png_dims(int(i))
        payload = _synth_redact_payload(int(i))
        out, status, applied, ww, hh, _ = redact_image(
            payload, _redact_boxes(int(i), w, h), fill=0
        )
        rows.append(
            f"({int(i)}, '{mimes[_redact_fmt(int(i))]}', '{status}', "
            f"{applied}, {ww}, {hh}, '{_decode_any_px_md5(out)}', {len(out)})"
        )
    values = ",\n".join(rows)
    return f"""
        SELECT media_id, mime, status, CAST(n_boxes_applied AS INT) AS n_boxes_applied,
               CAST(width AS INT) AS width, CAST(height AS INT) AS height,
               px_md5, CAST(n_bytes AS BIGINT) AS n_bytes
        FROM (VALUES {values})
          AS t(media_id, mime, status, n_boxes_applied, width, height, px_md5, n_bytes)
    """


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score (CCNet-style perplexity bucketing, one
    order above unigram_logprob): mean log p(w_i|w_{i-1}) under the
    corpus's own add-0.5-smoothed bigram model. Two token-relation
    exchanges ((w1,w2) then w1), both map-side combined; V joins as a
    broadcast single row."""
    from nifi_dicom_spark.functions.text import bigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return bigram_logprob(docs, add_k=0.5)


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup (the fixed-k-window approximation of
    Lee et al. 2022 suffix-array substring dedup): maximal token spans
    whose every 8-token window recurs in ≥2 distinct documents. One
    exchange keyed on the window text (map-side-combined count-distinct +
    semi-join back), then per-document gaps-and-islands — no global sort,
    no all-pairs anywhere."""
    from nifi_dicom_spark.functions.dedup_text import duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    out = duplicate_spans(docs, "text", "doc_id", k=8, min_docs=2)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
        "span_text",
    )


def q_strip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-all substring dedup: every duplicated ≥8-token span (as in
    q_dup_spans) is deleted from EVERY document carrying it; surviving
    tokens keep their order, fully-duplicated docs come back as ''. The
    covered-position table is bounded by total duplicated tokens — the
    anti-join side stays tiny even when the corpus is 100 TB."""
    from nifi_dicom_spark.functions.dedup_text import strip_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    return strip_duplicate_spans(docs, "text", "doc_id", k=8, min_docs=2)


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: per-doc mean log-prob under the
    corpus's own unigram distribution — one token-hash exchange feeding
    both the frequency aggregate and the co-partitioned join (no broadcast
    of the vocabulary), then one re-aggregate by doc."""
    from nifi_dicom_spark.functions.text import unigram_logprob

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_logprob(docs)


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate discovery: corpus-wide top-50 bigrams with a total
    (count desc, ngram asc) order — codegen'd n-gram construction,
    map-side partial combine, TakeOrdered top-k (k·partitions rows to the
    driver, never the vocabulary)."""
    from nifi_dicom_spark.functions.text import top_ngrams

    # single-file inputs otherwise run the whole explode in ONE task
    docs = (
        _t(spark, sf_dir, "documents")
        .select("text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return top_ngrams(docs, n=2, k=50)


def q_attr_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 all-tags mode: every attribute stringified (200-char cap, W4) and
    emitted as (id, attr, value) rows — explode(map_entries)."""
    docs = _t(spark, sf_dir, "documents")
    m = F.create_map(
        F.lit("lang"), F.col("lang"),
        F.lit("source"), F.col("source"),
        F.lit("n_chars"), F.col("n_chars").cast("string"),
        F.lit("text"), F.substring(F.col("text"), 1, 200),
    )
    return docs.select(F.col("doc_id"), F.explode(m).alias("attr", "value"))


def q_path_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: filename sanitize + hierarchical path build."""
    part = _t(spark, sf_dir, "part")
    clean = lambda c: F.regexp_replace(F.col(c), "[^a-zA-Z0-9.^]", "_")  # noqa: E731
    return part.select(
        "p_partkey",
        F.concat_ws(
            "/",
            clean("p_brand"),
            clean("p_type"),
            F.concat(F.col("p_partkey").cast("string"), F.lit(".dat")),
        ).alias("path"),
    )


def q_expr_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: expression-language analog — column expressions compiled from
    strings (base64/substring built-ins, the reference's
    ``${...:base64Encode():substring(...)}``)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("substring(base64(encode(source, 'UTF-8')), 1, 8)").alias("src_b64"),
        F.expr("upper(substring(md5(text), 1, 10))").alias("text_hash"),
    )


def q_session_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/A3: ordered per-entity assembly — collect each user's event-type
    sequence in event order (the sorted-TreeMap iteration analog: stable
    (conv_id, turn_idx)-style ordering via sort inside the aggregate)."""
    ev = _t(spark, sf_dir, "events")
    seq = F.array_sort(
        F.collect_list(F.struct(F.col("event_id"), F.col("event_type")))
    )
    return ev.groupBy("user_id").agg(
        F.concat_ws(
            ">", F.transform(seq, lambda x: x.getField("event_type"))
        ).alias("path"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_cfind_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/J3/P3/P4: C-FIND-style hierarchical identifier query — exact keys
    pinned above the target level (gating), wildcard + range matching at the
    target level."""
    from nifi_dicom_spark.operators.query import Level, hierarchical_query

    levels = [
        Level("region", _t(spark, sf_dir, "region"), "r_regionkey"),
        Level("nation", _t(spark, sf_dir, "nation"), "n_nationkey", "n_regionkey"),
        Level("customer", _t(spark, sf_dir, "customer"), "c_custkey", "c_nationkey"),
        Level("orders", _t(spark, sf_dir, "orders"), "o_orderkey", "o_custkey"),
    ]
    return hierarchical_query(
        levels,
        target="orders",
        filters={
            "region": {"r_regionkey": 2},
            "nation": {"n_nationkey": 2},
            "orders": {"o_orderstatus": "?"},  # single-char wildcard
        },
        return_cols=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
        relational=True,  # the reference's relational-query mode relaxes P6
    ).withColumn("o_totalprice", F.round("o_totalprice", 4))


def q_encrypt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: AES-256-CBC payload envelope (Arrow-batched pandas UDFs) —
    encrypt∘decrypt must be identity, the reference's round-trip oracle
    (DeidentifyEncryptDICOMTest.java:97-123)."""
    from nifi_dicom_spark.functions.crypto import (
        decrypt_payload,
        encrypt_payload,
        is_envelope,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    # identity-keyed IV (v3): replay-deterministic without the cross-row
    # plaintext-equality disclosure of a plaintext-derived IV
    enc = docs.withColumn(
        "env", encrypt_payload("payload", "s3cret", identity=F.col("doc_id"))
    )
    dec = enc.withColumn("plain", decrypt_payload("env", "s3cret"))
    return dec.select(
        "doc_id",
        (F.col("plain") == F.col("payload")).alias("roundtrip_ok"),
        is_envelope("env").alias("detected"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
    )


def q_person_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: person-name fuzzy match — normalize-at-write search columns
    (canonical / phonetic / component-swap) + OR-block probe expressed as
    one broadcast equi-join over exploded search entries
    (``DicomDatabaseQueryResponseGenerator.java:456-512``,
    ``DatabaseInformationModel.java:590-610``)."""
    from nifi_dicom_spark.operators.person_match import (
        add_search_columns,
        person_name_match,
    )

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.regexp_replace("c_name", "#", "^").alias("person_name")
    )
    recs = add_search_columns(c, "person_name")
    probes = spark.createDataFrame(
        [
            ("customer^000000007",),  # case-folded → canonical (+phonetic) hit
            ("000000014^Customer",),  # component-swapped → swap hit
            ("Castemer^000000021",),  # misspelled → phonetic hit only
        ],
        ["probe"],
    )
    return person_name_match(recs, probes).select("probe", "c_custkey", "match_mode")


def q_nested_deidentify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12/F13 nested-sequence recursion: rules + deterministic remap swept
    INSIDE an ARRAY<STRUCT> column via F.transform (the SequenceAttribute
    recursion of ``ClinicalTrialsAttributes:1618-1648,2528+``), then exploded
    back to flat rows for value comparison."""
    from nifi_dicom_spark.operators.deidentify import (
        DeidentifyRules,
        apply_rules_nested,
        remap_nested,
    )

    ev = _t(spark, sf_dir, "events")
    nested = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("event_id", "event_type", "props"))
        ).alias("turns")
    )
    deid = apply_rules_nested(
        nested, "turns", DeidentifyRules(null_columns=["props"])
    )
    remapped = remap_nested(deid, "turns", ["event_type"])
    out = remapped.select(
        "user_id", F.explode("turns").alias("t"), "deid_methods"
    )
    return out.select(
        "user_id",
        F.col("t.event_id").alias("event_id"),
        F.col("t.event_type").alias("event_type_remapped"),
        F.col("t.props").alias("props_nulled"),
        F.array_join("deid_methods", ",").alias("audit"),
    )


def q_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: penalize-then-retry bookkeeping — 'error' events are quarantined
    in epoch 0; the high-value subset is re-quarantined in epoch 1 and must
    show retry_count=2 with first/last epochs tracked (idempotent,
    reason-diagnosed dead-letter table)."""
    import tempfile

    from nifi_dicom_spark.operators.deadletter import (
        create_deadletter,
        record_quarantine,
    )

    ev = _t(spark, sf_dir, "events")
    bad = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("offset"),
        F.when(F.col("value") < 50, F.lit(None).cast("string"))
        .otherwise(F.lit("c"))
        .alias("conv_id"),
        F.when(F.col("value") >= 50, F.lit(-1)).otherwise(F.lit(0)).alias("turn_idx"),
        F.lit("insert").alias("op"),
        F.lit(1).cast("long").alias("op_seq"),
        F.col("value"),
    )
    dl = create_deadletter(spark, tempfile.mkdtemp(prefix="dlq-") + "/dl")
    record_quarantine(dl, bad, epoch=0)
    record_quarantine(dl, bad.filter(F.col("value") >= 100), epoch=1)
    return dl.read().select(
        "offset", "reason", "retry_count", "first_epoch", "last_epoch"
    )


def q_stats_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats-pruned time-window scan over a live MoR CDC table:
    `events` replayed as a change log in three day-clustered epochs (MoR
    delta files therefore carry per-file ts min/max in the manifest), then
    a mid-window `scan` that reads full payloads only from in-range files
    and version-columns-only elsewhere — the LWW-aware pruning must return
    exactly the window's winning versions (oracle: windowed LWW in SQL)."""
    import tempfile

    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("event_id") % 3).cast("int").alias("turn_idx"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("event_id").alias("op_seq"),
        F.col("event_id").alias("offset"),
        F.col("value"),
        F.col("ts"),
    )
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    table = SnapshotTable.create(
        spark,
        tempfile.mkdtemp(prefix="scan-") + "/t",
        schema,
        key_cols=["conv_id", "turn_idx"],
        n_buckets=8,
        props={"stats_cols": ["ts"]},
    )
    for e, (lo_d, hi_d) in enumerate(
        [("2024-01-01", "2024-01-11"), ("2024-01-11", "2024-01-21"), ("2024-01-21", "2024-02-01")]
    ):
        batch = ev.filter((F.col("ts") >= lo_d) & (F.col("ts") < hi_d))
        table.merge(
            batch, op_col="op", policy="versioned_upsert", commit_keys=[(e, 0)]
        )
    import datetime

    lo = datetime.datetime(2024, 1, 28)
    hi = datetime.datetime(2024, 1, 31)
    return (
        table.scan("ts", lo=lo, hi=hi)
        .filter(F.col("op") != "delete")
        .select("conv_id", "turn_idx", "op_seq", F.round("value", 4).alias("value"), "ts")
    )


def q_optimize_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE (time-clustered sorted rewrite, multi-file buckets) followed
    by a stats-pruned window scan: one bulk merge leaves every file spanning
    the full month (pruning inert), optimize(sort_by=ts) splits each bucket
    into time-disjoint files, and the same scan then reads only the
    window's slices. Result must stay bit-identical to the windowed LWW."""
    import datetime
    import tempfile

    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("event_id") % 3).cast("int").alias("turn_idx"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("event_id").alias("op_seq"),
        F.col("event_id").alias("offset"),
        F.col("value"),
        F.col("ts"),
    )
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    table = SnapshotTable.create(
        spark,
        tempfile.mkdtemp(prefix="opt-") + "/t",
        schema,
        key_cols=["conv_id", "turn_idx"],
        n_buckets=8,
        props={"stats_cols": ["ts"]},
    )
    table.merge(ev, op_col="op", policy="versioned_upsert", commit_keys=[(0, 0)])
    n = ev.count()
    table.optimize(sort_by=["ts"], max_records_per_file=max(n // 64, 16))
    # window at the tail of the month: LWW winners are the latest events
    # (op_seq tracks ts in this feed), so an early window would be empty
    lo = datetime.datetime(2024, 1, 25)
    hi = datetime.datetime(2024, 2, 1)
    return (
        table.scan("ts", lo=lo, hi=hi)
        .filter(F.col("op") != "delete")
        .select(
            "conv_id", "turn_idx", "op_seq", F.round("value", 4).alias("value"), "ts"
        )
    )


def q_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER BY (ts, turn_idx) followed by a rectangle scan: the
    Morton-interleaved rewrite clusters each bucket's files into small
    (time x turn) hyper-rectangles, so ``scan_ranges`` prunes on BOTH
    dimensions (``lake/zorder.py``; a single-column sort would prune on ts
    only). Result must stay bit-identical to the windowed LWW filter."""
    import datetime
    import tempfile

    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("event_id") % 5).cast("int").alias("turn_idx"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("event_id").alias("op_seq"),
        F.col("event_id").alias("offset"),
        F.col("value"),
        F.col("ts"),
    )
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    table = SnapshotTable.create(
        spark,
        tempfile.mkdtemp(prefix="zord-") + "/t",
        schema,
        key_cols=["conv_id", "turn_idx"],
        n_buckets=8,
        props={"stats_cols": ["ts", "turn_idx"]},
    )
    table.merge(ev, op_col="op", policy="versioned_upsert", commit_keys=[(0, 0)])
    n = ev.count()
    table.optimize(
        zorder_by=["ts", "turn_idx"], max_records_per_file=max(n // 64, 16)
    )
    return (
        table.scan_ranges(
            {
                # tail-of-month window — see q_optimize_scan on why
                "ts": (
                    datetime.datetime(2024, 1, 22),
                    datetime.datetime(2024, 2, 1),
                ),
                "turn_idx": (0, 1),
            }
        )
        .filter(F.col("op") != "delete")
        .select(
            "conv_id", "turn_idx", "op_seq", F.round("value", 4).alias("value"), "ts"
        )
    )


def q_rebucket_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-layout evolution (``lake/snapshot_table.rebucket``, the
    partition-spec-evolution analog): events LWW-merge into a 4-bucket
    table, the table is rebucketed to 16 murmur3 buckets (full rewrite,
    ledger + declared clustering carried over), and the post-rebucket read
    must still be exactly the LWW winners — value-checked against the SQL
    window replay."""
    import tempfile

    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("event_id") % 5).cast("int").alias("turn_idx"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("event_id").alias("op_seq"),
        F.col("event_id").alias("offset"),
        F.col("value"),
        F.col("ts"),
    )
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    table = SnapshotTable.create(
        spark,
        tempfile.mkdtemp(prefix="rebk-") + "/t",
        schema,
        key_cols=["conv_id", "turn_idx"],
        n_buckets=4,
    )
    table.merge(ev, op_col="op", policy="versioned_upsert", commit_keys=[(0, 0)])
    table.rebucket(16)
    return (
        table.read()
        .filter(F.col("op") != "delete")
        .select(
            "conv_id", "turn_idx", "op_seq", F.round("value", 4).alias("value"), "ts"
        )
    )


def q_clone_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE (``SnapshotTable.clone``, the Delta CREATE TABLE ...
    SHALLOW CLONE analog): even-op_seq events LWW-merge into a source
    table, a zero-copy clone references its files, then odd-op_seq events
    merge into the CLONE ONLY (the cloned ledger still gates epochs — the
    divergence commit is epoch 1 over the copied epoch-0 watermarks). The
    result unions both tables' winners tagged by table: the clone must
    show the FULL event set's LWW state, the source only the even half —
    one row-hash pins zero-copy correctness and isolation in both
    directions."""
    import tempfile

    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("event_id") % 5).cast("int").alias("turn_idx"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("event_id").alias("op_seq"),
        F.col("event_id").alias("offset"),
        F.col("value"),
        F.col("ts"),
    )
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    base = tempfile.mkdtemp(prefix="clone-")
    src = SnapshotTable.create(
        spark, base + "/src", schema, key_cols=["conv_id", "turn_idx"], n_buckets=4
    )
    src.merge(
        ev.filter(F.col("op_seq") % 2 == 0),
        op_col="op",
        policy="versioned_upsert",
        commit_keys=[(0, 0)],
    )
    clone = SnapshotTable.clone(spark, src, base + "/clone")
    clone.merge(
        ev.filter(F.col("op_seq") % 2 == 1),
        op_col="op",
        policy="versioned_upsert",
        commit_keys=[(1, 0)],
    )
    cols = ["conv_id", "turn_idx", "op_seq"]

    def winners(t: SnapshotTable, tag: str) -> DataFrame:
        return (
            t.read()
            .filter(F.col("op") != "delete")
            .select(
                F.lit(tag).alias("tbl"),
                *cols,
                F.round("value", 4).alias("value"),
                "ts",
            )
        )

    return winners(clone, "clone").unionByName(winners(src, "src"))


def q_join_mv_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous JOIN materialization end-to-end
    (``streaming/join_mv.py``): facts LWW-merge into a left table, a
    7-row category dimension into a right table, the MV backfills their
    inner join, and the LIVE maintenance stream (one query over BOTH
    snapshot_cdf feeds → recompute-touched-keys → versioned merge) then
    absorbs a fact epoch (updates + deletes + category migrations) and a
    dimension epoch (a relabel fanning out to every fact in the category,
    and a dimension DELETE dropping its facts from the inner join).
    Drains via processAllAvailable. Oracle: DuckDB recomputes final facts
    (global LWW) ⋈ final dims from scratch — convergence means the
    streamed MV equals the join of the final snapshots exactly."""
    import tempfile

    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.streaming.join_mv import (
        backfill_join_mv,
        create_join_mv,
        join_mv_stream,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.concat(F.lit("cat"), (F.col("event_id") % 7).cast("string")).alias(
            "category"
        ),
        F.col("value"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("event_id").alias("op_seq"),
        F.col("event_id").alias("offset"),
    )
    fact_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("category", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
        ]
    )
    dim_schema = T.StructType(
        [
            T.StructField("category", T.StringType(), False),
            T.StructField("label", T.StringType(), True),
            T.StructField("weight", T.DoubleType(), True),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
        ]
    )
    base = tempfile.mkdtemp(prefix="jmv-")
    left = SnapshotTable.create(
        spark, base + "/facts", fact_schema, key_cols=["conv_id"], n_buckets=8
    )
    right = SnapshotTable.create(
        spark, base + "/dims", dim_schema, key_cols=["category"], n_buckets=2
    )
    left.merge(
        ev.filter(F.col("op_seq") % 2 == 0),
        op_col="op",
        policy="versioned_upsert",
        commit_keys=[(0, 0)],
    )

    def dim_rows(rows, seq):
        return spark.createDataFrame(
            [(c, l, w, op, seq, seq) for c, l, w, op in rows], dim_schema
        )

    right.merge(
        dim_rows(
            [(f"cat{i}", f"label-{i}", float(i), "insert") for i in range(7)], 1
        ),
        op_col="op",
        policy="versioned_upsert",
        commit_keys=[(0, 0)],
    )
    mv = create_join_mv(
        spark, base + "/mv", left, right, on=["category"], how="inner"
    )
    lv, rv = backfill_join_mv(mv, left, right)
    q = join_mv_stream(
        spark, left, right, mv, base + "/ckpt", starting_versions=(lv, rv)
    )
    try:
        q.processAllAvailable()
        left.merge(
            ev.filter(F.col("op_seq") % 2 == 1),
            op_col="op",
            policy="versioned_upsert",
            commit_keys=[(1, 0)],
        )
        q.processAllAvailable()  # fact epoch: updates/deletes/migrations
        right.merge(
            dim_rows(
                [
                    ("cat1", "label-1-v2", 1.5, "update"),
                    ("cat2", "label-2", 2.0, "delete"),
                ],
                2,
            ),
            op_col="op",
            policy="versioned_upsert",
            commit_keys=[(1, 0)],
        )
        q.processAllAvailable()  # dim epoch: fan-out relabel + join drop
    finally:
        q.stop()
    return (
        mv.read()
        .filter(F.col("op") != "delete")
        .select(
            "conv_id",
            "category",
            F.round("value", 4).alias("value"),
            "label",
            F.round("weight", 4).alias("weight"),
        )
    )


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-sidecar point lookup (``lake/bloom.py``,
    ``SnapshotTable.lookup`` — the Hudi bloom-index / unique-key C-FIND
    fetch analog, ``QueryRetrieveController`` P6 gating): events LWW-merge
    into an 8-bucket table in TWO epochs (so buckets hold base + delta
    files), ``build_blooms`` writes per-file Bloom sidecars over the
    distinct conv_ids, and ``lookup(['3','7','11'])`` reads only those
    keys' buckets minus every bloom-excluded file. The result must be
    exactly the global LWW winners for the three conversations — pruning
    removes IO, never rows (false positives read extra, false negatives
    are impossible). At 100 TB a point read costs O(one bucket's files),
    not O(table)."""
    import tempfile

    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("event_id") % 5).cast("int").alias("turn_idx"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("event_id").alias("op_seq"),
        F.col("event_id").alias("offset"),
        F.col("value"),
        F.col("ts"),
    )
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    table = SnapshotTable.create(
        spark,
        tempfile.mkdtemp(prefix="blm-") + "/t",
        schema,
        key_cols=["conv_id", "turn_idx"],
        n_buckets=8,
    )
    # two epochs -> base + MoR delta per touched bucket; LWW-max across
    # batches is associative, so the split cannot change the winners
    table.merge(
        ev.filter(F.col("op_seq") % 2 == 0),
        op_col="op",
        policy="versioned_upsert",
        commit_keys=[(0, 0)],
    )
    table.merge(
        ev.filter(F.col("op_seq") % 2 == 1),
        op_col="op",
        policy="versioned_upsert",
        commit_keys=[(1, 0)],
    )
    table.build_blooms()
    return (
        table.lookup(["3", "7", "11"])
        .filter(F.col("op") != "delete")
        .select(
            "conv_id", "turn_idx", "op_seq", F.round("value", 4).alias("value"), "ts"
        )
    )


def q_rollup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance (``streaming/rollup.py``): events
    LWW-merge into a source table, ``backfill_rollup`` seeds a COUNT/SUM
    rollup grouped by ``grp`` from that snapshot, then a second epoch
    migrates every (grp='view', turn_idx=2) winner to grp='migrated' and
    deletes every 'click' winner — a group MIGRATION (preimage decrements
    the old group, postimage increments the new) and an EMPTIED group
    (count reaches 0 ⇒ tombstone, not a zero row). ``refresh_rollup``
    applies the change feed after the seed version in one signed-delta
    batch — the same arithmetic the stream runs. Oracle: DuckDB recomputes
    the final state's GROUP BY from scratch.

    Reference analog: the continuously-maintained per-study counters of
    ``StudyReceiver`` (``apps/StudyReceiver.java:297-305``), as an
    exactly-once derived table."""
    import tempfile

    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.streaming.rollup import (
        backfill_rollup,
        create_rollup_table,
        refresh_rollup,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("event_id") % 5).cast("int").alias("turn_idx"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("event_id").alias("op_seq"),
        F.col("event_id").alias("offset"),
        F.col("event_type").alias("grp"),
        F.col("value"),
    )
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("grp", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    base = tempfile.mkdtemp(prefix="rollup-")
    src = SnapshotTable.create(
        spark, base + "/src", schema, key_cols=["conv_id", "turn_idx"], n_buckets=8
    )
    src.merge(ev, op_col="op", policy="versioned_upsert", commit_keys=[(0, 0)])
    roll = create_rollup_table(
        spark, base + "/roll", src, group_cols=["grp"], sum_cols=["value"]
    )
    v1 = backfill_rollup(roll, src, sum_cols=["value"])

    s1 = src.read().filter(F.col("op") != "delete")
    migrate = s1.filter(
        (F.col("grp") == "view") & (F.col("turn_idx") == 2)
    ).select(
        "conv_id",
        "turn_idx",
        F.lit("update").alias("op"),
        (F.col("op_seq") + F.lit(1_000_000_000)).alias("op_seq"),
        (F.col("offset") + F.lit(1_000_000_000)).alias("offset"),
        F.lit("migrated").alias("grp"),
        F.col("value"),
    )
    empty_click = s1.filter(F.col("grp") == "click").select(
        "conv_id",
        "turn_idx",
        F.lit("delete").alias("op"),
        (F.col("op_seq") + F.lit(2_000_000_000)).alias("op_seq"),
        (F.col("offset") + F.lit(2_000_000_000)).alias("offset"),
        F.col("grp"),
        F.col("value"),
    )
    src.merge(
        migrate.unionByName(empty_click),
        op_col="op",
        policy="versioned_upsert",
        commit_keys=[(1, 0)],
    )
    refresh_rollup(roll, src, from_version=v1, sum_cols=["value"])
    return (
        roll.read()
        .filter(F.col("op") != "delete")
        .select(
            "grp",
            "n_rows",
            F.round("sum_value", 4).alias("sum_value"),
        )
    )


def q_rollup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count rollup arm (``streaming/rollup.py`` ``hll_cols``):
    events LWW-merge into a source table, ``backfill_rollup`` seeds a
    COUNT + COUNT(DISTINCT etype) rollup grouped by ``grp`` (Datasketches
    HLL sketch per group — exact at this ≤4-value cardinality, so the
    DuckDB ``COUNT(DISTINCT)`` oracle is a strict check), then a second
    epoch exercises both maintenance paths: every 'click' winner is
    DELETED (a departure that may remove a value's last copy in its group
    → sketch recompute from the snapshot) and every (etype='view',
    turn_idx=2) winner MIGRATES to a fresh ``grp || '_m'`` group (arrival
    = pure ``hll_union``, O(delta); the old group's 'view' departure
    recomputes and must come back unchanged when other 'view' turns
    remain). ``refresh_rollup`` applies the change feed in one
    signed-delta batch — the same arithmetic the stream runs.

    Reference analog: the per-study distinct-series/instance counters a
    ``StudyReceiver``-style continuous aggregate would maintain
    (``apps/StudyReceiver.java:297-305``), as an exactly-once derived
    table with non-decrementable sketches."""
    import tempfile

    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.streaming.rollup import (
        backfill_rollup,
        create_rollup_table,
        refresh_rollup,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("event_id") % 5).cast("int").alias("turn_idx"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("event_id").alias("op_seq"),
        F.col("event_id").alias("offset"),
        (F.col("user_id") % 37).cast("string").alias("grp"),
        F.col("event_type").alias("etype"),
    )
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("grp", T.StringType(), True),
            T.StructField("etype", T.StringType(), True),
        ]
    )
    base = tempfile.mkdtemp(prefix="rollupdv-")
    src = SnapshotTable.create(
        spark, base + "/src", schema, key_cols=["conv_id", "turn_idx"], n_buckets=8
    )
    src.merge(ev, op_col="op", policy="versioned_upsert", commit_keys=[(0, 0)])
    roll = create_rollup_table(
        spark, base + "/roll", src, group_cols=["grp"], hll_cols=["etype"]
    )
    v1 = backfill_rollup(roll, src, hll_cols=["etype"])

    s1 = src.read().filter(F.col("op") != "delete")
    migrate = s1.filter(
        (F.col("etype") == "view") & (F.col("turn_idx") == 2)
    ).select(
        "conv_id",
        "turn_idx",
        F.lit("update").alias("op"),
        (F.col("op_seq") + F.lit(1_000_000_000)).alias("op_seq"),
        (F.col("offset") + F.lit(1_000_000_000)).alias("offset"),
        F.concat(F.col("grp"), F.lit("_m")).alias("grp"),
        F.col("etype"),
    )
    drop_click = s1.filter(F.col("etype") == "click").select(
        "conv_id",
        "turn_idx",
        F.lit("delete").alias("op"),
        (F.col("op_seq") + F.lit(2_000_000_000)).alias("op_seq"),
        (F.col("offset") + F.lit(2_000_000_000)).alias("offset"),
        F.col("grp"),
        F.col("etype"),
    )
    src.merge(
        migrate.unionByName(drop_click),
        op_col="op",
        policy="versioned_upsert",
        commit_keys=[(1, 0)],
    )
    refresh_rollup(roll, src, from_version=v1, hll_cols=["etype"])
    return (
        roll.read()
        .filter(F.col("op") != "delete")
        .select("grp", "n_rows", "dv_etype")
    )


def q_rollup_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile rollup arm (``streaming/rollup.py`` ``pct_cols``): events
    LWW-merge into a source table, ``backfill_rollup`` seeds a COUNT +
    p50/p90 rollup grouped by ``grp`` (exact interpolated ``percentile`` —
    the ``quantile_cont`` definition, so DuckDB's ``quantile_cont`` is a
    strict oracle), then a second epoch migrates every (grp='view',
    turn_idx=2) winner to grp='migrated' and deletes every 'click' winner.
    Percentiles have no incremental form, so every touched group
    re-derives its quantiles from the source snapshot at the batch's
    covered version; ``refresh_rollup`` applies the change feed in one
    signed-delta batch — the same arithmetic the stream runs.

    Reference analog: per-study latency/size distribution summaries a
    ``StudyReceiver``-style continuous aggregate would maintain
    (``apps/StudyReceiver.java:297-305``), as an exactly-once derived
    table."""
    import tempfile

    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.streaming.rollup import (
        backfill_rollup,
        create_rollup_table,
        refresh_rollup,
    )

    PCT = {"value": [0.5, 0.9]}
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("event_id") % 5).cast("int").alias("turn_idx"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("event_id").alias("op_seq"),
        F.col("event_id").alias("offset"),
        F.col("event_type").alias("grp"),
        F.col("value"),
    )
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("grp", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    base = tempfile.mkdtemp(prefix="rolluppct-")
    src = SnapshotTable.create(
        spark, base + "/src", schema, key_cols=["conv_id", "turn_idx"], n_buckets=8
    )
    src.merge(ev, op_col="op", policy="versioned_upsert", commit_keys=[(0, 0)])
    roll = create_rollup_table(
        spark, base + "/roll", src, group_cols=["grp"], pct_cols=PCT
    )
    v1 = backfill_rollup(roll, src, pct_cols=PCT)

    s1 = src.read().filter(F.col("op") != "delete")
    migrate = s1.filter(
        (F.col("grp") == "view") & (F.col("turn_idx") == 2)
    ).select(
        "conv_id",
        "turn_idx",
        F.lit("update").alias("op"),
        (F.col("op_seq") + F.lit(1_000_000_000)).alias("op_seq"),
        (F.col("offset") + F.lit(1_000_000_000)).alias("offset"),
        F.lit("migrated").alias("grp"),
        F.col("value"),
    )
    empty_click = s1.filter(F.col("grp") == "click").select(
        "conv_id",
        "turn_idx",
        F.lit("delete").alias("op"),
        (F.col("op_seq") + F.lit(2_000_000_000)).alias("op_seq"),
        (F.col("offset") + F.lit(2_000_000_000)).alias("offset"),
        F.col("grp"),
        F.col("value"),
    )
    src.merge(
        migrate.unionByName(empty_click),
        op_col="op",
        policy="versioned_upsert",
        commit_keys=[(1, 0)],
    )
    refresh_rollup(roll, src, from_version=v1, pct_cols=PCT)
    return (
        roll.read()
        .filter(F.col("op") != "delete")
        .select(
            "grp",
            "n_rows",
            F.round("p50_value", 4).alias("p50_value"),
            F.round("p90_value", 4).alias("p90_value"),
        )
    )


def q_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-form change feed (Delta-CDF shape, ``operators/diff.py
    change_feed``): two CDC epochs land as two commits, then the feed
    re-derives per-image rows — insert / delete / update_preimage /
    update_postimage — from the committed snapshots. The oracle rebuilds
    both LWW states in SQL and diffs them with a full-outer join."""
    import tempfile

    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.operators.diff import change_feed

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("event_id") % 3).cast("int").alias("turn_idx"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("event_id").alias("op_seq"),
        F.col("event_id").alias("offset"),
        F.col("value"),
        F.col("ts"),
    )
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    table = SnapshotTable.create(
        spark,
        tempfile.mkdtemp(prefix="cdf-") + "/t",
        schema,
        key_cols=["conv_id", "turn_idx"],
        n_buckets=8,
    )
    table.merge(
        ev.filter(F.col("op_seq") % 2 == 0),
        op_col="op",
        policy="versioned_upsert",
        commit_keys=[(0, 0)],
    )
    v1 = table.current_version()
    table.merge(
        ev.filter(F.col("op_seq") % 2 == 1),
        op_col="op",
        policy="versioned_upsert",
        commit_keys=[(1, 0)],
    )
    return change_feed(table, from_version=v1).select(
        "conv_id",
        "turn_idx",
        "_change_type",
        F.round("value", 4).alias("value"),
        "ts",
    )


def q_replication_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming table→table CDC replication end-to-end
    (``streaming/replicate.py``): events LWW-merge into a source table in
    two commits, and the REAL streaming query (``snapshot_cdf`` feed →
    exactly-once versioned merge into a replica) relays them — the first
    drain replicates epoch 0's inserts, the second replicates epoch 1's
    updates AND deletes as collapsed CDF images. Drains use
    ``processAllAvailable`` (the source is static between commits), so the
    result is deterministic. Oracle: DuckDB recomputes the source's global
    LWW final state from scratch — replica convergence means the streamed
    state equals it exactly.

    Closes the last pytest-only streaming surface (rollup got its oracle
    row via ``rollup_state``). Reference analog: the core nifi-dicom
    deployment ``ListenDICOM → PutDICOM`` relay (``ListenDICOM.java``,
    ``PutDICOM.java``) — continuous PACS→PACS replication."""
    import tempfile

    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.streaming.replicate import (
        create_replica_table,
        replicate_stream,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        (F.col("event_id") % 3).cast("int").alias("turn_idx"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.col("event_id").alias("op_seq"),
        F.col("event_id").alias("offset"),
        F.col("value"),
    )
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("op", T.StringType(), True),
            T.StructField("op_seq", T.LongType(), False),
            T.StructField("offset", T.LongType(), False),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    base = tempfile.mkdtemp(prefix="repl-")
    src = SnapshotTable.create(
        spark, base + "/src", schema, key_cols=["conv_id", "turn_idx"], n_buckets=8
    )
    src.merge(
        ev.filter(F.col("op_seq") % 2 == 0),
        op_col="op",
        policy="versioned_upsert",
        commit_keys=[(0, 0)],
    )
    replica = create_replica_table(spark, base + "/dst", src)
    q = replicate_stream(spark, src.path, replica, base + "/ckpt", starting_version=0)
    try:
        q.processAllAvailable()  # replica ← epoch-0 state
        src.merge(
            ev.filter(F.col("op_seq") % 2 == 1),
            op_col="op",
            policy="versioned_upsert",
            commit_keys=[(1, 0)],
        )
        q.processAllAvailable()  # replica applies epoch-1 updates + deletes
    finally:
        q.stop()
    return (
        replica.read()
        .filter(F.col("op") != "delete")
        .select("conv_id", "turn_idx", F.round("value", 4).alias("value"))
    )


def q_stats_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: metrics serialized as JSON rows (``LogCacheStatistics.java:50-60``
    → ``F.to_json(F.struct(...))``)."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.max("event_id").alias("high_watermark"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "event_type",
        F.to_json(F.struct("high_watermark", "n_events")).alias("stats_json"),
    )


# ---------------------------------------------------------------------------
# PII redaction / repetition quality / dedup clustering
# ---------------------------------------------------------------------------


def _pii_enriched_text() -> "Column":
    """Deterministic PII-bearing text: the synthetic documents are word soup,
    so the query plants identifiers derived from doc_id (the exact same
    expression runs in the DuckDB oracle). Every doc gets an email; phone /
    SSN / card / IP appear on residue classes for variety."""
    d = F.col("doc_id")

    def _pad(m: int, w: int) -> Column:
        return F.lpad((d % m).cast("string"), w, "0")

    return F.concat(
        F.col("text"),
        F.lit(" email user"),
        d.cast("string"),
        F.lit("@example.com"),
        F.when(
            d % 3 == 0,
            F.concat(F.lit(" phone "), _pad(1000, 3), F.lit("-555-"), _pad(10000, 4)),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0, F.concat(F.lit(" ssn 123-45-"), _pad(10000, 4))
        ).otherwise(F.lit("")),
        F.when(
            d % 7 == 0, F.concat(F.lit(" card 4111 1111 1111 "), _pad(10000, 4))
        ).otherwise(F.lit("")),
        F.when(
            d % 4 == 0,
            F.concat(F.lit(" ip 10.0."), (d % 256).cast("string"), F.lit(".25")),
        ).otherwise(F.lit("")),
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free-text deidentification — the corpus-side analogue of the
    reference's attribute-rule engine (DeidentificationService.java): typed
    placeholder redaction + per-kind counts, all JVM regexp (zero shuffle)."""
    from nifi_dicom_spark.functions.pii import pii_stats

    docs = _t(spark, sf_dir, "documents")
    enriched = docs.select("doc_id", _pii_enriched_text().alias("text"))
    return pii_stats(enriched, "text", "doc_id")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (dup-token fraction, mode token and
    word-bigram shares) — the quality-filter family for corpus curation."""
    from nifi_dicom_spark.functions.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "text", "doc_id")


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shipped corpus decision: C4/Gopher-style keep/drop with
    machine-readable reasons, composing token-count / repetition / quality /
    language / PII rules in one zero-shuffle projection."""
    from nifi_dicom_spark.functions.text import quality_filter

    docs = _t(spark, sf_dir, "documents")
    return quality_filter(docs, "text", "doc_id")


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup: SimHash near-dup PAIRS → connected components →
    per-cluster canonical doc (min id) + cluster size. Composes the pairing
    operator with the same label-propagation engine that backs the
    reference's MergeCompositeContext grouping — the "keep one per near-dup
    cluster" step every training-data pipeline ends with."""
    from nifi_dicom_spark.functions.dedup_text import simhash_near_dup
    from nifi_dicom_spark.operators.merge_context import connected_groups

    docs = _t(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    pairs = simhash_near_dup(docs.repartition(n), "text", "doc_id")
    comp = connected_groups(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        "cluster_size",
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup against a durable signature store: the
    doc_id % 10 == 0 slice is ingested first (in-batch clustered, roots
    committed), the % 10 == 1 slice is the probe batch — each doc either
    matches a stored root, joins an in-batch cluster, or becomes a new
    unique. Store reads are bucket-pruned; probe joins broadcast the batch
    side. (Two 10% slices keep the bench query proportionate — the query
    exercises two full ingest cycles of the table machinery.)"""
    import tempfile

    from nifi_dicom_spark.operators.incremental_dedup import (
        create_signature_store,
        incremental_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    docs = docs.repartition(n)
    store = create_signature_store(
        spark, tempfile.mkdtemp(prefix="sigstore_") + "/sigs"
    )
    incremental_dedup(
        store, docs.filter(F.col("doc_id") % 10 == 0), "text", "doc_id"
    )
    out = incremental_dedup(
        store, docs.filter(F.col("doc_id") % 10 == 1), "text", "doc_id"
    )
    return out.select(
        F.col("id").cast("bigint").alias("doc_id"),
        "is_unique",
        F.col("matched_id").cast("bigint").alias("matched_id"),
    )


def bench_incremental_dedup_split(spark: SparkSession, sf_dir: str) -> dict:
    """Bench-only decomposition of ``q_incremental_dedup`` (the CORRECTNESS
    query is unchanged): the timed query's cost is dominated by CREATING
    and committing the durable signature store (multi-commit table setup),
    not by the probe — which is the part that runs per-batch at 10^10
    scale. Returns {"setup_sec", "probe_sec"} so BENCH_r{N} records the
    split; the driver-facing number to compare across rounds is probe_sec."""
    import time

    import tempfile

    from nifi_dicom_spark.operators.incremental_dedup import (
        create_signature_store,
        incremental_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    t0 = time.monotonic()
    store = create_signature_store(
        spark, tempfile.mkdtemp(prefix="sigstore_") + "/sigs"
    )
    incremental_dedup(
        store, docs.filter(F.col("doc_id") % 10 == 0), "text", "doc_id"
    )
    t1 = time.monotonic()
    out = incremental_dedup(
        store, docs.filter(F.col("doc_id") % 10 == 1), "text", "doc_id"
    )
    out.write.format("noop").mode("overwrite").save()
    t2 = time.monotonic()
    return {"setup_sec": round(t1 - t0, 3), "probe_sec": round(t2 - t1, 3)}


# ---------------------------------------------------------------------------
# OLAP sanity (flagship plan-shape check)
# ---------------------------------------------------------------------------


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CDC LWW replay on sf0.001."""
    return q_cdc_lww_replay(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Order matters: only the first 50 entries are oracle-checked, so the
    # least recently verified entries lead.
    return {
        # --- last verified r3 (rotated past r4's 50-cap) — first now -----
        "cfind_query": q_cfind_query,
        "session_path": q_session_path,
        "person_match": q_person_match,
        "nested_deidentify": q_nested_deidentify,
        "deadletter": q_deadletter,
        "stats_scan": q_stats_scan,
        "optimize_scan": q_optimize_scan,
        "zorder_scan": q_zorder_scan,
        "deidentify": q_deidentify,
        "sessionize": q_sessionize,
        "priority_merge": q_priority_merge,
        "winnowing": q_winnowing,
        "exact_dedup": q_exact_dedup,
        "text_stats": q_text_stats,
        "lang_guess": q_lang_guess,
        "fingerprint": q_fingerprint,
        "tokenize": q_tokenize,
        "attr_explode": q_attr_explode,
        "path_build": q_path_build,
        "expr_lang": q_expr_lang,
        "wildcard_match": q_wildcard_match,
        "datetime_range": q_datetime_range,
        # --- new this round (r5) ----------------------------------------
        "rollup_state": q_rollup_state,
        "rollup_distinct": q_rollup_distinct,
        "rollup_pct": q_rollup_pct,
        "replication_state": q_replication_state,
        "point_lookup": q_point_lookup,
        "dup_spans": q_dup_spans,
        "strip_spans": q_strip_spans,
        "bigram_logprob": q_bigram_logprob,
        "clone_read": q_clone_read,
        "join_mv_state": q_join_mv_state,
        # --- newer still (r5 final session): predicate DML + the two
        # remaining binlog envelope dialects ------------------------------
        "delete_where": q_delete_where,
        "update_where": q_update_where,
        "forget_purge": q_forget_purge,
        "drop_column_read": q_drop_column_read,
        "rename_column_read": q_rename_column_read,
        "maxwell_parse": q_maxwell_parse,
        "canal_parse": q_canal_parse,
        "semantic_dedup": q_semantic_dedup,
        # --- green r4 rows: fill the 50-window ---------------------------
        "cdc_lww_replay": q_cdc_lww_replay,
        "cdc_fww_dedup": q_cdc_fww_dedup,
        "keymap_alloc": q_keymap_alloc,
        "watermarks": q_watermarks,
        "route_split": q_route_split,
        "hierarchy_query": q_hierarchy_query,
        "debezium_parse": q_debezium_parse,
        "interval_join": q_interval_join,
        "rebucket_read": q_rebucket_read,
        "change_feed": q_change_feed,
        # --- the tail ----------------------------------------------------
        "stats_json": q_stats_json,
        "merge_into": q_merge_into,
        "asof_join": q_asof_join,
        "snapshot_diff": q_snapshot_diff,
        "anti_join_sync": q_anti_join_sync,
        "incremental_dedup": q_incremental_dedup,
        "near_dup_clusters": q_near_dup_clusters,
        "minhash_near_dup": q_minhash_near_dup,
        "simhash_near_dup": q_simhash_near_dup,
        "ann_ivf": q_ann_ivf,
        "encrypt_roundtrip": q_encrypt_roundtrip,
        "redact_regions": q_redact_regions,
        "tpch_q1": q_tpch_q1,
        "pii_redact": q_pii_redact,
        "repetition_stats": q_repetition_stats,
        "quality_filter": q_quality_filter,
        "unigram_logprob": q_unigram_logprob,
        "top_ngrams": q_top_ngrams,
        "simhash": q_simhash,
        "knn_cosine": q_knn_cosine,
        "ann_lsh": q_ann_lsh,
        "token_jaccard": q_token_jaccard,
        "embedding_near_dup": q_embedding_near_dup,
        "multimodal_features": q_multimodal_features,
        "png_decode": q_png_decode,
        "jpeg_decode": q_jpeg_decode,
    }


# ---------------------------------------------------------------------------
# generated DuckDB oracles (deterministic parameters inlined as literals)
# ---------------------------------------------------------------------------


def _minhash_oracle(k: int = 8, bands: int = 4, cap: int = 64, thr: float = 0.5) -> str:
    """Full MinHash+LSH pipeline in DuckDB: 3-word shingles → K md5
    minhashes (8-hex-char / 32-bit slices of md5(s)‖md5(s‖'#2'), matching
    ``_minhash_one``) → md5 band buckets → gated bucket self-join → exact
    Jaccard."""
    rpb = k // bands
    mh = ", ".join(
        "list_min(list_transform(shingles, "
        f"s -> substr(md5(s) || md5(s || '#2'), {8 * i + 1}, 8)))"
        for i in range(k)
    )
    band_elems = " , ".join(f"mh[{rpb} * band + {r + 1}]" for r in range(rpb))
    return f"""
        WITH t AS (
          SELECT doc_id,
                 list_transform(list_filter(string_split_regex(text, '\\s+'),
                                x -> x <> ''), x -> lower(x)) AS toks
          FROM documents
        ), sh AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 3 THEN
                   list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                 i -> array_to_string(toks[i:i+2], ' ')))
                 ELSE CAST([] AS VARCHAR[]) END AS shingles
          FROM t
        ), sig AS (
          SELECT doc_id, shingles, [{mh}] AS mh FROM sh
        ), banded AS (
          SELECT doc_id, band, md5(concat_ws('|', {band_elems})) AS bucket
          FROM sig CROSS JOIN (SELECT unnest([{", ".join(map(str, range(bands)))}]) AS band) b
        ), eligible AS (
          SELECT band, bucket FROM banded GROUP BY band, bucket
          HAVING count(*) >= 2 AND count(*) <= {cap}
        ), gated AS (
          SELECT banded.* FROM banded JOIN eligible USING (band, bucket)
        ), pairs AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM gated l JOIN gated r ON l.band = r.band AND l.bucket = r.bucket
                                   AND l.doc_id < r.doc_id
        )
        SELECT id_a, id_b, jaccard FROM (
          SELECT p.id_a, p.id_b,
                 round(CASE WHEN len(list_distinct(list_concat(sa.shingles, sb.shingles))) > 0
                       THEN len(list_intersect(sa.shingles, sb.shingles))
                            / CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE)
                       ELSE 0.0 END, 6) AS jaccard
          FROM pairs p JOIN sh sa ON p.id_a = sa.doc_id
                       JOIN sh sb ON p.id_b = sb.doc_id
        ) WHERE jaccard >= {thr}
    """


def _simhash_sig_cte(n_bits: int = 60) -> str:
    """CTEs computing (doc_id, simhash): per-token 60-bit md5 value, per-bit
    majority votes, bits packed into a BIGINT — mirrors simhash_signatures."""
    val = " + ".join(
        f"((strpos('0123456789abcdef', substr(md5(tok), {p}, 1)) - 1)::BIGINT"
        f" << {4 * (15 - p)})"
        for p in range(1, 16)
    )
    sig = " + ".join(
        f"(CASE WHEN 2 * coalesce(list_sum(list_transform(vals, v -> (v >> {b}) & 1)), 0) > n"
        f" THEN 1::BIGINT << {b} ELSE 0 END)"
        for b in range(n_bits)
    )
    return f"""
        t AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
                   x -> lower(x))) AS toks
          FROM documents
        ), v AS (
          SELECT doc_id, len(toks) AS n,
                 list_transform(toks, tok -> {val}) AS vals
          FROM t
        ), sigs AS (
          SELECT doc_id, ({sig}) AS simhash FROM v
        )
    """


def _simhash_oracle() -> str:
    return f"WITH {_simhash_sig_cte()} SELECT doc_id, simhash FROM sigs"


def _simhash_near_dup_oracle(
    max_hamming: int = 3, n_bits: int = 60, n_bands: int = 4, cap: int = 256
) -> str:
    bounds = [b * n_bits // n_bands for b in range(n_bands + 1)]
    chunks = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {b} AS band,"
        f" (simhash >> {bounds[b]}) & {(1 << (bounds[b + 1] - bounds[b])) - 1} AS chunk"
        " FROM sigs"
        for b in range(n_bands)
    )
    return f"""
        WITH {_simhash_sig_cte(n_bits)}, banded AS ({chunks}),
        eligible AS (
          SELECT band, chunk FROM banded GROUP BY band, chunk
          HAVING count(*) >= 2 AND count(*) <= {cap}
        ), gated AS (
          SELECT banded.* FROM banded JOIN eligible USING (band, chunk)
        ), pairs AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                 l.simhash AS sig_a, r.simhash AS sig_b
          FROM gated l JOIN gated r ON l.band = r.band AND l.chunk = r.chunk
                                   AND l.doc_id < r.doc_id
        )
        SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
        FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}
    """


def _vec_lit(v: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in v) + "]::DOUBLE[]"


def _ann_lsh_oracle(
    dim: int = 64, k: int = 5, n_planes: int = 6, n_tables: int = 3, seed: int = 42
) -> str:
    """SRP-LSH replayed exactly: the same seeded hyperplanes as the Spark
    side (``_projection_vectors``) inlined as literals; sign buckets, bucket
    join, cosine rank."""
    from nifi_dicom_spark.functions.similarity import _projection_vectors

    tables = [
        _projection_vectors(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]

    def bucket(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN list_dot_product(v, {_vec_lit(p)}) > 0"
            f" THEN 1::BIGINT << {i} ELSE 0 END)"
            for i, p in enumerate(tables[t])
        )

    cb = "\nUNION ALL\n".join(
        f"SELECT neighbor_id, {t} AS tbl, ({bucket(t)}) AS bucket FROM c"
        for t in range(n_tables)
    )
    qb = "\nUNION ALL\n".join(
        f"SELECT query_id, {t} AS tbl, ({bucket(t)}) AS bucket FROM q"
        for t in range(n_tables)
    )
    return f"""
        WITH c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 5),
        cb AS ({cb}), qb AS ({qb}),
        pair_ids AS (
          SELECT DISTINCT query_id, neighbor_id
          FROM cb JOIN qb USING (tbl, bucket) WHERE neighbor_id <> query_id
        ), scored AS (
          SELECT p.query_id, p.neighbor_id,
                 round(list_cosine_similarity(qv.v, cv.v), 6) AS cos_sim
          FROM pair_ids p
          JOIN c cv ON p.neighbor_id = cv.neighbor_id
          JOIN q qv ON p.query_id = qv.query_id
        ), ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}
    """


def _trained_ivf_centroids(
    n_cells: int, sample_n: int = 256, seed: int = 42
) -> list[list[float]]:
    """Re-run the exact training the Spark side does, outside Spark: read
    the same parquet the driver's oracle views point at (sf0.01), take the
    ``sample_n`` lowest-id vectors, run the same deterministic k-means
    (``train_centroids`` — float64, 6-dp-quantized, LCG init). Identical
    inputs + identical pinned arithmetic ⇒ bit-identical centroids."""
    import numpy as np
    import pyarrow.parquet as pq

    from nifi_dicom_spark.functions.similarity import train_centroids

    t = pq.read_table(
        f"{_oracle_sf_dir()}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pandas()
    t = t.sort_values("vec_id").head(sample_n)
    sample = np.array([list(v) for v in t["embedding"]], dtype=np.float64)
    return train_centroids(sample, n_cells, seed)


def _ann_ivf_oracle(
    dim: int = 64, k: int = 5, n_cells: int = 16, n_probe: int = 8, seed: int = 42
) -> str:
    """IVF replayed exactly: TRAINED centroids (same deterministic k-means
    as the Spark side, re-run from the same parquet) inlined as literals;
    cell = argmax cosine (6-dp rounded, cid tie-break), probe = top n_probe
    cells."""
    cents = _trained_ivf_centroids(n_cells, seed=seed)
    values = ",\n".join(f"({i}, {_vec_lit(c)})" for i, c in enumerate(cents))
    return f"""
        WITH cent(cid, cv) AS (VALUES {values}),
        c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
        q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 5),
        csims AS (
          SELECT neighbor_id, cid, round(list_cosine_similarity(v, cv), 6) AS sim
          FROM c CROSS JOIN cent
        ), ccell AS (
          SELECT neighbor_id, cid AS cell FROM (
            SELECT neighbor_id, cid, row_number() OVER (
              PARTITION BY neighbor_id ORDER BY sim DESC, cid DESC) AS rn
            FROM csims) WHERE rn = 1
        ), qsims AS (
          SELECT query_id, cid, round(list_cosine_similarity(v, cv), 6) AS sim
          FROM q CROSS JOIN cent
        ), qprobe AS (
          SELECT query_id, cid AS cell FROM (
            SELECT query_id, cid, row_number() OVER (
              PARTITION BY query_id ORDER BY sim DESC, cid DESC) AS rn
            FROM qsims) WHERE rn <= {n_probe}
        ), scored AS (
          SELECT p.query_id, cc.neighbor_id,
                 round(list_cosine_similarity(qv.v, cv.v), 6) AS cos_sim
          FROM qprobe p
          JOIN ccell cc ON p.cell = cc.cell
          JOIN c cv ON cc.neighbor_id = cv.neighbor_id
          JOIN q qv ON p.query_id = qv.query_id
          WHERE cc.neighbor_id <> p.query_id
        ), ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}
    """


def _semantic_dedup_oracle(
    n_clusters: int = 8, threshold: float = 0.35, seed: int = 42
) -> str:
    """semantic_dedup replayed exactly: identical re-trained centroids
    inlined as literals; cluster = quantized argmax (ties to highest cid),
    dup = any smaller-id same-cluster row at rounded cosine >= threshold."""
    cents = _trained_ivf_centroids(n_clusters, seed=seed)
    values = ",\n".join(f"({i}, {_vec_lit(c)})" for i, c in enumerate(cents))
    return f"""
        WITH cent(cid, cv) AS (VALUES {values}),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sims AS (
          SELECT vec_id, cid, round(list_cosine_similarity(v, cv), 6) AS sim
          FROM e CROSS JOIN cent
        ), cell AS (
          SELECT vec_id, cid AS cluster FROM (
            SELECT vec_id, cid, row_number() OVER (
              PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
            FROM sims) WHERE rn = 1
        ), ec AS (
          SELECT e.vec_id, e.v, c.cluster FROM e JOIN cell c USING (vec_id)
        ), dup AS (
          SELECT DISTINCT b.vec_id FROM ec a JOIN ec b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          AND round(list_cosine_similarity(a.v, b.v), 6) >= {threshold}
        )
        SELECT ec.vec_id, CAST(ec.cluster AS INT) AS cluster,
               (dup.vec_id IS NOT NULL) AS is_dup
        FROM ec LEFT JOIN dup ON ec.vec_id = dup.vec_id
    """


def _person_match_oracle() -> str:
    """The three probe names and the normalize-at-write search columns,
    replayed with the same regexp/translate expressions as the Spark side."""
    canon = (
        "lower(regexp_replace({src}, '[^A-Za-z0-9^]', '', 'g'))"
    )
    phon = (
        "concat(substr(upper(regexp_replace({src}, '[^A-Za-z0-9]', '', 'g')), 1, 1),"
        " translate(regexp_replace("
        "substr(upper(regexp_replace({src}, '[^A-Za-z0-9]', '', 'g')), 2),"
        " '[AEIOUYHW]', '', 'g'),"
        " 'BFPVCGJKQSXZDTLMNR', '111122222222334556'))"
    )
    swap = (
        "CASE WHEN len(string_split({c}, '^')) >= 2"
        " THEN string_split({c}, '^')[2] || '^' || string_split({c}, '^')[1]"
        " ELSE {c} END"
    )
    name = "replace(c_name, '#', '^')"
    rc, rp = canon.format(src=name), phon.format(src=name)
    rs = swap.format(c=rc)
    pc, pp = canon.format(src="probe"), phon.format(src="probe")
    ps = swap.format(c=pc)
    return f"""
        WITH probes(probe) AS (VALUES ('customer^000000007'),
                                      ('000000014^Customer'),
                                      ('Castemer^000000021')),
        p AS (SELECT probe, {pc} AS p_canon, {pp} AS p_phon, {ps} AS p_swap
              FROM probes),
        recs AS (SELECT c_custkey, {rc} AS pm_canonical, {rp} AS pm_phonetic,
                        {rs} AS pm_swapped
                 FROM customer)
        SELECT probe, c_custkey, 'canonical' AS match_mode
        FROM recs JOIN p ON p_canon = pm_canonical
        UNION ALL
        SELECT probe, c_custkey, 'phonetic' FROM recs JOIN p ON p_phon = pm_phonetic
        UNION ALL
        SELECT probe, c_custkey, 'swap' FROM recs JOIN p ON p_swap = pm_canonical
    """


_PII_ENRICH_SQL = """
    text || ' email user' || CAST(doc_id AS VARCHAR) || '@example.com'
    || CASE WHEN doc_id % 3 = 0 THEN ' phone ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
            || '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' card 4111 1111 1111 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
    || CASE WHEN doc_id % 4 = 0 THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.25' ELSE '' END
"""


def _pii_redact_oracle() -> str:
    """Same enrichment + sequential redaction + per-kind counts as
    ``pii_stats`` — the redaction template nests regexp_replace in the same
    declaration order the Spark side applies."""
    from nifi_dicom_spark.functions.pii import oracle_sql_fragments

    redact_tpl, count_tpls = oracle_sql_fragments()
    # plain token replace, not str.format — regex quantifier braces ({2,})
    # are literal text here
    redacted = redact_tpl.replace("{col}", "text")
    counts = ",\n               ".join(
        f"CAST({tpl.replace('{col}', 'text')} AS BIGINT) AS n_{kind}"
        for kind, tpl in count_tpls
    )
    total = " + ".join(f"n_{kind}" for kind, _ in count_tpls)
    return f"""
        WITH e AS (
          SELECT doc_id, {_PII_ENRICH_SQL} AS text FROM documents
        ), r AS (
          SELECT doc_id,
               {redacted} AS redacted,
               {counts}
          FROM e
        )
        SELECT *, ({total}) > 0 AS has_pii FROM r
    """


_REPETITION_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             list_transform(list_filter(string_split_regex(text, '\\s+'),
                            x -> x <> ''), x -> lower(x)) AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct
      FROM t
    ), tok AS (
      SELECT doc_id, unnest(toks) AS term FROM t
    ), tc AS (
      SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term
    ), tt AS (
      SELECT doc_id, term AS top_token, c AS top_n FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, term ASC) AS rn
        FROM tc
      ) WHERE rn = 1
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS term
      FROM t
    ), bc AS (
      SELECT doc_id, term, count(*) AS c FROM bg GROUP BY doc_id, term
    ), bt AS (
      SELECT doc_id, term AS top_bigram, c AS top_bn FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, term ASC) AS rn
        FROM bc
      ) WHERE rn = 1
    )
    SELECT s.doc_id,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           round(CASE WHEN n_tokens > 0
                 THEN (n_tokens - n_distinct) / CAST(n_tokens AS DOUBLE)
                 ELSE 0.0 END, 6) AS dup_token_frac,
           coalesce(tt.top_token, '') AS top_token,
           round(CASE WHEN n_tokens > 0
                 THEN coalesce(top_n, 0) / CAST(n_tokens AS DOUBLE)
                 ELSE 0.0 END, 6) AS top_token_frac,
           coalesce(bt.top_bigram, '') AS top_bigram,
           round(CASE WHEN n_tokens > 1
                 THEN coalesce(top_bn, 0) / CAST(n_tokens - 1 AS DOUBLE)
                 ELSE 0.0 END, 6) AS top_bigram_frac
    FROM s LEFT JOIN tt USING (doc_id) LEFT JOIN bt USING (doc_id)
"""


def _incremental_dedup_oracle(
    max_hamming: int = 3, n_bits: int = 60, n_bands: int = 4, cap: int = 256
) -> str:
    """Replays the two-phase incremental dedup: evens clustered (recursive
    CTE), roots become the store; odds match stored roots (chunk-capped)
    else cluster among themselves. All id comparisons are over the VARCHAR
    form — the operator keys the store by string ids, so min/ordering are
    lexicographic."""
    bounds = [b * n_bits // n_bands for b in range(n_bands + 1)]
    chunks = "\nUNION ALL\n".join(
        f"SELECT CAST(doc_id AS VARCHAR) AS id, doc_id, simhash, {b} AS band,"
        f" (simhash >> {bounds[b]}) & {(1 << (bounds[b + 1] - bounds[b])) - 1} AS chunk"
        " FROM sigs"
        for b in range(n_bands)
    )
    return f"""
        WITH RECURSIVE {_simhash_sig_cte(n_bits)}, banded AS MATERIALIZED ({chunks}),
        ev AS MATERIALIZED (SELECT * FROM banded WHERE doc_id % 10 = 0),
        od AS MATERIALIZED (SELECT * FROM banded WHERE doc_id % 10 = 1),
        epairs AS (
          SELECT DISTINCT l.id AS a, r.id AS b
          FROM ev l JOIN ev r ON l.band = r.band AND l.chunk = r.chunk
                             AND l.id < r.id
          WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
        ),
        eedges AS (SELECT a, b FROM epairs UNION SELECT b, a FROM epairs),
        enodes AS (SELECT DISTINCT id FROM ev),
        ereach(id, r) AS (
          SELECT id, id FROM enodes
          UNION
          SELECT e.a, ereach.r FROM eedges e JOIN ereach ON e.b = ereach.id
        ),
        ecomp AS (SELECT id, min(r) AS root FROM ereach GROUP BY id),
        store AS (
          SELECT ev.* FROM ev JOIN ecomp ON ev.id = ecomp.id AND ecomp.id = ecomp.root
        ),
        hot AS (
          SELECT band, chunk FROM store GROUP BY band, chunk
          HAVING count(*) > {cap}
        ),
        store2 AS (SELECT store.* FROM store ANTI JOIN hot USING (band, chunk)),
        om AS (
          SELECT o.id, min(s2.id) AS matched_id
          FROM od o JOIN store2 s2 ON o.band = s2.band AND o.chunk = s2.chunk
          WHERE bit_count(xor(o.simhash, s2.simhash)) <= {max_hamming}
          GROUP BY o.id
        ),
        surv AS (
          SELECT DISTINCT id FROM od WHERE id NOT IN (SELECT id FROM om)
        ),
        sb AS (SELECT od.* FROM od JOIN surv USING (id)),
        opairs AS (
          SELECT DISTINCT l.id AS a, r.id AS b
          FROM sb l JOIN sb r ON l.band = r.band AND l.chunk = r.chunk
                             AND l.id < r.id
          WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
        ),
        oedges AS (SELECT a, b FROM opairs UNION SELECT b, a FROM opairs),
        oreach(id, r) AS (
          SELECT id, id FROM surv
          UNION
          SELECT e.a, oreach.r FROM oedges e JOIN oreach ON e.b = oreach.id
        ),
        ocomp AS (SELECT id, min(r) AS root FROM oreach GROUP BY id),
        odup AS (SELECT id, root AS matched_id FROM ocomp WHERE id <> root),
        alldup AS (SELECT * FROM om UNION ALL SELECT * FROM odup),
        odocs AS (SELECT DISTINCT id, doc_id FROM od)
        SELECT odocs.doc_id,
               (alldup.matched_id IS NULL) AS is_unique,
               CAST(alldup.matched_id AS BIGINT) AS matched_id
        FROM odocs LEFT JOIN alldup USING (id)
    """


def _quality_filter_oracle(
    min_tokens: int = 10, max_dup_frac: float = 0.8, min_quality: float = 0.5
) -> str:
    """quality_filter replayed: same quality composite as the text_stats
    oracle, same lang CASE, PII counts over the raw text, reasons joined in
    the same fixed rule order."""
    from nifi_dicom_spark.functions.pii import oracle_sql_fragments

    _, count_tpls = oracle_sql_fragments()
    pii_total = " + ".join(tpl.replace("{col}", "text") for _, tpl in count_tpls)
    sw = (
        "len(list_filter(toks, x -> x IN "
        "('the','a','of','and','to','in','is','it','that','for')))"
    )
    quality = f"""round((
        (CASE WHEN len(toks) >= 5 THEN 1.0 ELSE len(toks) / 5.0 END)
        + (CASE WHEN len(toks) > 0
                AND list_sum(list_transform(toks, x -> len(x))) / CAST(len(toks) AS DOUBLE) BETWEEN 3 AND 10
                THEN 1.0 ELSE 0.5 END)
        + (CASE WHEN len(toks) > 0
                AND {sw} / CAST(len(toks) AS DOUBLE) > 0.0
                AND {sw} / CAST(len(toks) AS DOUBLE) < 0.6
                THEN 1.0 ELSE 0.5 END)
        + (CASE WHEN (len(text) - len(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / CAST(greatest(len(text), 1) AS DOUBLE) < 0.2
                THEN 1.0 ELSE 0.3 END)
      ) / 4.0, 6)"""
    lang = """CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
         WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
         ELSE 'fr' END"""
    reasons = f"""concat_ws(',',
        CASE WHEN n_tokens < {min_tokens} THEN 'too_short' END,
        CASE WHEN dup_token_frac > {max_dup_frac} THEN 'repetitive' END,
        CASE WHEN quality < {min_quality} THEN 'low_quality' END,
        CASE WHEN lang = 'und' THEN 'lang_unknown' END,
        CASE WHEN n_pii > 0 THEN 'has_pii' END)"""
    return f"""
        WITH t AS (
          SELECT doc_id, text,
                 list_transform(list_filter(string_split_regex(text, '\\s+'),
                                x -> x <> ''), x -> lower(x)) AS toks
          FROM documents
        ), s AS (
          SELECT doc_id, text, toks,
                 len(list_filter(toks, x -> x IN ('der','und','ist'))) AS s_de,
                 len(list_filter(toks, x -> x IN ('the','and','is'))) AS s_en,
                 len(list_filter(toks, x -> x IN ('el','y','es'))) AS s_es,
                 len(list_filter(toks, x -> x IN ('le','et','est'))) AS s_fr
          FROM t
        ), m AS (
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 round(CASE WHEN len(toks) > 0
                       THEN (len(toks) - len(list_distinct(toks))) / CAST(len(toks) AS DOUBLE)
                       ELSE 0.0 END, 6) AS dup_token_frac,
                 {quality} AS quality,
                 {lang} AS lang,
                 ({pii_total}) AS n_pii
          FROM s
        ), r AS (
          SELECT doc_id, n_tokens, dup_token_frac, quality, lang,
                 {reasons} AS reasons
          FROM m
        )
        SELECT doc_id, n_tokens, dup_token_frac, quality, lang, reasons,
               (reasons = '') AS keep
        FROM r
    """


def _near_dup_clusters_oracle() -> str:
    """Transitive closure (recursive CTE) over the simhash near-dup pair
    oracle; cluster id = min reachable doc id — exactly the fixpoint the
    pointer-doubling label propagation converges to."""
    pairs_sql = _simhash_near_dup_oracle()
    return f"""
        WITH RECURSIVE pairs AS MATERIALIZED ({pairs_sql}),
        edges AS MATERIALIZED (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION
          SELECT id_b AS a, id_a AS b FROM pairs
        ),
        nodes AS (SELECT DISTINCT a AS id FROM edges),
        reach(id, r) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
        ),
        comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        sized AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
        SELECT c.doc_id, c.cluster_id,
               (c.doc_id = c.cluster_id) AS is_canonical,
               s.cluster_size
        FROM comp c JOIN sized s USING (cluster_id)
    """


#: oracle_sql() memo, keyed by the sf dir its data-dependent builders read
#: (several r5 builders re-run real media codecs over the fixture payloads
#: to inline expected values — ~2-4 min of pure Python per build; the test
#: harness calls oracle_sql() once per parameterized test, which without
#: this cache multiplied that cost by the whole query count)
_ORACLE_SQL_CACHE: dict[str, dict] = {}


def oracle_sql() -> dict[str, str]:
    sf_dir = _oracle_sf_dir()
    cached = _ORACLE_SQL_CACHE.get(sf_dir)
    if cached is None:
        cached = _ORACLE_SQL_CACHE[sf_dir] = _build_oracle_sql()
    return dict(cached)  # shallow copy: callers may mutate their view


def _build_oracle_sql() -> dict[str, str]:
    return {
        "cdc_lww_replay": """
            WITH ranked AS (
              SELECT user_id, event_id, event_type, value,
                     row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
              FROM events
            )
            SELECT user_id,
                   event_id AS last_event_id,
                   event_type AS last_event_type,
                   round(value, 4) AS last_value
            FROM ranked WHERE rn = 1 AND event_type <> 'error'
        """,
        "cdc_fww_dedup": """
            WITH ranked AS (
              SELECT user_id, event_type, event_id, value,
                     row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id ASC) AS rn
              FROM events
            )
            SELECT user_id, event_type,
                   event_id AS first_event_id,
                   round(value, 4) AS first_value
            FROM ranked WHERE rn = 1
        """,
        "keymap_alloc": """
            SELECT DISTINCT CAST(user_id AS VARCHAR) AS original,
                   md5(CAST(user_id AS VARCHAR)) AS replaced
            FROM events
        """,
        "watermarks": """
            SELECT event_type,
                   max(event_id) AS high_watermark,
                   count(*) AS n_events,
                   max(ts) AS last_ts
            FROM events GROUP BY event_type
        """,
        "route_split": """
            SELECT CASE WHEN event_type = 'error' THEN 'quarantine'
                        WHEN value >= 100 THEN 'high'
                        ELSE 'normal' END AS route,
                   count(*) AS n,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1
        """,
        "wildcard_match": """
            SELECT doc_id, lang, source FROM documents
            WHERE source LIKE 'src1_' AND lang LIKE 'e_'
        """,
        "datetime_range": """
            SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events
            WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00'
                         AND TIMESTAMP '2024-01-12 23:59:59.999999'
            GROUP BY event_type
        """,
        "hierarchy_query": """
            SELECT n_name, count(*) AS n_orders,
                   round(sum(o_totalprice), 4) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
        """,
        "deidentify": """
            SELECT c_custkey,
                   'Anonymous^' || upper(substr(md5(c_name), 1, 10)) AS alias_name,
                   upper(md5(CAST(c_custkey AS VARCHAR) || 'PatientId')) AS alias_id,
                   substr(md5(c_mktsegment), 1, 8) AS segment_hash
            FROM customer
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            )
            SELECT user_id,
                   CAST(sum(new_s) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id
        """,
        "priority_merge": """
            SELECT user_id,
                   arg_min(props, event_id) FILTER (WHERE event_type = 'purchase')
                     AS purchase_props,
                   arg_min(ts, event_id) FILTER (WHERE event_type = 'signup')
                     AS signup_ts
            FROM events GROUP BY user_id
        """,
        "exact_dedup": """
            SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
                   min(doc_id) AS doc_id,
                   count(*) AS n_dups
            FROM documents GROUP BY 1
        """,
        "text_stats": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks,
                     text
              FROM documents
            )
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   round(CASE WHEN len(toks) > 0 THEN
                     len(list_filter(toks, x -> lower(x) IN
                       ('the','a','of','and','to','in','is','it','that','for')))
                     / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS stop_ratio,
                   round(CASE WHEN len(toks) > 0 THEN
                     list_sum(list_transform(toks, x -> len(x)))
                     / CAST(len(toks) AS DOUBLE) ELSE 0.0 END, 6) AS mean_word_len,
                   round((
                     (CASE WHEN len(toks) >= 5 THEN 1.0 ELSE len(toks) / 5.0 END)
                     + (CASE WHEN len(toks) > 0
                             AND list_sum(list_transform(toks, x -> len(x))) / CAST(len(toks) AS DOUBLE) BETWEEN 3 AND 10
                             THEN 1.0 ELSE 0.5 END)
                     + (CASE WHEN len(toks) > 0
                             AND len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in','is','it','that','for'))) / CAST(len(toks) AS DOUBLE) > 0.0
                             AND len(list_filter(toks, x -> lower(x) IN ('the','a','of','and','to','in','is','it','that','for'))) / CAST(len(toks) AS DOUBLE) < 0.6
                             THEN 1.0 ELSE 0.5 END)
                     + (CASE WHEN (len(text) - len(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / CAST(greatest(len(text), 1) AS DOUBLE) < 0.2
                             THEN 1.0 ELSE 0.3 END)
                   ) / 4.0, 6) AS quality
            FROM t
        """,
        "lang_guess": """
            WITH t AS (
              SELECT doc_id,
                     list_transform(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''), x -> lower(x)) AS toks
              FROM documents
            ), s AS (
              SELECT doc_id,
                     len(list_filter(toks, x -> x IN ('der','und','ist'))) AS s_de,
                     len(list_filter(toks, x -> x IN ('the','and','is'))) AS s_en,
                     len(list_filter(toks, x -> x IN ('el','y','es'))) AS s_es,
                     len(list_filter(toks, x -> x IN ('le','et','est'))) AS s_fr
              FROM t
            )
            SELECT doc_id,
                   CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                        WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                        WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                        WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                        ELSE 'fr' END AS lang_guess
            FROM s
        """,
        "fingerprint": """
            SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
                   len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens
            FROM documents
        """,
        "winnowing": """
            WITH t AS (
              SELECT doc_id,
                     list_transform(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> ''), x -> lower(x)) AS toks
              FROM documents
            ), g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 3 THEN
                       list_transform(generate_series(1, len(toks) - 2),
                         i -> substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 8))
                     ELSE CAST([] AS VARCHAR[]) END AS grams
              FROM t
            ), m AS (
              SELECT doc_id,
                     CASE WHEN len(grams) >= 4 THEN
                       list_transform(generate_series(1, len(grams) - 3),
                         j -> list_min(grams[j:j+3]))
                     WHEN len(grams) >= 1 THEN [list_min(grams)]
                     ELSE CAST([] AS VARCHAR[]) END AS mins
              FROM g
            )
            SELECT doc_id,
                   len(list_distinct(mins)) AS n_fingerprints,
                   coalesce(array_to_string(list_sort(list_distinct(mins)), ','), '')
                     AS fingerprints
            FROM m
        """,
        "minhash_near_dup": _minhash_oracle(),
        "pii_redact": _pii_redact_oracle(),
        "quality_filter": _quality_filter_oracle(),
        "repetition_stats": _REPETITION_ORACLE,
        "near_dup_clusters": _near_dup_clusters_oracle(),
        "incremental_dedup": _incremental_dedup_oracle(),
        "simhash": _simhash_oracle(),
        "simhash_near_dup": _simhash_near_dup_oracle(),
        "ann_lsh": _ann_lsh_oracle(),
        "ann_ivf": _ann_ivf_oracle(),
        "semantic_dedup": _semantic_dedup_oracle(),
        "person_match": _person_match_oracle(),
        "png_decode": _png_decode_oracle(),
        "jpeg_decode": _jpeg_decode_oracle(),
        "redact_regions": _redact_regions_oracle(),
        "bigram_logprob": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_transform(list_filter(string_split_regex(text, '\s+'),
                                    x -> x <> ''), x -> lower(x)) AS t
              FROM documents
            ), bg AS (
              SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
              FROM (SELECT doc_id, t,
                           unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
                    FROM toks)
            ), bgf AS (
              SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2
            ), ug AS (
              SELECT w1, count(*) AS cu
              FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY 1
            ), v AS (SELECT count(*) AS v FROM ug)
            SELECT b.doc_id AS id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(avg(ln((f.cb + 0.5) / (u.cu + 0.5 * v.v))), 4)
                     AS mean_logprob,
                   round(-avg(ln((f.cb + 0.5) / (u.cu + 0.5 * v.v))) / ln(2), 4)
                     AS bits_per_token
            FROM bg b JOIN bgf f USING (w1, w2) JOIN ug u USING (w1) CROSS JOIN v
            GROUP BY b.doc_id
        """,
        "dup_spans": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents
            ), sh AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(t[i : i + 7], ' ') AS win
              FROM (SELECT doc_id, t,
                           unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
                    FROM toks)
            ), dup AS (
              SELECT win FROM sh GROUP BY win
              HAVING count(DISTINCT doc_id) >= 2
            ), hits AS (
              SELECT s.doc_id, s.pos,
                     row_number() OVER (PARTITION BY s.doc_id ORDER BY s.pos) AS rn
              FROM sh s JOIN dup d USING (win)
            ), spans AS (
              SELECT doc_id,
                     CAST(min(pos) AS BIGINT) AS span_start,
                     CAST(max(pos) + 7 AS BIGINT) AS span_end,
                     CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_tokens
              FROM hits GROUP BY doc_id, pos - rn
            )
            SELECT s.doc_id, s.span_start, s.span_end, s.span_tokens,
                   array_to_string(t[s.span_start + 1 : s.span_end + 1], ' ')
                     AS span_text
            FROM spans s JOIN toks USING (doc_id)
        """,
        "strip_spans": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents
            ), sh AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(t[i : i + 7], ' ') AS win
              FROM (SELECT doc_id, t,
                           unnest(generate_series(1, greatest(len(t) - 7, 0))) AS i
                    FROM toks)
            ), dup AS (
              SELECT win FROM sh GROUP BY win
              HAVING count(DISTINCT doc_id) >= 2
            ), hits AS (
              SELECT s.doc_id, s.pos,
                     row_number() OVER (PARTITION BY s.doc_id ORDER BY s.pos) AS rn
              FROM sh s JOIN dup d USING (win)
            ), spans AS (
              SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
              FROM hits GROUP BY doc_id, pos - rn
            ), covered AS (
              SELECT doc_id, unnest(generate_series(span_start, span_end)) AS pos
              FROM spans
            ), tp AS (
              SELECT doc_id, i - 1 AS pos, t[i] AS tok
              FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
                    FROM toks)
            ), kept AS (
              SELECT tp.doc_id, tp.pos, tp.tok
              FROM tp ANTI JOIN covered USING (doc_id, pos)
            ), agg AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned
              FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(a.cleaned, '') AS cleaned_text
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "unigram_logprob": """
            WITH tok AS (
              SELECT doc_id AS id,
                     unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                        x -> x <> '')) AS token
              FROM documents
            ), freq AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
            tot AS (SELECT count(*) AS n FROM tok)
            SELECT id, count(*) AS n_tokens,
                   round(avg(ln(tf)) - ln((SELECT n FROM tot)), 4) AS mean_logprob,
                   round(-(avg(ln(tf)) - ln((SELECT n FROM tot))) / ln(2), 4)
                     AS bits_per_token
            FROM tok JOIN freq USING (token)
            GROUP BY id
        """,
        "top_ngrams": r"""
            WITH t AS (
              SELECT list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x <> '') AS toks
              FROM documents
            ), g AS (
              SELECT array_to_string(toks[i:i+1], ' ') AS ngram
              FROM t, unnest(range(1, len(toks))) AS u(i)
            )
            SELECT ngram, count(*) AS cnt
            FROM g GROUP BY ngram
            ORDER BY cnt DESC, ngram ASC LIMIT 50
        """,
        "nested_deidentify": """
            SELECT user_id, event_id,
                   md5(event_type) AS event_type_remapped,
                   CAST(NULL AS VARCHAR) AS props_nulled,
                   'nulled:turns.props' AS audit
            FROM events
        """,
        "deadletter": """
            SELECT event_id AS offset,
                   CASE WHEN value < 50 THEN 'null_key'
                        ELSE 'bad_turn_idx' END AS reason,
                   CAST(CASE WHEN value >= 100 THEN 2 ELSE 1 END AS INT)
                     AS retry_count,
                   CAST(0 AS BIGINT) AS first_epoch,
                   CAST(CASE WHEN value >= 100 THEN 1 ELSE 0 END AS BIGINT)
                     AS last_epoch
            FROM events WHERE event_type = 'error'
        """,
        "stats_scan": """
            WITH ev AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id,
                     CAST(event_id % 3 AS INT) AS turn_idx,
                     CASE WHEN event_type = 'error' THEN 'delete'
                          ELSE 'update' END AS op,
                     event_id AS op_seq, event_id AS "offset", value, ts
              FROM events
            ), w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY op_seq DESC, "offset" DESC) AS rn
              FROM ev
            )
            SELECT conv_id, turn_idx, op_seq, round(value, 4) AS value, ts
            FROM w
            WHERE rn = 1 AND op <> 'delete'
              AND ts BETWEEN TIMESTAMP '2024-01-28 00:00:00'
                         AND TIMESTAMP '2024-01-31 00:00:00'
        """,
        "optimize_scan": """
            WITH ev AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id,
                     CAST(event_id % 3 AS INT) AS turn_idx,
                     CASE WHEN event_type = 'error' THEN 'delete'
                          ELSE 'update' END AS op,
                     event_id AS op_seq, event_id AS "offset", value, ts
              FROM events
            ), w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY op_seq DESC, "offset" DESC) AS rn
              FROM ev
            )
            SELECT conv_id, turn_idx, op_seq, round(value, 4) AS value, ts
            FROM w
            WHERE rn = 1 AND op <> 'delete'
              AND ts BETWEEN TIMESTAMP '2024-01-25 00:00:00'
                         AND TIMESTAMP '2024-02-01 00:00:00'
        """,
        "rollup_state": """
            WITH ev AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id,
                     CAST(event_id % 5 AS INT) AS turn_idx,
                     CASE WHEN event_type = 'error' THEN 'delete'
                          ELSE 'update' END AS op,
                     event_id AS op_seq, event_type AS grp, value
              FROM events
            ), w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY op_seq DESC) AS rn
              FROM ev
            ), s1 AS (
              SELECT conv_id, turn_idx, grp, value
              FROM w WHERE rn = 1 AND op <> 'delete'
            ), final AS (
              -- epoch 2: (view, turn 2) winners migrate; click group empties
              SELECT CASE WHEN grp = 'view' AND turn_idx = 2
                          THEN 'migrated' ELSE grp END AS grp,
                     value
              FROM s1 WHERE grp <> 'click'
            )
            SELECT grp, COUNT(*) AS n_rows,
                   round(SUM(COALESCE(value, 0.0)), 4) AS sum_value
            FROM final GROUP BY grp
        """,
        "rollup_pct": """
            WITH ev AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id,
                     CAST(event_id % 5 AS INT) AS turn_idx,
                     CASE WHEN event_type = 'error' THEN 'delete'
                          ELSE 'update' END AS op,
                     event_id AS op_seq, event_type AS grp, value
              FROM events
            ), w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY op_seq DESC) AS rn
              FROM ev
            ), s1 AS (
              SELECT conv_id, turn_idx, grp, value
              FROM w WHERE rn = 1 AND op <> 'delete'
            ), final AS (
              -- epoch 2: (view, turn 2) winners migrate; click group empties
              SELECT CASE WHEN grp = 'view' AND turn_idx = 2
                          THEN 'migrated' ELSE grp END AS grp,
                     value
              FROM s1 WHERE grp <> 'click'
            )
            SELECT grp, COUNT(*) AS n_rows,
                   round(quantile_cont(value, 0.5), 4) AS p50_value,
                   round(quantile_cont(value, 0.9), 4) AS p90_value
            FROM final GROUP BY grp
        """,
        "rollup_distinct": """
            WITH ev AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id,
                     CAST(event_id % 5 AS INT) AS turn_idx,
                     CASE WHEN event_type = 'error' THEN 'delete'
                          ELSE 'update' END AS op,
                     event_id AS op_seq,
                     CAST(user_id % 37 AS VARCHAR) AS grp,
                     event_type AS etype
              FROM events
            ), w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY op_seq DESC) AS rn
              FROM ev
            ), s1 AS (
              SELECT conv_id, turn_idx, grp, etype
              FROM w WHERE rn = 1 AND op <> 'delete'
            ), final AS (
              -- epoch 2: (view, turn 2) winners migrate to grp||'_m';
              -- every click winner is deleted
              SELECT CASE WHEN etype = 'view' AND turn_idx = 2
                          THEN grp || '_m' ELSE grp END AS grp,
                     etype
              FROM s1 WHERE etype <> 'click'
            )
            SELECT grp, COUNT(*) AS n_rows,
                   COUNT(DISTINCT etype) AS dv_etype
            FROM final GROUP BY grp
        """,
        "replication_state": """
            WITH ev AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id,
                     CAST(event_id % 3 AS INT) AS turn_idx,
                     CASE WHEN event_type = 'error' THEN 'delete'
                          ELSE 'update' END AS op,
                     event_id AS op_seq, value
              FROM events
            ), w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY op_seq DESC) AS rn
              FROM ev
            )
            SELECT conv_id, turn_idx, round(value, 4) AS value
            FROM w WHERE rn = 1 AND op <> 'delete'
        """,
        "join_mv_state": """
            WITH ev AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id,
                     'cat' || CAST(event_id % 7 AS VARCHAR) AS category,
                     value,
                     CASE WHEN event_type = 'error' THEN 'delete'
                          ELSE 'update' END AS op,
                     event_id AS op_seq
              FROM events
            ), w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id ORDER BY op_seq DESC) AS rn
              FROM ev
            ), facts AS (
              SELECT conv_id, category, value
              FROM w WHERE rn = 1 AND op <> 'delete'
            ), dims(category, label, weight) AS (
              VALUES ('cat0', 'label-0', 0.0),
                     ('cat1', 'label-1-v2', 1.5),
                     ('cat3', 'label-3', 3.0),
                     ('cat4', 'label-4', 4.0),
                     ('cat5', 'label-5', 5.0),
                     ('cat6', 'label-6', 6.0)
            )
            SELECT f.conv_id, f.category, round(f.value, 4) AS value,
                   d.label, round(d.weight, 4) AS weight
            FROM facts f JOIN dims d USING (category)
        """,
        "clone_read": """
            WITH ev AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id,
                     CAST(event_id % 5 AS INT) AS turn_idx,
                     CASE WHEN event_type = 'error' THEN 'delete'
                          ELSE 'update' END AS op,
                     event_id AS op_seq, event_id AS "offset", value, ts
              FROM events
            ), w_all AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY op_seq DESC, "offset" DESC) AS rn
              FROM ev
            ), w_even AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY op_seq DESC, "offset" DESC) AS rn
              FROM ev WHERE op_seq % 2 = 0
            )
            SELECT 'clone' AS tbl, conv_id, turn_idx, op_seq,
                   round(value, 4) AS value, ts
            FROM w_all WHERE rn = 1 AND op <> 'delete'
            UNION ALL
            SELECT 'src' AS tbl, conv_id, turn_idx, op_seq,
                   round(value, 4) AS value, ts
            FROM w_even WHERE rn = 1 AND op <> 'delete'
        """,
        "rebucket_read": """
            WITH ev AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id,
                     CAST(event_id % 5 AS INT) AS turn_idx,
                     CASE WHEN event_type = 'error' THEN 'delete'
                          ELSE 'update' END AS op,
                     event_id AS op_seq, event_id AS "offset", value, ts
              FROM events
            ), w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY op_seq DESC, "offset" DESC) AS rn
              FROM ev
            )
            SELECT conv_id, turn_idx, op_seq, round(value, 4) AS value, ts
            FROM w
            WHERE rn = 1 AND op <> 'delete'
        """,
        "point_lookup": """
            WITH ev AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id,
                     CAST(event_id % 5 AS INT) AS turn_idx,
                     CASE WHEN event_type = 'error' THEN 'delete'
                          ELSE 'update' END AS op,
                     event_id AS op_seq, event_id AS "offset", value, ts
              FROM events
            ), w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY op_seq DESC, "offset" DESC) AS rn
              FROM ev
            )
            SELECT conv_id, turn_idx, op_seq, round(value, 4) AS value, ts
            FROM w
            WHERE rn = 1 AND op <> 'delete'
              AND conv_id IN ('3', '7', '11')
        """,
        "zorder_scan": """
            WITH ev AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id,
                     CAST(event_id % 5 AS INT) AS turn_idx,
                     CASE WHEN event_type = 'error' THEN 'delete'
                          ELSE 'update' END AS op,
                     event_id AS op_seq, event_id AS "offset", value, ts
              FROM events
            ), w AS (
              SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY op_seq DESC, "offset" DESC) AS rn
              FROM ev
            )
            SELECT conv_id, turn_idx, op_seq, round(value, 4) AS value, ts
            FROM w
            WHERE rn = 1 AND op <> 'delete'
              AND ts BETWEEN TIMESTAMP '2024-01-22 00:00:00'
                         AND TIMESTAMP '2024-02-01 00:00:00'
              AND turn_idx BETWEEN 0 AND 1
        """,
        "change_feed": """
            WITH ev AS (
              SELECT CAST(user_id AS VARCHAR) AS conv_id,
                     CAST(event_id % 3 AS INT) AS turn_idx,
                     CASE WHEN event_type = 'error' THEN 'delete'
                          ELSE 'update' END AS op,
                     event_id AS op_seq, value, ts
              FROM events
            ), s1 AS (
              SELECT conv_id, turn_idx, value, ts FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY conv_id, turn_idx ORDER BY op_seq DESC) AS rn
                FROM ev WHERE op_seq % 2 = 0
              ) WHERE rn = 1 AND op <> 'delete'
            ), s2 AS (
              SELECT conv_id, turn_idx, value, ts FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY conv_id, turn_idx ORDER BY op_seq DESC) AS rn
                FROM ev
              ) WHERE rn = 1 AND op <> 'delete'
            ), j AS (
              SELECT coalesce(s1.conv_id, s2.conv_id) AS conv_id,
                     coalesce(s1.turn_idx, s2.turn_idx) AS turn_idx,
                     s1.value AS v1, s1.ts AS t1,
                     s2.value AS v2, s2.ts AS t2,
                     s1.conv_id IS NOT NULL AS in_old,
                     s2.conv_id IS NOT NULL AS in_new
              FROM s1 FULL OUTER JOIN s2
                ON s1.conv_id = s2.conv_id AND s1.turn_idx = s2.turn_idx
            ), chg AS (
              SELECT *,
                     (v1 IS DISTINCT FROM v2 OR t1 IS DISTINCT FROM t2)
                       AS differs
              FROM j
            )
            SELECT conv_id, turn_idx, 'insert' AS _change_type,
                   round(v2, 4) AS value, t2 AS ts
            FROM chg WHERE NOT in_old AND in_new
            UNION ALL
            SELECT conv_id, turn_idx, 'delete', round(v1, 4), t1
            FROM chg WHERE in_old AND NOT in_new
            UNION ALL
            SELECT conv_id, turn_idx, 'update_preimage', round(v1, 4), t1
            FROM chg WHERE in_old AND in_new AND differs
            UNION ALL
            SELECT conv_id, turn_idx, 'update_postimage', round(v2, 4), t2
            FROM chg WHERE in_old AND in_new AND differs
        """,
        "stats_json": """
            SELECT event_type,
                   to_json(struct_pack(high_watermark := max(event_id),
                                       n_events := count(*)))::VARCHAR AS stats_json
            FROM events GROUP BY event_type
        """,
        "tokenize": """
            WITH t AS (
              SELECT doc_id,
                     regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')
                       AS bpe,
                     list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
                       AS ws
              FROM documents
            )
            SELECT doc_id,
                   len(bpe) AS n_bpe_tokens,
                   len(ws) AS n_ws_tokens,
                   array_to_string(bpe[1:5], ' ') AS head_tokens
            FROM t
        """,
        "knn_cosine": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
                       FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     round(list_cosine_similarity(
                       CAST(q.q_vec AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) AS cos_sim
              FROM embeddings e CROSS JOIN q
              WHERE e.vec_id <> q.query_id
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 5
        """,
        "snapshot_diff": """
            WITH new AS (
              SELECT c_custkey,
                     CASE WHEN c_custkey % 10 = 0 THEN round(c_acctbal + 10.0, 2)
                          ELSE c_acctbal END AS c_acctbal
              FROM customer WHERE c_custkey % 17 <> 0
              UNION ALL
              SELECT c_custkey + 10000000 AS c_custkey, c_acctbal
              FROM customer WHERE c_custkey % 23 = 0
            )
            SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
                   CASE WHEN o.c_custkey IS NULL THEN 'insert'
                        WHEN n.c_custkey IS NULL THEN 'delete'
                        ELSE 'update' END AS op,
                   round(o.c_acctbal, 4) AS old_bal,
                   round(n.c_acctbal, 4) AS new_bal
            FROM customer o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
            WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
                  OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
        """,
        "anti_join_sync": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_totalprice > 300000)
        """,
        "interval_join": """
            WITH p AS (
              SELECT CAST(user_id % 50 AS BIGINT) AS k,
                     event_id AS pid, ts AS pts
              FROM events
            ),
            i AS (
              SELECT CAST(user_id % 50 AS BIGINT) AS k,
                     event_id AS iid, ts AS s,
                     ts + (event_id % 3 + 1) * INTERVAL 1 HOUR AS e
              FROM events WHERE event_id % 97 = 0
            )
            SELECT i.iid AS iid, COUNT(*) AS n_pts,
                   MIN(p.pid) AS min_pid, MAX(p.pid) AS max_pid
            FROM p JOIN i ON p.k = i.k AND p.pts BETWEEN i.s AND i.e
            GROUP BY i.iid
        """,
        "asof_join": """
            WITH l AS (
              SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'purchase'
            ),
            r AS (
              SELECT user_id, ts,
                     max(event_id) AS click_id, max(value) AS click_value
              FROM events WHERE event_type = 'click'
              GROUP BY user_id, ts
            )
            SELECT l.event_id, l.user_id, l.ts,
                   round(l.value, 4) AS value,
                   r.click_id,
                   round(r.click_value, 4) AS click_value,
                   r.ts AS matched_ts
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "debezium_parse": """
            SELECT event_id AS "offset",
                   0 AS partition_id,
                   CASE WHEN event_type = 'error' THEN 'delete'
                        WHEN event_id % 3 = 0 THEN 'insert'
                        ELSE 'update' END AS op,
                   event_id AS op_seq,
                   CAST(user_id AS VARCHAR) AS conv_id,
                   CAST(event_id % 1000 AS INTEGER) AS turn_idx,
                   event_type AS role,
                   props AS text,
                   CASE WHEN event_id % 2 = 1
                        THEN 'tool_' || event_type END AS tool,
                   ts,
                   2 AS schema_ver
            FROM events
        """,
        "delete_where": """
            SELECT c_custkey, c_name, round(c_acctbal, 4) AS bal, c_mktsegment
            FROM customer
            WHERE NOT (c_mktsegment = 'AUTOMOBILE' AND c_acctbal < 5000.0)
        """,
        "rename_column_read": """
            SELECT c_custkey, c_name, round(c_acctbal, 4) AS bal,
                   CASE WHEN c_custkey % 7 = 0 THEN 'RESEGMENTED'
                        ELSE c_mktsegment END AS segment
            FROM customer
        """,
        "drop_column_read": """
            SELECT c_custkey, c_name,
                   round(CASE WHEN c_custkey % 10 = 0
                              THEN c_acctbal + 1000.0
                              ELSE c_acctbal END, 4) AS bal
            FROM customer
        """,
        "forget_purge": """
            SELECT c_custkey, c_name, round(c_acctbal, 4) AS bal, c_mktsegment
            FROM customer
            WHERE NOT (c_mktsegment = 'HOUSEHOLD' AND c_custkey % 3 = 0)
        """,
        "update_where": """
            SELECT c_custkey, c_name,
                   round(CASE WHEN c_acctbal < 1000.0
                              THEN c_acctbal + 100.0
                              ELSE c_acctbal END, 4) AS bal,
                   CASE WHEN c_acctbal < 1000.0
                        THEN lower(c_mktsegment)
                        ELSE c_mktsegment END AS c_mktsegment
            FROM customer
        """,
        "maxwell_parse": """
            SELECT (event_id % 4 + 1) * 4294967296 + event_id AS "offset",
                   0 AS partition_id,
                   CASE WHEN event_type = 'error' THEN 'delete'
                        WHEN event_id % 9 = 0 THEN 'insert'
                        WHEN event_id % 3 = 0 THEN 'insert'
                        ELSE 'update' END AS op,
                   (event_id % 4 + 1) * 4294967296 + event_id AS op_seq,
                   CAST(user_id AS VARCHAR) AS conv_id,
                   CAST(event_id % 1000 AS INTEGER) AS turn_idx,
                   event_type AS role,
                   props AS text,
                   CASE WHEN event_id % 2 = 1
                        THEN 'tool_' || event_type END AS tool,
                   date_trunc('second', ts) AS ts,
                   2 AS schema_ver
            FROM events
        """,
        "canal_parse": """
            WITH pos AS (
              SELECT *,
                     CAST(event_id // 16 AS BIGINT) AS bid,
                     row_number() OVER (
                       PARTITION BY event_id // 16 ORDER BY event_id
                     ) - 1 AS p
              FROM events
            )
            SELECT bid * 4294967296 + p AS "offset",
                   0 AS partition_id,
                   CASE WHEN bid % 3 = 0 THEN 'insert'
                        WHEN bid % 3 = 1 THEN 'update'
                        ELSE 'delete' END AS op,
                   bid * 4294967296 + p AS op_seq,
                   CAST(user_id AS VARCHAR) AS conv_id,
                   CAST(event_id % 1000 AS INTEGER) AS turn_idx,
                   event_type AS role,
                   props AS text,
                   CASE WHEN event_id % 2 = 1
                        THEN 'tool_' || event_type END AS tool,
                   date_trunc('second', ts) AS ts,
                   2 AS schema_ver
            FROM pos
        """,
        "merge_into": """
            WITH src AS (
              SELECT c_custkey,
                     CASE WHEN c_custkey % 7 = 0 THEN 'del' ELSE 'upd' END AS flag,
                     100.0 AS delta
              FROM customer
              WHERE c_custkey % 7 = 0 OR c_custkey % 5 = 0
            )
            SELECT t.c_custkey, t.c_name,
                   round(CASE WHEN s.flag = 'upd'
                              THEN round(t.c_acctbal + s.delta, 2)
                              ELSE t.c_acctbal END, 4) AS bal,
                   t.c_mktsegment
            FROM customer t LEFT JOIN src s USING (c_custkey)
            WHERE s.flag IS NULL OR s.flag <> 'del'
            UNION ALL
            SELECT c_custkey + 10000000 AS c_custkey,
                   'new^' || c_name AS c_name,
                   round(1000.0, 4) AS bal,
                   c_mktsegment
            FROM customer WHERE c_custkey % 11 = 0
        """,
        "token_jaccard": """
            WITH t AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
                       x -> lower(x))) AS toks
              FROM documents WHERE doc_id % 10 = 0
            )
            SELECT * FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     round(CASE WHEN len(list_distinct(list_concat(a.toks, b.toks))) > 0
                           THEN len(list_intersect(a.toks, b.toks))
                                / CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE)
                           ELSE 0.0 END, 6) AS jaccard
              FROM t a JOIN t b ON a.doc_id < b.doc_id
            ) WHERE jaccard >= 0.5
        """,
        "embedding_near_dup": """
            WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0)
            SELECT * FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(list_cosine_similarity(
                       CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6)
                       AS cos_sim
              FROM e a JOIN e b ON a.vec_id < b.vec_id
            ) WHERE cos_sim >= 0.3
        """,
        "multimodal_features": """
            SELECT doc_id AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   sha256(text) AS sha256,
                   octet_length(encode(text)) AS n_bytes
            FROM documents
        """,
        "attr_explode": """
            SELECT doc_id, 'lang' AS attr, lang AS value FROM documents
            UNION ALL
            SELECT doc_id, 'source', source FROM documents
            UNION ALL
            SELECT doc_id, 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
            UNION ALL
            SELECT doc_id, 'text', substr(text, 1, 200) FROM documents
        """,
        "path_build": """
            SELECT p_partkey,
                   regexp_replace(p_brand, '[^a-zA-Z0-9.^]', '_', 'g') || '/' ||
                   regexp_replace(p_type, '[^a-zA-Z0-9.^]', '_', 'g') || '/' ||
                   CAST(p_partkey AS VARCHAR) || '.dat' AS path
            FROM part
        """,
        "expr_lang": """
            SELECT doc_id,
                   substr(to_base64(encode(source)), 1, 8) AS src_b64,
                   upper(substr(md5(text), 1, 10)) AS text_hash
            FROM documents
        """,
        "encrypt_roundtrip": """
            SELECT doc_id,
                   true AS roundtrip_ok,
                   true AS detected,
                   octet_length(encode(text)) AS n_bytes
            FROM documents
        """,
        "session_path": """
            SELECT user_id,
                   string_agg(event_type, '>' ORDER BY event_id) AS path,
                   count(*) AS n_events
            FROM events GROUP BY user_id
        """,
        "cfind_query": """
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   round(o_totalprice, 4) AS o_totalprice
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_regionkey = 2 AND n_nationkey = 2
              AND o_orderstatus LIKE '_'
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
    }
