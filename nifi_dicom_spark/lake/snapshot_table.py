"""SnapshotTable — a from-scratch, Iceberg-style lake table on parquet.

No Iceberg/Delta jar ships in this environment, so the engine provides its own
minimal table format with the four properties the CDC sink needs (the same
properties the reference gets from its embedded SQL engine — HSQLDB/Derby
``MERGE INTO`` at ``DeidentificationController.java:108-123`` and
insert-if-absent at ``DatabaseInformationModel.java:805-892``):

1. **Snapshot isolation + time travel.** Every commit publishes an immutable
   manifest ``v{N}.json`` listing the data files of that version; readers pin
   a manifest, writers race an atomic publish through a pluggable
   :class:`~nifi_dicom_spark.lake.commit.CommitBackend` (single-step
   hard-link publish on POSIX by default; a conditional-put backend for
   object stores — see ``commit.py`` for the contract). Readers never see
   partial
   commits. Merge commits are **optimistically concurrent**: a lost race
   triggers validate-and-rebase (Iceberg retry semantics) — writers over
   disjoint buckets all succeed, serialized into consecutive versions;
   overlapping writers get :class:`ConcurrentWriteConflict` and re-merge.
2. **MERGE semantics.** ``merge()`` implements
   ``WHEN MATCHED [AND op='delete'] THEN DELETE / UPDATE, WHEN NOT MATCHED
   THEN INSERT`` via copy-on-write of only the *touched* key-buckets.
3. **Idempotent commits.** Application-level commit keys
   ``(checkpoint_epoch, partition_id)`` are compacted into per-partition
   high-watermark epochs recorded in the manifest atomically with the data —
   re-applying an epoch after a crash/restart is a detected no-op
   (exactly-once; SURVEY §2.9 T5). The ledger is O(partitions), not
   O(epochs): at 10^10 events / thousands of epochs the manifest stays
   constant-size (a raw key list would be parsed + rewritten per commit).
4. **Schema evolution.** The manifest carries the table schema; merges with
   new/widened columns evolve it (ADD COLUMN analog of
   ``DatabaseInformationModel.java:672-698``); old files are read through the
   evolved schema (missing columns → nulls).

Scale design: data is hash-bucketed by the merge key's first column with
**Spark's own shuffle hash** (``pmod(hash(conv_id), n_buckets)`` — murmur3,
identical to ``HashPartitioning``), so ``repartition(n_buckets, conv_id)``
places bucket *b*'s rows in output partition *b* with no auxiliary mapping:
bucket placement, the LWW reduce and the per-bucket write all share ONE
exchange (the reduce's ``groupBy(conv_id, turn_idx)`` is satisfied by the
conv_id clustering, so no second shuffle of payload bytes ever happens).
Merges touch only buckets the source contains, and the **merge-on-read**
mode (``mode="mor"``, the default for ``versioned_upsert``) appends
per-bucket DELTA files instead of rewriting touched buckets — epoch cost is
∝ the change set, not the table size; reads LWW-merge base∪deltas (exact —
the reduce is associative) and ``compact()`` folds deltas back into base
when a bucket accumulates too many. (Legacy tables created before the
murmur3 layout carry ``bucket_fn=xxhash64`` in their manifest and keep the
preimage-mapped write path.) If an Iceberg runtime jar is present,
:func:`iceberg_available` lets callers swap in real ``MERGE INTO`` — the
operator API is identical.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
import warnings
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nifi_dicom_spark.lake.commit import (  # noqa: F401  (CommitConflict re-export)
    CommitBackend,
    CommitConflict,
    PosixCommitBackend,
)
from nifi_dicom_spark.lake.zorder import ZORDER_COL, zvalue_column
from nifi_dicom_spark.operators.reconcile import conform_to_schema, evolve_schema


class VersionVacuumedError(RuntimeError):
    """The requested version's data files were removed by ``vacuum()``."""


class ConcurrentWriteConflict(CommitConflict):
    """Another writer's commit touched the same buckets (or replayed the
    same commit keys) while this merge was in flight — the rebase
    validation failed, so the caller must re-read and re-merge."""


class CheckConstraintViolation(RuntimeError):
    """A write contained rows failing a table CHECK constraint
    (``props["constraints"]``); nothing was committed."""


class LedgerRegression(RuntimeError):
    """A commit key arrived below its partition's high-watermark while the
    ledger is in strict mode (``on_replayed='error'``)."""


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.Table  # noqa: B018
        return True
    except Exception:
        return False


@dataclass
class MergeStats:
    version: int
    touched_buckets: int
    skipped_commit_keys: int
    applied: bool
    mode: str = "cow"  # "cow" | "mor" (delta append)


def _bucket_expr(key_col: str, n_buckets: int, bucket_fn: str = "murmur3"):
    """Bucket id of a key. ``murmur3`` (default) is bit-identical to Spark's
    ``HashPartitioning`` (``F.hash`` = Murmur3, seed 42), so
    ``repartition(n_buckets, key_col)`` physically places bucket b in output
    partition b — placement and shuffle are the same operation. ``xxhash64``
    is the legacy layout (pre-murmur3 tables), which needs the preimage
    mapping below for exact placement."""
    h = F.hash(F.col(key_col)) if bucket_fn == "murmur3" else F.xxhash64(F.col(key_col))
    return F.pmod(h, F.lit(n_buckets)).cast("int")


def version_at_backend(backend: CommitBackend, timestamp) -> int:
    """TIMESTAMP AS OF resolution against a bare commit backend — the
    shared core of :meth:`SnapshotTable.version_at`, also used by the
    streaming source's ``startingTimestamp`` option (which has a backend
    but no table object). See ``version_at`` for input forms and the
    wall-clock caveats."""
    from datetime import datetime, timezone

    if isinstance(timestamp, str):
        try:  # streaming options arrive stringly — accept "1787046670.38"
            ts = float(timestamp)
        except ValueError:
            dt = datetime.fromisoformat(timestamp)
            ts = dt.replace(tzinfo=dt.tzinfo or timezone.utc).timestamp()
    elif isinstance(timestamp, datetime):
        dt = timestamp
        ts = dt.replace(tzinfo=dt.tzinfo or timezone.utc).timestamp()
    else:
        ts = float(timestamp)
    best = None
    for v in range(backend.current_version() + 1):
        try:
            m = json.loads(backend.load_manifest(v).decode())
        except FileNotFoundError:
            continue
        # legacy manifests without committed_at can't postdate the
        # timestamp they lack — treat as the epoch (always eligible)
        if float(m.get("committed_at", 0.0)) <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"timestamp {timestamp!r} predates the table's first commit"
        )
    return best


#: n_buckets -> [preimage long per bucket]; process-wide (pure function of n)
_PK_CACHE: dict[int, list[int]] = {}

#: serializes the session-conf toggle around bucket-file writes
_WRITE_CONF_LOCK = threading.Lock()


def _partition_preimages(spark: SparkSession, n: int) -> list[int]:
    """``pk[b]`` = a long ``x`` with ``pmod(murmur3_hash(x), n) == b``.

    ``repartition(n, pk_col)`` places rows in shuffle partition
    ``pmod(murmur3(pk), n)``, so tagging bucket ``b``'s rows with ``pk[b]``
    sends each bucket to exactly one output partition — partition index ==
    bucket id. This replaces the dynamic-partition writer
    (``write.partitionBy``), which adds its own sort + per-directory commit
    and measurably anti-scales with executor count, with a plain columnar
    write of one file per bucket. One tiny Spark job per distinct ``n`` per
    process (cached); runs during table setup/warm-up, not per epoch.
    """
    pks = _PK_CACHE.get(n)
    if pks is None:
        rows = (
            spark.range(0, max(4096, 64 * n))
            .select(F.col("id"), F.pmod(F.hash(F.col("id")), F.lit(n)).alias("b"))
            .groupBy("b")
            .agg(F.min("id").alias("pk"))
            .collect()
        )
        got = {r["b"]: r["pk"] for r in rows}
        missing = [b for b in range(n) if b not in got]
        if missing:  # astronomically unlikely for the search range above
            raise RuntimeError(f"no murmur3 preimage found for buckets {missing}")
        pks = [got[b] for b in range(n)]
        _PK_CACHE[n] = pks
    return pks


class SnapshotTable:
    """Versioned, bucketed parquet table with MERGE + idempotent commits."""

    def __init__(
        self, spark: SparkSession, path: str, backend: CommitBackend | None = None
    ):
        self.spark = spark
        self.path = path
        self.meta_dir = os.path.join(path, "meta")
        self.data_dir = os.path.join(path, "data")
        #: atomic manifest publication — all versioning/OCC goes through it
        self.backend: CommitBackend = backend or PosixCommitBackend(self.meta_dir)

    # ------------------------------------------------------------------ DDL

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 16,
        props: dict[str, Any] | None = None,
        backend: CommitBackend | None = None,
    ) -> "SnapshotTable":
        t = cls(spark, path, backend)
        t.backend.initialize()
        os.makedirs(t.data_dir, exist_ok=True)
        manifest = {
            "version": 0,
            "parent": None,
            "schema": schema.json(),
            "key_cols": key_cols,
            "n_buckets": n_buckets,
            "bucket_fn": "murmur3",
            "files": {},  # bucket(str) -> [relpath] (base files)
            "delta_files": {},  # bucket(str) -> [relpath] (merge-on-read)
            "applied_hw": {},  # partition_id(str) -> high-watermark epoch
            "file_stats": {},  # relpath -> {col: [min, max]} (props.stats_cols)
            "props": props or {},
            "summary": {"operation": "create"},
        }
        t._try_commit(manifest)
        return t

    @classmethod
    def load(
        cls, spark: SparkSession, path: str, backend: CommitBackend | None = None
    ) -> "SnapshotTable":
        t = cls(spark, path, backend)
        t.current_version()  # validates existence
        # backend-owned housekeeping (POSIX: sweep dead writers' aged temp
        # files; conditional-put: structural no-op — in both protocols the
        # single atomic publish means nothing partial can exist)
        t.backend.repair()
        return t

    @classmethod
    def clone(
        cls,
        spark: SparkSession,
        src: "SnapshotTable",
        path: str,
        version: int | None = None,
        backend: CommitBackend | None = None,
    ) -> "SnapshotTable":
        """SHALLOW CLONE (the Delta ``CREATE TABLE ... SHALLOW CLONE``
        analog): a new table whose v0 manifest REFERENCES the source's
        data files at ``version`` (default: current) — a metadata-only,
        zero-copy operation, O(manifest) regardless of table size.

        Semantics mirrored from Delta:

        * The clone's history starts fresh (v0 = the clone commit, with
          ``summary.source_path``/``source_version`` recording lineage);
          source history is NOT visible through the clone.
        * Writes to either table never affect the other: clone commits
          write new files under the CLONE's data dir; foreign references
          are carried as absolute paths, and every base-rewrite
          (compact/optimize/rebucket/merge/overwrite) naturally "reifies"
          the buckets it touches into clone-local files.
        * The clone's :meth:`vacuum` cannot delete source files (it only
          walks the clone's own data dir), and :meth:`build_blooms` never
          writes sidecars into the source's directory (foreign files are
          simply probed un-bloom'd — unless the SOURCE built sidecars, in
          which case they sit beside the referenced files and the clone's
          :meth:`lookup` uses them for free).
        * HAZARD (exactly Delta's): the source does not know about the
          clone's references — a source-side ``vacuum`` that drops files
          still referenced ONLY by the clone breaks the clone's reads of
          un-reified buckets. Pin clones to maintenance windows, or
          compact the clone to reify before vacuuming the source
          (``tests/test_lake_features.py`` pins both directions).

        ``applied_hw`` (the idempotent-commit ledger) is copied, so a
        checkpointed CDC stream resumed against the clone makes the same
        replay-or-skip decisions the source would have at the clone point.
        """
        mv = src.current_version() if version is None else version
        if mv < (min_ret := src.min_retained_version()):
            raise VersionVacuumedError(
                f"cannot clone version {mv}: vacuumed (oldest retained {min_ret})"
            )
        m = src.manifest(mv)

        def _absolutize(d: dict) -> dict:
            return {
                b: [
                    r if os.path.isabs(r) else os.path.join(src.data_dir, r)
                    for r in rels
                ]
                for b, rels in d.items()
            }

        t = cls(spark, path, backend)
        t.backend.initialize()
        os.makedirs(t.data_dir, exist_ok=True)
        manifest = {
            "version": 0,
            "parent": None,
            "schema": m["schema"],
            "key_cols": list(m["key_cols"]),
            "n_buckets": m["n_buckets"],
            "bucket_fn": m.get("bucket_fn", "murmur3"),
            "files": _absolutize(m.get("files", {})),
            "delta_files": _absolutize(m.get("delta_files", {})),
            "applied_hw": dict(m.get("applied_hw", {})),
            "file_stats": {
                (r if os.path.isabs(r) else os.path.join(src.data_dir, r)): st
                for r, st in m.get("file_stats", {}).items()
            },
            "props": json.loads(json.dumps(m.get("props", {}))),
            "summary": {
                "operation": "clone",
                "source_path": src.path,
                "source_version": mv,
            },
        }
        t._try_commit(manifest)
        return t

    # ------------------------------------------------------------- manifests

    def current_version(self) -> int:
        return self.backend.current_version()

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        return json.loads(self.backend.load_manifest(v).decode())

    def _try_commit(self, manifest: dict) -> None:
        # wall-clock commit time (Delta/Iceberg commit-timestamp analog) —
        # metadata only, never part of data equality
        manifest.setdefault("committed_at", time.time())
        payload = json.dumps(manifest).encode()
        if not self.backend.try_commit(int(manifest["version"]), payload):
            raise CommitConflict(
                f"version {manifest['version']} already committed"
            )

    # ---------------------------------------------------------------- schema

    def schema(self, version: int | None = None) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.manifest(version)["schema"]))

    def key_cols(self) -> list[str]:
        return list(self.manifest()["key_cols"])

    def n_buckets(self) -> int:
        return int(self.manifest()["n_buckets"])

    def bucket_fn(self) -> str:
        return self.manifest().get("bucket_fn", "xxhash64")

    def bucket_expr(self, key_col: str | None = None):
        """The table's bucket-id expression (respects the manifest's hash)."""
        m = self.manifest()
        return _bucket_expr(
            key_col or m["key_cols"][0],
            int(m["n_buckets"]),
            m.get("bucket_fn", "xxhash64"),
        )

    @staticmethod
    def _hw(manifest: dict) -> dict[str, int]:
        """Commit-ledger high-watermarks, tolerating legacy ``applied_keys``
        list manifests (compacted on the next commit)."""
        hw = {str(p): int(e) for p, e in manifest.get("applied_hw", {}).items()}
        for e, p in manifest.get("applied_keys", []):
            k = str(int(p))
            if int(e) > hw.get(k, -(10**18)):
                hw[k] = int(e)
        return hw

    def is_applied(self, epoch: int, partition_id: int) -> bool:
        """Idempotency probe: the single-writer streaming contract applies
        epochs in nondecreasing order per source partition, so 'applied' ≡
        ``epoch <= high_watermark[partition]``."""
        hw = self._hw(self.manifest())
        return epoch <= hw.get(str(int(partition_id)), -(10**18))

    def applied_watermarks(self) -> dict[int, int]:
        return {int(p): e for p, e in self._hw(self.manifest()).items()}

    def version_at(self, timestamp) -> int:
        """TIMESTAMP AS OF resolution (the Delta/Iceberg analog): the newest
        version whose commit wall-clock is ≤ ``timestamp``. Accepts epoch
        seconds (int/float), a ``datetime`` (naive = UTC, the engine-wide
        timezone contract), or an ISO-8601 string. Raises ``ValueError``
        for a timestamp before the table existed. O(versions) manifest
        reads — same cost as :meth:`history`, bounded by retention; pass
        the result to :meth:`read`/:meth:`restore`/:meth:`manifest`.

        Timestamps are commit WALL-CLOCK metadata, not data: two versions
        committed within one clock tick resolve to the later one, and
        replaying a log elsewhere yields different wall-clocks for the same
        logical versions — pin exact reproducibility to version numbers;
        timestamps are for humans ("the table as of yesterday 09:00")."""
        return version_at_backend(self.backend, timestamp)

    # ----------------------------------------------------------------- reads

    def _paths(
        self,
        manifest: dict,
        buckets: list[int] | None = None,
        which: str = "files",
    ) -> list[str]:
        files = manifest.get(which, {})
        keys = [str(b) for b in buckets] if buckets is not None else list(files)
        return [os.path.join(self.data_dir, rel) for k in keys for rel in files.get(k, [])]

    def read(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        dedup: bool = True,
        timestamp=None,
    ) -> DataFrame:
        """Snapshot read. Missing columns in old files surface as nulls
        (schema-evolution read path). If merge-on-read delta files exist for
        the requested buckets, base∪delta is LWW-reduced by the key columns
        (exact: the reduce is associative) unless ``dedup=False`` (raw
        physical rows, for diagnostics). ``timestamp`` is the TIMESTAMP AS
        OF form of time travel (resolved via :meth:`version_at`; mutually
        exclusive with ``version``). Time travel below
        :meth:`min_retained_version` raises :class:`VersionVacuumedError`."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at(timestamp)
        if version is not None and version < (min_ret := self.min_retained_version()):
            raise VersionVacuumedError(
                f"version {version} was vacuumed (oldest retained: {min_ret}); "
                "its data files no longer exist"
            )
        m = self.manifest(version)
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        base = self._paths(m, buckets, "files")
        delta = self._paths(m, buckets, "delta_files")
        if not base and not delta:
            return self.spark.createDataFrame([], schema)
        df = self._load_files(m, schema, [*base, *delta])
        if delta and dedup:
            from nifi_dicom_spark.operators.dedup import lww_dedup

            names = set(schema.fieldNames())
            if not {"op_seq", "offset"} <= names:
                raise RuntimeError(
                    "delta files present but table lacks op_seq/offset version "
                    "columns — cannot LWW-merge on read"
                )
            df = lww_dedup(df, m["key_cols"]).select(*schema.fieldNames())
        return df

    def _load_files(
        self, m: dict, schema: T.StructType, abs_paths: list[str]
    ) -> DataFrame:
        """Load data files through the manifest schema, resolving RENAMED
        columns: files written before a rename carry the historical name,
        so the read schema is augmented with every historical field (same
        dtype as its current column) and each renamed column projects
        ``coalesce(current, newest_old, …)`` — a file holds exactly one
        era's name, so exactly one leg is non-null per row. Tables with no
        renames take the plain single-schema read (zero overhead)."""
        renames = (m.get("props") or {}).get("renamed_columns") or {}
        cur = {f.name: f for f in schema.fields}
        live_renames = {
            new: olds for new, olds in renames.items() if new in cur
        }
        if not live_renames:
            return self.spark.read.schema(schema).parquet(*abs_paths)
        hist_fields = [
            T.StructField(o, cur[new].dataType, True)
            for new, olds in live_renames.items()
            for o in olds
        ]
        read_schema = T.StructType(schema.fields + hist_fields)
        df = self.spark.read.schema(read_schema).parquet(*abs_paths)
        return df.select(
            *[
                F.coalesce(
                    F.col(f.name), *[F.col(o) for o in live_renames[f.name]]
                ).alias(f.name)
                if f.name in live_renames
                else F.col(f.name)
                for f in schema.fields
            ]
        )

    # ---------------------------------------------------------------- writes

    def _write_bucket_files(
        self,
        df: DataFrame,
        commit_tag: str,
        n_buckets: int,
        bucket_fn: str = "murmur3",
        already_clustered: bool = False,
        key_cols: list[str] | None = None,
        sort_cols: list[str] | None = None,
        max_records_per_file: int | None = None,
        expected_buckets: "set[int] | None" = None,
        expect_exact: bool = True,
    ) -> tuple[dict[str, list[str]], dict]:
        """Write df as exactly one sorted parquet file per non-empty bucket
        under a fresh commit directory; return (bucket -> [relpath],
        relpath -> parquet ``FileMetaData``). The footers are read once
        here and handed to :meth:`_footer_stats`, so a commit opens each
        new file's footer once.

        ``expected_buckets`` (with ``expect_exact``) is the post-write
        misplacement tripwire — see the inline comment at the end.

        ``murmur3`` layout: ``repartition(n_buckets, key_col)`` IS the bucket
        function (HashPartitioning uses the same murmur3), so output
        partition index == bucket id with no auxiliary column. With
        ``already_clustered`` the caller has already produced that exact
        partitioning upstream (e.g. the versioned merge clusters ONCE and
        runs its reduce on the clustered data) — no further shuffle happens
        here at all. Legacy ``xxhash64`` tables (``_bucket`` column required)
        route through murmur3 preimages (:func:`_partition_preimages`). The
        explicit ``repartition(n, col)`` is a REPARTITION_BY_NUM shuffle,
        which AQE never coalesces, so the write keeps full ``n_buckets``
        parallelism at any cluster size."""
        out_rel = f"c-{commit_tag}"
        out_abs = os.path.join(self.data_dir, out_rel)
        data_cols = [
            c for c in df.columns if c not in ("_bucket", "_pk", ZORDER_COL)
        ]
        # callers on the hot per-epoch path pass key_cols from the manifest
        # they already hold — re-deriving it here is a version LIST + GET
        # per use on an object-store backend
        kc = list(key_cols) if key_cols is not None else self.key_cols()
        if bucket_fn == "murmur3":
            clustered = (
                df if already_clustered
                else df.repartition(n_buckets, kc[0])
            )
        else:
            pks = _partition_preimages(self.spark, n_buckets)
            mapping = F.create_map(
                *[F.lit(v) for b in range(n_buckets) for v in (b, pks[b])]
            )
            clustered = df.withColumn(
                "_pk", mapping[F.col("_bucket")].cast("long")
            ).repartition(n_buckets, "_pk")
        # ``sort_cols`` overrides the default key clustering (optimize():
        # e.g. time-cluster a bucket so per-file min/max stats turn a
        # time-range scan into a few-file read); content/placement are
        # unaffected — reads dedup via groupBy, which is order-insensitive.
        # ``max_records_per_file`` splits a bucket's sorted stream into
        # several files (parquet writer option), giving the manifest stats
        # file-level granularity inside a bucket. Sort BEFORE the projection
        # so auxiliary sort keys (the z-order interleave) can order the file
        # without being written to it.
        wdf = clustered.sortWithinPartitions(*(sort_cols or kc)).select(*data_cols)
        # AQE MUST NOT re-shape the final exchange of this write: if the
        # source plan already carries an ENSURE_REQUIREMENTS exchange hash-
        # partitioned on the key with numPartitions == n_buckets (e.g. an
        # upstream join on the key while shuffle.partitions == n_buckets),
        # Catalyst elides the explicit REPARTITION_BY_NUM as redundant —
        # correct mapping, but the surviving exchange is no longer
        # AQE-protected, and a coalesced (or locally-read) write breaks the
        # partition-index == bucket-id invariant (rows of several buckets
        # in one file → silent misplacement; regression-tested via the
        # dead-letter read-modify-write path AND the foreachBatch clone
        # test below).
        #
        # Scoping: AQE never re-shapes a REPARTITION_BY_NUM shuffle, so when
        # the physical plan still contains ours (the overwhelmingly common
        # case) the write needs NO conf change at all. Only when the explicit
        # repartition was elided (or the plan can't be inspected) do we
        # disable AQE outright for this one write — under a process-wide lock
        # so concurrent writers can't interleave their set/restore.
        #
        # CRITICAL: both the plan inspection and the conf toggle must act on
        # the session the plan EXECUTES under — ``wdf.sparkSession`` — not
        # ``self.spark``. Inside ``foreachBatch`` the batch DataFrame (and
        # everything derived from it, joins against this table's own reads
        # included) is bound to a per-micro-batch CLONED SparkSession with
        # its own SQLConf; toggling the outer session is a silent no-op
        # there, which is exactly how the dead-letter table lost 7/8 of its
        # rows to a coalesced single-file write once shuffle.partitions
        # happened to equal n_buckets (the join-on-key elision scenario).
        def _writer():
            w = wdf.write.mode("overwrite")
            if max_records_per_file:
                w = w.option("maxRecordsPerFile", int(max_records_per_file))
            return w

        exec_sess = getattr(wdf, "sparkSession", None) or self.spark
        if self._plan_coalesce_safe(wdf):
            _writer().parquet(out_abs)
        else:
            conf = exec_sess.conf
            aqe_key = "spark.sql.adaptive.enabled"
            with _WRITE_CONF_LOCK:
                prev = conf.get(aqe_key, "true")
                conf.set(aqe_key, "false")
                try:
                    _writer().parquet(out_abs)
                finally:
                    conf.set(aqe_key, prev)
        import pyarrow.parquet as _pq

        files: dict[str, list[str]] = {}
        footers: dict = {}
        for fn in os.listdir(out_abs):
            if not fn.endswith(".parquet") or not fn.startswith("part-"):
                continue
            # Spark always emits a (0-row) file for write-partition 0 even
            # when that partition is empty (schema preservation for fully-
            # empty writes) — registering it would pin a phantom file under
            # bucket 0 in every manifest and trip the misplacement check
            # below. One local footer read per written file (≤ n_buckets
            # per commit), kept for the stats path.
            md = _pq.read_metadata(os.path.join(out_abs, fn))
            if md.num_rows == 0:
                continue
            rel = os.path.join(out_rel, fn)
            b = str(int(fn.split("-")[1]))
            files.setdefault(b, []).append(rel)
            footers[rel] = md
        files = {b: sorted(v) for b, v in files.items()}
        # Loud tripwire against ANY residual misplacement vector: callers on
        # paths where every expected bucket provably receives ≥1 row (MoR
        # merge: rows = the conformed batch; compact/optimize: tombstones
        # are stored rows, so a bucket with files cannot reduce to empty)
        # pass the expected bucket set — a mismatch means the write's
        # partition-index ↔ bucket mapping broke, and committing it would
        # corrupt the table silently (the next compaction folds rows of N
        # buckets under one bucket id and drops the rest). Fail the commit
        # instead; the orphaned write directory is vacuum's problem.
        if expected_buckets is not None:
            got = {int(b) for b in files}
            exp = {int(b) for b in expected_buckets}
            stray = got - exp
            missing = (exp - got) if expect_exact else set()
            if stray or missing:
                raise RuntimeError(
                    "bucket write misplacement detected "
                    f"(wrote buckets {sorted(got)}, expected "
                    f"{sorted(exp)}{'' if expect_exact else ' (superset)'}; "
                    f"stray={sorted(stray)} missing={sorted(missing)}): "
                    "the write's partition-index == bucket-id invariant "
                    "broke (AQE re-shaped the final exchange?); refusing "
                    "to commit misattributed files"
                )
        return files, footers

    # ------------------------------------------------------------ file stats

    def stats_cols(self) -> list[str]:
        """Columns whose per-file min/max are recorded in the manifest
        (``props["stats_cols"]``, opt-in per table). Empty = no stats
        overhead anywhere."""
        return list((self.manifest().get("props") or {}).get("stats_cols", []))

    # ------------------------------------------------------ CHECK constraints

    def constraints(self) -> dict[str, str]:
        """Table CHECK constraints: name → SQL boolean expression
        (``props["constraints"]``, managed by :meth:`add_constraint` /
        :meth:`drop_constraint`). Standard SQL CHECK semantics: a row
        violates only when the expression is strictly FALSE — NULL passes."""
        return dict(
            (self.manifest().get("props") or {}).get("constraints", {})
        )

    def _enforce_constraints(
        self,
        df: DataFrame,
        props: dict | None,
        op_col: str | None = None,
        key_cols: list[str] | None = None,
    ) -> None:
        """Raise :class:`CheckConstraintViolation` when ``df`` contains a
        row failing any table CHECK constraint. Zero-cost when the table
        has none; otherwise ONE action (a limit-5 probe fused with the
        constraint predicates) over the rows being written. Delete
        tombstones are exempt — they carry key + version columns only, so
        payload constraints don't apply to them. ``key_cols``: pass from
        the caller's manifest (avoids a live manifest re-read per write on
        an object-store backend, and keys the report to the snapshot the
        caller validated against)."""
        cons = (props or {}).get("constraints") or {}
        if not cons:
            return
        rows = df
        if op_col and op_col in df.columns:
            rows = rows.filter(F.col(op_col) != F.lit("delete"))
        names = sorted(cons)
        flags = [
            (~F.coalesce(F.expr(cons[n]), F.lit(True))).alias(f"_viol_{i}")
            for i, n in enumerate(names)
        ]
        any_viol = flags[0]
        for f in flags[1:]:
            any_viol = any_viol | f
        keys = [
            k
            for k in (key_cols if key_cols is not None else self.key_cols())
            if k in rows.columns
        ]
        bad = (
            rows.select(*keys, *flags)
            .filter(F.coalesce(any_viol, F.lit(False)))
            .limit(5)
            .collect()
        )
        if bad:
            broken = sorted(
                {
                    names[i]
                    for r in bad
                    for i in range(len(names))
                    if r[f"_viol_{i}"]
                }
            )
            examples = [tuple(r[k] for k in keys) for r in bad]
            raise CheckConstraintViolation(
                f"constraint(s) {broken} violated; example keys "
                f"({', '.join(keys)}): {examples} (first 5 shown); "
                "nothing was committed"
            )

    def add_constraint(self, name: str, expr: str) -> int:
        """Add a CHECK constraint (Delta ``ALTER TABLE ADD CONSTRAINT``
        analog): validates the expression parses and that ALL existing rows
        satisfy it (one scan — the same contract Delta enforces), then
        commits the constraint into the table props; every subsequent
        merge/merge_into/overwrite enforces it before committing."""
        m = self.manifest()
        cons = dict((m.get("props") or {}).get("constraints", {}))
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        F.expr(expr)  # parse check
        probe_props = {"constraints": {name: expr}}
        self._enforce_constraints(
            self.read(), probe_props, op_col="op", key_cols=m["key_cols"]
        )
        cons[name] = expr
        props = dict(m.get("props") or {})
        props["constraints"] = cons
        new = {
            **m,
            "version": m["version"] + 1,
            "parent": m["version"],
            "props": props,
            "summary": {"operation": "add_constraint", "constraint": name},
        }
        new.pop("committed_at", None)
        self._try_commit(new)
        return new["version"]

    def drop_column(self, name: str) -> int:
        """``ALTER TABLE DROP COLUMN`` — metadata-only schema narrowing
        (no data file is touched, O(manifest) like the lake formats): the
        new manifest's schema simply omits the field, and every reader
        pins the manifest schema, so the bytes still present in old files
        are never projected again. Time travel to pre-drop versions still
        shows the column (their manifests carry the old schema).

        Guards — the column must not be load-bearing:

        * key / version columns (``op``/``op_seq``/``offset``) are
          structural;
        * columns referenced by CHECK constraints, the declared
          clustering, ``stats_cols``, or any other table prop (rollup
          aggregate columns and the like) must be detached first.

        **Re-add is refused** (``dropped_columns`` prop): old files still
        carry the dropped bytes, so a later ADD COLUMN of the same name
        would silently RESURRECT stale values into rows whose files
        predate the drop — the classic name-reuse hazard lake formats
        solve with column-mapping ids. The remedy is a new name, or a
        full rewrite into a fresh table. Because a merge source that
        still carries the dropped column would re-add it through schema
        evolution, such merges raise too (drop the column from the source
        projection).
        """
        m = self.manifest()
        schema = self.schema()
        if name not in schema.fieldNames():
            raise ValueError(f"no such column {name!r}")
        if name in m["key_cols"]:
            raise ValueError(f"cannot drop key column {name!r}")
        if name in ("op", "op_seq", "offset") and {
            "op", "op_seq", "offset"
        } <= set(schema.fieldNames()):
            raise ValueError(f"cannot drop version column {name!r}")
        props = dict(m.get("props") or {})
        self._guard_props_reference(name, props)
        dropped = dict(props.get("dropped_columns") or {})
        dropped[name] = m["version"] + 1
        # dropping a RENAMED column retires its whole name history — the
        # historical names stay blocked (old files still answer to them)
        renames = {
            k: list(v) for k, v in (props.get("renamed_columns") or {}).items()
        }
        for o in renames.pop(name, []):
            dropped.setdefault(o, m["version"] + 1)
        props["renamed_columns"] = renames
        props["dropped_columns"] = dropped
        new_schema = T.StructType(
            [f for f in schema.fields if f.name != name]
        )
        new = {
            **m,
            "version": m["version"] + 1,
            "parent": m["version"],
            "schema": json.dumps(new_schema.jsonValue()),
            "props": props,
            "summary": {"operation": "drop_column", "column": name},
        }
        new.pop("committed_at", None)
        self._try_commit(new)
        return new["version"]

    def rename_column(self, old: str, new: str) -> int:
        """``ALTER TABLE RENAME COLUMN`` — zero-rewrite rename (no data
        file is touched, O(manifest) like Iceberg's field-id renames): the
        new manifest's schema carries the new name and records the old one
        in ``props["renamed_columns"]`` (newest-first history, chained
        renames compose). Readers load old files through an AUGMENTED
        schema that includes the historical names and project
        ``coalesce(new, old…)`` — a file carries exactly one era's name,
        so the coalesce picks the one that is present. Time travel below
        the rename shows the old name (that manifest's schema).

        Pruning note: per-file min/max stats written before the rename are
        keyed by the old name; :meth:`scan_ranges` on the new name treats
        those files as stat-less (kept conservatively — correct, just
        unpruned until a rewrite refreshes their footers).

        Guards mirror :meth:`drop_column`: key/version columns and
        constraint/clustering/props-referenced columns are structural —
        detach first. The OLD name can never be re-added (old files still
        answer to it); CDC sources that still carry it must rename in the
        projection (``withColumnRenamed``) before merging.
        """
        m = self.manifest()
        schema = self.schema()
        if old not in schema.fieldNames():
            raise ValueError(f"no such column {old!r}")
        if new in schema.fieldNames():
            raise ValueError(f"column {new!r} already exists")
        if old in m["key_cols"]:
            raise ValueError(f"cannot rename key column {old!r}")
        if old in ("op", "op_seq", "offset") and {
            "op", "op_seq", "offset"
        } <= set(schema.fieldNames()):
            raise ValueError(f"cannot rename version column {old!r}")
        if not new.isidentifier():
            raise ValueError(f"invalid column name {new!r}")
        props = dict(m.get("props") or {})
        self._guard_props_reference(old, props)
        blocked = self._blocked_names(props)
        if new in blocked:
            raise ValueError(
                f"name {new!r} was previously dropped or renamed away — "
                "old files still answer to it; pick a different name"
            )
        renames = {k: list(v) for k, v in (props.get("renamed_columns") or {}).items()}
        history = [old] + renames.pop(old, [])  # chain: newest old-name first
        renames[new] = history
        props["renamed_columns"] = renames
        new_schema = T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable)
                if f.name == old
                else f
                for f in schema.fields
            ]
        )
        mf = {
            **m,
            "version": m["version"] + 1,
            "parent": m["version"],
            "schema": json.dumps(new_schema.jsonValue()),
            "props": props,
            "summary": {"operation": "rename_column", "from": old, "to": new},
        }
        mf.pop("committed_at", None)
        self._try_commit(mf)
        return mf["version"]

    def _guard_props_reference(self, name: str, props: dict) -> None:
        """Reject dropping/renaming a column that constraints, clustering
        or any other table prop references (the rename/drop ledgers
        themselves are exempt — they hold historical names by design)."""
        import re as _re

        word = _re.compile(rf"\b{_re.escape(name)}\b")
        for cname, expr in (props.get("constraints") or {}).items():
            if word.search(expr):
                raise ValueError(
                    f"column {name!r} is referenced by constraint {cname!r} "
                    "— drop_constraint first"
                )
        for pkey, pval in props.items():
            if pkey in ("constraints", "dropped_columns", "renamed_columns"):
                continue
            if word.search(json.dumps(pval)):
                raise ValueError(
                    f"column {name!r} is referenced by table prop {pkey!r} "
                    "— detach it first"
                )
        clu = self.clustering() or {}
        if name in (clu.get("sort_by") or []) or name in (clu.get("zorder_by") or []):
            raise ValueError(
                f"column {name!r} is part of the declared clustering — "
                "set_clustering without it first"
            )

    @staticmethod
    def _blocked_names(props: dict) -> set:
        """Names no evolution may (re-)introduce: previously DROPPED
        columns and historical (renamed-away) names — old files still
        carry bytes under them."""
        dropped = set((props or {}).get("dropped_columns") or {})
        hist = {
            o
            for olds in ((props or {}).get("renamed_columns") or {}).values()
            for o in olds
        }
        return dropped | hist

    def _guard_dropped_columns(
        self, before: T.StructType, after: T.StructType, m: dict
    ) -> None:
        """Refuse schema evolution that re-adds a previously DROPPED or
        RENAMED-AWAY column name (see :meth:`drop_column` /
        :meth:`rename_column` — old files would resurrect stale values).
        Concurrent drops/renames are covered separately: both ledgers live
        in props, so the OCC rebase's props-conflict check aborts any
        racing writer."""
        blocked = self._blocked_names(m.get("props") or {})
        if not blocked:
            return
        added = set(after.fieldNames()) - set(before.fieldNames())
        hit = sorted(added & blocked)
        if hit:
            raise ValueError(
                f"columns {hit} were previously dropped (old files still "
                "carry their bytes — re-adding would resurrect stale "
                "values); use a new name, or rewrite into a fresh table. "
                "If a merge source still carries the column, project it "
                "away before merging."
            )

    def drop_constraint(self, name: str) -> int:
        m = self.manifest()
        cons = dict((m.get("props") or {}).get("constraints", {}))
        if name not in cons:
            raise ValueError(f"no such constraint {name!r}")
        del cons[name]
        props = dict(m.get("props") or {})
        props["constraints"] = cons
        new = {
            **m,
            "version": m["version"] + 1,
            "parent": m["version"],
            "props": props,
            "summary": {"operation": "drop_constraint", "constraint": name},
        }
        new.pop("committed_at", None)
        self._try_commit(new)
        return new["version"]

    @staticmethod
    def _iso_fixed(t) -> str:
        """Fixed-width ISO-8601 of a naive timestamp. ``strftime('%Y')`` is
        NOT zero-padded for years < 1000 ('50-01-01…' sorts after '20xx…'),
        which would silently break the lexicographic == chronological
        invariant the stat pruning rests on — pad the year explicitly."""
        return f"{t.year:04d}-" + t.strftime("%m-%dT%H:%M:%S.%f")

    @staticmethod
    def _enc_stat(v):
        """JSON-encodable, ORDER-PRESERVING encoding of a stat value.
        Timestamps → fixed-width ISO-8601 (lexicographic == chronological);
        numerics/strings pass through."""
        import datetime

        if isinstance(v, (datetime.datetime, datetime.date)):
            import pandas as _pd

            t = _pd.Timestamp(v)
            if t.tzinfo is not None:
                t = t.tz_convert("UTC").tz_localize(None)
            return SnapshotTable._iso_fixed(t)
        if isinstance(v, bytes):
            return None  # binary stats not supported
        return v

    def _enc_bound(self, v, dtype: T.DataType):
        """Encode a user-supplied scan bound into the footer-stats domain.

        Footer stats of TimestampType columns are UTC instants (parquet
        ``isAdjustedToUTC``), while the Spark filter interprets a NAIVE
        datetime/string literal in ``spark.sql.session.timeZone`` — so the
        bound must be localized to the session zone and converted to a
        UTC-naive instant before comparing against the encoded stats, or a
        non-UTC session would prune files the filter keeps (silent row
        loss). tz-aware bounds convert directly; string bounds for
        timestamp columns parse the way the filter's implicit cast does.
        TimestampNTZ stats and bounds are both wall times — no conversion."""
        import pandas as _pd

        if isinstance(dtype, T.TimestampType):
            t = _pd.Timestamp(v)
            if t.tzinfo is None:
                tz = self.spark.conf.get("spark.sql.session.timeZone", "UTC")
                t = t.tz_localize(tz)
            t = t.tz_convert("UTC").tz_localize(None)
            return self._iso_fixed(t)
        if isinstance(dtype, T.TimestampNTZType):
            t = _pd.Timestamp(v)
            if t.tzinfo is not None:
                t = t.tz_convert("UTC").tz_localize(None)
            return self._iso_fixed(t)
        return self._enc_stat(v)

    def _footer_stats(
        self, files: dict[str, list[str]], cols: list[str], footers: dict
    ) -> dict[str, dict[str, list]]:
        """relpath → {col: [min, max]} from parquet FOOTERS (metadata only,
        no data pages). This is the Iceberg-manifest-stats analog: at 10^5+
        files, pruning consults the manifest instead of opening every footer
        at query time. ``footers`` (relpath → ``FileMetaData``) are the ones
        :meth:`_write_bucket_files` read when it wrote ``files``, so a
        commit opens each new file's footer once (O(touched buckets))."""
        if not cols:
            return {}
        out: dict[str, dict[str, list]] = {}
        for rels in files.values():
            for rel in rels:
                md = footers[rel]
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                st: dict[str, list] = {}
                for c in cols:
                    i = idx.get(c)
                    if i is None:
                        continue
                    lo = hi = None
                    ok = True
                    for rg in range(md.num_row_groups):
                        s = md.row_group(rg).column(i).statistics
                        if s is None or not s.has_min_max:
                            ok = False
                            break
                        lo = s.min if lo is None else min(lo, s.min)
                        hi = s.max if hi is None else max(hi, s.max)
                    if ok and lo is not None:
                        elo, ehi = self._enc_stat(lo), self._enc_stat(hi)
                        if elo is not None and ehi is not None:
                            st[c] = [elo, ehi]
                if st:
                    out[rel] = st
        return out

    def _split_scan_files(
        self, m: dict, preds: list[tuple[str, Any, Any]]
    ) -> tuple[list[str], list[str]]:
        """Partition the snapshot's data files for a (multi-column) range
        scan into (full-read, version-only-read) relpaths using the
        manifest stats. ``preds``: (column, encoded_lo, encoded_hi) per
        dimension — a file is OUT-of-range when ANY dimension's [min, max]
        cannot intersect its [lo, hi] (the predicates are ANDed).

        Files with no recorded stats for a column count as in-range on that
        column (must read). Per-key supersession only happens WITHIN a
        bucket (a key lives in exactly one bucket), so a bucket whose files
        are ALL out-of-range is dropped outright — none of its keys can
        produce an in-range winner."""
        stats = m.get("file_stats", {})

        def in_range(rel: str) -> bool:
            fs = stats.get(rel, {})
            for col, elo, ehi in preds:
                s = fs.get(col)
                if s is None:
                    continue
                if (ehi is not None and s[0] > ehi) or (
                    elo is not None and s[1] < elo
                ):
                    return False
            return True

        full: list[str] = []
        slim: list[str] = []
        buckets = set(m.get("files", {})) | set(m.get("delta_files", {}))
        for b in buckets:
            rels = list(m.get("files", {}).get(b, [])) + list(
                m.get("delta_files", {}).get(b, [])
            )
            hits, misses = [], []
            for rel in rels:
                (hits if in_range(rel) else misses).append(rel)
            if not hits:
                continue  # whole bucket out of range: no key can win in-range
            full.extend(hits)
            slim.extend(misses)
        return full, slim

    def scan(
        self,
        predicate_col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Stats-pruned snapshot range scan: rows with ``lo <= col <= hi``
        (open ends ``None``); always equals ``read(version).filter(...)``
        exactly — pruning removes IO, never rows.

        Two pruning layers above Catalyst's parquet row-group pushdown, both
        driven by the manifest's per-file [min, max] stats:

        * **bucket drop** — a bucket whose every file is out-of-range is
          skipped entirely (keys never span buckets, so no superseded row
          elsewhere can be resurrected by dropping it);
        * **payload pruning (LWW tables)** — out-of-range files in buckets
          that still participate cannot be skipped outright (a skipped
          NEWER version of a key would resurrect an in-range older row), so
          they are read VERSION-COLUMNS-ONLY (key + op_seq/offset/op — a
          narrow column-pruned parquet read; the wide ``text`` payload
          pages are never touched). The LWW reduce then runs over full ∪
          slim rows and only winners that came from a full file and pass
          the filter survive — bit-identical to the unpruned scan.

        Effectiveness tracks the table's physical time-clustering: with
        merge-on-read, each epoch's delta files span only that epoch's
        event times, so a narrow time window reads the payload bytes of a
        few epochs and only the version columns of the rest."""
        return self.scan_ranges({predicate_col: (lo, hi)}, version=version)

    def scan_ranges(
        self,
        predicates: dict[str, tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Multi-column rectangle scan: rows satisfying EVERY ``col: (lo,
        hi)`` range (open ends ``None``); always equals
        ``read(version).filter(AND of ranges)`` exactly — same two pruning
        layers as :meth:`scan`, but a file is skipped when ANY dimension's
        stats miss its range. This is where :meth:`optimize`'s
        ``zorder_by`` layout pays off: after a Z-order rewrite each file
        covers a small hyper-rectangle of the listed dimensions, so a
        rectangle query prunes on all of them at once instead of only the
        single sort dimension."""
        if not predicates:
            raise ValueError("scan_ranges needs at least one column range")
        if version is not None and version < self.min_retained_version():
            raise VersionVacuumedError(
                f"version {version} was vacuumed; cannot scan"
            )
        m = self.manifest(version)
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        preds = self._encode_predicates(schema, predicates)
        full_rels, slim_rels = self._split_scan_files(m, preds)
        names = set(schema.fieldNames())
        key_cols = m["key_cols"]
        versioned = {"op_seq", "offset"} <= names

        def rng(df: DataFrame) -> DataFrame:
            for col, (lo, hi) in predicates.items():
                c = F.col(col)
                if lo is not None:
                    df = df.filter(c >= F.lit(lo))
                if hi is not None:
                    df = df.filter(c <= F.lit(hi))
            return df

        if not full_rels:
            return self.spark.createDataFrame([], schema)
        full_paths = [os.path.join(self.data_dir, r) for r in full_rels]
        full = self._load_files(m, schema, full_paths)
        if not versioned:
            # un-versioned tables have one file per bucket (no deltas), so
            # in-range files are self-contained: plain pruned read
            return rng(full).select(*schema.fieldNames())
        from nifi_dicom_spark.operators.dedup import lww_dedup

        full = full.withColumn("_kept", F.lit(True))
        if slim_rels:
            slim_schema = T.StructType(
                [
                    f
                    for f in schema.fields
                    if f.name in {*key_cols, "op_seq", "offset"}
                ]
            )
            slim_paths = [os.path.join(self.data_dir, r) for r in slim_rels]
            slim = (
                self.spark.read.schema(slim_schema)
                .parquet(*slim_paths)
                .select(
                    *[
                        F.col(f.name)
                        if f.name in {*key_cols, "op_seq", "offset"}
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in schema.fields
                    ],
                    F.lit(False).alias("_kept"),
                )
            )
            full = full.unionByName(slim)
        winners = lww_dedup(full, key_cols)
        return (
            rng(winners.filter(F.col("_kept")))
            .select(*schema.fieldNames())
        )

    def scan_file_stats(
        self, predicate_col: str, lo=None, hi=None, version: int | None = None
    ) -> dict:
        """Pruning-effectiveness probe: how many data files a
        :meth:`scan` would read fully, version-columns-only, or skip."""
        return self.scan_ranges_file_stats(
            {predicate_col: (lo, hi)}, version=version
        )

    def _encode_predicates(
        self, schema: T.StructType, predicates: dict[str, tuple]
    ) -> list[tuple[str, Any, Any]]:
        """(col, encoded_lo, encoded_hi) triples for :meth:`_split_scan_files`,
        validating every column against the snapshot schema."""
        preds: list[tuple[str, Any, Any]] = []
        for col, (lo, hi) in predicates.items():
            ptype = next(
                (f.dataType for f in schema.fields if f.name == col), None
            )
            if ptype is None:
                raise ValueError(f"unknown scan column {col!r}")
            preds.append(
                (
                    col,
                    self._enc_bound(lo, ptype) if lo is not None else None,
                    self._enc_bound(hi, ptype) if hi is not None else None,
                )
            )
        return preds

    def scan_ranges_file_stats(
        self, predicates: dict[str, tuple], version: int | None = None
    ) -> dict:
        """Pruning-effectiveness probe for :meth:`scan_ranges`."""
        m = self.manifest(version)
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        full, slim = self._split_scan_files(
            m, self._encode_predicates(schema, predicates)
        )
        total = sum(
            len(rels)
            for which in ("files", "delta_files")
            for rels in m.get(which, {}).values()
        )
        # un-versioned tables have no supersession: a stats miss skips the
        # file outright instead of demoting it to a version-columns read
        if not {"op_seq", "offset"} <= set(schema.fieldNames()):
            full, slim = full, []
        return {
            "full": len(full),
            "version_only": len(slim),
            "skipped": total - len(full) - len(slim),
            "total": total,
        }

    # ------------------------------------------------------- point lookups

    _BLOOM_KEY_TYPES = (
        T.StringType,
        T.IntegerType,
        T.LongType,
        T.ShortType,
        T.ByteType,
    )

    def _bloom_path(self, rel: str) -> str:
        return os.path.join(self.data_dir, rel) + ".bloom"

    def build_blooms(self, fpp: float = 0.01, buckets: list[int] | None = None) -> int:
        """Background maintenance: write a Bloom-filter sidecar
        (``<file>.parquet.bloom``, see :mod:`nifi_dicom_spark.lake.bloom`)
        over the DISTINCT bucket-key values of every CURRENT data file that
        doesn't have one yet. Construction is distributed (one task per
        file groups its keys); only O(new files) ~KB filter blobs come back
        to the driver. Data files are immutable, so a sidecar never goes
        stale; files replaced by compact/optimize/rebucket simply orphan
        theirs (reaped by :meth:`vacuum`) and the replacements are picked
        up by the next ``build_blooms`` call. Returns the number of
        sidecars written.

        At 100 TB this runs where compaction runs: after each maintenance
        window, over just the buckets it touched (``buckets=``). The
        lookup path degrades gracefully — an unbloomd file is read, never
        mis-skipped."""
        from nifi_dicom_spark.lake import bloom as _bloom

        m = self.manifest()
        key0 = m["key_cols"][0]
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        ktype = next(f.dataType for f in schema.fields if f.name == key0)
        if not isinstance(ktype, self._BLOOM_KEY_TYPES):
            raise ValueError(
                f"bloom index requires a string/integral bucket key; "
                f"{key0!r} is {ktype.simpleString()}"
            )
        want = set(str(b) for b in buckets) if buckets is not None else None
        rels = [
            rel
            for which in ("files", "delta_files")
            for b, rl in m.get(which, {}).items()
            if want is None or b in want
            for rel in rl
        ]
        # foreign (shallow-clone) references are absolute paths in another
        # table's directory — never write sidecars there (ownership); the
        # lookup path reads them un-bloom'd, or via the SOURCE's sidecars
        # if it built any (they sit beside the referenced files)
        missing = [
            rel
            for rel in rels
            if not os.path.isabs(rel) and not os.path.exists(self._bloom_path(rel))
        ]
        if not missing:
            return 0
        fpp_f = float(fpp)
        _ = _bloom.bloom_params(1, fpp_f)  # validate fpp before launching a job

        def _mk(pdf):
            import pandas as pd

            keys = pdf["k"].tolist()
            mb, kh = _bloom.bloom_params(len(keys), fpp_f)
            payload = _bloom.encode_sidecar(
                key0, len(keys), mb, kh, _bloom.build_bloom(keys, mb, kh)
            )
            return pd.DataFrame({"f": [pdf["f"].iloc[0]], "payload": [payload]})

        rows = (
            self.spark.read.schema(schema)
            .parquet(*(os.path.join(self.data_dir, rel) for rel in missing))
            .select(
                # stringify in Spark so the filter and the probe agree on
                # the textual form for every supported key type
                F.col(key0).cast("string").alias("k"),
                F.input_file_name().alias("f"),
            )
            .distinct()
            .groupBy("f")
            .applyInPandas(_mk, "f string, payload binary")
            .collect()  # bounded: one ~KB row per newly-bloomd file
        )
        from urllib.parse import unquote, urlparse

        written = 0
        data_dir = os.path.abspath(self.data_dir)
        for r in rows:
            path = unquote(urlparse(r["f"]).path)
            rel = os.path.relpath(os.path.abspath(path), data_dir)
            target = self._bloom_path(rel)
            tmp = f"{target}.tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "wb") as fh:
                fh.write(bytes(r["payload"]))
            os.replace(tmp, target)  # readers see absent or whole, never partial
            written += 1
        return written

    def _lookup_plan(
        self, m: dict, values: list
    ) -> tuple[list[int], list[str], list[str]]:
        """(buckets, kept_rels, bloom_pruned_rels) for a point lookup of
        ``values`` on the bucket key. Two stages: the bucket of each value
        (a key lives in exactly ONE bucket), then sidecar exclusion within
        those buckets. Skipping a bloom-excluded file is LWW-safe:
        exclusion proves the file holds NO version of any requested key, so
        no winner or superseding tombstone can hide in it.

        Bucket ids come from the table's own :func:`_bucket_expr`, so they
        match the write side for every key type and both hash functions,
        but planning launches no Spark job: the de-duplicated values travel
        as an Arrow table, which Spark turns into a LocalRelation, and the
        optimizer folds the projection over it on the driver (a
        LocalTableScan of the bucket ids)."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        from nifi_dicom_spark.lake import bloom as _bloom

        key0 = m["key_cols"][0]
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        ktype = next(f.dataType for f in schema.fields if f.name == key0)
        uniq = list(dict.fromkeys(values))
        vdf = self.spark.createDataFrame(
            pa.table({key0: pa.array(uniq, type=to_arrow_type(ktype))}),
            T.StructType([T.StructField(key0, ktype)]),
        )
        fn = m.get("bucket_fn", "xxhash64")
        bks = sorted(
            {
                r["b"]
                for r in vdf.select(
                    _bucket_expr(key0, m["n_buckets"], fn).alias("b")
                ).collect()  # driver-local: one row per distinct value
            }
        )
        probes = [str(v) for v in values]
        kept: list[str] = []
        pruned: list[str] = []
        for b in bks:
            for which in ("files", "delta_files"):
                for rel in m.get(which, {}).get(str(b), []):
                    doc = _bloom.load_sidecar(self._bloom_path(rel), key0)
                    if _bloom.sidecar_excludes(doc, probes):
                        pruned.append(rel)
                    else:
                        kept.append(rel)
        return bks, kept, pruned

    def lookup(
        self,
        values: list,
        version: int | None = None,
        timestamp=None,
    ) -> DataFrame:
        """Point lookup by bucket-key value(s): exactly
        ``read(version).filter(key_cols[0].isin(values))`` — tombstones
        included, LWW-reduced — but reading only the requested keys'
        buckets, minus every file whose Bloom sidecar excludes all of
        them. IO is O(files of len(values) buckets), not O(table); with
        sidecars built it is typically one base file + the deltas that
        actually touched the key since last compaction.

        A small read pays no fixed planning cost: bucket planning
        (:meth:`_lookup_plan`) launches no Spark job, and the LWW reduce
        over base ∪ deltas runs without a shuffle. The key-filtered rows
        are only the stored versions of the requested keys, so they are
        coalesced into one partition; ``SinglePartition`` satisfies the
        aggregate's clustered distribution, and the plan has no
        ``Exchange`` — one job whose reduce holds O(versions of the
        requested keys) rows.

        Reference analog: the single-identifier fetch under a C-FIND/
        C-MOVE unique key (``QueryRetrieveController``; P6 gating),
        served without a table scan."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at(timestamp)
        if version is not None and version < (min_ret := self.min_retained_version()):
            raise VersionVacuumedError(
                f"version {version} was vacuumed (oldest retained: {min_ret}); "
                "its data files no longer exist"
            )
        values = list(values)
        if not values:
            raise ValueError("lookup needs at least one key value")
        m = self.manifest(version)
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        key0 = m["key_cols"][0]
        _bks, kept, _pruned = self._lookup_plan(m, values)
        if not kept:
            # parquet reads surface every column nullable; the empty result
            # must carry the same schema as the read-some-files path
            nullable = T.StructType(
                [T.StructField(f.name, f.dataType, True) for f in schema.fields]
            )
            return self.spark.createDataFrame([], nullable)
        delta_rels = {
            rel for rl in m.get("delta_files", {}).values() for rel in rl
        }
        df = self._load_files(
            m, schema, [os.path.join(self.data_dir, rel) for rel in kept]
        ).filter(F.col(key0).isin(values))
        if any(rel in delta_rels for rel in kept):
            from nifi_dicom_spark.operators.dedup import lww_dedup

            if not {"op_seq", "offset"} <= set(schema.fieldNames()):
                raise RuntimeError(
                    "delta files present but table lacks op_seq/offset version "
                    "columns — cannot LWW-merge on read"
                )
            df = lww_dedup(df.coalesce(1), m["key_cols"]).select(
                *schema.fieldNames()
            )
        return df

    def lookup_file_stats(self, values: list, version: int | None = None) -> dict:
        """Pruning-effectiveness probe for :meth:`lookup`."""
        m = self.manifest(version)
        bks, kept, pruned = self._lookup_plan(m, list(values))
        total = sum(
            len(rl)
            for which in ("files", "delta_files")
            for rl in m.get(which, {}).values()
        )
        return {
            "buckets": bks,
            "read": len(kept),
            "bloom_skipped": len(pruned),
            "bucket_skipped": total - len(kept) - len(pruned),
            "total": total,
        }

    # ---------------------------------------------------------- layout evolution

    def rebucket(self, new_n_buckets: int) -> int:
        """Bucket-layout evolution (the partition-spec-evolution analog):
        rewrite the table's current LWW state into ``new_n_buckets`` murmur3
        buckets and commit the new layout. An O(table) maintenance job, like
        a full compaction — run it when key cardinality outgrows the layout
        (e.g. 64 buckets chosen at create vs 10^9 conversations later).
        Old versions keep their old layout and remain readable via time
        travel; the commit ledger and schema carry over unchanged. Legacy
        xxhash64 tables migrate to the murmur3 layout as a side effect.
        A declared :meth:`set_clustering` layout is applied to the rewrite
        (the invariant that clustering survives ALL base rewrites), and the
        write carries the exact-bucket misplacement tripwire — the expected
        new-bucket set costs one distinct over the key column, cheap
        relative to the full-table rewrite it protects."""
        new_n_buckets = int(new_n_buckets)
        if new_n_buckets < 1:
            raise ValueError("new_n_buckets must be >= 1")
        m = self.manifest()
        schema = self.schema()
        df = self.read()  # current logical state (deltas LWW-merged in)
        df, sort_cols, max_rpf = self._clustering_write_args(m, df)
        # Exact misplacement tripwire. Computed from the RAW physical rows
        # (dedup=False) with only the key column selected: tombstones are
        # stored rows, so every key survives the LWW reduce as >= 1 row and
        # the raw bucket set equals the deduped one — this pass is a
        # column-pruned parquet scan + partial-agg distinct (bounded by
        # new_n_buckets values), NOT a second execution of the merge read.
        expected = {
            r[0]
            for r in self.read(dedup=False)
            .select(
                _bucket_expr(m["key_cols"][0], new_n_buckets, "murmur3").alias("b")
            )
            .distinct()
            .collect()
        }
        tag = uuid.uuid4().hex[:12]
        new_files, footers = self._write_bucket_files(
            df,
            tag,
            new_n_buckets,
            "murmur3",
            key_cols=m["key_cols"],
            sort_cols=sort_cols,
            max_records_per_file=max_rpf,
            expected_buckets=expected,
        )
        new = {
            "version": m["version"] + 1,
            "parent": m["version"],
            "schema": schema.json(),
            "key_cols": m["key_cols"],
            "n_buckets": int(new_n_buckets),
            "bucket_fn": "murmur3",
            "files": new_files,
            "delta_files": {},
            "applied_hw": self._hw(m),
            "props": m["props"],
            "file_stats": self._footer_stats(
                new_files, (m.get("props") or {}).get("stats_cols", []), footers
            ),
            "summary": {
                "operation": "rebucket",
                "from_n_buckets": m["n_buckets"],
                "to_n_buckets": int(new_n_buckets),
            },
        }
        self._try_commit(new)
        return new["version"]

    def _plan_coalesce_safe(self, df: DataFrame) -> bool:
        """True when the write needs no AQE toggle: AQE/coalescing is off in
        the session the plan EXECUTES under (``df.sparkSession`` — inside
        ``foreachBatch`` that is the micro-batch CLONE, not ``self.spark``),
        or the plan's top exchange is still our explicit
        ``REPARTITION_BY_NUM`` (a shuffle origin AQE never re-shapes).
        Conservative on any inspection failure (False → use the toggle)."""
        try:
            conf = (getattr(df, "sparkSession", None) or self.spark).conf
            if conf.get("spark.sql.adaptive.enabled", "true") != "true":
                return True
            if (
                conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
                != "true"
            ):
                return True
            plan = df._jdf.queryExecution().executedPlan().toString()
            # The decision must be made on the exchange that produces the
            # write's partitioning — the topmost shuffle exchange (broadcast
            # exchanges belong to join subtrees and carry no partitioning).
            # A bare substring search over the whole plan is wrong: a merge
            # SOURCE that itself contains a repartition-by-num (e.g. an
            # upstream .repartition(n) for kernel parallelism) would satisfy
            # it even when OUR final repartition was elided by an
            # ENSURE_REQUIREMENTS exchange — the exact hazard this guard
            # exists for.
            for line in plan.splitlines():
                if "BroadcastExchange" in line:
                    continue
                if "Exchange" in line:
                    return "REPARTITION_BY_NUM" in line
            return False
        except Exception:
            return False

    def overwrite(self, df: DataFrame) -> int:
        """Replace the full table contents (initial snapshot load)."""
        m = self.manifest()
        schema = evolve_schema(self.schema(), df.schema)
        self._guard_dropped_columns(self.schema(), schema, m)
        df = conform_to_schema(df, schema)
        self._enforce_constraints(
            df, m.get("props"), op_col="op", key_cols=m["key_cols"]
        )
        n_buckets = m["n_buckets"]
        fn = m.get("bucket_fn", "xxhash64")
        tag = uuid.uuid4().hex[:12]
        df, sort_cols, max_rpf = self._clustering_write_args(m, df)
        if fn != "murmur3":
            df = df.withColumn(
                "_bucket", _bucket_expr(self.key_cols()[0], n_buckets, fn)
            )
        files, footers = self._write_bucket_files(
            df,
            tag,
            n_buckets,
            fn,
            key_cols=m["key_cols"],
            sort_cols=sort_cols,
            max_records_per_file=max_rpf,
        )
        new = {
            "version": m["version"] + 1,
            "parent": m["version"],
            "schema": schema.json(),
            "key_cols": m["key_cols"],
            "n_buckets": n_buckets,
            "bucket_fn": fn,
            "files": files,
            "delta_files": {},
            "applied_hw": self._hw(m),
            "props": m["props"],
            "file_stats": self._footer_stats(
                files, (m.get("props") or {}).get("stats_cols", []), footers
            ),
            "summary": {"operation": "overwrite"},
        }
        self._try_commit(new)
        return new["version"]

    # ----------------------------------------------------------------- merge

    def _gate_commit_keys(
        self,
        m: dict,
        commit_keys: list[tuple[int, int]] | None,
        on_replayed: str | None,
    ) -> tuple[list[tuple[int, int]] | None, int]:
        """Exactly-once replay gate shared by every commit-keyed write path:
        drop keys at/below their partition's high-watermark (an already-
        applied epoch), applying the table's ``on_replayed`` policy. Returns
        (fresh keys — empty list means the whole write is a replay no-op;
        None when the caller passed no keys, skipped count)."""
        if commit_keys is None:
            return None, 0
        hw = self._hw(m)
        fresh = [
            k for k in commit_keys if int(k[0]) > hw.get(str(int(k[1])), -(10**18))
        ]
        skipped = len(commit_keys) - len(fresh)
        if skipped:
            policy_on_replayed = on_replayed or (m.get("props") or {}).get(
                "on_replayed", "skip"
            )
            if policy_on_replayed != "skip":
                replayed = [
                    (int(k[0]), int(k[1]))
                    for k in commit_keys
                    if int(k[0]) <= hw.get(str(int(k[1])), -(10**18))
                ]
                msg = (
                    f"{len(replayed)} commit key(s) at/below their "
                    f"partition high-watermark (first: epoch={replayed[0][0]} "
                    f"partition={replayed[0][1]} hw="
                    f"{hw.get(str(replayed[0][1]))}) — crash-replay if the "
                    "single-writer contract holds; otherwise silent loss "
                    "(checkpoint reset / backfill / second writer)"
                )
                if policy_on_replayed == "error":
                    raise LedgerRegression(msg)
                warnings.warn(msg, stacklevel=3)
        return fresh, skipped

    def merge(
        self,
        source: DataFrame,
        op_col: str | None = "op",
        policy: str = "upsert",
        commit_keys: list[tuple[int, int]] | None = None,
        assert_unique_source: bool = False,
        touched_buckets: list[int] | None = None,
        mode: str | None = None,
        on_replayed: str | None = None,
    ) -> MergeStats:
        """MERGE INTO this table USING ``source`` ON the key columns.

        Policies:
        * ``upsert`` (LWW apply): matched + op='delete' → DELETE; otherwise
          UPDATE; not-matched + op≠'delete' → INSERT. (SURVEY K5/K6/A1.)
        * ``versioned_upsert``: cross-batch LWW. The table stores the winning
          event's ``op_seq``/``offset``/``op``; merge takes, per key, the max
          of (target row, source rows) by ``(op_seq, offset)`` — correct even
          when a LATE event (lower op_seq) arrives in a later batch, because
          LWW-max is associative: max(max(batch₁), max(batch₂)) = global max.
          Deletes persist as tombstones (op='delete') so an out-of-order
          pre-delete update cannot resurrect the row; filter
          ``op != 'delete'`` for final state. This is the CDC engine's apply
          arm (equivalent of Iceberg
          ``WHEN MATCHED AND s.v > t.v THEN UPDATE/DELETE``).
        * ``insert_if_absent`` (first-writer-wins): WHEN NOT MATCHED THEN
          INSERT only — existing rows never updated; the reference's
          ``insertObject`` contract (``DatabaseInformationModel.java:787-794``)
          and uid_map MERGE (``DeidentificationController.java:110-117``).

        ``source`` must contain ≤1 row per key (run lww_dedup first) — the
        same uniqueness Iceberg MERGE demands; ``assert_unique_source``
        enables a count-check (costs one extra aggregation).

        ``commit_keys`` are ``(checkpoint_epoch, partition_id)`` idempotency
        keys, compacted to per-partition high-watermark epochs (single-writer
        streaming applies epochs in nondecreasing order per partition):
        already-covered keys cause the whole merge to be skipped (a replayed
        epoch is a no-op); advancing keys are recorded in the same atomic
        manifest commit as the data. The ledger is O(partitions) forever.

        ``on_replayed`` controls what a commit key at-or-below its
        partition's high-watermark means (default ``"skip"``, overridable
        per-table via ``props["on_replayed"]``). Under the single-writer
        streaming contract such a key is a crash-replay of an already-applied
        epoch and skipping it IS the exactly-once guarantee — but the same
        signature also matches real faults (checkpoint reset, backfill
        against a live table, a second writer violating the contract), where
        a silent skip is silent data loss. ``"warn"`` logs each regression;
        ``"error"`` raises :class:`LedgerRegression` (strict mode for
        backfill jobs that must never race a live stream).

        ``mode`` (``versioned_upsert`` only): ``"mor"`` (default) appends
        per-bucket delta files — epoch cost ∝ change set, reads LWW-merge
        base∪deltas, :meth:`compact` (auto-triggered past
        ``props["compact_threshold"]`` deltas/bucket, default 8) folds them
        back; ``"cow"`` rewrites the touched buckets eagerly.
        """
        m = self.manifest()
        key_cols = m["key_cols"]
        n_buckets = m["n_buckets"]
        fn = m.get("bucket_fn", "xxhash64")

        # ---- idempotency gate (exactly-once replay) -----------------------
        effective_mode = (
            (mode or "mor") if policy == "versioned_upsert" else "cow"
        )
        commit_keys, skipped = self._gate_commit_keys(m, commit_keys, on_replayed)
        if commit_keys is not None and not commit_keys:
            return MergeStats(
                m["version"], 0, skipped, applied=False, mode=effective_mode
            )

        if assert_unique_source:
            dupes = (
                source.groupBy(*key_cols).count().filter(F.col("count") > 1).count()
            )
            if dupes:
                raise ValueError(f"merge source has {dupes} duplicate keys")

        # ---- schema evolution --------------------------------------------
        if policy == "versioned_upsert":
            # op/op_seq/offset become stored columns of the table
            src_payload_schema = source.schema
        else:
            src_payload_schema = T.StructType(
                [f for f in source.schema.fields if f.name != op_col]
            )
        schema = evolve_schema(self.schema(), src_payload_schema)
        self._guard_dropped_columns(self.schema(), schema, m)

        # constraints check the CONFORMED view of the batch (the rows as
        # they will be written): a mixed-vintage source missing a
        # constrained column gets typed nulls, which pass CHECK — the same
        # schema-evolution contract the write itself applies. Tombstones
        # are exempted BEFORE conforming (the upsert policy drops op_col
        # from the stored schema).
        if (m.get("props") or {}).get("constraints"):
            chk = source
            if op_col and op_col in source.columns:
                chk = chk.filter(F.col(op_col) != F.lit("delete"))
            self._enforce_constraints(
                conform_to_schema(chk, schema), m.get("props"),
                key_cols=key_cols,
            )
        bucket = _bucket_expr(key_cols[0], n_buckets, fn)
        src = source.withColumn("_bucket", bucket)

        if policy == "versioned_upsert":
            mode = effective_mode
            # bucket discovery: callers that already aggregate over the batch
            # (lineage metrics) pass the touched set in — zero extra jobs;
            # otherwise one column-pruned scan of the raw source (conv_id
            # only — Catalyst prunes the rest), no materialization
            touched = (
                sorted(touched_buckets)
                if touched_buckets is not None
                else sorted(
                    r["_bucket"]
                    for r in source.select(bucket.alias("_bucket")).distinct().collect()
                )
            )
            from nifi_dicom_spark.operators.dedup import lww_dedup

            tag = uuid.uuid4().hex[:12]
            if mode == "mor":
                # merge-on-read: dedup ONLY the batch and append per-bucket
                # delta files — the table's base is never read or rewritten,
                # so epoch cost ∝ change set. Cross-batch LWW happens at read
                # (associative reduce over base∪deltas) and at compaction.
                combined = conform_to_schema(src, schema)
            else:
                # copy-on-write: union touched base+deltas with the batch and
                # reduce — read() dedups any existing deltas for us
                target = conform_to_schema(self.read(buckets=touched), schema)
                combined = target.unionByName(conform_to_schema(src, schema))

            if fn == "murmur3":
                # ONE exchange total: cluster by the bucket/key column, let
                # the groupBy reuse the clustering (HashPartitioning(conv_id)
                # satisfies ClusteredDistribution(conv_id, turn_idx)), write
                # partition index == bucket — no second payload shuffle
                clustered = combined.repartition(n_buckets, key_cols[0])
                merged = lww_dedup(clustered, key_cols).select(*schema.fieldNames())
                new_files, footers = self._write_bucket_files(
                    merged,
                    tag,
                    n_buckets,
                    fn,
                    already_clustered=True,
                    key_cols=key_cols,
                    # MoR rows = the conformed batch: every touched bucket
                    # keeps ≥1 row through the dedup, so the written bucket
                    # set must equal the touched set exactly; a cow rewrite
                    # could legitimately empty a bucket some day, so it only
                    # forbids STRAY buckets (same policy on both bucket-fn
                    # branches)
                    expected_buckets=set(touched),
                    expect_exact=(mode == "mor"),
                )
            else:
                merged = lww_dedup(combined, key_cols).withColumn("_bucket", bucket)
                merged = merged.select(*schema.fieldNames(), "_bucket")
                new_files, footers = self._write_bucket_files(
                    merged, tag, n_buckets, fn, key_cols=key_cols,
                    expected_buckets=set(touched),
                    expect_exact=(mode == "mor"),
                )
            stats = self._commit_merge(
                m, schema, touched, new_files, commit_keys, policy, skipped,
                delta=(mode == "mor"), footers=footers,
            )
            if mode == "mor":
                thresh = int((m.get("props") or {}).get("compact_threshold", 8))
                if thresh > 0:
                    over = [
                        int(b)
                        for b, rels in self.manifest().get("delta_files", {}).items()
                        if len(rels) >= thresh
                    ]
                    if over:
                        # best-effort maintenance: the MERGE above already
                        # committed — a concurrent writer racing the
                        # compaction must not surface as a merge failure
                        # (the caller would re-merge a committed epoch /
                        # crash a streaming query over data that is safely
                        # in the table). The next over-threshold merge or an
                        # explicit compact() retries.
                        try:
                            self.compact(buckets=over)
                        except Exception as ex:  # noqa: BLE001
                            # same contract for ANY compaction failure — a
                            # broken clustering declaration or a failed
                            # normalization job must not surface as a
                            # merge failure either
                            warnings.warn(
                                f"auto-compaction skipped (deltas remain "
                                f"readable): {type(ex).__name__}: {ex}",
                                stacklevel=2,
                            )
            return stats

        # cache: we reuse source for bucket discovery + anti-join + projection
        src.persist()
        try:
            touched = (
                sorted(touched_buckets)
                if touched_buckets is not None
                else sorted(
                    r["_bucket"] for r in src.select("_bucket").distinct().collect()
                )
            )
            target = conform_to_schema(self.read(buckets=touched), schema)

            if policy in ("upsert", "insert_if_absent"):
                if policy == "upsert":
                    # WHEN MATCHED → replaced: only unmatched target rows
                    # survive (NOT MATCHED BY SOURCE arm)
                    survivors = target.join(
                        src.select(*key_cols), on=key_cols, how="left_anti"
                    )
                    incoming = src
                else:  # insert_if_absent (first-writer-wins): existing rows
                    # are NEVER updated — every target row survives
                    survivors = target
                    incoming = src.join(
                        target.select(*key_cols), on=key_cols, how="left_anti"
                    )
                if op_col is not None and op_col in incoming.columns:
                    incoming = incoming.filter(F.col(op_col) != F.lit("delete"))
                incoming = conform_to_schema(incoming, schema)
                merged = survivors.unionByName(incoming)
                if fn != "murmur3":
                    merged = merged.withColumn("_bucket", bucket).select(
                        *schema.fieldNames(), "_bucket"
                    )
                else:
                    merged = merged.select(*schema.fieldNames())
            else:
                raise ValueError(f"unknown merge policy {policy!r}")

            tag = uuid.uuid4().hex[:12]
            # cow upsert can legitimately empty a touched bucket (delete-only
            # batch against an absent key), so only stray buckets are fatal
            new_files, footers = self._write_bucket_files(
                merged, tag, n_buckets, fn, key_cols=key_cols,
                expected_buckets=set(touched), expect_exact=False,
            )
        finally:
            src.unpersist()

        return self._commit_merge(
            m, schema, touched, new_files, commit_keys, policy, skipped,
            footers=footers,
        )

    def merge_into(
        self,
        source: DataFrame,
        *,
        when_matched_update: dict[str, "Column | str"] | None = None,
        update_condition: "Column | str | None" = None,
        when_matched_delete: bool = False,
        delete_condition: "Column | str | None" = None,
        when_not_matched_insert: bool = True,
        insert_condition: "Column | str | None" = None,
        commit_keys: list[tuple[int, int]] | None = None,
        on_replayed: str | None = None,
        assert_unique_source: bool = False,
    ) -> MergeStats:
        """General conditional ``MERGE INTO this USING source ON key_cols``
        — the user-facing upsert surface (Delta/Iceberg MERGE semantics;
        reference analog: the uid_map MERGE in
        ``DeidentificationController.java:108-123``, whose WHEN clauses are
        hard-coded — here they are caller-supplied expressions).

        Clause evaluation order per row (first match wins, fixed):

        1. matched + ``delete_condition`` (requires ``when_matched_delete``
           or a ``delete_condition``) → row removed;
        2. matched + ``update_condition`` → columns assigned from
           ``when_matched_update`` (unlisted columns keep target values);
        3. matched, no clause hit → row kept unchanged;
        4. not matched (source-only) + ``insert_condition`` → row inserted,
           source columns conformed to the table schema (missing → null);
        5. not matched, insert declined → source row ignored.

        Conditions and update values are Columns or SQL strings over the
        aliases ``t`` (target) and ``s`` (source) — e.g.
        ``update_condition="s.op_seq > t.op_seq"``,
        ``when_matched_update={"text": "s.text"}``. Unqualified names that
        exist on both sides are ambiguous; qualify them.

        ``source`` must have ≤1 row per key (``assert_unique_source`` adds
        the count check); an unconditional delete clause together with an
        update clause is rejected as ambiguous.

        On versioned (LWW) tables MERGE operates on the LOGICAL state:
        tombstoned keys count as NOT MATCHED (re-insert supersedes the
        tombstone with ``op_seq = tombstone + 1``), WHEN MATCHED DELETE
        writes a new tombstone (``op_seq = old + 1``) instead of physically
        removing the row — a late CDC event below that seq stays dead —
        and updates bump ``op_seq`` by 1 so the manual edit wins over
        replays of the event it superseded. Explicit assignments to
        ``op``/``op_seq``/``offset`` in ``when_matched_update`` override
        the synthesis.

        Scale shape: bucket discovery prunes the target read to touched
        buckets; the join shuffles |source| + |touched target| rows once
        (Catalyst broadcasts a small source); only touched buckets are
        rewritten (copy-on-write), committed with the same optimistic
        validate-and-rebase as :meth:`merge`, and ``commit_keys`` give the
        same exactly-once replay gate.
        """
        if (
            when_matched_update is None
            and not when_matched_delete
            and delete_condition is None
            and not when_not_matched_insert
        ):
            raise ValueError("merge_into needs at least one WHEN clause")
        do_delete = when_matched_delete or delete_condition is not None
        if (
            do_delete
            and delete_condition is None
            and when_matched_update is not None
        ):
            raise ValueError(
                "unconditional WHEN MATCHED DELETE together with an update "
                "clause is ambiguous — give delete_condition"
            )
        if update_condition is not None and when_matched_update is None:
            raise ValueError(
                "update_condition given without when_matched_update — the "
                "condition would be silently ignored"
            )
        if insert_condition is not None and not when_not_matched_insert:
            raise ValueError(
                "insert_condition given with when_not_matched_insert=False — "
                "the condition would be silently ignored"
            )

        def _cond(c, default: bool) -> Column:
            if c is None:
                return F.lit(default)
            return F.expr(c) if isinstance(c, str) else c

        m = self.manifest()
        key_cols = m["key_cols"]
        n_buckets = m["n_buckets"]
        fn = m.get("bucket_fn", "xxhash64")
        schema = self.schema()

        commit_keys, skipped = self._gate_commit_keys(m, commit_keys, on_replayed)
        if commit_keys is not None and not commit_keys:
            return MergeStats(m["version"], 0, skipped, applied=False, mode="cow")

        if assert_unique_source:
            dupes = (
                source.groupBy(*key_cols).count().filter(F.col("count") > 1).count()
            )
            if dupes:
                raise ValueError(f"merge source has {dupes} duplicate keys")

        bucket = _bucket_expr(key_cols[0], n_buckets, fn)
        touched = sorted(
            r["_b"]
            for r in source.select(bucket.alias("_b")).distinct().collect()
        )
        if not touched:
            return MergeStats(m["version"], 0, skipped, applied=False, mode="cow")

        # versioned (LWW) tables: MERGE operates on the LOGICAL state —
        # tombstoned keys are NOT MATCHED (a re-insert is allowed and
        # supersedes the tombstone), a WHEN MATCHED DELETE writes a new
        # tombstone (physically removing the row would let any late CDC
        # event resurrect it), and updated/deleted rows bump op_seq by 1 so
        # the manual edit wins over replays of the event it superseded.
        names = set(schema.fieldNames())
        versioned = {"op", "op_seq", "offset"} <= names
        t_all = self.read(buckets=touched)
        t_live = (
            t_all.filter(F.col("op") != F.lit("delete")) if versioned else t_all
        )
        tombs = (
            t_all.filter(F.col("op") == F.lit("delete")) if versioned else None
        )
        t = t_live.withColumn("_t1", F.lit(True)).alias("t")
        s = source.withColumn("_s1", F.lit(True))
        if versioned:
            # latest tombstone seq per key (aggregated — a legacy bucket
            # holding several tombstones for one key must not fan the
            # source row out): a re-insert must supersede it. NULL-SAFE
            # join, matching the main target join — a null-keyed
            # tombstone must still hand its seq to a null-keyed re-insert
            # (else the retained tombstone out-sequences the new row and
            # the LWW reduce silently drops the insert).
            ts_seq = (
                t_all.filter(F.col("op") == F.lit("delete"))
                .groupBy(*key_cols)
                .agg(F.max("op_seq").alias("_tomb_seq"))
            )
            s = (
                s.alias("_src")
                .join(
                    ts_seq.alias("_ts"),
                    [
                        F.col(f"_src.{k}").eqNullSafe(F.col(f"_ts.{k}"))
                        for k in key_cols
                    ],
                    "left",
                )
                .select("_src.*", F.col("_ts._tomb_seq").alias("_tomb_seq"))
            )
        s = s.alias("s")
        joined = t.join(
            s, [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in key_cols], "full_outer"
        )

        matched = F.col("t._t1").isNotNull() & F.col("s._s1").isNotNull()
        src_only = F.col("t._t1").isNull()
        delete_c = (
            matched & _cond(delete_condition, True)
            if do_delete
            else F.lit(False)
        )
        update_c = (
            matched & _cond(update_condition, True)
            if when_matched_update is not None
            else F.lit(False)
        )
        insert_c = (
            src_only & _cond(insert_condition, True)
            if when_not_matched_insert
            else F.lit(False)
        )
        action = (
            F.when(delete_c, "D")
            .when(update_c, "U")
            .when(matched, "K")
            .when(insert_c, "I")
            .when(src_only, "X")
            .otherwise("K")  # target-only rows always survive
        )
        drop = ["X"] if versioned else ["D", "X"]
        kept = joined.withColumn("_action", action).filter(
            ~F.col("_action").isin(*drop)
        )

        upd = {
            c: (F.expr(v) if isinstance(v, str) else v)
            for c, v in (when_matched_update or {}).items()
        }
        unknown = sorted(set(upd) - set(schema.fieldNames()))
        if unknown:
            raise ValueError(f"when_matched_update targets unknown columns {unknown}")
        src_names = set(source.columns)
        act = F.col("_action")
        out_cols = []
        for f in schema.fields:
            c = f.name
            tcol = F.col(f"t.{c}")
            ins = (
                F.col(f"s.{c}").cast(f.dataType)
                if c in src_names
                else F.lit(None).cast(f.dataType)
            )
            # version-column synthesis (versioned tables, unless the caller
            # assigns them explicitly): see the block comment above
            if versioned and c == "op" and c not in upd:
                ins = F.coalesce(ins, F.lit("insert"))
                val = (
                    F.when(act == "I", ins)
                    .when(act == "D", F.lit("delete"))
                    .when(act == "U", F.lit("update"))
                )
            elif versioned and c == "op_seq" and c not in upd:
                # greatest(source seq, tombstone+1): a re-insert ALWAYS
                # supersedes the tombstone, even when the source carries an
                # older seq (greatest skips nulls; 0 when neither exists)
                ins = F.greatest(
                    ins, F.col("s._tomb_seq") + 1, F.lit(0).cast(f.dataType)
                )
                val = F.when(act == "I", ins).when(
                    act.isin("U", "D"), tcol + 1
                )
            elif versioned and c == "offset" and c not in upd:
                ins = F.coalesce(ins, F.lit(0).cast(f.dataType))
                val = F.when(act == "I", ins)
            else:
                val = F.when(act == "I", ins)
                if c in upd:
                    val = val.when(act == "U", upd[c].cast(f.dataType))
            out_cols.append(val.otherwise(tcol).alias(c))
        has_constraints = bool((m.get("props") or {}).get("constraints"))
        if has_constraints:
            # the join (target read + shuffle) feeds both the constraint
            # probe and the write — persist it so the work runs once
            kept = kept.persist()
        try:
            merged = kept.select(*out_cols)
            if tombs is not None:
                # pre-existing tombstones survive the rewrite: a late CDC
                # event below their seq must stay dead. A re-inserted key's
                # new row out-sequences its tombstone; the LWW reduce below
                # keeps exactly the winner, so CoW base files never
                # accumulate several rows per key (read() does not dedup
                # delta-free buckets — the base must hold the invariant).
                from nifi_dicom_spark.operators.dedup import lww_dedup

                merged = lww_dedup(
                    merged.unionByName(tombs), key_cols
                ).select(*schema.fieldNames())
            # constraints check the rows this merge actually writes anew
            # (inserted/updated); untouched target rows were validated when
            # they were written
            self._enforce_constraints(
                kept.filter(act.isin("I", "U")).select(*out_cols),
                m.get("props"),
                key_cols=key_cols,
            )
            # a CoW bucket rewrite must not decay the declared layout
            merged, sort_cols, max_rpf = self._clustering_write_args(m, merged)
            if fn != "murmur3":
                merged = merged.withColumn("_bucket", bucket).select(
                    *schema.fieldNames(),
                    *([ZORDER_COL] if sort_cols == [ZORDER_COL] else []),
                    "_bucket",
                )

            tag = uuid.uuid4().hex[:12]
            new_files, footers = self._write_bucket_files(
                merged,
                tag,
                n_buckets,
                fn,
                key_cols=key_cols,
                sort_cols=sort_cols,
                max_records_per_file=max_rpf,
            )
        finally:
            if has_constraints:
                kept.unpersist()
        return self._commit_merge(
            m, schema, touched, new_files, commit_keys, "merge_into", skipped,
            footers=footers,
        )

    def _where_source(self, predicate, ranges: dict | None) -> DataFrame:
        """Matching-key discovery pass shared by :meth:`delete_where` /
        :meth:`update_where` — the "find touched files" scan of Delta's
        DELETE/UPDATE implementation. ``ranges`` routes the scan through
        :meth:`scan_ranges` so the manifest's per-file [min, max] stats
        prune IO before Catalyst's row-group pushdown even starts; the
        residual ``predicate`` is applied on top (so ranges are a pure
        IO hint — they never change which rows match)."""
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        base = self.scan_ranges(ranges) if ranges else self.read()
        if {"op", "op_seq", "offset"} <= set(base.columns):
            # versioned tables: DML predicates address the LIVE state —
            # tombstoned keys are already dead, selecting them would only
            # fan dead keys into the merge join
            base = base.filter(F.col("op") != F.lit("delete"))
        if pred is not None:
            base = base.filter(pred)
        return base.select(*self.key_cols())

    def delete_where(
        self,
        predicate: "Column | str",
        *,
        ranges: dict[str, tuple] | None = None,
        commit_keys: list[tuple[int, int]] | None = None,
    ) -> MergeStats:
        """``DELETE FROM this WHERE predicate`` — predicate-driven row
        deletion without a source relation (the Delta/Iceberg DML surface;
        reference analog: the study-purge delete at
        ``DatabaseInformationModel.java:805-892`` keyed by query predicates
        rather than explicit UIDs).

        Two-pass copy-on-write, exactly Delta's DELETE shape: pass 1 finds
        matching keys (``ranges`` adds manifest-stats file pruning above
        the parquet row-group pushdown), pass 2 is a key-bucket-pruned
        :meth:`merge_into` that rewrites only touched buckets. On
        versioned (LWW) tables the deletes become TOMBSTONES with a bumped
        ``op_seq`` — a late CDC replay below that seq stays dead — and the
        change feed reports them as ordinary delete rows. ``commit_keys``
        give the same exactly-once replay gate as any merge.

        Rows where the predicate is NULL are kept (SQL WHERE semantics:
        only TRUE deletes). Deleting a large fraction of the table is
        better served by ``overwrite(read().filter(~pred))`` — one pass,
        no join; this method is the sparse-delete path (cost ∝ matching
        buckets, not table size).
        """
        src = self._where_source(predicate, ranges)
        return self.merge_into(
            src,
            when_matched_delete=True,
            when_not_matched_insert=False,
            commit_keys=commit_keys,
        )

    def update_where(
        self,
        assignments: dict[str, "Column | str"],
        predicate: "Column | str",
        *,
        ranges: dict[str, tuple] | None = None,
        commit_keys: list[tuple[int, int]] | None = None,
    ) -> MergeStats:
        """``UPDATE this SET assignments WHERE predicate`` — predicate
        UPDATE without a source relation. ``assignments`` are expressions
        over the ``t`` alias (the current row), e.g.
        ``{"text": "upper(t.text)", "tool": "null"}``; unlisted columns
        keep their values. Same two-pass stats-pruned copy-on-write as
        :meth:`delete_where`; on versioned tables the rewritten rows get
        ``op_seq + 1`` so the manual edit wins over replays of the event
        it superseded (the :meth:`merge_into` synthesis).
        """
        if not assignments:
            raise ValueError("update_where needs at least one assignment")
        src = self._where_source(predicate, ranges)
        return self.merge_into(
            src,
            when_matched_update=assignments,
            when_not_matched_insert=False,
            commit_keys=commit_keys,
        )

    def forget(
        self,
        predicate: "Column | str",
        *,
        ranges: dict[str, tuple] | None = None,
        min_file_age_s: float = 0.0,
    ) -> dict:
        """Right-to-be-forgotten purge: PHYSICALLY erase the payload of
        every row matching ``predicate`` — not just logically delete it.
        The privacy analog of the reference's deidentification pipeline
        (``DeidentifyAndRedact.java``): where deidentify scrubs at INGEST,
        ``forget`` scrubs retroactively from the stored table.

        Two steps, each an existing primitive:

        1. **Scrubbed delete.** On versioned (LWW) tables a plain
           :meth:`delete_where` tombstone would CARRY the old payload
           columns into the new file (the merge keeps unassigned target
           values), so forget instead merges an update that explicitly
           sets ``op='delete'`` / ``op_seq = t.op_seq + 1`` AND nulls
           every non-key payload column — the tombstone keeps only the
           key identity it needs to hold late CDC replays dead.
           Un-versioned tables physically drop the rows in the rewrite.
           The copy-on-write commit also CLEARS the touched buckets'
           merge-on-read delta entries (no separate compact needed) —
           every file still carrying the payload is now unreferenced.
        2. **Destroy history.** :meth:`vacuum(keep_versions=1)` removes
           every data file (and bloom sidecar) not referenced by the NEW
           current version — this intentionally burns time travel below
           the purge (``min_retained_version`` advances; older reads
           raise :class:`VersionVacuumedError`). ``min_file_age_s``
           follows vacuum's live-writer guard; the default 0 assumes the
           caller quiesced writers, as a purge job should.

        What this does NOT erase: the key columns themselves (a
        versioned table's tombstone identity). If the bucket key is
        personal data, pseudonymize at ingest (the deidentify operator /
        ``functions.crypto`` identity envelopes, whose key destruction is
        crypto-erasure) — retroactive key scrubbing would break the LWW
        contract for late events.

        Returns a report dict: rows forgotten, touched buckets, commit
        version, files vacuumed. Scale shape: identical to
        :meth:`delete_where` (stats-pruned key scan + bucket-pruned
        merge); vacuum is an O(files) metadata walk with no data read.
        """
        m = self.manifest()
        key_cols = m["key_cols"]
        schema = self.schema()
        names = set(schema.fieldNames())
        versioned = {"op", "op_seq", "offset"} <= names
        src = self._where_source(predicate, ranges)
        n_match = src.count()  # the report needs the count; scan is pruned
        if n_match == 0:
            return {
                "rows_forgotten": 0,
                "touched_buckets": [],
                "delete_version": None,
                "files_vacuumed": 0,
            }
        bucket = _bucket_expr(key_cols[0], m["n_buckets"], m.get("bucket_fn", "xxhash64"))
        touched = sorted(
            r["_b"] for r in src.select(bucket.alias("_b")).distinct().collect()
        )
        if versioned:
            payload = [
                c
                for c in schema.fieldNames()
                if c not in key_cols and c not in ("op", "op_seq", "offset")
            ]
            scrub: dict[str, Column] = {
                c: F.lit(None).cast(schema[c].dataType) for c in payload
            }
            scrub["op"] = F.lit("delete")
            scrub["op_seq"] = F.expr("t.op_seq + 1")
            stats = self.merge_into(
                src, when_matched_update=scrub, when_not_matched_insert=False
            )
        else:
            stats = self.merge_into(
                src, when_matched_delete=True, when_not_matched_insert=False
            )
        removed = self.vacuum(keep_versions=1, min_file_age_s=min_file_age_s)
        return {
            "rows_forgotten": n_match,
            "touched_buckets": touched,
            "delete_version": stats.version,
            "files_vacuumed": removed,
        }

    def _commit_merge(
        self,
        m: dict,
        schema: T.StructType,
        touched: list[int],
        new_files: dict[str, list[str]],
        commit_keys: list | None,
        policy: str,
        skipped: int,
        delta: bool = False,
        max_commit_retries: int = 3,
        *,
        footers: dict,
    ) -> MergeStats:
        """Build and publish the post-merge manifest, with **optimistic
        validate-and-rebase** on commit races (the Iceberg retry semantics):
        a lost commit does NOT invalidate our already-written bucket files —
        only the manifest pointer. If the winner's commit left our touched
        buckets' file sets untouched and did not replay our commit keys, the
        new manifest is rebuilt on top of the winner's (their files + our
        bucket replacements/extensions, schemas merged, ledger watermarks
        merged) and the commit retried — concurrent writers over DISJOINT
        buckets all succeed, serialized into consecutive versions. A winner
        that touched our buckets (same keys) or advanced our commit keys
        raises :class:`ConcurrentWriteConflict`: re-read and re-merge."""

        def build(base: dict, schema: T.StructType) -> dict:
            # carry over untouched buckets; replace (cow) or extend (mor
            # delta) ONLY touched ones. The write may emit files for buckets
            # outside the touched set (Spark always materializes shuffle
            # partition 0, possibly empty) — registering those would corrupt
            # an untouched bucket's manifest entry; discard them.
            touched_set = set(touched)
            files = dict(base["files"])
            deltas = {b: list(v) for b, v in base.get("delta_files", {}).items()}
            kept = {
                b: rels for b, rels in new_files.items() if int(b) in touched_set
            }
            if delta:
                for b, rels in kept.items():
                    deltas.setdefault(b, []).extend(rels)
            else:
                for b in touched:
                    files.pop(str(b), None)
                    deltas.pop(str(b), None)
                files.update(kept)

            hw = self._hw(base)
            if commit_keys:
                for e, p in commit_keys:
                    k = str(int(p))
                    if int(e) > hw.get(k, -(10**18)):
                        hw[k] = int(e)

            # file stats: keep entries for still-referenced files, add
            # footers of the newly-kept files (read by the write)
            referenced = {
                rel for d in (files, deltas) for rels in d.values() for rel in rels
            }
            file_stats = {
                rel: s
                for rel, s in base.get("file_stats", {}).items()
                if rel in referenced
            }
            file_stats.update(
                self._footer_stats(
                    kept, (base.get("props") or {}).get("stats_cols", []), footers
                )
            )
            return {
                "version": base["version"] + 1,
                "parent": base["version"],
                "schema": schema.json(),
                "key_cols": base["key_cols"],
                "n_buckets": base["n_buckets"],
                "bucket_fn": base.get("bucket_fn", "xxhash64"),
                "files": files,
                "delta_files": deltas,
                "applied_hw": hw,
                "props": base["props"],
                "file_stats": file_stats,
                "summary": {
                    "operation": "merge",
                    "policy": policy,
                    "mode": "mor" if delta else "cow",
                    "touched_buckets": len(touched),
                },
            }

        def bucket_sig(mf: dict, b: int):
            return (
                tuple(mf.get("files", {}).get(str(b), [])),
                tuple(mf.get("delta_files", {}).get(str(b), [])),
            )

        new = build(m, schema)
        for _ in range(max_commit_retries):
            try:
                self._try_commit(new)
                return MergeStats(
                    new["version"],
                    len(touched),
                    skipped,
                    applied=True,
                    mode="mor" if delta else "cow",
                )
            except CommitConflict:
                cur = self.manifest()
                # validation 1: the winner must not have changed the bucket
                # LAYOUT (rebucket) — our files were written for m's layout
                if cur.get("n_buckets") != m.get("n_buckets") or cur.get(
                    "bucket_fn"
                ) != m.get("bucket_fn"):
                    raise ConcurrentWriteConflict(
                        "bucket layout changed concurrently (rebucket); re-merge"
                    ) from None
                # validation 2: our touched buckets untouched by the winner
                # (our reduce read m's view of them — a concurrent change
                # there means our output is stale)
                dirty = [
                    b for b in touched if bucket_sig(cur, b) != bucket_sig(m, b)
                ]
                if dirty:
                    raise ConcurrentWriteConflict(
                        f"concurrent commit touched bucket(s) {dirty}; re-merge"
                    ) from None
                # validation 3: nobody replayed our commit keys (a second
                # writer applying the same epochs violates the idempotency
                # contract — skipping here would silently drop OUR data)
                if commit_keys:
                    cur_hw = self._hw(cur)
                    clashed = [
                        (int(e), int(p))
                        for e, p in commit_keys
                        if int(e) <= cur_hw.get(str(int(p)), -(10**18))
                    ]
                    if clashed:
                        raise ConcurrentWriteConflict(
                            f"commit keys {clashed} already applied by a "
                            "concurrent writer"
                        ) from None
                # validation 4: table properties unchanged — our batch was
                # validated against m's props (CHECK constraints, replay
                # policy); rebasing onto different props would commit rows
                # the new props never saw (e.g. a concurrent add_constraint
                # validating only existing rows). Metadata conflicts abort,
                # as in Delta/Iceberg.
                if (cur.get("props") or {}) != (m.get("props") or {}):
                    raise ConcurrentWriteConflict(
                        "table properties changed concurrently (constraints/"
                        "props); re-validate and re-merge"
                    ) from None
                # rebase: rebuild on the winner's manifest; schemas merge
                # (their evolution ∪ ours — our files read through it with
                # missing columns as nulls)
                m = cur
                schema = evolve_schema(
                    T.StructType.fromJson(json.loads(cur["schema"])), schema
                )
                new = build(m, schema)
        raise CommitConflict(
            f"lost {max_commit_retries} consecutive commit races; giving up"
        )

    def set_clustering(
        self,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_bits: int | None = None,
        max_records_per_file: int | None = None,
    ) -> int:
        """Declare the table's target physical layout (the
        liquid-clustering analog): recorded in
        ``props["clustering"]``, applied by a bare :meth:`optimize` call
        and — at zero extra write cost — by every :meth:`compact`, whose
        rewrite then keeps the folded base files clustered instead of
        decaying back to key order. Pass neither column list to CLEAR the
        declaration. Validates columns against the schema."""
        if sort_by is not None and zorder_by is not None:
            raise ValueError("declare sort_by or zorder_by, not both")
        m = self.manifest()
        props = dict(m.get("props") or {})
        if sort_by is None and zorder_by is None:
            props.pop("clustering", None)
        else:
            cols = list(sort_by or zorder_by)
            schema = T.StructType.fromJson(json.loads(m["schema"]))
            missing = [c for c in cols if c not in schema.fieldNames()]
            if missing:
                raise ValueError(f"clustering columns not in schema: {missing}")
            if zorder_by is not None:
                # fail at DECLARATION time, not at the next compact():
                # enforce the same arity/distinctness/type constraints the
                # z-value builder will
                from nifi_dicom_spark.lake.zorder import zvalue_column as _zv

                _zv(self.spark.createDataFrame([], schema), cols, zorder_bits)
            decl: dict[str, Any] = (
                {"sort_by": cols} if sort_by else {"zorder_by": cols}
            )
            if zorder_bits is not None:
                decl["zorder_bits"] = int(zorder_bits)
            if max_records_per_file is not None:
                decl["max_records_per_file"] = int(max_records_per_file)
            props["clustering"] = decl
            # clustering without per-file stats on the same columns would
            # organize bytes nobody can prune by — extend stats_cols so
            # future rewrites record [min,max] for every clustering column
            stats = list(props.get("stats_cols", []))
            props["stats_cols"] = stats + [c for c in cols if c not in stats]
        new = {
            **m,
            "version": m["version"] + 1,
            "parent": m["version"],
            "props": props,
            "summary": {"operation": "set_clustering"},
        }
        new.pop("committed_at", None)
        self._try_commit(new)
        return new["version"]

    def clustering(self) -> dict | None:
        """The declared layout (``props["clustering"]``), or None."""
        c = (self.manifest().get("props") or {}).get("clustering")
        return dict(c) if c else None

    def detail(self) -> dict:
        """One-call table overview (the ``DESCRIBE DETAIL`` analog):
        current version, layout, file/byte counts (base vs merge-on-read
        deltas), declared clustering/constraints/stats, ledger watermarks
        and retention. Metadata only — one manifest read plus driver-side
        ``stat`` of the referenced files, no Spark job."""
        m = self.manifest()

        def tally(which: str) -> tuple[int, int]:
            n = b = 0
            for rels in m.get(which, {}).values():
                for rel in rels:
                    n += 1
                    try:
                        b += os.path.getsize(os.path.join(self.data_dir, rel))
                    except OSError:
                        pass
            return n, b

        nf, bf = tally("files")
        nd, bd = tally("delta_files")
        props = m.get("props") or {}
        return {
            "path": self.path,
            "version": m["version"],
            "committed_at": m.get("committed_at"),
            "key_cols": list(m["key_cols"]),
            "n_buckets": m["n_buckets"],
            "bucket_fn": m.get("bucket_fn"),
            "schema": T.StructType.fromJson(
                json.loads(m["schema"])
            ).simpleString(),
            "num_base_files": nf,
            "base_bytes": bf,
            "num_delta_files": nd,
            "delta_bytes": bd,
            "clustering": props.get("clustering"),
            "constraints": dict(props.get("constraints", {})),
            "stats_cols": list(props.get("stats_cols", [])),
            "applied_watermarks": self._hw(m),
            "min_retained_version": self.min_retained_version(),
        }

    def _clustering_write_args(
        self, m: dict, df: DataFrame
    ) -> tuple[DataFrame, list[str] | None, int | None]:
        """Apply the declared layout to a base-file rewrite: every path
        that rewrites base files (compact, merge_into's CoW, overwrite)
        routes through this so the declaration survives ALL rewrites, not
        just explicit optimize(). Returns (df', sort_cols,
        max_records_per_file); a z-order declaration appends the interleave
        column (one min/max agg), plain declarations are free."""
        decl = (m.get("props") or {}).get("clustering") or {}
        if decl.get("zorder_by"):
            df = zvalue_column(
                df, list(decl["zorder_by"]), decl.get("zorder_bits")
            )
            return df, [ZORDER_COL], decl.get("max_records_per_file")
        if decl.get("sort_by"):
            return df, list(decl["sort_by"]), decl.get("max_records_per_file")
        return df, None, None

    def compact(
        self, buckets: list[int] | None = None, min_deltas: int = 1
    ) -> int | None:
        """Fold merge-on-read delta files back into base files for the given
        buckets (default: every bucket with ≥ ``min_deltas`` deltas). One
        LWW reduce + rewrite per compacted bucket; commits a new version with
        the deltas cleared. Returns the new version, or None if nothing to
        compact. At scale this is the background maintenance job that bounds
        read amplification — the hot path (merge) never pays table-sized
        rewrites. A declared :meth:`set_clustering` layout is applied to
        the rewrite (the sort happens inside the write either way — only a
        zorder declaration adds its one min/max normalization agg)."""
        m = self.manifest()
        deltas = m.get("delta_files", {})
        todo = sorted(
            int(b)
            for b, rels in deltas.items()
            if len(rels) >= min_deltas
            and (buckets is None or int(b) in set(buckets))
        )
        if not todo:
            return None
        fn = m.get("bucket_fn", "xxhash64")
        merged = self.read(buckets=todo)  # deduped base∪deltas
        merged, sort_cols, max_rpf = self._clustering_write_args(m, merged)
        if fn != "murmur3":
            merged = merged.withColumn(
                "_bucket", _bucket_expr(m["key_cols"][0], m["n_buckets"], fn)
            )
        tag = uuid.uuid4().hex[:12]
        # tombstones are stored rows, so a bucket holding ≥1 delta file
        # cannot LWW-reduce to empty: the rewrite must repopulate exactly
        # the compacted buckets (misplacement here is what turns a
        # coalesced write into silent row loss)
        new_files, footers = self._write_bucket_files(
            merged,
            tag,
            m["n_buckets"],
            fn,
            key_cols=m["key_cols"],
            sort_cols=sort_cols,
            max_records_per_file=max_rpf,
            expected_buckets=set(todo),
        )
        stats = self._commit_merge(
            m, self.schema(), todo, new_files, None, "compact", 0, delta=False,
            footers=footers,
        )
        return stats.version

    def optimize(
        self,
        sort_by: list[str] | None = None,
        buckets: list[int] | None = None,
        max_records_per_file: int | None = None,
        *,
        zorder_by: list[str] | None = None,
        zorder_bits: int | None = None,
    ) -> int | None:
        """Layout maintenance: rewrite buckets CLUSTERED by ``sort_by``
        (typically the event time) OR Z-ORDERED by ``zorder_by`` (2..6
        columns interleaved on a Morton curve — see
        :mod:`nifi_dicom_spark.lake.zorder`), optionally split into several
        files per bucket (``max_records_per_file``). Content is
        bit-identical — only physical order and file granularity change —
        but the manifest's per-file [min,max] stats become tight along the
        clustering columns (disjoint for ``sort_by``; small
        hyper-rectangles for ``zorder_by``), so :meth:`scan` /
        :meth:`scan_ranges` reads skip (or read version-columns-only) most
        files inside every bucket, and parquet row-group pruning tightens
        inside each file. The OPTIMIZE [ZORDER BY] analog of lake formats,
        as one LWW reduce + sorted rewrite per bucket; deltas are folded in
        (implies :meth:`compact`); ``zorder_by`` adds one min/max aggregate
        pass to normalize the dimensions. Run it as a background job on
        cold data; the hot merge path is untouched. Returns the committed
        version, or None for an empty table."""
        if sort_by is None and zorder_by is None:
            # bare optimize(): apply the table's DECLARED layout
            decl = self.clustering()
            if not decl:
                raise ValueError(
                    "optimize needs sort_by or zorder_by (or a layout "
                    "declared via set_clustering)"
                )
            sort_by = decl.get("sort_by")
            zorder_by = decl.get("zorder_by")
            zorder_bits = zorder_bits or decl.get("zorder_bits")
            max_records_per_file = (
                max_records_per_file or decl.get("max_records_per_file")
            )
        elif sort_by is not None and zorder_by is not None:
            raise ValueError("optimize takes sort_by or zorder_by, not both")
        cluster_cols = list(sort_by or zorder_by)
        schema = self.schema()
        missing = [c for c in cluster_cols if c not in schema.fieldNames()]
        if missing:
            raise ValueError(f"optimize clustering columns not in schema: {missing}")
        m = self.manifest()
        nonempty = {int(b) for b in m.get("files", {})} | {
            int(b) for b in m.get("delta_files", {})
        }
        todo = sorted(nonempty if buckets is None else nonempty & set(buckets))
        if not todo:
            return None
        fn = m.get("bucket_fn", "xxhash64")
        merged = self.read(buckets=todo)  # deduped base∪deltas, tombstones kept
        if zorder_by is not None:
            merged = zvalue_column(merged, list(zorder_by), zorder_bits)
            sort_cols = [ZORDER_COL]
        else:
            sort_cols = list(sort_by)
        if fn != "murmur3":
            merged = merged.withColumn(
                "_bucket", _bucket_expr(m["key_cols"][0], m["n_buckets"], fn)
            )
        tag = uuid.uuid4().hex[:12]
        new_files, footers = self._write_bucket_files(
            merged,
            tag,
            m["n_buckets"],
            fn,
            key_cols=m["key_cols"],
            sort_cols=sort_cols,
            expected_buckets=set(todo),
            max_records_per_file=max_records_per_file,
        )
        stats = self._commit_merge(
            m, schema, todo, new_files, None, "optimize", 0, delta=False,
            footers=footers,
        )
        return stats.version

    def history(self) -> list[dict]:
        """Version history oldest→newest: one row per manifest with the
        operation summary, file/delta counts and ledger watermarks (the
        time-travel index; any listed version can be passed to
        :meth:`read`/:meth:`manifest`). Rows below the vacuum watermark are
        flagged ``vacuumed`` — their manifests remain readable but their
        data files are gone (``read`` raises for them)."""
        out = []
        min_retained = self.min_retained_version()
        for v in range(self.current_version() + 1):
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                continue  # pre-repair gap
            out.append(
                {
                    "version": v,
                    "vacuumed": v < min_retained,
                    "committed_at": m.get("committed_at"),
                    "parent": m.get("parent"),
                    "operation": m.get("summary", {}).get("operation"),
                    "policy": m.get("summary", {}).get("policy"),
                    "mode": m.get("summary", {}).get("mode"),
                    "n_base_files": sum(len(x) for x in m.get("files", {}).values()),
                    "n_delta_files": sum(
                        len(x) for x in m.get("delta_files", {}).values()
                    ),
                    "applied_hw": self._hw(m),
                }
            )
        return out

    # ------------------------------------------------------------ maintenance

    def min_retained_version(self) -> int:
        """Oldest version whose data files are guaranteed present (0 if
        ``vacuum`` never ran). Maintained as a monotonic vacuum record so
        time-travel reads of vacuumed versions fail CLOSED with
        :class:`VersionVacuumedError` instead of a mid-scan
        FileNotFoundException on a missing parquet."""
        blob = self.backend.get_blob("VACUUM.json")
        return int(json.loads(blob.decode())["min_retained_version"]) if blob else 0

    def restore(self, version: int) -> int:
        """Roll the table back to ``version`` as a NEW commit (the Delta
        ``RESTORE`` analog): the restored manifest's file lists, schema,
        props AND commit-ledger watermarks are re-published as
        ``current+1``, so history is append-only (nothing is deleted, the
        undone versions stay time-travelable) and the exactly-once contract
        stays coherent — restoring the ledger alongside the data means a
        resumed stream re-applies exactly the epochs whose effects were
        rolled back, instead of skipping them as "already applied" and
        silently losing them. Fails on vacuumed versions (their data files
        are gone)."""
        cur = self.current_version()
        if version >= cur:
            raise ValueError(
                f"restore target {version} is not before current {cur}"
            )
        if version < self.min_retained_version():
            raise VersionVacuumedError(
                f"version {version} was vacuumed; cannot restore"
            )
        old = self.manifest(version)
        new = {
            **old,
            "version": cur + 1,
            "parent": cur,
            "summary": {"operation": "restore", "restored_version": version},
        }
        new.pop("committed_at", None)
        self._try_commit(new)
        return new["version"]

    def vacuum(
        self,
        keep_versions: int = 2,
        min_file_age_s: float = 3600.0,
        dry_run: bool = False,
    ) -> int:
        """Delete data files unreferenced by the newest ``keep_versions``
        manifests; records the new ``min_retained_version`` atomically-enough
        (blob written BEFORE any file deletion, so a crash mid-vacuum can
        only over-claim — reads of a half-vacuumed version raise rather than
        crash). Returns number of files removed.

        ``dry_run`` (the VACUUM DRY RUN analog): report the count of files
        that WOULD be removed under the same retention/age rules without
        deleting anything or advancing the retention watermark — time
        travel below ``min_retained_version`` stays exactly as it was.

        ``min_file_age_s``: files younger than this are kept even when
        unreferenced — an OCC writer mid-merge (or rebasing after a lost
        commit race) has written its bucket files but not yet published the
        manifest that references them; deleting them would make its
        subsequent commit publish dangling paths. Mirrors the commit
        backend's ``orphan_age_s`` guard, sized for a long bucket write
        rather than a pointer flip. Pass 0 only when no writer can be live."""
        if keep_versions < 1:
            raise ValueError(
                f"keep_versions must be >= 1 (got {keep_versions}): "
                "0 would unreference the LIVE version's data files"
            )
        cur = self.current_version()
        min_retained = max(self.min_retained_version(), cur - keep_versions + 1, 0)
        if not dry_run:
            self.backend.put_blob(
                "VACUUM.json",
                json.dumps({"min_retained_version": min_retained}).encode(),
            )
        keep = range(min_retained, cur + 1)
        referenced: set[str] = set()
        for v in keep:
            mf = self.manifest(v)
            for which in ("files", "delta_files"):
                for rels in mf.get(which, {}).values():
                    referenced.update(rels)
        removed = 0
        now = time.time()
        for root, _dirs, fns in os.walk(self.data_dir):
            for fn in fns:
                abspath = os.path.join(root, fn)
                rel = os.path.relpath(abspath, self.data_dir)
                if fn.endswith(".parquet") and rel not in referenced:
                    try:
                        if now - os.path.getmtime(abspath) < min_file_age_s:
                            continue  # possibly a live writer's pre-commit file
                    except OSError:
                        continue
                    if not dry_run:
                        os.unlink(abspath)
                        # a data file's bloom sidecar dies with it (data
                        # files are uuid-named, never recreated at a path)
                        try:
                            os.unlink(abspath + ".bloom")
                        except OSError:
                            pass
                    removed += 1
                elif (
                    fn.endswith(".parquet.bloom")
                    and not dry_run
                    and not os.path.exists(abspath[: -len(".bloom")])
                ):
                    # orphan sidecar (its data file already vacuumed)
                    try:
                        os.unlink(abspath)
                    except OSError:
                        pass
        if dry_run:
            return removed
        # prune commit dirs that are empty and old enough that no live
        # writer can still be about to populate them
        for entry in os.listdir(self.data_dir):
            p = os.path.join(self.data_dir, entry)
            if os.path.isdir(p) and not any(
                fns for _r, _d, fns in os.walk(p)
            ):
                try:
                    if now - os.path.getmtime(p) < min_file_age_s:
                        continue
                except OSError:
                    continue
                shutil.rmtree(p)
        return removed
