"""Streaming change-feed SOURCE for :class:`SnapshotTable` — the Delta
streaming-source analog, built on the PySpark 4 Python Data Source API.

Reference analog: the reference is consumed as a continuous NiFi flow —
``ListenDICOM`` emits every received instance as a flow file that
downstream processors tail (``ListenDICOM.java``, the flow-file queue IS
the change stream). A lake-table engine needs the equivalent pull-based
surface over committed state; this source provides it with replayable
version offsets instead of an ephemeral queue.

``spark.readStream.format("snapshot_cdf").option("path", table_path)``
tails the table's commit log: stream offsets ARE table versions, each
micro-batch covers the versions committed since the last one, and rows are
the Delta-CDF row form (``_change_type`` ∈ insert / delete /
update_preimage / update_postimage, ``_commit_version``) — the same shape
:func:`nifi_dicom_spark.operators.diff.change_feed` produces in batch.

Execution model (dictated by the Python Data Source API): offset
management (``initialOffset``/``latestOffset``/``partitions``) runs on the
driver and talks only to the commit backend — O(1) metadata reads per
micro-batch. ``read(partition)`` runs in plain Python workers with NO
SparkSession, so each partition computes its slice with pyarrow:
one partition per CHANGED bucket (manifest file-set signature diff, the
same pruning :func:`~nifi_dicom_spark.operators.diff.changed_buckets`
does), loading only that bucket's files at the two boundary versions. The
per-batch volume is the changed portion of the table, parallelized across
buckets — table size never enters the cost.

The LWW reduce is the Arrow kernel that small driver-side reads use
(:func:`~nifi_dicom_spark.operators.dedup.arrow_lww`, the pyarrow form of
``lww_dedup``): winner = max (op_seq, offset) per key; tombstone winners
are excluded from the visible state on both sides, so a delete surfaces as
op ``delete``, never as an update to a tombstone. The pre/post-image join
of the two states runs in pandas.

Exactly-once read side: offsets are durable versions in the stream
checkpoint; manifests are immutable, so re-planning a batch after a crash
yields byte-identical partitions. Reading past ``vacuum()`` raises rather
than silently skipping.

``availableNow`` drains: PySpark runs a Python source's ``availableNow``
trigger as a single batch. A drain that starts over an uncommitted batch (a
consumer that failed after the offset log was written and before the commit
log) delivers only that replayed batch; the next drain delivers the
versions committed since. Each committed version arrives exactly once
across the drains, but a consumer that must catch up drains until a drain
returns nothing new.

Registration (per session)::

    from nifi_dicom_spark.sources.table_stream import SnapshotCDFDataSource
    spark.dataSource.register(SnapshotCDFDataSource)
    feed = (spark.readStream.format("snapshot_cdf")
            .option("path", table_path)
            .option("startingVersion", 1)   # default: current at start
            .load())

Options:

* ``startingVersion`` — the BASELINE version: the stream emits the
  changes committed AFTER it (exclusive — pass ``v-1`` to include
  version ``v``'s own commit; default baseline: the table's current
  version when the query starts, i.e. new changes only).
* ``startingTimestamp`` — TIMESTAMP AS OF form of the same (epoch seconds
  or ISO-8601; mutually exclusive with ``startingVersion``): stream the
  changes after the state that wall-clock resolves to. Resolved to a
  version once at query start; the checkpoint stores the version, so
  restarts replay the identical range.
* ``mode`` — ``cdf`` (default; state diffs with pre/post images) or
  ``upserts`` (each commit's appended delta files verbatim; requires
  merge-on-read writes).
* ``maxVersionsPerBatch`` — attribution GRANULARITY (hard) + backlog
  pacing (best-effort). ``partitions()`` decomposes every batch range
  into chunks of at most this many versions, each diffed independently
  and attributed to its own endpoint — so ``1`` means exact per-commit
  attribution UNCONDITIONALLY, restart-safe, and a transient
  insert+delete inside one batch is never netted away. The best-effort
  part is batch SIZING: the trigger-side limit lives in in-process
  driver state the Data Source API gives no way to seed from the
  checkpointed start offset, so the FIRST micro-batch after a query
  restart (or a driver-side reader respawn) covers the entire
  outstanding backlog in one batch — same rows, decomposed into the
  same per-chunk diffs, but one batch's wall-clock. Callers must NOT
  rely on this option to bound per-batch memory or latency across
  restarts — size ``maxPartitionDiffBytes`` for the worst-case
  whole-backlog batch instead (that cap is per-partition and stateless,
  so it DOES hold across restarts).
* ``maxPartitionDiffBytes`` — split threshold (default 128 MiB): a diff
  whose referenced files exceed this many bytes is subdivided into
  key-hash splits so no single worker's pandas state outgrows memory.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

__all__ = ["SnapshotCDFDataSource", "CDF_META_FIELDS"]

#: appended to the table's visible schema in the stream output
CDF_META_FIELDS = [
    T.StructField("_change_type", T.StringType(), False),
    T.StructField("_commit_version", T.LongType(), False),
]

_VERSION_COLS = ("op", "op_seq", "offset")


def _backend(path: str):
    from nifi_dicom_spark.lake.commit import PosixCommitBackend

    return PosixCommitBackend(os.path.join(path, "meta"))


def _visible_fields(manifest: dict) -> tuple[list[T.StructField], bool]:
    """(fields of the logical/visible row, versioned?) — versioned tables
    hide the op/op_seq/offset bookkeeping from the feed, exactly like
    :func:`table_changes`. Every payload field is declared NULLABLE
    regardless of the table schema: upsert-mode tombstones carry null
    payload by design, and files predating an ADD COLUMN null-fill the new
    column — a non-nullable declaration would make the Arrow emission
    reject exactly those legitimate rows (pyarrow enforces schema
    nullability)."""
    schema = T.StructType.fromJson(json.loads(manifest["schema"]))
    names = set(schema.fieldNames())
    versioned = {"op", "op_seq", "offset"} <= names
    fields = [
        T.StructField(f.name, f.dataType, True)
        for f in schema.fields
        if not (versioned and f.name in _VERSION_COLS)
    ]
    return fields, versioned


@dataclass
class _BucketDiffPartition(InputPartition):
    data_dir: str
    old_files: list[str] = field(default_factory=list)
    new_files: list[str] = field(default_factory=list)
    key_cols: list[str] = field(default_factory=list)
    columns: list[str] = field(default_factory=list)  # visible row, in order
    versioned: bool = True
    commit_version: int = 0
    #: "cdf" = state diff with pre/post images; "upserts" = raw rows of the
    #: delta files this commit appended (new_files only, no old state read)
    mode: str = "cdf"
    #: (i, n) key-hash split: this partition handles only keys whose
    #: deterministic hash ≡ i (mod n). Both boundary states of a split
    #: load the same files, so per-key LWW still sees every row; the
    #: filter subdivides a big bucket's diff across n workers (and makes
    #: the whole-table rebucket fallback distributed instead of capped).
    split: tuple[int, int] = (0, 1)
    #: the stream's declared output StructType as JSON — rows return to
    #: Spark as pyarrow RecordBatches built against this schema
    #: (vectorized Arrow transfer instead of per-row pickling)
    schema_json: str = ""
    #: current-name -> [historical names, newest first] (the pinned
    #: manifest's rename ledger): backlog-era files answering to an old
    #: name coalesce into the current column
    renames: dict = field(default_factory=dict)


class _CDFStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema: T.StructType):
        self.path = options["path"]
        self.start_opt = options.get("startingversion")
        self.start_ts_opt = options.get("startingtimestamp")
        if self.start_opt is not None and self.start_ts_opt is not None:
            raise ValueError(
                "pass startingVersion OR startingTimestamp, not both"
            )
        #: the stream's DECLARED row shape, fixed at query start — a
        #: mid-stream ADD COLUMN commit must not widen emitted tuples (the
        #: new column appears after a stream restart re-plans the schema)
        meta = {f.name for f in CDF_META_FIELDS}
        self.columns = [f.name for f in schema.fields if f.name not in meta]
        self.schema_json = schema.json()
        #: "cdf" (default): state diff per changed bucket — full pre/post
        #: images, cost ∝ the changed buckets' STATE. "upserts": read only
        #: the delta files each commit appended — cost ∝ the CHANGE SET
        #: exactly (the Iceberg incremental-read analog), no pre-images
        #: (updates arrive as their post rows, deletes as tombstone rows
        #: with null payload); requires merge-on-read writes.
        self.mode = str(options.get("mode", "cdf")).lower()
        if self.mode not in ("cdf", "upserts"):
            raise ValueError(f"mode must be cdf|upserts, got {self.mode!r}")
        #: attribution granularity (hard — partitions() chunks every batch
        #: range by this many versions, maxVersionsPerBatch=1 = exact
        #: per-commit attribution) + best-effort trigger-side pacing
        self.max_versions = int(options.get("maxversionsperbatch", 0)) or None
        if self.max_versions is not None and self.max_versions < 0:
            raise ValueError(
                f"maxVersionsPerBatch must be positive, got {self.max_versions}"
            )
        #: split threshold: a cdf diff whose referenced files exceed this
        #: many bytes is subdivided into key-hash splits so no single
        #: worker's pandas diff outgrows memory and a hot bucket stops
        #: being the batch's longest pole (also makes the whole-table
        #: rebucket fallback distributed)
        self.max_diff_bytes = int(
            options.get(
                "maxpartitiondiffbytes",
                # accept the pre-split option name so existing readers
                # keep their configured threshold instead of silently
                # reverting to the default
                options.get("maxrebucketfallbackbytes", 128 << 20),
            )
        )
        if self.max_diff_bytes <= 0:
            raise ValueError("maxPartitionDiffBytes must be positive")
        self._last_end: int | None = None
        #: schema ERA pin: the version + rename history current when the
        #: stream (re)started. Chunks ending at or below this version are
        #: BACKLOG of an older schema era — their files may carry
        #: historical (pre-rename) names or lack later-added columns; the
        #: readers coalesce/null-fill them. Chunks ending ABOVE it whose
        #: schema differs are LIVE drift and still fail the query.
        be0 = _backend(self.path)
        self.pinned_version = be0.current_version()
        try:
            m0 = json.loads(be0.load_manifest(self.pinned_version).decode())
            self.renames = dict(
                (m0.get("props") or {}).get("renamed_columns") or {}
            )
        except FileNotFoundError:
            self.renames = {}

    # -- offsets (driver side, metadata only) ---------------------------

    def initialOffset(self) -> dict:
        if self.start_opt is not None:
            v = int(self.start_opt)
        elif self.start_ts_opt is not None:
            # startingTimestamp (Delta streaming-source analog): stream the
            # changes AFTER the state this wall-clock resolves to. Resolved
            # ONCE here — the offset checkpointed by Spark is the version,
            # so restarts replay the identical range even if clocks moved.
            from nifi_dicom_spark.lake.snapshot_table import version_at_backend

            v = version_at_backend(_backend(self.path), self.start_ts_opt)
        else:
            v = _backend(self.path).current_version()
        self._last_end = v
        return {"version": v}

    def latestOffset(self) -> dict:
        cur = _backend(self.path).current_version()
        if self.max_versions and self._last_end is not None:
            cur = min(cur, self._last_end + self.max_versions)
        self._last_end = cur
        return {"version": cur}

    def _note_offset(self, v: int) -> None:
        # pacing is best-effort in-process state: the API gives latestOffset
        # no view of the checkpointed start, so a re-created reader (restart
        # or driver-side respawn) lets its first batch cover the whole
        # backlog. Seed the tracker from every callback that DOES see an
        # offset to shrink that hole; an oversized batch is decomposed by
        # partitions() into per-maxVersionsPerBatch chunks, so attribution
        # and netting are identical either way — only batch sizing suffers.
        if self._last_end is None or v > self._last_end:
            self._last_end = v

    def _guard_schema_drift(self, m_end: dict, ve: int) -> None:
        """Fail the query on a mid-stream schema change instead of silently
        losing events (the Delta CDF streaming behavior). The stream's row
        shape is frozen at query start; a commit that ADDs a column would
        otherwise have its changes conformed DOWN to the old columns — an
        update touching only the new column diffs as a no-op, the offset
        advances past it, and after a restart (which re-plans the wider
        schema) the checkpoint is already beyond the commit: the event is
        gone forever, and a replica tailing the feed diverges. Raising
        BEFORE the offset commits makes the fix a clean query restart with
        nothing lost."""
        end_cols = [f.name for f in _visible_fields(m_end)[0]]
        if set(end_cols) == set(self.columns):
            return
        if ve <= self.pinned_version:
            # BACKLOG chunk of an older schema era (restart below an
            # add/widen/drop/rename boundary): allowed — the readers
            # null-fill later-added columns, ignore since-dropped ones and
            # coalesce historical (pre-rename) names, so the replay is a
            # clean up-conform into the pinned (current) schema. Before
            # this era check, a paced restart whose backlog spanned any
            # schema boundary failed here on every retry — a livelock.
            return
        added = sorted(set(end_cols) - set(self.columns))
        dropped = sorted(set(self.columns) - set(end_cols))
        raise RuntimeError(
            f"table schema changed mid-stream at version {ve} "
            f"(added={added}, dropped={dropped}): restart the streaming "
            "query to pick up the new schema — the checkpoint resumes "
            "exactly before this batch, so no changes are lost"
        )

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        vs, ve = int(start["version"]), int(end["version"])
        self._note_offset(ve)
        if vs >= ve:
            return []
        if self.mode == "upserts":
            return self._upsert_partitions(vs, ve)
        # cdf mode: decompose the batch range into maxVersionsPerBatch-sized
        # chunks diffed INDEPENDENTLY, each attributed to its own endpoint.
        # This makes the option a hard GRANULARITY guarantee: even when the
        # in-process pacing state is lost (query restart, driver-side reader
        # respawn) and one batch covers the whole backlog, the emitted rows
        # are identical to the paced sequence — maxVersionsPerBatch=1 gives
        # exact per-commit attribution unconditionally, and a transient
        # insert+delete inside the range is never netted away by a collapse
        # it wasn't in with pacing intact. Unpaced streams (option unset)
        # keep whole-range state-diff semantics (one net diff per batch).
        step = self.max_versions or (ve - vs)
        parts: list[InputPartition] = []
        for s in range(vs, ve, step):
            parts.extend(self._cdf_partitions(s, min(s + step, ve)))
        return parts

    def _cdf_partitions(self, vs: int, ve: int) -> list[InputPartition]:
        be = _backend(self.path)
        try:
            m_s = json.loads(be.load_manifest(vs).decode())
            m_e = json.loads(be.load_manifest(ve).decode())
        except FileNotFoundError as e:
            raise RuntimeError(
                f"stream offset version missing (vacuumed?): {e}"
            ) from None
        self._guard_schema_drift(m_e, ve)
        _fields, versioned = _visible_fields(m_e)
        data_dir = os.path.join(self.path, "data")
        key_cols = list(m_e["key_cols"])
        columns = list(self.columns)

        from nifi_dicom_spark.operators.diff import manifest_changed_buckets

        def rels(m: dict, b: str) -> list[str]:
            return list(m.get("files", {}).get(b, [])) + list(
                m.get("delta_files", {}).get(b, [])
            )

        def splits_for(old: list[str], new: list[str]) -> int:
            total = 0
            for rel in {*old, *new}:  # a file on both sides counts once
                try:
                    total += os.path.getsize(os.path.join(data_dir, rel))
                except OSError:
                    pass
            # clamped: every split re-reads the same files, so past ~64
            # the read amplification outweighs the extra parallelism
            return min(64, max(1, -(-total // self.max_diff_bytes)))

        def emit(old: list[str], new: list[str]) -> list[InputPartition]:
            n = splits_for(old, new)
            return [
                _BucketDiffPartition(
                    data_dir=data_dir,
                    old_files=old,
                    new_files=new,
                    key_cols=key_cols,
                    columns=columns,
                    versioned=versioned,
                    commit_version=ve,
                    split=(i, n),
                    schema_json=self.schema_json,
                    renames=self.renames,
                )
                for i in range(n)
            ]

        changed = manifest_changed_buckets(m_s, m_e)
        if changed is None:
            # bucket ids aren't comparable across a rebucket — fall back to
            # a whole-table diff (rare maintenance event), key-hash-split
            # so it stays distributed instead of one worker's pandas OOM
            def all_rels(m: dict) -> list[str]:
                bb = {
                    b
                    for which in ("files", "delta_files")
                    for b in m.get(which, {})
                }
                return [r for b in sorted(bb, key=int) for r in rels(m, b)]

            return emit(all_rels(m_s), all_rels(m_e))
        parts: list[InputPartition] = []
        for b in changed:
            parts.extend(emit(rels(m_s, str(b)), rels(m_e, str(b))))
        return parts

    def _upsert_partitions(self, vs: int, ve: int) -> list[InputPartition]:
        """One partition per (commit, bucket) holding ONLY the delta files
        that commit appended — the change set itself, no state read. Walks
        the manifests in (vs, ve] (metadata reads ∝ commits in the batch);
        content-neutral maintenance commits contribute nothing; commits
        whose change set is not recoverable from deltas (copy-on-write
        merges, restore) raise instead of silently dropping changes."""
        be = _backend(self.path)
        data_dir = os.path.join(self.path, "data")
        try:
            prev = json.loads(be.load_manifest(vs).decode())
        except FileNotFoundError as e:
            raise RuntimeError(
                f"stream offset version missing (vacuumed?): {e}"
            ) from None
        parts: list[InputPartition] = []
        for v in range(vs + 1, ve + 1):
            try:  # same vacuum-aware error as the start manifest
                m = json.loads(be.load_manifest(v).decode())
            except FileNotFoundError as e:
                raise RuntimeError(
                    f"stream offset version missing (vacuumed?): {e}"
                ) from None
            self._guard_schema_drift(m, v)
            summary = m.get("summary") or {}
            op = summary.get("operation")
            policy = summary.get("policy")
            # content-neutral commits: layout/metadata maintenance (compact
            # and optimize are merge-operation commits distinguished by
            # their policy) — they rewrite or annotate, never change state
            if op in ("create", "rebucket", "add_constraint",
                      "drop_constraint", "set_clustering",
                      "drop_column", "rename_column") or (
                op == "merge" and policy in ("compact", "optimize")
            ):
                prev = m
                continue
            _fields, versioned = _visible_fields(m)
            if not versioned:
                raise RuntimeError(
                    "mode=upserts requires a versioned (LWW) table"
                )
            if op != "merge" or summary.get("mode") != "mor":
                raise RuntimeError(
                    f"mode=upserts requires merge-on-read data commits; "
                    f"version {v} is {op!r}/policy={policy!r}/"
                    f"mode={summary.get('mode')!r} — its change set is not "
                    "recoverable from delta files; use mode=cdf"
                )
            key_cols = list(m["key_cols"])
            prev_deltas = {
                b: set(rels)
                for b, rels in (prev.get("delta_files") or {}).items()
            }
            for b, rels in (m.get("delta_files") or {}).items():
                # one partition PER FILE — delta files are independent row
                # sets, so this is free read parallelism
                for rel in rels:
                    if rel in prev_deltas.get(b, set()):
                        continue
                    parts.append(
                        _BucketDiffPartition(
                            data_dir=data_dir,
                            old_files=[],
                            new_files=[rel],
                            key_cols=key_cols,
                            columns=list(self.columns),
                            versioned=True,
                            commit_version=v,
                            mode="upserts",
                            schema_json=self.schema_json,
                            renames=self.renames,
                        )
                    )
            prev = m
        return parts

    def commit(self, end: dict) -> None:
        # offsets are durable in the stream checkpoint; just seed pacing
        self._note_offset(int(end["version"]))

    # -- data (executor side, no SparkSession) --------------------------

    def read(self, partition: _BucketDiffPartition):
        import pandas as pd

        p = partition
        if p.mode == "upserts":
            return _read_upserts(p)
        old_s = _bucket_state(p, p.old_files)
        new_s = _bucket_state(p, p.new_files)
        # an empty side (bucket born/emptied between the versions) loads as
        # object dtypes — give it the other side's dtypes so the key merge
        # never mixes object with numeric columns
        if old_s.empty and not new_s.empty:
            old_s = new_s.iloc[0:0].copy()
        elif new_s.empty and not old_s.empty:
            new_s = old_s.iloc[0:0].copy()
        keys = p.key_cols
        payload = [c for c in p.columns if c not in keys]

        merged = old_s[keys].merge(
            new_s[keys], on=keys, how="outer", indicator=True
        )
        ins_keys = merged[merged["_merge"] == "right_only"][keys]
        del_keys = merged[merged["_merge"] == "left_only"][keys]
        both_keys = merged[merged["_merge"] == "both"][keys]

        o = old_s.set_index(keys)
        n = new_s.set_index(keys)
        frames: list["pd.DataFrame"] = []

        def emit(frame: "pd.DataFrame", key_frame: "pd.DataFrame", ct: str):
            # values in p.columns order — the declared schema's field order,
            # NOT keys-first (key columns need not be a schema prefix)
            if key_frame.empty:
                return
            idx = pd.MultiIndex.from_frame(key_frame) if len(keys) > 1 else (
                pd.Index(key_frame[keys[0]])
            )
            sel = frame.loc[idx].reset_index()[p.columns].copy()
            sel["_change_type"] = ct
            frames.append(sel)

        if not both_keys.empty:
            idx = pd.MultiIndex.from_frame(both_keys) if len(keys) > 1 else (
                pd.Index(both_keys[keys[0]])
            )
            ob, nb = o.loc[idx, payload], n.loc[idx, payload]
            diff = pd.Series(False, index=idx)
            for c in payload:
                a, b = ob[c], nb[c]
                diff |= (a != b) & ~(a.isna() & b.isna())
            changed = both_keys[diff.to_numpy()]
            emit(o, changed, "update_preimage")
            emit(n, changed, "update_postimage")
        emit(n, ins_keys, "insert")
        emit(o, del_keys, "delete")
        # drop empty frames before concat: pandas ≥2.1 deprecates letting
        # empty/all-NA entries participate in result-dtype determination
        # (pandas 3 changes the behavior) — an empty image set must not be
        # able to flip a column's dtype in the emitted batch
        frames = [f for f in frames if len(f)]
        if not frames:
            return iter(())
        out = pd.concat(frames, ignore_index=True)
        out["_commit_version"] = p.commit_version
        return _emit_rows(out, p)


def _read_files(p: _BucketDiffPartition, files: list[str], names: list[str]):
    """The key-split share of ``files`` as one Arrow table of ``names``:
    backlog-era files (restart below a schema boundary) coalesce
    historical (pre-rename) names into their current column, columns
    added after their era fill with nulls, and since-dropped extras are
    never selected. The split filter runs per file, before the concat:
    that bounds one worker's memory to about one file plus its own key
    share (all rows of a key hash alike, so it commutes with the per-key
    LWW reduce)."""
    import pyarrow as pa

    from nifi_dicom_spark.operators.dedup import arrow_conform

    tbl = arrow_conform(
        [_apply_split(_read_parquet(p.data_dir, rel), p) for rel in files],
        renames=p.renames,
    )
    for c in names:
        if c not in tbl.column_names:
            tbl = tbl.append_column(c, pa.nulls(tbl.num_rows))
    return tbl.select(names)


def _read_upserts(p: _BucketDiffPartition):
    """Raw rows of one commit's appended delta files: ``_change_type`` is
    the stored op (insert/update/delete — updates are post-rows only,
    deletes are tombstones with null payload). Arrow end to end."""
    import pyarrow as pa

    target = _target_schema(p)
    tbl = _read_files(p, p.new_files, [*p.columns, "op"])
    cols = [tbl[c] for c in p.columns] + [
        tbl["op"].cast(pa.string()),
        pa.repeat(p.commit_version, tbl.num_rows),
    ]
    out = pa.Table.from_arrays(
        [c.cast(f.type) for c, f in zip(cols, target)], schema=target
    )
    return iter(out.to_batches(max_chunksize=1 << 16))


def _target_schema(p: _BucketDiffPartition):
    """The stream's declared output schema, in Arrow."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(T.StructType.fromJson(json.loads(p.schema_json)))


def _emit_rows(out, p: _BucketDiffPartition):
    """Hand a cdf result frame back to Spark: pyarrow RecordBatches
    against the declared schema (vectorized Arrow transfer — the Python
    Data Source API accepts them in place of tuples, avoiding per-row
    pickling)."""
    import pyarrow as pa

    target = _target_schema(p)
    out = out[list(target.names)]
    for name, typ in zip(target.names, target.types):
        col = out[name]
        if pa.types.is_integer(typ) and col.dtype.kind == "f":
            # outer-join nulls promoted an int column to float NaN —
            # arrow refuses float→int with NaN; nullable Int carries it
            out[name] = col.astype("Int64")
        elif (
            pa.types.is_timestamp(typ)
            and typ.tz is not None
            and col.dtype.kind == "M"
            and getattr(col.dtype, "tz", None) is None
        ):
            out[name] = col.dt.tz_localize("UTC")
    tbl = pa.Table.from_pandas(out, schema=target, preserve_index=False)
    return iter(tbl.to_batches(max_chunksize=1 << 16))


def _bucket_state(p: _BucketDiffPartition, files: list[str]):
    """Visible LWW state of one bucket at one version, as pandas for the
    pre/post-image join: the Arrow kernel's winner per key
    (:func:`~nifi_dicom_spark.operators.dedup.arrow_lww`, the last ROW
    after a stable (op_seq, offset) sort), tombstones dropped. Mirrors
    lww_dedup + the table_changes state filter exactly."""
    import pandas as pd

    from nifi_dicom_spark.operators.dedup import arrow_lww

    if not files:
        return pd.DataFrame(columns=p.columns)
    vcols = [c for c in _VERSION_COLS if p.versioned and c not in p.columns]
    tbl = _read_files(p, files, [*p.columns, *vcols])
    if p.versioned:
        _guard_ties(tbl, [*p.key_cols, "op_seq", "offset"])
        tbl = arrow_lww(tbl, p.key_cols, drop_tombstones=True)
    return tbl.select(p.columns).to_pandas()


def _guard_ties(tbl, vkey: list[str]) -> None:
    """Fail on rows that share ``(key, op_seq, offset)`` with DIFFERENT
    payloads. The Arrow kernel breaks such a tie by file order, while the
    Spark-side lww_dedup max_by breaks it by payload struct comparison —
    the two could disagree. Duplicate EVENT DELIVERY legitimately lands
    the same row in two epochs' delta files (any winner is the same row;
    a column one file predates reads as null in both), but a tie with
    differing payloads means the table is malformed: fail loudly rather
    than stream a state that read() might not reproduce."""
    import pyarrow as pa
    import pyarrow.compute as pc

    vk = pc.binary_join_element_wise(
        *[tbl[c].cast(pa.string()) for c in vkey], "\x1f"
    )
    counts = pc.value_counts(vk)
    tied = counts.field("values").filter(pc.greater(counts.field("counts"), 1))
    if not len(tied):
        return
    seen: dict = {}
    clash = []
    for row in tbl.filter(pc.is_in(vk, tied)).to_pylist():  # rare path
        k = tuple(row[c] for c in vkey)
        if seen.setdefault(k, row) != row and k not in clash:
            clash.append(k)
    if clash:
        raise ValueError(
            "malformed table: rows sharing (key, op_seq, offset) "
            "with DIFFERENT payloads make the LWW winner ambiguous "
            "(Arrow and Spark tie-breaks differ); sample "
            f"{vkey}: {clash[:4]}"
        )


def _apply_split(tbl, p: _BucketDiffPartition):
    """Key-hash split filter: keep keys with hash ≡ i (mod n); pandas'
    content-deterministic hash over the STRING form of the key columns —
    string-normalized because per-file filtering must hash a key
    identically across file vintages whose physical dtypes differ
    (schema widening stores int32 in old files, int64 in new ones)."""
    import pandas as pd
    import pyarrow as pa

    i, n = p.split
    if n <= 1 or not tbl.num_rows:
        return tbl
    h = pd.util.hash_pandas_object(
        tbl.select(p.key_cols).to_pandas().astype(str),
        index=False,
        categorize=False,
    )
    return tbl.filter(pa.array((h % n == i).to_numpy()))


def _read_parquet(data_dir: str, rel: str):
    import pyarrow.parquet as pq

    try:
        return pq.read_table(os.path.join(data_dir, rel))
    except FileNotFoundError as e:
        raise RuntimeError(
            f"data file {rel!r} referenced by the stream's offset range is "
            "gone — the table was likely vacuum()ed past the stream's "
            "position; restart the query from a retained startingVersion"
        ) from e


class SnapshotCDFDataSource(DataSource):
    """``format("snapshot_cdf")`` — streaming change feed of a
    :class:`SnapshotTable` (see module docstring)."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_cdf"

    def schema(self) -> T.StructType:
        be = _backend(self.options["path"])
        m = json.loads(be.load_manifest(be.current_version()).decode())
        fields, _ = _visible_fields(m)
        return T.StructType(fields + CDF_META_FIELDS)

    def streamReader(self, schema: T.StructType) -> _CDFStreamReader:
        return _CDFStreamReader(dict(self.options), schema)
