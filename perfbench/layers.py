"""Per-layer metrics of the traced run.

They come from the tracer's spans and counters, the samples the workloads
take themselves, Structured Streaming progress reports and Spark's status
tracker. Every workload reports every metric; one a workload does not
exercise reads 0.

Per-op figures divide by the workload's timed operations (replay epoch and
compact, tail ``run_available`` call, serve write / drain / lookup / scan);
per-apply figures by the ``apply_changes`` calls inside them.
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

#: (name, unit) of every per-layer metric, in report order
PER_LAYER: list[tuple[str, str]] = [
    ("sources.decode_s", "s"),
    ("operators.plan_s", "s"),
    ("operators.valid_events", "count"),
    ("operators.quarantined_events", "count"),
    ("operators.winners_per_valid", "ratio"),
    ("operators.apply_self_s", "s"),
    ("lake.merge_s", "s"),
    ("lake.autocompact_s", "s"),
    ("lake.autocompact_count", "count"),
    ("lake.compact_s", "s"),
    ("lake.compact_bytes_rewritten", "bytes"),
    ("lake.manifest_calls", "count"),
    ("lake.manifest_s", "s"),
    ("lake.delta_files_per_bucket", "count"),
    ("lake.delta_bytes", "bytes"),
    ("lake.base_bytes", "bytes"),
    ("lake.lookup_s", "s"),
    ("lake.lookup_files_read", "count"),
    ("lake.lookup_bucket_skipped", "count"),
    ("lake.lookup_bloom_skipped", "count"),
    ("lake.scan_s", "s"),
    ("lake.scan_files_full", "count"),
    ("lake.scan_files_slim", "count"),
    ("lake.scan_files_skipped", "count"),
    ("commit.try_commit_s", "s"),
    ("commit.try_commit_calls", "count"),
    ("commit.conflicts", "count"),
    ("streaming.wait_s", "s"),
    ("streaming.service_s", "s"),
    ("streaming.query_start_s", "s"),
    ("streaming.add_batch_s", "s"),
    ("streaming.wal_commit_s", "s"),
    ("streaming.batches", "count"),
    ("table_stream.drain_s", "s"),
    ("table_stream.rows", "count"),
    ("table_stream.latest_offset_s", "s"),
    ("table_stream.get_batch_s", "s"),
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("trace.overhead_ratio", "ratio"),
]

#: the timed operations of the workloads (not set-up, not verification)
WORK_OPS = {"epoch", "compact", "run_available", "write", "drain", "lookup", "scan"}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _seconds(spans) -> list[float]:
    return [s.end - s.start for s in spans]


def _when(progress: dict) -> float:
    return dt.datetime.fromisoformat(
        progress["timestamp"].replace("Z", "+00:00")
    ).timestamp()


def _reads_files(progress: dict) -> bool:
    return any(
        src.get("description", "").startswith("FileStreamSource")
        for src in progress.get("sources", [])
    )


def _spark_work(spark, ops, events: list[dict]) -> tuple[list[int], list[int]]:
    """(jobs, completed tasks) per op: the jobs carrying the op's tag, or
    for a streaming op the jobs of the queries it ran (Structured Streaming
    runs a query's jobs in a job group named after its run id)."""
    sc = spark.sparkContext
    jvm_tracker = sc._jsc.sc().statusTracker()
    tracker = sc.statusTracker()
    jobs, tasks = [], []
    for o in ops:
        if o.tag:
            ids = list(jvm_tracker.getJobIdsForTag(o.tag))
        else:
            runs = {
                e["runId"] for e in events
                if o.wall_start <= _when(e) <= o.wall_end
            }
            ids = [j for r in runs for j in tracker.getJobIdsForGroup(r)]
        n = 0
        for j in ids:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                st = tracker.getStageInfo(sid)
                n += st.numCompletedTasks if st else 0
        jobs.append(len(ids))
        tasks.append(n)
    return jobs, tasks


def per_layer(run) -> dict[str, tuple[float, str]]:
    t, sm = run.tracer, run.samples
    work = [o for o in run.ops if o.kind in WORK_OPS]
    n_work = max(1, len(work))
    n_apply = max(1, len(t.named("operators.apply")))
    auto, explicit = t.split_by_parent("lake.compact", "lake.merge")
    valid = t.counts["operators.valid_events"]
    v: dict[str, float] = {
        "sources.decode_s": _mean(_seconds(t.named("sources.decode"))),
        "operators.plan_s": _mean(_seconds(t.named("operators.plan"))),
        "operators.valid_events": valid / n_apply,
        "operators.quarantined_events": (
            t.counts["operators.quarantined_events"] / n_apply
        ),
        "operators.winners_per_valid": (
            t.counts["operators.winners"] / valid if valid else 0.0
        ),
        "operators.apply_self_s": (
            t.exclusive("operators.apply", ("lake.merge",)) / n_apply
        ),
        "lake.merge_s": t.exclusive("lake.merge", ("lake.compact",)) / n_apply,
        "lake.autocompact_s": sum(_seconds(auto)) / n_apply,
        "lake.autocompact_count": len(auto),
        "lake.compact_s": sum(_seconds(explicit)),
        "lake.compact_bytes_rewritten": t.counts["lake.compact_bytes_rewritten"],
        "lake.manifest_calls": t.counts["lake.manifest_calls"] / n_work,
        "lake.manifest_s": t.total("lake.manifest") / n_work,
        "lake.lookup_s": _mean(run.timed("lookup")),
        "lake.scan_s": _mean(run.timed("scan")),
        "commit.try_commit_s": t.total("commit.try_commit") / n_work,
        "commit.try_commit_calls": t.counts["commit.try_commit_calls"] / n_work,
        "commit.conflicts": t.counts["commit.conflicts"],
        "table_stream.drain_s": _mean(run.timed("drain")),
    }
    for name in (
        "lake.delta_files_per_bucket", "lake.delta_bytes", "lake.base_bytes",
        "lake.lookup_files_read", "lake.lookup_bucket_skipped",
        "lake.lookup_bloom_skipped", "lake.scan_files_full",
        "lake.scan_files_slim", "lake.scan_files_skipped",
        "streaming.wait_s", "streaming.service_s", "streaming.query_start_s",
        "table_stream.rows",
    ):
        v[name] = _mean(sm.get(name, []))

    events = [
        e for e in (run.progress.events if run.progress is not None else [])
        if _when(e) >= run.timed_since
    ]
    # the live pipeline reads files; the change-feed consumer does not
    pipeline = [e for e in events if _reads_files(e)]
    batches = [e for e in pipeline if e.get("numInputRows", 0) > 0]
    ms = [e.get("durationMs", {}) for e in batches]
    v["streaming.add_batch_s"] = _mean(d.get("addBatch", 0) / 1e3 for d in ms)
    v["streaming.wal_commit_s"] = _mean(d.get("walCommit", 0) / 1e3 for d in ms)
    v["streaming.batches"] = len(batches)
    per_drain: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0])
    for e in events:
        if not _reads_files(e):
            d = e.get("durationMs", {})
            acc = per_drain[e["runId"]]
            acc[0] += d.get("latestOffset", 0) / 1e3
            acc[1] += d.get("getBatch", 0) / 1e3
    v["table_stream.latest_offset_s"] = _mean(a[0] for a in per_drain.values())
    v["table_stream.get_batch_s"] = _mean(a[1] for a in per_drain.values())

    jobs, tasks = _spark_work(run.spark, work, events)
    v["spark.jobs_per_op"] = _mean(jobs)
    v["spark.tasks_per_op"] = _mean(tasks)
    # the share of the timed ops' wall time the tracer's own bookkeeping
    # (span records, the wrappers' accounting after apply and compact)
    # took: what tracing adds to the numbers the untraced run reports
    v["trace.overhead_ratio"] = t.counts["trace.bookkeeping_s"] / max(
        1e-9, sum(o.seconds for o in work)
    )
    return {name: (float(v.get(name, 0.0)), unit) for name, unit in PER_LAYER}
