"""The three benchmark workloads: ``replay`` (bulk backfill), ``tail`` (live
change-log tail) and ``serve`` (reads beside a committing writer).

Each workload builds its inputs from the seed, prepares its table (set-up),
runs its timed part, then checks the engine's answers against the pure-pandas
oracle in :mod:`nifi_dicom_spark.fixtures.oracle`. Every timed call is an
*op*; an op that raises or disagrees with the oracle counts as failed.
"""

from __future__ import annotations

import glob
import math
import os
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd

from perfbench import stats
from perfbench.tracing import Tracer

KEY = ["conv_id", "turn_idx"]
#: ``offset`` is unique per event, so (key, op_seq, offset) names the exact
#: winning event; ``text`` confirms its payload
LOOKUP_COLUMNS = ["turn_idx", "op", "op_seq", "offset", "text"]


@dataclass(frozen=True)
class Sizes:
    """Input sizes and schedule of every workload: the benchmark's and, in
    ``SMOKE``, the self-test's."""

    replay_epoch_events: int = 12_000
    replay_buckets: int = 32

    tail_file_events: int = 2_000
    #: lander period: about half the rate one run_available() per file
    #: sustains on a 4-core host (~3 s per file, compaction spikes ~4.5 s)
    tail_interval_s: float = 6.0
    tail_buckets: int = 16

    serve_file_events: int = 2_000
    serve_buckets: int = 4


#: tiny sizes for the benchmark's self-test
SMOKE = Sizes(
    replay_epoch_events=2_000,
    replay_buckets=4,
    tail_file_events=300,
    tail_interval_s=1.0,
    tail_buckets=4,
    serve_file_events=400,
    serve_buckets=2,
)

#: the replay table's auto-compaction threshold in deltas per bucket: the
#: engine's default of 8 would take more timed epochs than a run's time
#: allows
REPLAY_COMPACT_THRESHOLD = 3
#: timed replay epochs: with the warm-up epoch 0 (set-up), the second fills
#: every bucket to the threshold, so auto-compaction fires inside it; the
#: next two leave deltas outstanding for the explicit compact(). Three of
#: the four epochs do not compact, so the median is the mean of two of them.
REPLAY_EPOCHS = REPLAY_COMPACT_THRESHOLD + 1
#: change-log files the tail set-up commits before the lander starts
TAIL_WARM_FILES = 1
#: a file landing later than this after its due time invalidates the run
TAIL_MAX_LATENESS_S = 0.5
#: serve's timed cycles, a fixed number whatever ``--seconds`` says: the
#: reads see two and then three deltas per bucket, below the engine's
#: auto-compaction threshold of 8
SERVE_CYCLES = 2
#: point lookups per serve cycle: a hot, a present and an absent key
SERVE_LOOKUPS = 3
#: the width of a serve scan's ts range, as a share of the applied range
SERVE_SCAN_FRACTION = 0.02
#: the op kinds of a serve cycle, whose seconds add up to its schedule_s
SERVE_OPS = ("write", "drain", "lookup", "scan")

#: the host probe: a fixed plain-Spark job that runs no engine code. It is
#: timed after every op of these kinds (outside the op's timing), and the
#: timed schedule is reported as a multiple of its median. On a shared
#: host the speed of the moment moves whole runs by up to 2.5x; an op and
#: the probe beside it slow down together, so the ratio holds still.
PROBED_OPS = {"epoch", "compact", *SERVE_OPS}
PROBE_ROWS = 5_000_000
#: probes after each such op: one 0.2 s probe spreads about 0.15 on its
#: own, so the median needs many
PROBES_PER_OP = 2
#: probes run in set-up, so the timed ones meet a warm JIT
PROBE_WARM = 3
#: probes ``tail`` runs after its open loop, which a probe would delay
TAIL_PROBES = 5


def busy_cpu_s() -> float:
    """CPU seconds every CPU of the machine has spent busy since boot (user,
    nice, system, irq, softirq in ``/proc/stat``). Time the hypervisor gave
    to other machines (steal) is not in it."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return sum(int(x) for x in (f[1], f[2], f[3], f[6], f[7])) / os.sysconf(
        "SC_CLK_TCK"
    )


@dataclass
class Op:
    kind: str
    start: float
    end: float = 0.0
    ok: bool = True
    #: Spark job tag of the op's jobs (trace run, non-streaming ops)
    tag: str | None = None
    #: wall-clock span, to find the streaming queries an op ran
    wall_start: float = 0.0
    wall_end: float = 0.0
    #: CPU seconds the machine spent busy during the op (``busy_cpu_s``)
    cpu_start: float = 0.0
    cpu_end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Outcome:
    #: name -> (value, unit); end-to-end metrics
    metrics: dict[str, tuple[float, str]]
    #: workload-specific facts for the detail line
    detail: dict = field(default_factory=dict)
    #: set when the run cannot be trusted (e.g. the tail lander stalled)
    invalid: str | None = None


class Run:
    """State of one benchmark run: the session, the tracer and the op log."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 tracer: Tracer, traced: bool, sizes: Sizes, progress=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.traced = traced
        self.sizes = sizes
        self.ops: list[Op] = []
        #: set-up phase -> seconds
        self.setup: dict[str, float] = {}
        #: per-layer samples the workload measures itself (trace run only)
        self.samples: dict[str, list[float]] = defaultdict(list)
        #: streaming progress listener (trace run only)
        self.progress = progress
        #: wall-clock start of the timed part
        self.timed_since = 0.0
        #: seconds of each timed host probe
        self.probes: list[float] = []

    def probe(self) -> None:
        """Time the host probe once, untraced."""
        with self.tracer.paused():
            t0 = time.monotonic()
            (self.spark.range(0, PROBE_ROWS, numPartitions=4)
             .selectExpr("id % 1024 AS k").groupBy("k").count().collect())
            self.probes.append(time.monotonic() - t0)

    def start_timed(self) -> None:
        """Set-up is over: warm the host probe, and forget what tracing
        recorded during set-up."""
        with self.setup_phase("probe"):
            for _ in range(PROBE_WARM):
                self.probe()
        self.probes.clear()
        self.tracer.clear()
        self.timed_since = time.time()

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)

    @contextmanager
    def op(self, kind: str, streaming: bool = False) -> Iterator[Op]:
        """Time one operation; an exception marks it failed (logged to
        stderr) instead of ending the run. A streaming op's jobs are found
        through its queries' run ids instead of a job tag: a query started
        under a tag inherits it, which PySpark's listener cannot decode."""
        rec = Op(kind, time.monotonic(), wall_start=time.time(),
                 cpu_start=busy_cpu_s())
        self.ops.append(rec)
        sc = self.spark.sparkContext
        if self.traced and not streaming:
            rec.tag = f"perfbench-op-{len(self.ops)}"
            sc.addJobTag(rec.tag)
        try:
            with self.tracer.span(kind):
                yield rec
        except Exception:  # noqa: BLE001 — counted in error_rate
            rec.ok = False
            traceback.print_exc(file=sys.stderr)
        finally:
            rec.end, rec.wall_end = time.monotonic(), time.time()
            rec.cpu_end = busy_cpu_s()
            if rec.tag:
                sc.removeJobTag(rec.tag)
        if kind in PROBED_OPS:
            for _ in range(PROBES_PER_OP):
                self.probe()

    def fail(self, rec: Op, why: str) -> None:
        rec.ok = False
        print(f"perfbench: {rec.kind} disagrees with the oracle: {why}",
              file=sys.stderr)

    @contextmanager
    def setup_phase(self, name: str) -> Iterator[None]:
        t0 = time.monotonic()
        yield
        self.setup[name] = self.setup.get(name, 0.0) + time.monotonic() - t0

    def timed(self, kind: str) -> list[float]:
        return [o.seconds for o in self.ops if o.kind == kind]


# ----------------------------------------------------------------- inputs


def read_events(paths: list[str]) -> pd.DataFrame:
    """The change events of parquet files, for the oracle (files written
    before the schema change lack ``tool``; concat fills it with nulls)."""
    frames = [pd.read_parquet(p) for p in paths]
    return pd.concat(frames, ignore_index=True)


def epoch_files(d: str) -> list[str]:
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def dir_bytes(paths: list[str]) -> int:
    return sum(os.path.getsize(p) for p in paths)


def lww_winners(events: pd.DataFrame) -> pd.DataFrame:
    """LWW winner per key among valid events, tombstones included — what
    ``SnapshotTable.read()`` / ``lookup()`` return."""
    from nifi_dicom_spark.fixtures.oracle import split_malformed

    valid, _ = split_malformed(events)
    ordered = valid.sort_values(["op_seq", "offset"], kind="stable")
    return ordered.groupby(KEY, as_index=False).tail(1)


def check_final_state(run: Run, table, events: pd.DataFrame) -> None:
    """One op: the table's final state equals the oracle's replay."""
    from nifi_dicom_spark.fixtures.oracle import (
        assert_final_state_equal,
        replay_oracle,
    )
    from nifi_dicom_spark.operators.apply import read_final_state

    with run.tracer.paused(), run.op("verify") as rec:
        actual = read_final_state(table).toPandas()
        try:
            assert_final_state_equal(actual, replay_oracle(events))
        except AssertionError as e:
            run.fail(rec, str(e).splitlines()[0] if str(e) else "final state")


def table_state(run: Run, table) -> None:
    """Sample the table's physical layout (trace run only)."""
    if not run.traced:
        return
    with run.tracer.paused():
        d = table.detail()
    run.samples["lake.delta_files_per_bucket"].append(
        d["num_delta_files"] / d["n_buckets"]
    )
    run.samples["lake.delta_bytes"].append(d["delta_bytes"])
    run.samples["lake.base_bytes"].append(d["base_bytes"])


def end_to_end(run: Run, writes: list[float], schedule_s: float, table,
               inputs: list[str]) -> tuple[dict[str, tuple[float, str]], dict]:
    """The end-to-end metrics every workload reports (besides ``setup_s``)
    and the seconds behind them, for the detail line: the wall time of its
    fixed timed schedule ÷ the run's median host probe, and the bytes of
    every data file the table holds ÷ the change-log bytes it was given.
    The median write is detail only: one op of a few seconds can meet a
    slow stretch of the host that the probes beside it miss."""
    written = dir_bytes(
        glob.glob(os.path.join(table.data_dir, "**", "*.parquet"), recursive=True)
    )
    probe_s = stats.median(run.probes)
    metrics = {
        "schedule_rel": (schedule_s / probe_s, "ratio"),
        "write_amp": (written / dir_bytes(inputs), "ratio"),
    }
    seconds = {"write_s_p50": stats.median(writes), "schedule_s": schedule_s,
               "probe_s": probe_s, "probes_s": run.probes}
    return metrics, seconds


def op_seconds(run: Run) -> dict[str, list[float]]:
    """Timed op kind -> the seconds of each op, for the detail line."""
    out: dict[str, list[float]] = defaultdict(list)
    for o in run.ops:
        out[o.kind].append(o.seconds)
        out[o.kind + ".cpu"].append(o.cpu_end - o.cpu_start)
    return dict(out)


# ----------------------------------------------------------------- replay


def replay(run: Run) -> Outcome:
    """Bulk backfill: seeded epochs applied one by one with apply_changes
    into a fresh 32-bucket table, auto-compaction firing inside the timed
    window, then one explicit compact()."""
    from nifi_dicom_spark.bench_core import generate_epoch_dirs
    from nifi_dicom_spark.operators.apply import apply_changes, plan_upserts
    from nifi_dicom_spark.sources.changelog import read_change_log

    sz, spark = run.sizes, run.spark
    with run.setup_phase("generate"):
        dirs = generate_epoch_dirs(
            os.path.join(run.work, "events"),
            n_events=sz.replay_epoch_events * REPLAY_EPOCHS,
            n_epochs=REPLAY_EPOCHS,
            seed=run.seed,
            n_files=8,
        )
        files = [epoch_files(d) for d in dirs]
    with run.setup_phase("warm_up"):
        table = replay_table(spark, os.path.join(run.work, "table"), sz.replay_buckets)
        # epoch 0 (quarter size) on the cold JVM: codegen and Python
        # worker start-up belong to set-up, not to the timed epochs
        apply_changes(table, read_change_log(spark, dirs[0]), epoch=0)

    run.start_timed()
    for e in range(1, len(dirs)):
        with run.op("epoch"):
            apply_changes(table, read_change_log(spark, dirs[e]), epoch=e)
        if run.traced:
            # separate noop passes give the decode and plan layers their
            # own spans (apply_changes fuses both into its jobs); they run
            # after the epoch so they do not warm its input
            with run.tracer.span("sources.decode"):
                read_change_log(spark, dirs[e]).write.format("noop").mode(
                    "overwrite"
                ).save()
            with run.tracer.span("operators.plan"):
                plan_upserts(read_change_log(spark, dirs[e])).write.format(
                    "noop"
                ).mode("overwrite").save()
        table_state(run, table)
    with run.op("compact") as rec:
        if table.compact() is None:
            run.fail(rec, "no deltas were outstanding to compact")

    events = read_events([p for fs in files for p in fs])
    check_final_state(run, table, events)

    epoch_s, compact_s = run.timed("epoch"), run.timed("compact")
    n_timed = len(events) - len(read_events(files[0]))
    metrics, seconds = end_to_end(run, epoch_s, sum(epoch_s) + sum(compact_s),
                                  table, [p for fs in files for p in fs])
    return Outcome(metrics, detail={
        **seconds,
        "timed_events": n_timed,
        "events_per_s": n_timed / sum(epoch_s),
        "ops_s": op_seconds(run),
    })


# ------------------------------------------------------- live change log


def replay_table(spark, path: str, n_buckets: int):
    """``create_transcripts_table``'s DDL with the auto-compaction threshold
    set to REPLAY_COMPACT_THRESHOLD."""
    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA, KEY_COLUMNS
    from nifi_dicom_spark.operators.apply import STORED_COLUMNS
    from pyspark.sql import types as T

    by_name = {f.name: f for f in CHANGE_EVENTS_SCHEMA.fields}
    return SnapshotTable.create(
        spark,
        path,
        T.StructType([by_name[c] for c in STORED_COLUMNS]),
        key_cols=KEY_COLUMNS,
        n_buckets=n_buckets,
        props={"stats_cols": ["ts"], "compact_threshold": REPLAY_COMPACT_THRESHOLD},
    )


class LiveTable:
    """A transcripts table fed by ``CDCPipeline`` (one file per trigger;
    with ``dead_letter``, a quarantine directory and a dead-letter table)
    from one seeded change log pre-written as files, which ``land`` moves
    into the watched directory one at a time."""

    def __init__(self, run: Run, name: str, n_files: int, file_events: int,
                 n_buckets: int, dead_letter: bool = True):
        from nifi_dicom_spark.fixtures.generator import (
            GeneratorConfig,
            generate_change_events,
            write_event_files,
        )

        self.run = run
        base = os.path.join(run.work, name)
        self.staging = os.path.join(base, "staging")
        self.watch = os.path.join(base, "watch")
        os.makedirs(self.watch)
        with run.setup_phase("generate"):
            n = n_files * file_events
            self.n_conversations = max(100, n // 50)
            log = generate_change_events(
                GeneratorConfig(
                    seed=run.seed,
                    n_conversations=self.n_conversations,
                    max_turns=20,
                    n_events=n,
                    duplicate_ratio=0.05,
                    late_ratio=0.10,
                    hot_fraction=0.30,
                    n_hot=3,
                    malformed_ratio=0.01,
                    schema_change_at=n // 2,  # `tool` appears mid-log
                )
            )
            self.paths = write_event_files(log, self.staging, n_files=n_files)
        #: a batch's offset high-watermark names the one file it committed
        self.file_of_hw = {
            int(pd.read_parquet(p, columns=["offset"])["offset"].max()): i
            for i, p in enumerate(self.paths)
        }
        self.cond = threading.Condition()
        #: file index -> monotonic time its batch's on_batch callback ran
        self.committed: dict[int, float] = {}
        #: file index -> start of its apply_changes call (trace run only)
        self.started: dict[int, float] = {}
        self.landed: list[int] = []
        with run.setup_phase("warm_up"):
            self.table, self.pipeline = self._build(base, n_buckets, dead_letter)

    def _build(self, base: str, n_buckets: int, dead_letter: bool):
        from nifi_dicom_spark.operators.apply import create_transcripts_table
        from nifi_dicom_spark.operators.deadletter import create_deadletter
        from nifi_dicom_spark.streaming.pipeline import CDCPipeline

        spark = self.run.spark
        table = create_transcripts_table(
            spark, os.path.join(base, "table"), n_buckets=n_buckets
        )
        rejects = {}
        if dead_letter:
            rejects = {
                "quarantine_dir": os.path.join(base, "quarantine"),
                "dead_letter": create_deadletter(spark, os.path.join(base, "dlq")),
            }
        pipeline = CDCPipeline(
            spark,
            events_dir=self.watch,
            table=table,
            checkpoint_dir=os.path.join(base, "checkpoint"),
            max_files_per_trigger=1,
            on_batch=self._on_batch,
            **rejects,
        )
        return table, pipeline

    def _on_batch(self, _epoch, result) -> None:
        now = time.monotonic()
        hw = max(int(r["high_watermark_offset"]) for r in result.metrics)
        i = self.file_of_hw[hw]
        if self.run.traced:
            self.started[i] = self.run.tracer.named("operators.apply")[-1].start
        with self.cond:
            self.committed[i] = now
            self.cond.notify_all()

    def land(self, i: int) -> float:
        """Move file ``i`` into the watched directory; returns when."""
        src = self.paths[i]
        os.utime(src)  # the file source orders files by modification time
        os.replace(src, os.path.join(self.watch, os.path.basename(src)))
        with self.cond:
            self.landed.append(i)
            self.cond.notify_all()
        return time.monotonic()

    def pending(self) -> bool:
        return any(i not in self.committed for i in self.landed)

    def inputs(self) -> list[str]:
        """The change-log files of every committed file, in order."""
        return [os.path.join(self.watch, os.path.basename(self.paths[i]))
                for i in sorted(self.committed)]

    def events(self) -> pd.DataFrame:
        """The change events of every committed file."""
        return read_events(self.inputs())

    def check(self, run: Run) -> None:
        """Ops: every landed file committed; final state equals the oracle."""
        with run.op("commit_all") as rec:
            missing = [i for i in self.landed if i not in self.committed]
            if missing:
                run.fail(rec, f"files never committed: {missing}")
        check_final_state(run, self.table, self.events())

    def batch_samples(self, run: Run, due: dict[int, float]) -> None:
        """Trace run: wait (due → batch start) and service (batch start →
        on_batch) per file, and query start per run_available call."""
        for i in due.keys() & self.started.keys():
            run.samples["streaming.wait_s"].append(self.started[i] - due[i])
            run.samples["streaming.service_s"].append(
                self.committed[i] - self.started[i]
            )
        for o in run.ops:
            inside = [t for t in self.started.values() if o.start <= t <= o.end]
            if o.kind in ("run_available", "write") and inside:
                run.samples["streaming.query_start_s"].append(min(inside) - o.start)


# ------------------------------------------------------------------- tail


def tail(run: Run) -> Outcome:
    """Live tail, open loop: a lander thread moves change-log files into
    the watched directory on a fixed schedule while the main thread calls
    ``CDCPipeline.run_available()`` whenever a landed file is not yet
    committed. Freshness runs from a file's due time to the ``on_batch``
    callback of the batch that committed it."""
    sz = run.sizes
    n_timed = math.ceil(run.seconds / sz.tail_interval_s)
    live = LiveTable(run, "tail", TAIL_WARM_FILES + n_timed,
                     sz.tail_file_events, sz.tail_buckets)
    with run.setup_phase("warm_up"):
        for i in range(TAIL_WARM_FILES):
            live.land(i)
        live.pipeline.run_available()
    run.start_timed()

    due: dict[int, float] = {}
    late: list[float] = []
    t0 = time.monotonic() + 0.05

    def lander() -> None:
        for k in range(n_timed):
            i = TAIL_WARM_FILES + k
            due[i] = t0 + k * sz.tail_interval_s
            time.sleep(max(0.0, due[i] - time.monotonic()))
            late.append(live.land(i) - due[i])

    thread = threading.Thread(target=lander, name="perfbench-lander")
    thread.start()
    give_up = t0 + run.seconds + 120.0
    try:
        while time.monotonic() < give_up:
            with live.cond:
                while thread.is_alive() and not live.pending():
                    live.cond.wait(0.05)
                if not thread.is_alive() and not live.pending():
                    break
            with run.op("run_available", streaming=True):
                live.pipeline.run_available()
    finally:
        thread.join()

    live.check(run)
    table_state(run, live.table)
    if run.traced:
        live.batch_samples(run, due)
    fresh = [live.committed[i] - due[i] for i in sorted(due) if i in live.committed]
    value, pct, n_samples = stats.tail(fresh)
    for _ in range(TAIL_PROBES):
        run.probe()
    metrics, seconds = end_to_end(run, run.timed("run_available"),
                                  max(live.committed.values()) - t0,
                                  live.table, live.inputs())
    outcome = Outcome(
        metrics,
        detail={
            **seconds,
            "freshness_s_p50": stats.median(fresh),
            "freshness_s_tail": {"value": value, "percentile": pct,
                                 "samples": n_samples},
            "interval_s": sz.tail_interval_s,
            "lander_max_lateness_s": max(late),
            "lander_late_files": sum(x > 0.05 for x in late),
            "ops_s": op_seconds(run),
        },
    )
    if max(late) > TAIL_MAX_LATENESS_S:
        outcome.invalid = (
            f"lander ran {max(late):.3f} s late (bound {TAIL_MAX_LATENESS_S} s)"
        )
    return outcome


# ------------------------------------------------------------------ serve


def serve(run: Run) -> Outcome:
    """One client cycling write → feed drain → point lookups → range scan
    against a table that keeps merge-on-read deltas outstanding. The write
    lands one change-log file and runs the live pipeline over it."""
    from nifi_dicom_spark.sources.table_stream import SnapshotCDFDataSource

    sz, spark = run.sizes, run.spark
    # file 0 is the set-up backfill, one file per cycle follows
    # no dead-letter table: it adds a poison-filter join and a second
    # table's commit to every write, which the run's time does not fit
    # (`tail` keeps it)
    live = LiveTable(run, "serve", 1 + SERVE_CYCLES, sz.serve_file_events,
                     sz.serve_buckets, dead_letter=False)
    table = live.table
    checkpoint = os.path.join(run.work, "serve", "feed-checkpoint")

    def drain() -> int:
        rows = [0]

        def count(df, _batch_id) -> None:
            rows[0] += df.count()

        q = (
            spark.readStream.format("snapshot_cdf")
            .option("path", table.path)
            .option("mode", "upserts")
            .option("startingVersion", 0)
            .load()
            .writeStream.foreachBatch(count)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return rows[0]

    with run.setup_phase("backfill"):
        live.land(0)
        live.pipeline.run_available()
    with run.setup_phase("blooms"):
        table.build_blooms()
    with run.setup_phase("feed"):
        spark.dataSource.register(SnapshotCDFDataSource)
        drain()  # the consumer's checkpoint starts after the backfill
    applied = live.events()
    ts_lo, ts_hi = applied["ts"].min(), applied["ts"].max()
    with run.setup_phase("reads"):
        # one of each read on the warm JVM, so the first timed cycle does
        # not pay for code generation
        table.lookup(["conv-000000"]).collect()
        table.scan("ts", ts_lo.to_pydatetime(), ts_lo.to_pydatetime()).collect()
    run.start_timed()

    rng = np.random.default_rng(run.seed + 1)
    due: dict[int, float] = {}
    for i in range(1, len(live.paths)):
        with run.op("write", streaming=True) as rec:
            due[i] = live.land(i)
            live.pipeline.run_available()
            if i not in live.committed:
                run.fail(rec, f"file {i} was not committed")
        new = read_events([os.path.join(live.watch, os.path.basename(live.paths[i]))])
        applied = pd.concat([applied, new], ignore_index=True)
        winners = lww_winners(applied)

        with run.op("drain", streaming=True) as rec:
            rows = drain()
            want = len(lww_winners(new))  # one delta row per key written
            if rows != want:
                run.fail(rec, f"feed drained {rows} rows, the write had {want}")
        if run.traced:
            run.samples["table_stream.rows"].append(rows)

        # the kinds of key take turns, so every seed gets the same mix:
        # a hot conversation, any conversation, an absent one
        for j in range(SERVE_LOOKUPS):
            first, end = [(0, 3), (0, live.n_conversations),
                          (live.n_conversations, 999_999)][j % 3]
            key = f"conv-{rng.integers(first, end):06d}"
            with run.op("lookup") as rec:
                got = table.lookup([key]).collect()
                want = _lookup_rows(winners[winners["conv_id"] == key])
                have = sorted(
                    (r["turn_idx"], r["op"], r["op_seq"], r["offset"], r["text"])
                    for r in got
                )
                if have != want:
                    run.fail(rec, f"lookup({key}) returned {len(have)} rows, "
                                  f"the oracle has {len(want)}")
            if run.traced:
                _lookup_stats(run, table, key)

        width = (ts_hi - ts_lo) * SERVE_SCAN_FRACTION
        lo = ts_lo + (ts_hi - ts_lo - width) * rng.random()
        lo, hi = lo.to_pydatetime(), (lo + width).to_pydatetime()
        with run.op("scan") as rec:
            n = len(table.scan("ts", lo, hi).collect())
            want = int(((winners["ts"] >= lo) & (winners["ts"] <= hi)).sum())
            if n != want:
                run.fail(rec, f"scan returned {n} rows, the oracle has {want}")
        if run.traced:
            with run.tracer.paused():
                st = table.scan_file_stats("ts", lo, hi)
            run.samples["lake.scan_files_full"].append(st["full"])
            run.samples["lake.scan_files_slim"].append(st["version_only"])
            run.samples["lake.scan_files_skipped"].append(st["skipped"])
        table_state(run, table)

    with run.op("commit_all") as rec:
        if live.pending():
            run.fail(rec, "a landed file was never committed")
    if run.traced:
        live.batch_samples(run, due)
    lookups = run.timed("lookup")
    timed = [o.seconds for o in run.ops if o.kind in SERVE_OPS]
    value, pct, n_samples = stats.tail(lookups)
    metrics, seconds = end_to_end(run, run.timed("write"), sum(timed), table,
                                  live.inputs())
    return Outcome(
        metrics,
        detail={
            **seconds,
            "lookup_s_p50": stats.median(lookups),
            "lookup_s_tail": {"value": value, "percentile": pct,
                              "samples": n_samples},
            "scan_s_p50": stats.median(run.timed("scan")),
            "feed_drain_s_p50": stats.median(run.timed("drain")),
            "ops_s": op_seconds(run),
        },
    )


def _lookup_rows(frame: pd.DataFrame) -> list[tuple]:
    return sorted(
        (int(t), op, int(s), int(o), None if pd.isna(x) else x)
        for t, op, s, o, x in frame[LOOKUP_COLUMNS].itertuples(index=False)
    )


def _lookup_stats(run: Run, table, key: str) -> None:
    with run.tracer.paused():
        st = table.lookup_file_stats([key])
    run.samples["lake.lookup_files_read"].append(st["read"])
    run.samples["lake.lookup_bucket_skipped"].append(st["bucket_skipped"])
    run.samples["lake.lookup_bloom_skipped"].append(st["bloom_skipped"])


WORKLOADS = {"replay": replay, "tail": tail, "serve": serve}
