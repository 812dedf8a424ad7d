"""Property-based tests (hypothesis) for the engine's core correctness
claims. The reference pins behavior with a handful of golden tests
(SURVEY §5); these generalize the two load-bearing invariants:

1. **Delivery-order invariance** — the LWW total order (op_seq, offset) makes
   the final state a pure function of the event SET, not the delivery order.
2. **Batch-split invariance** — any partition of the log into epochs applied
   sequentially equals the single-batch apply (cross-batch LWW-max is
   associative), which is what makes crash/replay/rebatching safe.

The heavy search runs against the pure-pandas oracle (fast); Spark replay is
spot-checked on a bounded number of generated cases.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st

from nifi_dicom_spark.fixtures.generator import GeneratorConfig, generate_change_events
from nifi_dicom_spark.fixtures.oracle import assert_final_state_equal, replay_oracle


def _log(seed: int, n: int, malformed: float = 0.05) -> pd.DataFrame:
    return generate_change_events(
        GeneratorConfig(
            seed=seed,
            n_conversations=6,
            max_turns=4,
            n_events=n,
            duplicate_ratio=0.15,
            late_ratio=0.25,
            malformed_ratio=malformed,
            schema_change_at=n // 3,
        )
    )


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 10_000), perm_seed=st.integers(0, 10_000))
def test_oracle_delivery_order_invariance(seed: int, perm_seed: int):
    log = _log(seed, 300)
    rng = np.random.default_rng(perm_seed)
    shuffled = log.iloc[rng.permutation(len(log))].reset_index(drop=True)
    a = replay_oracle(log).reset_index(drop=True)
    b = replay_oracle(shuffled).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    seed=st.integers(0, 10_000),
    frac=st.floats(0.0, 1.0),
    perm_seed=st.integers(0, 10_000),
)
def test_oracle_redelivery_invariance(seed: int, frac: float, perm_seed: int):
    """At-least-once delivery: re-appending any random subset of already-
    delivered events (then shuffling) leaves the final state unchanged —
    duplicates carry identical (op_seq, offset) and lose every LWW tie."""
    log = _log(seed, 300)
    dups = log.sample(frac=frac, random_state=perm_seed)
    redelivered = pd.concat([log, dups], ignore_index=True)
    rng = np.random.default_rng(perm_seed)
    redelivered = redelivered.iloc[rng.permutation(len(redelivered))]
    a = replay_oracle(log).reset_index(drop=True)
    b = replay_oracle(redelivered).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


@settings(max_examples=60, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    h=st.integers(1, 40),
    w=st.integers(1, 40),
)
def test_bmp_roundtrip_property(seed: int, h: int, w: int):
    """encode∘decode is exact identity for ANY rgb8 image, including widths
    that exercise every 4-byte row-padding remainder."""
    from nifi_dicom_spark.functions.codecs import decode_bmp, encode_bmp

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert (decode_bmp(encode_bmp(img)) == img).all()


@settings(max_examples=60, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    h=st.integers(1, 32),
    w=st.integers(1, 32),
)
def test_png_roundtrip_property(seed: int, h: int, w: int):
    """encode∘decode is exact identity for ANY rgb8 image (zlib is
    lossless; filter-0 scanlines reverse trivially)."""
    from nifi_dicom_spark.functions.codecs import decode_png, encode_png, is_png

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    payload = encode_png(img)
    assert is_png(payload)
    assert (decode_png(payload) == img).all()


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    h=st.integers(2, 24),
    w=st.integers(2, 24),
    filt=st.integers(0, 4),
)
def test_png_decode_reverses_every_filter(seed: int, h: int, w: int, filt: int):
    """Hand-filter scanlines with each of the five PNG filters (forward
    transform implemented independently here, per spec §9) and assert the
    decoder's unfiltering recovers the original image exactly."""
    import struct
    import zlib

    from nifi_dicom_spark.functions.codecs import _paeth, _png_chunk, decode_png

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    flat = img.reshape(h, w * 3).astype(np.int32)
    bpp, stride = 3, w * 3
    out = bytearray()
    for y in range(h):
        row, prior = flat[y], (flat[y - 1] if y else np.zeros(stride, np.int32))
        f = np.zeros(stride, np.int32)
        for x in range(stride):
            a = row[x - bpp] if x >= bpp else 0
            b = prior[x]
            c = prior[x - bpp] if x >= bpp else 0
            pred = {
                0: 0,
                1: a,
                2: b,
                3: (a + b) >> 1,
                4: _paeth(int(a), int(b), int(c)),
            }[filt]
            f[x] = (row[x] - pred) & 0xFF
        out.append(filt)
        out.extend(f.astype(np.uint8).tobytes())
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    payload = (
        sig
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )
    assert (decode_png(payload) == img).all()


def test_png_color_types_and_unsupported_variants():
    """Gray/palette/gray-alpha/RGBA decode to the expected RGB expansion;
    16-bit and interlaced PNGs raise (→ stub fallback in multimodal)."""
    import struct
    import zlib

    import pytest

    from nifi_dicom_spark.functions.codecs import _png_chunk, decode_png

    sig = b"\x89PNG\r\n\x1a\n"

    def build(w, h, depth, color, raw, extra=b""):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
        return (
            sig
            + _png_chunk(b"IHDR", ihdr)
            + extra
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b"")
        )

    # gray 2x2 → replicated channels
    g = build(2, 2, 8, 0, bytes([0, 10, 20, 0, 30, 40]))
    assert decode_png(g).tolist() == [
        [[10] * 3, [20] * 3], [[30] * 3, [40] * 3]
    ]
    # palette 2x1
    plte = _png_chunk(b"PLTE", bytes([255, 0, 0, 0, 0, 255]))
    p = build(2, 1, 8, 3, bytes([0, 0, 1]), extra=plte)
    assert decode_png(p).tolist() == [[[255, 0, 0], [0, 0, 255]]]
    # RGBA 1x1 → alpha dropped
    a = build(1, 1, 8, 6, bytes([0, 9, 8, 7, 128]))
    assert decode_png(a).tolist() == [[[9, 8, 7]]]
    # gray+alpha 1x1
    ga = build(1, 1, 8, 4, bytes([0, 55, 200]))
    assert decode_png(ga).tolist() == [[[55, 55, 55]]]
    # 16-bit depth and interlaced: declared unsupported
    with pytest.raises(ValueError, match="unsupported PNG"):
        decode_png(build(1, 1, 16, 0, bytes([0, 0, 1])))
    ihdr_i = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 1)
    bad = sig + _png_chunk(b"IHDR", ihdr_i) + _png_chunk(
        b"IDAT", zlib.compress(bytes([0, 1]))
    ) + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="unsupported PNG"):
        decode_png(bad)


def test_spark_replay_split_invariance_spot_checks(spark, tmp_path):
    """Spark end-to-end: for a few generated logs, applying the log in k
    random epochs equals the oracle (cross-batch LWW-max associativity on
    the real merge path)."""
    from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA
    from nifi_dicom_spark.operators.apply import (
        apply_changes,
        create_transcripts_table,
        read_final_state,
    )

    for case, (seed, k) in enumerate([(101, 3), (202, 1), (303, 5)]):
        log = _log(seed, 600)
        rng = np.random.default_rng(seed)
        table = create_transcripts_table(
            spark, str(tmp_path / f"t{case}"), n_buckets=8
        )
        chunks = np.array_split(rng.permutation(len(log)), k)
        for epoch, idx in enumerate(chunks):
            batch = spark.createDataFrame(
                log.iloc[np.sort(idx)], schema=CHANGE_EVENTS_SCHEMA
            )
            apply_changes(table, batch, epoch=epoch)
        assert_final_state_equal(
            read_final_state(table).toPandas(), replay_oracle(log)
        )


def _lww_files(seed: int, n: int, n_files: int) -> tuple[list, int]:
    """A random change log over a (string, int) key, split into parquet
    tables of two schema eras, and the index of the first new-era file.
    Old-era files call the payload column ``note`` (renamed to ``text``
    later), store ``n`` as int32 and lack ``tool``; new-era files say
    ``text``, store ``n`` as int64 and carry ``tool``. ``op_seq`` ties are
    common; ``offset`` is unique per event, so equal (key, op_seq, offset)
    only comes from duplicate delivery, which repeats the event verbatim
    in another file (an event with a copy in an old-era file has a null
    ``tool``, which that file reads as null too). Tombstones and null
    payload cells are common."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    new_era = int(rng.integers(0, n_files + 1))
    per_file = [[] for _ in range(n_files)]
    for off in range(n):
        homes = [int(rng.integers(0, n_files))]
        if rng.random() < 0.2:  # duplicate delivery, verbatim
            homes.append(int(rng.integers(0, n_files)))
        op = ["insert", "update", "delete"][int(rng.integers(0, 3))]
        dead = op == "delete" and rng.random() < 0.5  # payload-free tombstone
        no_tool = dead or min(homes) < new_era or rng.random() < 0.5
        ev = {
            "conv_id": f"c{int(rng.integers(0, 3))}",
            "turn_idx": int(rng.integers(0, 3)),
            "op": op,
            "op_seq": int(rng.integers(0, 4)),
            "offset": off,
            "text": None if dead or rng.random() < 0.2 else f"t{off}",
            "n": None if dead or rng.random() < 0.2 else int(rng.integers(-9, 9)),
            "tool": None if no_tool else f"x{off}",
        }
        for i in homes:
            per_file[i].append(ev)
    tables = []
    for i, rows in enumerate(per_file):
        old = i < new_era
        cols = {
            "conv_id": pa.array([r["conv_id"] for r in rows], pa.string()),
            "turn_idx": pa.array([r["turn_idx"] for r in rows], pa.int32()),
            "op": pa.array([r["op"] for r in rows], pa.string()),
            "op_seq": pa.array([r["op_seq"] for r in rows], pa.int64()),
            "offset": pa.array([r["offset"] for r in rows], pa.int64()),
            "note" if old else "text": pa.array(
                [r["text"] for r in rows], pa.string()
            ),
            "n": pa.array(
                [r["n"] for r in rows], pa.int32() if old else pa.int64()
            ),
        }
        if not old:
            cols["tool"] = pa.array([r["tool"] for r in rows], pa.string())
        tables.append(pa.table(cols))
    return tables, new_era


@seed(20241017)
@settings(max_examples=12, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    n=st.integers(1, 60),
    n_files=st.integers(1, 4),
)
def test_arrow_lww_kernel_matches_lww_dedup(spark, seed: int, n: int, n_files: int):
    """The Arrow LWW kernel that serves small lookups and scans and the
    change-feed worker (``arrow_conform`` + ``arrow_lww``) returns exactly
    the rows of the Spark path (``_load_files`` + ``lww_dedup``) on random
    mixed-era logs: ``op_seq`` ties, duplicate deliveries, tombstones,
    null payload cells, a renamed column, an int32/int64 widening and a
    later-added column. Both sides read the same parquet files through the
    table's own readers. Budget: about 15 s for the 12 examples (one
    Spark job each) on a 4-core host; ``jobs/stress_properties.py`` runs
    thousands."""
    import tempfile

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable
    from nifi_dicom_spark.operators.dedup import arrow_lww, lww_dedup

    tables, _ = _lww_files(seed, n, n_files)
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("op", T.StringType()),
            T.StructField("op_seq", T.LongType()),
            T.StructField("offset", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("tool", T.StringType()),
        ]
    )
    m = {"props": {"renamed_columns": {"text": ["note"]}}}
    keys = ["conv_id", "turn_idx"]
    with tempfile.TemporaryDirectory() as root:
        table = SnapshotTable(spark, root)
        os.makedirs(table.data_dir)
        rels = [f"f{i}.parquet" for i in range(len(tables))]
        for rel, t in zip(rels, tables):
            pq.write_table(t, os.path.join(table.data_dir, rel))
        paths = [os.path.join(table.data_dir, rel) for rel in rels]
        want = lww_dedup(table._load_files(m, schema, paths), keys).collect()
        got = arrow_lww(table._arrow_files(m, schema, rels), keys).to_pylist()

    def rows(records):
        return sorted(
            (tuple(r[c] for c in schema.fieldNames()) for r in records),
            key=lambda t: tuple(str(x) for x in t),
        )

    assert rows(got) == rows(r.asDict() for r in want)


@seed(20261018)
@settings(max_examples=12, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    n=st.integers(1, 60),
    n_epochs=st.integers(1, 4),
    layout=st.sampled_from(["keys", "keys_split", "by_n"]),
)
def test_driver_compaction_matches_spark_compaction(
    spark, seed: int, n: int, n_epochs: int, layout: str
):
    """``compact()`` folded on the driver (Arrow LWW kernel, pyarrow
    writer) and on Spark (``read`` + ``_write_bucket_files``, forced by a
    byte cap of 0) leave the same table: identical ``read()`` rows,
    identical bucket sets, identical per-file ``file_stats`` in every
    bucket, and the same sequence of sort-column values through each
    bucket's files. The table is built by ``merge`` from the random mixed-era logs
    of :func:`_lww_files` (``op_seq`` ties, verbatim duplicate deliveries,
    tombstones, null cells), one epoch per file: ``note`` is renamed to
    ``text`` at the era boundary, where ``n`` widens from int32 to int64
    and ``tool`` is added. ``layout`` is the declared clustering: none,
    the key sorted and split into 3-row files, or a sort by ``n`` (ties
    and nulls). Budget: about 60 s for the 12 examples on a 4-core host;
    ``jobs/stress_properties.py`` runs more."""
    import shutil
    import tempfile

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from nifi_dicom_spark.lake import snapshot_table
    from nifi_dicom_spark.lake.snapshot_table import SnapshotTable

    tables, new_era = _lww_files(seed, n, n_epochs)
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("op", T.StringType()),
            T.StructField("op_seq", T.LongType()),
            T.StructField("offset", T.LongType()),
            T.StructField("note", T.StringType()),
            T.StructField("n", T.IntegerType()),
        ]
    )
    with tempfile.TemporaryDirectory() as root:
        table = SnapshotTable.create(
            spark,
            os.path.join(root, "a"),
            schema,
            key_cols=["conv_id", "turn_idx"],
            n_buckets=2,  # so that buckets hold several conversations
            props={"stats_cols": ["turn_idx", "op_seq", "offset", "n"]},
        )
        if layout == "keys_split":
            table.set_clustering(
                sort_by=["conv_id", "turn_idx"], max_records_per_file=3
            )
        elif layout == "by_n":
            table.set_clustering(sort_by=["n"])
        for epoch, t in enumerate(tables):
            if epoch == new_era:
                table.rename_column("note", "text")
            if not t.num_rows:
                continue
            src = os.path.join(root, f"epoch{epoch}.parquet")
            pq.write_table(t, src)
            table.merge(
                spark.read.parquet(src),
                policy="versioned_upsert",
                commit_keys=[(epoch, 0)],
            )
        if new_era == len(tables):
            table.rename_column("note", "text")
        shutil.copytree(table.path, os.path.join(root, "b"))
        other = SnapshotTable.load(spark, os.path.join(root, "b"))

        table.compact()  # the driver fold: every test table fits the cap
        saved = snapshot_table.DRIVER_READ_MAX_BYTES
        snapshot_table.DRIVER_READ_MAX_BYTES = 0
        try:
            other.compact()
        finally:
            snapshot_table.DRIVER_READ_MAX_BYTES = saved

        def rows(t):
            return sorted(
                (tuple(r) for r in t.read().collect()),
                key=lambda row: tuple(str(x) for x in row),
            )

        def stats_by_bucket(m):
            return {
                b: [m["file_stats"].get(rel) for rel in rels]
                for b, rels in m["files"].items()
            }

        sort_cols = ["n"] if layout == "by_n" else ["conv_id", "turn_idx"]

        def sorted_values(t, m):
            return {
                b: [
                    tuple(r.values())
                    for rel in rels
                    for r in pq.read_table(
                        os.path.join(t.data_dir, rel), columns=sort_cols
                    ).to_pylist()
                ]
                for b, rels in m["files"].items()
            }

        got, want = table.manifest(), other.manifest()
        assert rows(table) == rows(other)
        assert not got["delta_files"] and not want["delta_files"]
        assert set(got["files"]) == set(want["files"])
        assert stats_by_bucket(got) == stats_by_bucket(want)
        assert sorted_values(table, got) == sorted_values(other, want)


@settings(
    max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
@given(
    seed=st.integers(0, 2**31 - 1),
    bits=st.integers(2, 10),
    n_cols=st.integers(2, 3),
)
def test_zvalue_matches_python_morton_reference(spark, seed, bits, n_cols):
    """The built-in-expression Morton interleave is bit-exact against a
    Python reference over random values spanning negatives, zeros and a
    wide magnitude range (one Spark job per example, 200 rows each)."""
    from nifi_dicom_spark.lake.zorder import zvalue_column

    rng = np.random.default_rng(seed)
    n = 200
    cols = [f"c{i}" for i in range(n_cols)]
    data = {c: rng.integers(-(2**40), 2**40, size=n) for c in cols}
    pdf = pd.DataFrame(data)
    df = spark.createDataFrame(pdf)
    got = (
        zvalue_column(df, cols, bits=bits)
        .toPandas()
        .sort_values(cols)
        .reset_index(drop=True)
    )

    # reference: equi-width bins over [lo, hi] then MSB-first interleave
    nbins = 1 << bits
    bins = {}
    for c in cols:
        lo, hi = float(pdf[c].min()), float(pdf[c].max())
        if lo == hi:
            bins[c] = np.zeros(n, dtype=np.int64)
            continue
        # width_bucket(v, lo, hi, nbins): 1..nbins inside, nbins+1 at max
        wb = np.floor((pdf[c].to_numpy(float) - lo) / (hi - lo) * nbins) + 1
        bins[c] = np.clip(wb - 1, 0, nbins - 1).astype(np.int64)

    def morton(row_idx):
        z = 0
        for b in range(bits - 1, -1, -1):
            for c in cols:
                z = (z << 1) | ((int(bins[c][row_idx]) >> b) & 1)
        return z

    ref = pdf.copy()
    ref["_zorder"] = [morton(i) for i in range(n)]
    ref = ref.sort_values(cols).reset_index(drop=True)
    mismatch = (got["_zorder"] != ref["_zorder"]).sum()
    # float rounding at exact bin edges may flip a bin by one — allow a
    # tiny tolerance on edge collisions, none elsewhere
    assert mismatch <= n // 50, f"{mismatch} z-value mismatches"


def _strategy_domain(strategy):
    """A ``@given`` strategy in the stress job's domain notation: an
    inclusive ``("int", lo, hi)`` for ``st.integers(lo, hi)``, a list for
    ``st.sampled_from``, and ``repr()`` for anything else."""
    s = getattr(strategy, "wrapped_strategy", strategy)
    if hasattr(s, "start") and hasattr(s, "end"):
        return ("int", s.start, s.end)
    if hasattr(s, "elements"):
        return list(s.elements)
    return repr(strategy)


def test_stress_job_domains_name_live_properties():
    """jobs/stress_properties.py replays this module's properties by name
    with its own copy of their parameter domains. A stale entry only fails
    a soak run, after it has drawn its tasks, and a drifted range draws
    cases the gate never does, so check the table here: every domain must
    equal its property's ``@given`` strategies."""
    import importlib.util

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs",
        "stress_properties.py",
    )
    spec = importlib.util.spec_from_file_location("stress_properties", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    for name, domain in {**job.DOMAINS, **job.SPARK_DOMAINS}.items():
        fn = globals().get(name)
        assert hasattr(fn, "hypothesis"), f"{name} is not a property in this module"
        given = {
            k: _strategy_domain(v) for k, v in fn.hypothesis._given_kwargs.items()
        }
        assert domain == given, name
