"""Operator-level tests for the SURVEY §2 library beyond the CDC core."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nifi_dicom_spark.fixtures.generator import GeneratorConfig, generate_change_events
from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA
from nifi_dicom_spark.operators.dedup import lww_dedup, lww_dedup_window
from nifi_dicom_spark.operators.match import parse_datetime_range, wildcard_to_like


# --- dedup variants agree (incl. hot-key skew) -------------------------------


def test_dedup_variants_agree_under_skew(spark):
    cfg = GeneratorConfig(seed=3, n_events=3000, hot_fraction=0.4, n_hot=2, duplicate_ratio=0.1)
    pdf = generate_change_events(cfg)
    df = spark.createDataFrame(pdf, schema=CHANGE_EVENTS_SCHEMA)
    keys = ["conv_id", "turn_idx"]
    a = lww_dedup(df, keys).orderBy(*keys).toPandas()
    b = lww_dedup_window(df, keys).orderBy(*keys).select(list(a.columns)).toPandas()
    pd.testing.assert_frame_equal(a, b)


# --- keymap: cardinality never grows on replay (the "6 not 12" contract) ----


def test_keymap_idempotent_allocation(spark, tmp_path):
    from nifi_dicom_spark.operators.keymap import create_keymap, lookup_or_create, remap_column

    km = create_keymap(spark, str(tmp_path / "km"))
    keys = spark.createDataFrame([(f"uid-{i}",) for i in range(20)], ["k"])
    m1 = lookup_or_create(km, keys, "k")
    assert m1.count() == 20
    # replay the same keys + 5 new ones
    keys2 = spark.createDataFrame([(f"uid-{i}",) for i in range(25)], ["k"])
    m2 = lookup_or_create(km, keys2, "k")
    assert m2.count() == 25
    assert km.read().count() == 25  # not 45: insert-if-absent
    # mapping is deterministic → stable across replays
    a = {r["original"]: r["replaced"] for r in m1.collect()}
    b = {r["original"]: r["replaced"] for r in m2.collect()}
    assert all(b[k] == v for k, v in a.items())

    df = spark.createDataFrame([("uid-3", 1), ("unknown", 2)], ["k", "v"])
    out = remap_column(df, km.read(), "k").collect()
    got = {r["v"]: r["k"] for r in out}
    assert got[1] == a["uid-3"] and got[2] == "unknown"


def test_lookup_or_create_prunes_to_touched_buckets(spark, tmp_path):
    """The read-back after allocation scans only the bucket files of the
    requested keys, not the whole map table."""
    from nifi_dicom_spark.lake.snapshot_table import _bucket_expr
    from nifi_dicom_spark.operators.keymap import create_keymap, lookup_or_create

    km = create_keymap(spark, str(tmp_path / "km"), n_buckets=8)
    # seed the table with many keys across all buckets
    seed = spark.createDataFrame([(f"uid-{i}",) for i in range(200)], ["k"])
    lookup_or_create(km, seed, "k")
    assert len(set(km.read().inputFiles())) == 8  # one file per bucket

    # now look up TWO keys — the pruned read must touch ≤2 bucket files
    two = spark.createDataFrame([("uid-0",), ("uid-1",)], ["k"])
    out = lookup_or_create(km, two, "k")
    assert out.count() == 2
    all_files = set(km.read().inputFiles())  # post-merge snapshot
    buckets = {
        r["b"]
        for r in two.select(_bucket_expr("k", 8).alias("b")).distinct().collect()
    }
    pruned = set(km.read(buckets=sorted(buckets)).inputFiles())
    assert pruned < all_files and len(pruned) == len(buckets)


# --- match predicates --------------------------------------------------------


def test_wildcard_translation():
    assert wildcard_to_like("src1?") == "src1_"
    assert wildcard_to_like("a*b") == "a%b"
    assert wildcard_to_like("100%") == "100\\%"
    assert wildcard_to_like("a_b") == "a\\_b"


def test_datetime_range_parse():
    assert parse_datetime_range("2024-01-05..2024-01-12") == (
        "2024-01-05 00:00:00",
        "2024-01-12 23:59:59.999999",
    )
    lo, hi = parse_datetime_range("2024-01-05-")
    assert lo == "2024-01-05 00:00:00" and hi.startswith("2099")
    lo, hi = parse_datetime_range("-2024-01-05")
    assert lo.startswith("1900") and hi == "2024-01-05 23:59:59.999999"
    lo, hi = parse_datetime_range("2024-01-05")
    assert lo == "2024-01-05 00:00:00" and hi == "2024-01-05 23:59:59.999999"


# --- similarity: LSH recall vs brute force -----------------------------------


def test_lsh_recall_vs_brute_force(spark):
    """Planted-neighbor corpus: every query has 3 true near neighbors
    (high-cosine perturbations); LSH must recover ≥0.8 of the exact top-3.
    (The old uniform-random corpus test was toothless — near-orthogonal
    vectors have no neighbors an LSH is supposed to find.)"""
    import numpy as np

    from nifi_dicom_spark.functions.similarity import brute_force_topk, lsh_bucket_topk

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    for _ in range(20):  # 20 clusters: base + 3 planted neighbors + noise
        base = rng.normal(size=64)
        base /= np.linalg.norm(base)
        for _j in range(4):
            v = base + rng.normal(scale=0.08, size=64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(80):  # background noise vectors
        v = rng.normal(size=64)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") % 4 == 0).filter(F.col("vec_id") < 40)
    exact = brute_force_topk(emb, queries, k=3).collect()
    approx = lsh_bucket_topk(
        emb, queries, dim=64, k=3, n_planes=6, n_tables=8
    ).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"LSH recall too low: {recall}"
    exact_sims = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact}
    for r in approx:
        k = (r["query_id"], r["neighbor_id"])
        if k in exact_sims:
            assert abs(exact_sims[k] - r["cos_sim"]) < 1e-9


# --- text dedup: minhash finds planted near-dups ------------------------------


def test_minhash_finds_planted_near_dups(spark):
    from nifi_dicom_spark.functions.dedup_text import near_dup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again in the park"
    rows = [(1, base), (2, base + " today"), (3, "completely different words entirely unrelated content here"), (4, base.replace("quick", "slow"))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = near_dup_pairs(df, "text", "doc_id", threshold=0.4, k=8, bands=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_minhash_methods_agree(spark):
    """The md5 (oracle-reproducible) and xxhash64 (JVM hot path) methods are
    different hash families over the SAME banded-LSH plan; on a planted-dup
    corpus both must verify the same high-Jaccard pairs."""
    from nifi_dicom_spark.functions.dedup_text import near_dup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again in the park"
    rows = [
        (1, base),
        (2, base + " today"),
        (3, "completely different words entirely unrelated content here"),
        (4, base.replace("quick", "slow")),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for method in ("xxhash64", "md5"):
        got = {
            (r["id_a"], r["id_b"])
            for r in near_dup_pairs(
                df, "text", "doc_id", threshold=0.4, k=8, bands=8, method=method
            ).collect()
        }
        assert (1, 2) in got, method
        assert all(3 not in p for p in got), method


def test_simhash_near_dup_planted_recall(spark):
    """The banded hamming join recovers planted near-duplicates (docs
    differing by one token of many) and never pairs unrelated docs."""
    from nifi_dicom_spark.functions.dedup_text import simhash_near_dup

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu "
        "xi omicron pi rho sigma tau upsilon phi chi psi omega one two three"
    )
    rows = [(1, base)]
    # 5 planted near-dups: one token replaced in each
    toks = base.split()
    for i in range(5):
        t = list(toks)
        t[3 + i] = f"changed{i}"
        rows.append((2 + i, " ".join(t)))
    # unrelated docs
    rows += [
        (100, "astrophysics conference keynote about galactic rotation curves"),
        (101, "cooking recipes for winter stews and hearty soups tonight"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = simhash_near_dup(df, "text", "doc_id", max_hamming=14, n_bands=15)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    planted = {(1, 2 + i) for i in range(5)}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.8, f"planted recall too low: {recall} ({got})"
    assert all(100 not in p and 101 not in p for p in got)


def test_simhash_signatures_match_hof_variant(spark):
    """The codegen-aggregation fast path produces bit-identical signatures
    to the original higher-order-function formulation."""
    from nifi_dicom_spark.functions.dedup_text import simhash64, simhash_signatures

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    old = docs.select(F.col("doc_id").alias("id"), simhash64("text").alias("s"))
    new = simhash_signatures(docs, "text", "doc_id")
    j = old.join(new, on="id")
    assert j.filter(F.col("s") != F.col("simhash")).count() == 0


def test_person_match_survives_reserved_column_names(spark):
    """Regression: records carrying columns named key/target/mode must not
    collide with the join plumbing's internal columns."""
    from nifi_dicom_spark.operators.person_match import (
        add_search_columns,
        person_name_match,
    )

    recs = add_search_columns(
        spark.createDataFrame(
            [(1, "Doe^Jane", "k1", "t1", "m1")],
            ["pid", "name", "key", "target", "mode"],
        ),
        "name",
    )
    probes = spark.createDataFrame([("doe^jane",)], ["probe"])
    out = person_name_match(recs, probes).collect()
    assert any(r["match_mode"] == "canonical" and r["key"] == "k1" for r in out)


def test_winnowing_oracle_agrees_on_short_docs(spark):
    """Regression: docs with <k tokens (empty fingerprint set) must produce
    identical rows from the Spark query and the DuckDB oracle ('' vs NULL)."""
    import tempfile

    import duckdb

    import __spark_entry__ as E

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["", "one two", "a b c d e f g h i j", None],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [0, 7, 20, 0],
        }
    )
    d = tempfile.mkdtemp()
    pdf.to_parquet(f"{d}/documents.parquet", index=False)
    got = (
        E.q_winnowing(spark, d)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    want = (
        con.execute(E.oracle_sql()["winnowing"]).df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"doc_id": "int64", "n_fingerprints": "int64"}),
        want.astype({"doc_id": "int64", "n_fingerprints": "int64"}),
    )


def test_winnowing_guarantee(spark):
    """Winnowing's contract: two documents sharing a run of ≥ w+k-1 = 6
    words MUST share at least one fingerprint; disjoint texts share none."""
    from nifi_dicom_spark.functions.dedup_text import winnow_fingerprints

    shared = "one two three four five six"  # exactly w+k-1 words
    rows = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"zeta eta theta {shared}"),
        (3, "completely different words with no overlap at all here"),
        (4, "ab"),  # shorter than k → no fingerprints
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {
        r["doc_id"]: set(r["f"])
        for r in df.select(
            "doc_id", winnow_fingerprints("text").alias("f")
        ).collect()
    }
    assert fps[1] & fps[2], "shared 6-word run must yield a shared fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert fps[4] == set()


def test_simhash_close_for_near_dups(spark):
    from nifi_dicom_spark.functions.dedup_text import hamming64, simhash64

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),
        (3, "astrophysics conference keynote about galactic rotation curves"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = df.select("doc_id", simhash64("text").alias("s"))
    a = sigs.alias("a")
    b = sigs.alias("b")
    d = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("ia"),
            F.col("b.doc_id").alias("ib"),
            hamming64(F.col("a.s"), F.col("b.s")).alias("ham"),
        )
        .collect()
    )
    dist = {(r["ia"], r["ib"]): r["ham"] for r in d}
    assert dist[(1, 2)] < dist[(1, 3)]
    assert dist[(1, 2)] < dist[(2, 3)]


def test_accession_remap_and_sanitize(spark):
    """F3: decimal-digit accession remap is deterministic and length-capped;
    F6: filename sanitize replaces everything outside [a-zA-Z0-9.^]."""
    from nifi_dicom_spark.operators.deidentify import (
        remap_accession,
        sanitize_filename,
    )

    df = spark.createDataFrame(
        [("p1", "Doe^Jane", "ACC-001"), ("p2", "Roe^Jon", "ACC-002")],
        ["pid", "name", "acc"],
    )
    out = df.select(
        "pid",
        remap_accession("pid", "name", "acc").alias("r"),
        sanitize_filename(F.lit("a b/c:d.e^f")).alias("s"),
    ).collect()
    rows = {r["pid"]: r for r in out}
    assert all(r["r"].isdigit() and 1 <= len(r["r"]) <= 16 for r in out)
    assert rows["p1"]["r"] != rows["p2"]["r"]
    assert rows["p1"]["s"] == "a_b_c_d.e^f"
    # deterministic across invocations (replay idempotency, F3/F5 contract)
    again = {r["pid"]: r["r"] for r in df.select(
        "pid", remap_accession("pid", "name", "acc").alias("r")).collect()}
    assert again == {p: r["r"] for p, r in rows.items()}


def test_session_stats_spans(spark):
    """Per-session counts and spans (the A6 study-completeness bookkeeping)."""
    from nifi_dicom_spark.operators.sessionize import session_stats

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),
            (1, "2024-01-01 02:00:00"),  # gap > 30 min → new session
            (2, "2024-01-01 01:00:00"),
        ],
        ["user_id", "ts_s"],
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    out = {
        (r["user_id"], r["session_id"]): r
        for r in session_stats(df, ["user_id"], "ts", gap_seconds=1800).collect()
    }
    assert out[(1, 0)]["n_events"] == 2
    assert out[(1, 1)]["n_events"] == 1
    assert out[(2, 0)]["n_events"] == 1
    assert out[(1, 0)]["session_start"] < out[(1, 0)]["session_end"]


def test_minhash_signature_column(spark):
    """K independent minhashes; near-identical docs share most positions."""
    from nifi_dicom_spark.functions.dedup_text import minhash_signature

    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "entirely different content words")],
        ["doc_id", "text"],
    )
    sigs = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", minhash_signature("text", k=8).alias("s")
        ).collect()
    }
    assert all(len(s) == 8 for s in sigs.values())
    agree_near = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    agree_far = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert agree_near > agree_far


# --- multimodal plumbing ------------------------------------------------------


def test_multimodal_feature_extraction(spark):
    from nifi_dicom_spark.functions.multimodal import MEDIA_SCHEMA, extract_features

    rows = [
        (1, "image", b"fake-image-bytes", (64, 48, None, None, "image/fake")),
        (2, "audio", b"fake-audio-bytes", (None, None, 16000, None, "audio/fake")),
        (3, "video", b"fake-video-bytes", (None, None, None, 25, "video/fake")),
        (4, "image", None, (0, 0, None, None, "image/fake")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_features(media, dim=16).collect()
    assert len(feats) == 4
    by_id = {r["media_id"]: r for r in feats}
    assert len(by_id[1]["feature"]) == 16
    assert by_id[1]["n_bytes"] == len(b"fake-image-bytes")
    # deterministic: same payload → same feature
    feats2 = extract_features(media, dim=16).collect()
    assert {r["media_id"]: r["feature"] for r in feats2} == {
        r["media_id"]: r["feature"] for r in feats
    }


def test_codecs_wav_bmp_roundtrip():
    """Pure-numpy BMP codec: encode∘decode is identity."""
    import numpy as np

    from nifi_dicom_spark.functions import codecs

    img = np.zeros((20, 30, 3), dtype=np.uint8)
    img[:10] = [255, 0, 0]  # top half red, bottom half black
    bmp = codecs.encode_bmp(img)
    assert codecs.is_bmp(bmp)
    back_img = codecs.decode_bmp(bmp)
    assert back_img.shape == (20, 30, 3)
    assert (back_img == img).all()


def test_multimodal_real_decode_features(spark):
    """BMP payloads flow through the SAME mapInPandas plumbing but get REAL
    decoded features; audio (a PCM WAV here) and unknown formats keep the
    deterministic stub."""
    import struct

    import numpy as np

    from nifi_dicom_spark.functions import codecs
    from nifi_dicom_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        _fake_decode_feature,
        extract_features,
    )

    t = np.arange(4000) / 8000.0
    pcm = np.round(0.8 * 32767 * np.sin(2 * np.pi * 220 * t)).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    img = np.full((16, 16, 3), 200, dtype=np.uint8)
    img[:8] = 0  # top half black → first feature bands ≈ 0
    bmp = codecs.encode_bmp(img)
    rows = [
        (1, "audio", wav, (None, None, 8000, None, "audio/wav")),
        (2, "image", bmp, (16, 16, None, None, "image/bmp")),
        (3, "image", b"not-an-image", (1, 1, None, None, "application/x-fake")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in extract_features(media, dim=4).collect()}
    feats = {i: r["feature"] for i, r in out.items()}
    assert feats[1] == _fake_decode_feature(wav, 4).tolist()  # stub path
    assert out[1]["width"] is None and out[1]["height"] is None
    assert feats[2][0] < 0.01 and feats[2][-1] > 0.7  # real band means
    assert len(feats[3]) == 4  # stub path still produces the schema


def test_unsupported_codec_variants_fall_back_to_stub(spark):
    """An interlaced PNG (or any unsupported container variant) must not
    crash the job — it takes the stub path like other undecodable formats."""
    import struct
    import zlib

    from nifi_dicom_spark.functions.codecs import _png_chunk, is_png
    from nifi_dicom_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        _fake_decode_feature,
        extract_features,
    )

    # 8-bit gray, interlace method 1 (Adam7) — magic passes, decode can't
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(8)))
        + _png_chunk(b"IEND", b"")
    )
    assert is_png(payload)
    media = spark.createDataFrame(
        [(1, "image", payload, (2, 2, None, None, "image/png"))], MEDIA_SCHEMA
    )
    (out,) = extract_features(media, dim=4).collect()
    assert out["feature"] == _fake_decode_feature(payload, 4).tolist()
    assert out["width"] is None and out["height"] is None


def test_md5_minhash_rejects_oversized_k(spark):
    import pytest

    from nifi_dicom_spark.functions.dedup_text import near_dup_pairs

    df = spark.createDataFrame([(1, "a b c d e f g")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="k <= 8|at most 8"):
        near_dup_pairs(df, "text", "doc_id", k=16, bands=8, method="md5")


def test_lsh_banding_rejects_bad_band_geometry(spark):
    """bands > k (rows_per_band = 0) would hash ZERO minhashes per band —
    one global bucket, silent total recall loss; non-divisible k silently
    ignores paid-for minhashes. Both must raise, for both hash methods."""
    import pytest

    from nifi_dicom_spark.functions.dedup_text import lsh_bands, near_dup_pairs

    df = spark.createDataFrame([(1, "a b c d e f g")], ["doc_id", "text"])
    for method in ("xxhash64", "md5"):
        with pytest.raises(ValueError, match="evenly divide"):
            near_dup_pairs(df, "text", "doc_id", k=8, bands=16, method=method)
        with pytest.raises(ValueError, match="evenly divide"):
            near_dup_pairs(df, "text", "doc_id", k=8, bands=3, method=method)
    with pytest.raises(ValueError, match=">= 1"):
        lsh_bands(F.col("sig"), bands=0, rows_per_band=2)


def test_deadletter_reason_null_op_and_duplicate_offsets(spark, tmp_path):
    """A NULL op must diagnose as unknown_op (three-valued isin skips the
    arm without the coalesce guard); one offset quarantined twice in a batch
    with DIFFERENT failing arms must store a deterministic reason (min), not
    a partition-order-dependent pick.

    The wire schema declares op non-nullable, but Spark treats read-schema
    nullability as advisory (from_json / NDJSON ingest can still surface
    NULLs), so the frame here uses a nullable-op variant deliberately."""
    from nifi_dicom_spark.operators.deadletter import (
        create_deadletter,
        record_quarantine,
    )

    bad = spark.createDataFrame(
        [
            (1, None, 1, "c", 0),  # null op -> unknown_op (NOT null_op_seq)
            (2, None, 1, "c", -1),  # two arms fail across offset 2's rows:
            (2, "truncate", 1, "c", 0),  # min('bad_turn_idx','unknown_op')
        ],
        "offset long, op string, op_seq long, conv_id string, turn_idx int",
    )
    dl = create_deadletter(spark, str(tmp_path / "dl"))
    record_quarantine(dl, bad, epoch=0)
    rows = {r["offset"]: r for r in dl.read().collect()}
    assert rows[1]["reason"] == "unknown_op"
    assert rows[2]["reason"] == "bad_turn_idx"  # min of the two arms, stable
    assert rows[2]["retry_count"] == 1  # one batch = one increment, not two


def test_deadletter_retry_counters(spark, tmp_path):
    """T7: re-quarantined events increment retry_count exactly once per
    epoch (idempotent under epoch replay); poison set respects max_retries."""
    import pandas as pd

    from nifi_dicom_spark.model import CHANGE_EVENTS_SCHEMA
    from nifi_dicom_spark.operators.deadletter import (
        create_deadletter,
        poison,
        record_quarantine,
        retryable,
    )

    dl = create_deadletter(spark, str(tmp_path / "dl"))

    def bad_events(offsets):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "offset": offsets,
                    "partition_id": [0] * len(offsets),
                    "op": ["truncate"] * len(offsets),  # unknown op
                    "op_seq": [1] * len(offsets),
                    "conv_id": ["c"] * len(offsets),
                    "turn_idx": [0] * len(offsets),
                    "role": [None] * len(offsets),
                    "text": [None] * len(offsets),
                    "tool": [None] * len(offsets),
                    "ts": pd.to_datetime(["2024-01-01"] * len(offsets)),
                    "schema_ver": [2] * len(offsets),
                }
            ),
            schema=CHANGE_EVENTS_SCHEMA,
        )

    record_quarantine(dl, bad_events([10, 11]), epoch=0)
    record_quarantine(dl, bad_events([10]), epoch=1)
    record_quarantine(dl, bad_events([10]), epoch=1)  # replay: no-op
    record_quarantine(dl, bad_events([10, 12]), epoch=2)
    rows = {r["offset"]: r for r in dl.read().collect()}
    assert rows[10]["retry_count"] == 3
    assert rows[10]["first_epoch"] == 0 and rows[10]["last_epoch"] == 2
    assert rows[10]["reason"] == "unknown_op"
    assert rows[11]["retry_count"] == 1 and rows[12]["retry_count"] == 1
    assert {r["offset"] for r in poison(dl, max_retries=2).collect()} == {10}
    assert {r["offset"] for r in retryable(dl, max_retries=2).collect()} == {11, 12}
    # the retry-loop guard drops poison events, keeps the rest
    from nifi_dicom_spark.operators.deadletter import filter_poison

    requeued = filter_poison(bad_events([10, 11, 12, 99]), dl, max_retries=2)
    assert {r["offset"] for r in requeued.collect()} == {11, 12, 99}


# --- deidentify rules ---------------------------------------------------------


def test_deidentify_rules_and_dimension_join(spark):
    from nifi_dicom_spark.operators.deidentify import (
        DeidentifyRules,
        apply_rules,
        deidentify_with_dimension,
    )

    recs = spark.createDataFrame(
        [("p1", "Alice", "s1"), ("p2", "Bob", "s2"), ("p3", "Carol", "s3")],
        ["patient_id", "patient_name", "serial"],
    )
    dim = spark.createDataFrame(
        [("p1", "ALIAS-1", "Anon^One")], ["pid", "alias_id", "alias_name"]
    )
    matched, not_matched = deidentify_with_dimension(
        recs, dim, key="patient_id", dim_key="pid", generate_on_miss=False
    )
    assert matched.count() == 1 and not_matched.count() == 2

    gen, empty = deidentify_with_dimension(
        recs, dim, key="patient_id", dim_key="pid", generate_on_miss=True
    )
    assert gen.count() == 3 and empty.count() == 0
    rows = {r["patient_id"]: r for r in gen.collect()}
    assert rows["p1"]["alias_id"] == "ALIAS-1"  # dimension hit preserved
    assert rows["p2"]["alias_name"].startswith("Anonymous^")  # deterministic miss
    # determinism across runs
    gen2, _ = deidentify_with_dimension(recs, dim, "patient_id", "pid", True)
    assert gen2.filter(F.col("patient_id") == "p2").collect()[0]["alias_name"] == rows["p2"]["alias_name"]

    ruled = apply_rules(
        recs,
        DeidentifyRules(
            drop_columns=[],
            null_columns=["patient_name"],
            replace_constants={"serial": "SN000000"},
        ),
    )
    out = ruled.collect()[0]
    assert out["patient_name"] is None and out["serial"] == "SN000000"
    assert set(out["deid_methods"]) == {"nulled:patient_name", "replaced:serial"}


def test_snapshot_diff_change_capture(spark):
    """J6: full-outer diff join classifies insert/update/delete exactly."""
    import pandas as pd

    from nifi_dicom_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3, 4], "v": ["a", "b", "c", None]})
    )
    new = spark.createDataFrame(
        pd.DataFrame({"k": [2, 3, 4, 5], "v": ["B", "c", None, "e"]})
    )
    out = {r["k"]: r for r in snapshot_diff(old, new, ["k"], ["v"]).collect()}
    assert out[1]["op"] == "delete"
    assert out[2]["op"] == "update" and out[2]["new_v"] == "B"
    assert 3 not in out  # unchanged
    assert 4 not in out  # null == null is unchanged (null-safe compare)
    assert out[5]["op"] == "insert" and out[5]["old_v"] is None
    # include_unchanged keeps everything
    assert snapshot_diff(old, new, ["k"], ["v"], include_unchanged=True).count() == 5


def test_ivf_recall_vs_brute_force(spark):
    """Trained IVF (deterministic mini-k-means centroids) recovers ≥0.8 of
    the exact neighbors; training also beats the untrained seeded
    hypervectors it replaced."""
    from pyspark.sql import functions as F

    from nifi_dicom_spark.functions.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, "vec_id", "embedding", k=5).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}

    def recall_of(**kw):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(
                emb, queries, dim=64, k=5, n_cells=8, n_probe=6, **kw
            ).collect()
        }
        return len(exact_pairs & got) / len(exact_pairs), got

    trained_recall, trained_pairs = recall_of()
    assert trained_recall >= 0.8, f"trained IVF recall too low: {trained_recall}"
    untrained_recall, _ = recall_of(train_sample=0)
    assert trained_recall >= untrained_recall, (
        f"training regressed recall: {trained_recall} < {untrained_recall}"
    )
    # determinism of the full train+assign+probe pipeline
    _, again = recall_of()
    assert again == trained_pairs


def test_train_centroids_deterministic_and_quantized():
    """The k-means used for IVF is a pure function of its inputs: identical
    sample → bit-identical centroids, all values on the 1e-6 grid."""
    import numpy as np

    from nifi_dicom_spark.functions.similarity import train_centroids

    rng = np.random.RandomState(3)
    sample = rng.randn(64, 8).astype(np.float32).astype(np.float64)
    a = train_centroids(sample, n_cells=4, seed=42)
    b = train_centroids(sample.copy(), n_cells=4, seed=42)
    assert a == b
    flat = [v for row in a for v in row]
    assert all(abs(v * 1e6 - round(v * 1e6)) < 1e-6 for v in flat)
    with np.testing.assert_raises(ValueError):
        train_centroids(sample[:3], n_cells=4)


def test_encrypt_decrypt_roundtrip(spark):
    """F9: AES envelope round trip is identity; deterministic across replays;
    wrong password fails cleanly; non-envelopes are detected. Omitting the
    identity column (v2 compatibility mode) must WARN — the equality leak
    can't be re-opened silently."""
    import pandas as pd
    import pytest
    from pyspark.sql import functions as F

    from nifi_dicom_spark.functions.crypto import (
        CryptoEqualityLeakWarning,
        decrypt_payload,
        encrypt_payload,
        is_envelope,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3], "t": ["alpha", "", "snow ☃ bytes"]})
    ).select("id", F.encode("t", "UTF-8").alias("p"))
    with pytest.warns(CryptoEqualityLeakWarning):
        enc = df.withColumn("env", encrypt_payload("p", "pw")).cache()
    out = enc.withColumn("back", decrypt_payload("env", "pw")).collect()
    for r in sorted(out, key=lambda r: r["id"]):
        assert bytes(r["back"]) == bytes(r["p"])
        assert bytes(r["env"])[:4] == b"NDS2"
    # deterministic: same plaintext+password → same envelope (replay no-op)
    again = df.withColumn("env", encrypt_payload("p", "pw")).collect()
    assert {bytes(r["env"]) for r in again} == {bytes(r["env"]) for r in out}
    # detect: raw payloads are not envelopes
    flags = df.select(is_envelope("p").alias("f")).collect()
    assert not any(r["f"] for r in flags)
    # wrong password deterministically decrypts to null (HMAC tag check),
    # never to garbage bytes
    bad = enc.withColumn("back", decrypt_payload("env", "WRONG")).collect()
    assert all(r["back"] is None for r in bad)
    # corrupt envelope (flipped ciphertext byte) also → null
    corrupt = enc.select(
        decrypt_payload(
            F.concat(
                F.substring("env", 1, 40),
                F.encode(F.lit("X"), "UTF-8"),
                F.expr("substring(env, 42)"),
            ),
            "pw",
        ).alias("back")
    ).collect()
    assert all(r["back"] is None for r in corrupt)


def test_encrypt_identity_iv_no_equality_leak(spark):
    """F9 v3: equal plaintexts under DIFFERENT row identities yield
    different envelopes (no cross-table equality oracle), while the same
    (identity, plaintext, password) replays byte-identically."""
    import pandas as pd
    from pyspark.sql import functions as F

    from nifi_dicom_spark.functions.crypto import decrypt_payload, encrypt_payload

    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3], "t": ["same", "same", "other"]})
    ).select("id", F.encode("t", "UTF-8").alias("p"))
    enc = df.withColumn(
        "env", encrypt_payload("p", "pw", identity=F.col("id"))
    ).cache()
    rows = {r["id"]: bytes(r["env"]) for r in enc.collect()}
    assert all(e[:4] == b"NDS3" for e in rows.values())
    assert rows[1] != rows[2]  # equal plaintexts, different envelopes
    # replay determinism: pure function of (password, identity, plaintext)
    again = {
        r["id"]: bytes(r["env"])
        for r in df.withColumn(
            "env", encrypt_payload("p", "pw", identity=F.col("id"))
        ).collect()
    }
    assert again == rows
    # roundtrip + wrong password still authenticated
    back = enc.withColumn("b", decrypt_payload("env", "pw")).collect()
    assert all(bytes(r["b"]) == bytes(r["p"]) for r in back)
    bad = enc.withColumn("b", decrypt_payload("env", "WRONG")).collect()
    assert all(r["b"] is None for r in bad)


def test_encrypt_version_folded_identity_no_prefix_leak():
    """Cross-version IV reuse: re-encrypting an UPDATED payload under a
    key-only identity reuses key+IV, so the two envelopes (both readable
    via time travel) share ciphertext blocks up to the first plaintext
    difference — a prefix-length disclosure. Folding the monotone op_seq
    into the identity (the documented remedy) gives each version its own
    IV, and decryption needs no knowledge of it."""
    from nifi_dicom_spark.functions.crypto import _decrypt_one, _encrypt_one

    v1 = b"A" * 64 + b"tail-one"
    v2 = b"A" * 64 + b"tail-two"  # update: same 64-byte prefix
    # key-only identity: shared IV → first 4 CBC blocks byte-identical
    e1 = _encrypt_one("pw", v1, identity=b"conv|0")
    e2 = _encrypt_one("pw", v2, identity=b"conv|0")
    body1, body2 = e1[36:-16], e2[36:-16]
    assert body1[:64] == body2[:64] and body1 != body2  # the leak, pinned
    # op_seq folded in: no shared blocks at all
    f1 = _encrypt_one("pw", v1, identity=b"conv|0|7")
    f2 = _encrypt_one("pw", v2, identity=b"conv|0|8")
    assert f1[36:52] != f2[36:52]  # first blocks differ
    assert _decrypt_one("pw", f1) == v1 and _decrypt_one("pw", f2) == v2


def test_decrypt_legacy_envelope_generations(spark):
    """Envelopes from every prior format generation stay readable: v2
    (authenticated, plaintext IV) and v1 (NDS1, no tag) both decrypt; a
    foreign payload with no known magic decrypts to null."""
    import hashlib as _hl
    import hmac as _hm

    import pandas as pd
    from pyspark.sql import functions as F

    from nifi_dicom_spark.functions.crypto import (
        _column_salt,
        _derive_key,
        _encrypt_one,
        decrypt_payload,
        is_envelope,
    )

    def make_v1(password: str, pt: bytes) -> bytes:
        from cryptography.hazmat.primitives.ciphers import (
            Cipher,
            algorithms,
            modes,
        )
        from cryptography.hazmat.primitives.padding import PKCS7

        salt = _column_salt(password)
        iv = _hm.new(password.encode(), pt, _hl.sha256).digest()[:16]
        key = _derive_key(password, salt)
        padder = PKCS7(128).padder()
        padded = padder.update(pt) + padder.finalize()
        enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
        return b"NDS1" + salt + iv + enc.update(padded) + enc.finalize()

    v1 = make_v1("pw", b"legacy v1 secret")
    v2 = _encrypt_one("pw", b"legacy v2 secret")  # no identity → NDS2
    assert v2[:4] == b"NDS2"
    df = spark.createDataFrame(
        pd.DataFrame(
            {"id": [1, 2, 3], "env": [v1, v2, b"not an envelope at all!!"]}
        )
    )
    out = {
        r["id"]: (None if r["b"] is None else bytes(r["b"]), r["f"])
        for r in df.select(
            "id",
            decrypt_payload("env", "pw").alias("b"),
            is_envelope("env").alias("f"),
        ).collect()
    }
    assert out[1] == (b"legacy v1 secret", True)
    assert out[2] == (b"legacy v2 secret", True)
    assert out[3] == (None, False)


def test_datetime_range_iso_and_compact_forms():
    from nifi_dicom_spark.operators.match import parse_datetime_range

    # ambiguous ISO a-b form (regression: silently became a NULL range)
    assert parse_datetime_range("2024-01-01-2024-02-01") == (
        "2024-01-01 00:00:00",
        "2024-02-01 23:59:59.999999",
    )
    # compact DICOM forms incl. F7 reformat yyyymmddhhmmss → ISO
    assert parse_datetime_range("20240101-20240201") == (
        "2024-01-01 00:00:00",
        "2024-02-01 23:59:59.999999",
    )
    assert parse_datetime_range("20240101120000.5-") == (
        "2024-01-01 12:00:00.5",
        "2099-12-31 23:59:59.999999",
    )
    import pytest

    with pytest.raises(ValueError):
        parse_datetime_range("not-a-date")


def test_word_shingles_short_docs(spark):
    """Regression: docs with < n tokens crashed slice() via a descending
    sequence; they must yield empty shingle sets instead."""
    import pandas as pd
    from pyspark.sql import functions as F

    from nifi_dicom_spark.functions.dedup_text import near_dup_pairs, word_shingles

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": ["", "one", "two words", "three words here"]})
    )
    sizes = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", F.size(word_shingles("text")).alias("n")).collect()
    }
    assert sizes == {1: 0, 2: 0, 3: 0, 4: 1}
    # whole pipeline survives short docs
    assert near_dup_pairs(df, "text", "doc_id", threshold=0.5).count() == 0


def test_widening_rejects_lossy_int_to_float():
    import pytest
    from pyspark.sql import types as T

    from nifi_dicom_spark.operators.reconcile import evolve_schema

    cur = T.StructType([T.StructField("op_seq", T.LongType())])
    for bad in (T.FloatType(), T.DoubleType()):
        with pytest.raises(ValueError):
            evolve_schema(cur, T.StructType([T.StructField("op_seq", bad)]))
    # int → double is exact and allowed
    out = evolve_schema(
        T.StructType([T.StructField("x", T.IntegerType())]),
        T.StructType([T.StructField("x", T.DoubleType())]),
    )
    assert out["x"].dataType == T.DoubleType()


def test_dimension_match_with_null_payload_value(spark):
    """Regression: a matched dimension row whose first payload column is null
    must NOT be treated as a miss (its other mappings were discarded)."""
    import pandas as pd

    from nifi_dicom_spark.operators.deidentify import deidentify_with_dimension

    records = spark.createDataFrame(pd.DataFrame({"pid": ["P5", "P9"]}))
    dim = spark.createDataFrame(
        pd.DataFrame(
            {"patient_id": ["P5"], "name": [None], "mrn": ["M123"]}
        ).astype({"name": object})
    )
    out, missed = deidentify_with_dimension(
        records, dim, key="pid", dim_key="patient_id", generate_on_miss=False
    )
    rows = {r["pid"]: r for r in out.collect()}
    assert set(rows) == {"P5"}
    assert rows["P5"]["mrn"] == "M123" and rows["P5"]["name"] is None
    assert [r["pid"] for r in missed.collect()] == ["P9"]


def test_hierarchical_query_gating_and_match(spark):
    """P6: ancestors above the query level must pin exact unique keys;
    wildcards there are rejected at analysis time."""
    import pytest

    from nifi_dicom_spark.operators.query import Level, hierarchical_query

    SF = "/root/testdata/sf0.001"
    levels = [
        Level("region", spark.read.parquet(f"{SF}/region.parquet"), "r_regionkey"),
        Level(
            "nation",
            spark.read.parquet(f"{SF}/nation.parquet"),
            "n_nationkey",
            "n_regionkey",
        ),
    ]
    # valid: exact region key, wildcard at target level
    out = hierarchical_query(
        levels,
        target="nation",
        filters={"region": {"r_regionkey": 2}, "nation": {"n_name": "*A*"}},
        return_cols=["n_name"],
    )
    names = {r["n_name"] for r in out.collect()}
    assert names and all("A" in n for n in names)
    # P6 violations: missing or non-exact ancestor key
    with pytest.raises(ValueError, match="requires an exact"):
        hierarchical_query(
            levels, "nation", {"nation": {"n_name": "*A*"}}, ["n_name"]
        )
    with pytest.raises(ValueError, match="requires an exact"):
        hierarchical_query(
            levels,
            "nation",
            {"region": {"r_regionkey": "1*"}, "nation": {}},
            ["n_name"],
        )
    # P7 analog: unknown filter column
    with pytest.raises(ValueError, match="no column"):
        hierarchical_query(
            levels, "region", {"region": {"nope": 1}}, ["r_name"]
        )
    # filters keyed by an unknown level name are rejected, not ignored
    with pytest.raises(ValueError, match="unknown level"):
        hierarchical_query(
            levels,
            "nation",
            {"region": {"r_regionkey": 2}, "natoin": {"n_name": "*A*"}},
            ["n_name"],
        )
    # filters keyed by a level BELOW the target are rejected, not ignored
    with pytest.raises(ValueError, match="below the query level"):
        hierarchical_query(
            levels,
            "region",
            {"region": {"r_regionkey": 2}, "nation": {"n_name": "*A*"}},
            ["r_name"],
        )


def test_connected_groups_transitive_merge(spark):
    """A2: groups united transitively by shared identifiers (the union-find
    semantics of MergeCompositeContext) via iterative label propagation."""
    import pandas as pd

    from nifi_dicom_spark.operators.merge_context import connected_groups

    # components: {1,2,3,4} via chain, {10,11}, {20} isolated (self-edge only)
    edges = spark.createDataFrame(
        pd.DataFrame({"src": [1, 2, 3, 10, 20], "dst": [2, 3, 4, 11, 20]})
    )
    got = {
        r["node"]: r["component"] for r in connected_groups(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_person_match_modes(spark):
    """P5: canonical / phonetic / component-swap probes hit the precomputed
    search columns; unrelated names never match."""
    from nifi_dicom_spark.operators.person_match import (
        add_search_columns,
        person_name_match,
        phonetic_key,
    )

    recs = add_search_columns(
        spark.createDataFrame(
            [
                (1, "Doe^Jane"),
                (2, "Smith^John"),
                (3, "Mueller^Hans"),
            ],
            ["pid", "name"],
        ),
        "name",
    )
    probes = spark.createDataFrame(
        [
            ("doe^jane",),  # case-folded canonical
            ("John^Smith",),  # swapped components
            ("Miller^Hans",),  # phonetic (MLLR ~ MLR? no) — see below
            ("Mewller^Hans",),  # phonetic: vowel/W differences collapse
            ("Totally^Other",),
        ],
        ["probe"],
    )
    out = person_name_match(recs, probes).collect()
    got = {(r["probe"], r["pid"], r["match_mode"]) for r in out}
    assert ("doe^jane", 1, "canonical") in got
    assert ("John^Smith", 2, "swap") in got
    assert ("Mewller^Hans", 3, "phonetic") in got
    assert all("Totally^Other" != p for p, _i, _m in got)
    # the phonetic key itself is deterministic + engine-reproducible
    k = (
        spark.range(1)
        .select(phonetic_key(F.lit("Mueller^Hans")).alias("k"))
        .collect()[0]["k"]
    )
    assert k == spark.range(1).select(
        phonetic_key(F.lit("Mewller^Hans")).alias("k")
    ).collect()[0]["k"]


def test_nested_deidentify_and_remap(spark):
    """F12/F13 recursion: rules + deterministic remap applied INSIDE an
    ARRAY<STRUCT> column, flat columns untouched."""
    from pyspark.sql import Row

    from nifi_dicom_spark.operators.deidentify import (
        DeidentifyRules,
        apply_rules_nested,
        remap_nested,
        transform_nested,
    )

    df = spark.createDataFrame(
        [
            Row(
                conv_id="c1",
                turns=[
                    Row(turn_idx=0, role="user", text="hi", attachment="uidA"),
                    Row(turn_idx=1, role="assistant", text="hello", attachment=None),
                ],
            )
        ]
    )
    deid = apply_rules_nested(
        df,
        "turns",
        DeidentifyRules(
            null_columns=["text"], replace_constants={"role": "REDACTED"},
            drop_columns=["missing_field_is_ignored"],
        ),
    )
    row = deid.collect()[0]
    assert [t["text"] for t in row["turns"]] == [None, None]
    assert {t["role"] for t in row["turns"]} == {"REDACTED"}
    assert set(row["deid_methods"]) == {"nulled:turns.text", "replaced:turns.role"}

    remapped = remap_nested(df, "turns", ["attachment"]).collect()[0]
    import hashlib

    assert remapped["turns"][0]["attachment"] == hashlib.md5(b"uidA").hexdigest()
    assert remapped["turns"][1]["attachment"] is None  # nulls stay null

    # drop_fields removes the field from the element schema entirely
    dropped = transform_nested(df, "turns", {}, drop_fields=["attachment"])
    assert "attachment" not in dropped.schema["turns"].dataType.elementType.names
    # unknown fields are rejected at analysis time
    with pytest.raises(ValueError, match="no field"):
        transform_nested(df, "turns", {"nope": lambda c: c})
    with pytest.raises(ValueError, match="ARRAY<STRUCT"):
        transform_nested(df, "conv_id", {})


def test_sessionize_accepts_timestamp_ntz(spark):
    """Regression (round-1 red row): a session with inferTimestampNTZ=true
    reads pandas-written parquet as TIMESTAMP_NTZ, which cannot be cast to
    DOUBLE directly — sessionize must work regardless of session config."""
    from nifi_dicom_spark.operators.sessionize import quiescent_groups, sessionize

    df = spark.range(6).select(
        (F.col("id") % 2).alias("user_id"),
        F.col("id").alias("event_id"),
        F.to_timestamp_ntz(
            F.concat(
                F.lit("2024-01-01 0"),
                (F.col("id") % 2).cast("string"),  # hour: parallel sessions
                F.lit(":"),
                F.lpad(((F.col("id") * 20) % 60).cast("string"), 2, "0"),
                F.lit(":00"),
            )
        ).alias("ts"),
    )
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    out = sessionize(df, ["user_id"], "ts", gap_seconds=1800).collect()
    assert {r["session_id"] for r in out} == {0}
    quiet = quiescent_groups(df, ["user_id"], "ts", "2024-01-02 00:00:00", 60)
    assert quiet.count() == 2


def test_connected_groups_long_chain_converges(spark):
    """ADVICE regression: pointer doubling converges a 512-node chain well
    inside the default iteration bound (plain min-label propagation would
    need ~512 rounds and previously returned a WRONG grouping silently)."""
    import pandas as pd

    from nifi_dicom_spark.operators.merge_context import connected_groups

    n = 512
    edges = spark.createDataFrame(
        pd.DataFrame({"src": list(range(n - 1)), "dst": list(range(1, n))})
    )
    got = {r["node"]: r["component"] for r in connected_groups(edges).collect()}
    assert set(got.values()) == {0} and len(got) == n


def test_session_path_ordered_assembly(spark):
    import __spark_entry__ as E

    out = E.q_session_path(spark, "/root/testdata/sf0.001").collect()
    assert all(r["path"].count(">") == r["n_events"] - 1 for r in out)


# --- PII redaction -----------------------------------------------------------


def test_pii_redact_all_kinds(spark):
    from nifi_dicom_spark.functions.pii import pii_stats

    df = spark.createDataFrame(
        [
            (
                1,
                "mail a.user+x@sub.example.co.uk call 312-555-0199 "
                "ssn 123-45-6789 card 4111 1111 1111 1111 host 192.168.0.1",
            ),
            (2, "no identifiers here, just text with numbers 12345"),
            (3, "ring (415) 555-0123 or (415)555.0124 or 415 555 0125"),
        ],
        ["id", "text"],
    )
    rows = {r["id"]: r for r in pii_stats(df, "text", "id").collect()}
    r1 = rows[1]
    assert r1["redacted"] == (
        "mail [EMAIL] call [PHONE] ssn [SSN] card [CARD] host [IP]"
    )
    assert (r1["n_email"], r1["n_phone"], r1["n_ssn"], r1["n_card"], r1["n_ipv4"]) == (
        1,
        1,
        1,
        1,
        1,
    )
    assert r1["has_pii"] is True
    r2 = rows[2]
    assert r2["redacted"] == "no identifiers here, just text with numbers 12345"
    assert r2["has_pii"] is False
    r3 = rows[3]  # parenthesized-area NANP forms
    assert r3["redacted"] == "ring [PHONE] or [PHONE] or [PHONE]"
    assert r3["n_phone"] == 3


def test_pii_redact_order_and_subsets(spark):
    from nifi_dicom_spark.functions.pii import redact

    import pytest as _pytest

    df = spark.createDataFrame(
        # email with digits in the local part must be consumed as ONE email,
        # not leave a digit run for the phone pattern; SSN's 3-2-4 grouping
        # must not be matched by the 3-3-4 phone pattern
        [("x123-555-0100y a@b.io vs 987-65-4321",)],
        ["text"],
    )
    out = df.select(redact("text").alias("r")).head()["r"]
    # 'x123-555-0100y': letters and digits are both \w, so there is no word
    # boundary at the x→1 transition — the phone pattern must NOT fire
    assert "[EMAIL]" in out and "[SSN]" in out
    assert "x123-555-0100y" in out  # embedded in a word → not a phone
    only_email = df.select(redact("text", kinds=["email"]).alias("r")).head()["r"]
    assert "[EMAIL]" in only_email and "[SSN]" not in only_email
    with _pytest.raises(ValueError, match="unknown PII kinds"):
        df.select(redact("text", kinds=["dna"]))


# --- repetition signals ------------------------------------------------------


def test_repetition_stats_edges(spark):
    from nifi_dicom_spark.functions.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # one token repeated
            (2, "b"),                 # single token → no bigrams
            (3, ""),                  # empty
            (4, "x y x y z"),        # top bigram 'x y' ×2 of 4 slots
        ],
        ["id", "text"],
    )
    rows = {r["id"]: r for r in repetition_stats(df, "text", "id").collect()}
    assert rows[1]["n_tokens"] == 4
    assert rows[1]["dup_token_frac"] == 0.75
    assert rows[1]["top_token"] == "a" and rows[1]["top_token_frac"] == 1.0
    assert rows[1]["top_bigram"] == "a a" and rows[1]["top_bigram_frac"] == 1.0
    assert rows[2]["n_tokens"] == 1 and rows[2]["top_bigram"] == ""
    assert rows[2]["top_bigram_frac"] == 0.0
    assert rows[3]["n_tokens"] == 0 and rows[3]["top_token"] == ""
    assert rows[3]["dup_token_frac"] == 0.0
    r4 = rows[4]
    assert r4["top_bigram"] == "x y" and r4["top_bigram_frac"] == 0.5
    # tie on token counts (x:2, y:2) → lexicographically smallest wins
    assert r4["top_token"] == "x"


# --- near-dup clustering -----------------------------------------------------


def test_near_dup_clusters_canonical_consistency(spark):
    import __spark_entry__ as entry_mod

    out = entry_mod.q_near_dup_clusters(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert rows, "fixture corpus should contain at least one near-dup cluster"
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        ids = sorted(m["doc_id"] for m in members)
        assert cid == ids[0], "cluster id must be the min member id"
        canon = [m for m in members if m["is_canonical"]]
        assert len(canon) == 1 and canon[0]["doc_id"] == cid
        assert all(m["cluster_size"] == len(members) for m in members)
        assert len(members) >= 2, "singletons only exist via pairs"


def test_connected_groups_driver_and_distributed_paths_agree(spark):
    from nifi_dicom_spark.operators.merge_context import connected_groups

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20), (5, 4)], ["src", "dst"]
    )
    fast = {
        (r["node"], r["component"])
        for r in connected_groups(edges).collect()
    }
    slow = {
        (r["node"], r["component"])
        for r in connected_groups(edges, driver_threshold=0).collect()
    }
    assert fast == slow
    assert (3, 1) in fast and (11, 10) in fast and (20, 20) in fast
    assert (4, 4) in fast and (5, 4) in fast


# --- incremental near-dup dedup ----------------------------------------------


def test_incremental_dedup_cross_batch_and_replay(spark, tmp_path):
    from nifi_dicom_spark.operators.incremental_dedup import (
        create_signature_store,
        incremental_dedup,
    )

    store = create_signature_store(spark, str(tmp_path / "sigs"))
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    b1 = spark.createDataFrame(
        [(1, base), (2, "completely different text one two three")],
        ["doc_id", "text"],
    )
    d1 = {r["id"]: r for r in incremental_dedup(store, b1, "text", "doc_id").collect()}
    assert d1["1"]["is_unique"] and d1["2"]["is_unique"]

    b2 = spark.createDataFrame(
        [
            (10, base),  # near-dup of stored doc 1
            (11, "fresh unseen content here today"),  # unique
            # same token set as base (order/multiplicity differ) → dup of 1
            (12, "kappa iota theta eta zeta epsilon delta gamma beta alpha"),
            (13, "brand new wording nothing alike"),  # unique
        ],
        ["doc_id", "text"],
    )
    d2 = sorted(
        (r["id"], r["is_unique"], r["matched_id"])
        for r in incremental_dedup(store, b2, "text", "doc_id").collect()
    )
    assert d2 == [
        ("10", False, "1"),
        ("11", True, None),
        ("12", False, "1"),
        ("13", True, None),
    ]
    # crash-replay of batch 2: identical decisions (self-matches ignored),
    # store cardinality unchanged (first-writer-wins)
    n = store.read().count()
    d2r = sorted(
        (r["id"], r["is_unique"], r["matched_id"])
        for r in incremental_dedup(store, b2, "text", "doc_id").collect()
    )
    assert d2r == d2
    assert store.read().count() == n


def test_incremental_dedup_replay_stable_under_hot_gate(spark, tmp_path):
    """Crash-replay must not flip decisions even when the batch's OWN
    committed roots push a store bucket over max_bucket_size: the probe
    anti-joins the batch's ids out of the store view first, so the replay
    sees the same bucket counts (and finds the same matches) as the first
    run. Regression: counting self rows made the bucket hot only on the
    replay, silently dropping the match and re-inserting the doc."""
    from nifi_dicom_spark.functions.dedup_text import simhash_signatures
    from nifi_dicom_spark.operators.incremental_dedup import (
        _chunk_array,
        create_signature_store,
        incremental_dedup,
    )

    kw = dict(max_hamming=0, n_bits=8, n_bands=4, max_bucket_size=2)
    seed_text = "alpha beta gamma delta epsilon zeta " * 2

    # pick filler texts whose 2-bit band chunks collide with the seed's —
    # deterministic: signatures are a pure function of the fixed texts
    import hashlib

    # diverse token sets (near-identical fillers collapse to a handful of
    # 8-bit signatures and can't cover all four seed chunks)
    cands = [
        (
            i,
            " ".join(
                hashlib.md5(f"{i}-{j}".encode()).hexdigest()[:6]
                for j in range(8)
            ),
        )
        for i in range(120)
    ]
    cdf = spark.createDataFrame(cands + [(999, seed_text)], ["doc_id", "text"])
    sig = simhash_signatures(cdf, "text", "doc_id", 8).select(
        "id", "simhash", F.col("simhash").alias("s"),
        _chunk_array(8, 4).alias("bcs"),
    )
    rows = {int(r["id"]): r for r in sig.collect()}
    seed_bcs = set(rows[999]["bcs"])
    seed_sig = rows[999]["simhash"]
    # a match is found via ANY shared chunk, so EVERY seed chunk's bucket
    # must cross the cap (cap=2: seed row + >=2 filler roots) for the old
    # self-counting bug to drop the match on replay
    fillers, seen_sigs = {}, {seed_sig}
    cover = {bc: 0 for bc in seed_bcs}
    for i, text in cands:
        r = rows[i]
        shared = set(r["bcs"]) & {bc for bc, k in cover.items() if k < 2}
        if r["simhash"] not in seen_sigs and shared:
            fillers[i] = text
            seen_sigs.add(r["simhash"])
            for bc in set(r["bcs"]) & seed_bcs:
                cover[bc] += 1
    assert all(k >= 2 for k in cover.values()), (
        f"fixture drift: seed chunks not all double-covered: {cover}"
    )
    fillers = sorted(fillers.items())

    store = create_signature_store(spark, str(tmp_path / "sigs"))
    b0 = spark.createDataFrame([(1, seed_text)], ["doc_id", "text"])
    incremental_dedup(store, b0, "text", "doc_id", **kw)

    b1 = spark.createDataFrame([(50, seed_text)] + fillers, ["doc_id", "text"])
    d1 = sorted(
        (r["id"], r["is_unique"], r["matched_id"])
        for r in incremental_dedup(store, b1, "text", "doc_id", **kw).collect()
    )
    assert ("50", False, "1") in d1  # the match the hot gate used to drop
    n = store.read().count()

    d1r = sorted(
        (r["id"], r["is_unique"], r["matched_id"])
        for r in incremental_dedup(store, b1, "text", "doc_id", **kw).collect()
    )
    assert d1r == d1
    assert store.read().count() == n


def test_incremental_dedup_in_batch_clustering(spark, tmp_path):
    from nifi_dicom_spark.operators.incremental_dedup import (
        create_signature_store,
        incremental_dedup,
    )

    store = create_signature_store(spark, str(tmp_path / "sigs"))
    text = "one two three four five six seven eight nine ten " * 2
    batch = spark.createDataFrame(
        [(5, text), (3, text), (9, text), (7, "unrelated other words here")],
        ["doc_id", "text"],
    )
    rows = {r["id"]: r for r in incremental_dedup(store, batch, "text", "doc_id").collect()}
    # min STRING id of the identical trio is the root ('3' < '5' < '9')
    assert rows["3"]["is_unique"] and rows["7"]["is_unique"]
    assert not rows["5"]["is_unique"] and rows["5"]["matched_id"] == "3"
    assert not rows["9"]["is_unique"] and rows["9"]["matched_id"] == "3"
    # only roots' signatures were committed: 4 bands × 2 unique docs
    assert store.read().count() == 8


def test_quality_filter_rules(spark):
    from nifi_dicom_spark.functions.text import quality_filter

    df = spark.createDataFrame(
        [
            (1, "too short"),
            (2, "spam " * 40),  # one token repeated → repetitive (+ quality)
            (
                3,
                "the quick brown fox jumps over a lazy dog and it runs far "
                "away to the old mill where water flows past green fields",
            ),
            (
                4,
                "the quick brown fox jumps over a lazy dog and it is seen "
                "near the river mail me at someone@example.com for details",
            ),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in quality_filter(df, "text", "doc_id").collect()}
    assert not rows[1]["keep"] and "too_short" in rows[1]["reasons"]
    assert not rows[2]["keep"] and "repetitive" in rows[2]["reasons"]
    assert rows[3]["keep"] and rows[3]["reasons"] == ""
    assert not rows[4]["keep"] and rows[4]["reasons"] == "has_pii"


def test_priority_merge_deterministic_on_seq_ties(spark):
    """Two records sharing the lowest seq must resolve by the value's
    string form, not partition order — replay determinism when seq_col is
    not unique per key."""
    from nifi_dicom_spark.operators.merge_context import priority_merge

    rows = [("k", 5, "B"), ("k", 5, "A"), ("k", 9, "C")]
    for attempt in range(3):  # shuffle input layout across attempts
        df = spark.createDataFrame(rows, ["key", "seq", "v"]).repartition(
            attempt + 1
        )
        out = priority_merge(df, ["key"], "seq", ["v"]).collect()
        assert [(r["key"], r["v"]) for r in out] == [("k", "A")]


def test_simhash_signatures_rejects_oversized_n_bits(spark):
    from nifi_dicom_spark.functions.dedup_text import simhash_signatures

    df = spark.createDataFrame([(1, "hello world")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="n_bits"):
        simhash_signatures(df, "text", "doc_id", n_bits=64)


# --- semantic dedup (SemDeDup-style) ------------------------------------------


def test_semantic_dedup_semantics(spark):
    """Hand-built clusters: two tight groups + a loner. Within each group
    only the lowest id survives; cross-cluster similarity is ignored."""
    from nifi_dicom_spark.functions.similarity import semantic_dedup

    e1 = [1.0, 0.0, 0.0, 0.0]
    e1b = [0.999, 0.01, 0.0, 0.0]  # near-dup of e1
    e2 = [0.0, 1.0, 0.0, 0.0]
    e2b = [0.01, 0.999, 0.0, 0.0]  # near-dup of e2
    e2c = [0.02, 0.998, 0.0, 0.0]  # near-dup of both e2 and e2b
    lone = [0.0, 0.0, 1.0, 0.0]
    rows = [(10, e1), (11, e1b), (20, e2), (21, e2b), (22, e2c), (30, lone)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = semantic_dedup(
        df,
        n_clusters=3,
        threshold=0.95,
        centroids=[e1, e2, lone],
    )
    got = {r.vec_id: (r.cluster, r.is_dup) for r in out.collect()}
    assert got[10] == (0, False) and got[11] == (0, True)
    assert got[20] == (1, False) and got[21] == (1, True) and got[22] == (1, True)
    assert got[30] == (2, False)
    # survivors = one representative per semantic group
    assert sorted(k for k, (_, d) in got.items() if not d) == [10, 20, 30]


def test_semantic_dedup_is_cluster_scoped(spark):
    """A near-identical pair SPLIT across clusters is not deduped — the
    SemDeDup trade: pair search never crosses a cluster boundary."""
    from nifi_dicom_spark.functions.similarity import semantic_dedup

    # two near-identical vectors, but centroids chosen so each lands in a
    # different cell (each vector IS one of the centroids)
    va = [1.0, 0.001, 0.0, 0.0]
    vb = [1.0, -0.001, 0.0, 0.0]
    df = spark.createDataFrame(
        [(1, va), (2, vb)], "vec_id int, embedding array<float>"
    )
    out = semantic_dedup(df, threshold=0.9, centroids=[va, vb])
    got = {r.vec_id: r.is_dup for r in out.collect()}
    assert got == {1: False, 2: False}


def test_semantic_dedup_trained_centroids_deterministic(spark):
    from nifi_dicom_spark.functions.similarity import semantic_dedup

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = semantic_dedup(df, n_clusters=4, threshold=0.8).toPandas()
    b = semantic_dedup(df, n_clusters=4, threshold=0.8).toPandas()
    a = a.sort_values("vec_id").reset_index(drop=True)
    b = b.sort_values("vec_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert (~a["is_dup"]).sum() >= 1  # something survives


def test_semantic_dedup_rejects_bad_threshold(spark):
    from nifi_dicom_spark.functions.similarity import semantic_dedup

    df = spark.createDataFrame([(1, [1.0])], "vec_id int, embedding array<float>")
    with pytest.raises(ValueError, match="threshold"):
        semantic_dedup(df, threshold=0.0)
