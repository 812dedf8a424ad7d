"""Document deduplication family: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale shapes:
* exact: hash-groupBy — one shuffle, map-side combined;
* MinHash+LSH: shingle → K md5-minhashes → band → bucket self-join — the
  shuffle is on (band, bucket), so candidate generation never compares all
  pairs; verification (exact Jaccard) runs only on bucket-collided pairs;
* SimHash: 64-bit signature from md5(token) bit votes; near-dups share
  signature prefixes (bucketable);
* n-gram Jaccard: exact verification primitive (array intersect/union).

Hashes are md5-based (not xxhash) so every stage is reproducible in external
SQL engines for oracle checks — determinism is also what makes replay
idempotent (reference precedent: deterministic MD5 pseudo-identities,
``IdentityEntry.java:28-41``).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nifi_dicom_spark.functions.text import fingerprint, tokens


# --- exact -------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id representative per normalized-text fingerprint
    (first-writer-wins on the dup group)."""
    fp = fingerprint(text_col).alias("fp")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# --- shingles / n-grams ------------------------------------------------------


def _ordered_grams(col: str | Column, n: int) -> Column:
    """ORDERED n-word grams (space-joined) of the lower-cased text.

    Documents shorter than ``n`` tokens yield an empty array — guarded
    explicitly because ``sequence(1, k)`` with ``k <= 0`` produces a
    DESCENDING array ([1, 0]) whose 0 index crashes ``slice``.

    The token array is BOUND as a lambda variable (via a single-element
    ``transform``) before the per-position lambda uses it: a free
    expression inside a higher-order-function lambda is re-evaluated on
    every lambda call, which turned this into O(n²) re-tokenization of the
    document — the bound form tokenizes once per row (measured 8.2 s →
    sub-second for the sf0.1 shingle stage).
    """
    t = F.transform(tokens(col), F.lower)

    def _grams(tt: Column) -> Column:
        k = F.size(tt) - (n - 1)
        return F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(" ", F.slice(tt, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(t), _grams), 1)


def word_shingles(col: str | Column, n: int = 3) -> Column:
    """n-word shingles: the DISTINCT set of :func:`_ordered_grams`."""
    return F.array_distinct(_ordered_grams(col, n))


def ngram_jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two shingle arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# --- MinHash -----------------------------------------------------------------


def _minhash_one(shingles: Column, seed: int, method: str) -> Column:
    """One minhash over the shingle set.

    * ``xxhash64`` (default): JVM-native 64-bit hash, one pass, no string
      materialization — the hot-path choice (~10× cheaper than md5-hex).
    * ``md5``: the K hashes are 8-hex-char (32-bit) SLICES of per-shingle
      md5 digests — hash index i < 4 slices ``md5(s)``, i ≥ 4 slices
      ``md5(s ‖ '#2')`` (a second digest), so K ≤ 8 costs at most two md5
      calls per shingle and every slice replays in any SQL engine
      (``substr(md5(s) || md5(s || '#2'), 8i+1, 8)``; lowercase-hex string
      min == numeric min). 32-bit slices keep the per-band minima
      well-distributed — the earlier 16-bit slices collapsed toward 0x0000
      on large shingle sets, inflating band-bucket collisions that the
      ``max_bucket_size`` gate then dropped (silent recall loss). API note:
      ``k`` stays capped at 8 for the md5 method (raises above), as it has
      since the 16-bit scheme.
    * ``md5_digests``: the caller pre-materialized the digest column with
      :func:`md5_minhash_digest` (hash each shingle exactly once) and
      passes it as ``shingles``. The digest MUST be built by that helper:
      hash index i slices chars [8i+1, 8i+8], so indices ≥ 4 need the
      64-char two-digest concatenation — a bare 32-char ``md5(s)`` only
      supports k ≤ 4 (higher indices would slice past the end into
      constant ``''`` minhashes: global band collisions, silent recall
      loss).
    """
    if method in ("md5", "md5_digests") and seed >= 8:
        raise ValueError(
            f"md5 minhash method supports at most 8 hashes (got index {seed}): "
            "slicing past the two 32-char digests would yield constant '' hashes"
        )
    if method == "md5":
        if seed < 4:
            return F.array_min(
                F.transform(
                    shingles, lambda s: F.substring(F.md5(s), 8 * seed + 1, 8)
                )
            )
        return F.array_min(
            F.transform(
                shingles,
                lambda s: F.substring(
                    F.md5(F.concat(s, F.lit("#2"))), 8 * (seed - 4) + 1, 8
                ),
            )
        )
    if method == "md5_digests":  # `shingles` already holds md5 hex digests
        return F.array_min(
            F.transform(shingles, lambda d: F.substring(d, 8 * seed + 1, 8))
        )
    return F.array_min(
        F.transform(shingles, lambda s: F.xxhash64(F.lit(seed), s))
    )


def md5_minhash_digest(s: Column, k: int) -> Column:
    """Per-shingle digest column for ``method="md5_digests"``: ``md5(s)``
    for k ≤ 4, ``md5(s) ‖ md5(s ‖ '#2')`` for k ≤ 8 — the ONLY shapes the
    slicing in :func:`_minhash_one` is defined over. SQL-replayable:
    ``md5(s)`` / ``md5(s) || md5(s || '#2')``."""
    if k <= 4:
        return F.md5(s)
    if k <= 8:
        return F.concat(F.md5(s), F.md5(F.concat(s, F.lit("#2"))))
    raise ValueError(f"md5 minhash method supports k <= 8 (got {k})")


def minhash_signature(
    col: str | Column, k: int = 8, shingle_n: int = 3, method: str = "xxhash64"
) -> Column:
    """Array of K independent minhashes."""
    sh = word_shingles(col, shingle_n)
    return F.array(*[_minhash_one(sh, i, method) for i in range(k)])


def lsh_bands(
    sig: Column, bands: int, rows_per_band: int, method: str = "xxhash64"
) -> Column:
    """Band the signature: array of (band_id, bucket_hash) structs; docs
    sharing any band bucket are candidate pairs. ``method="md5"`` buckets via
    md5 over the pipe-joined band rows — reproducible in external SQL engines
    (the xxhash64 default is the cheap JVM-native hot path).

    ``bands * rows_per_band`` must not exceed the signature length —
    ``element_at`` past the end yields NULLs and every such band collapses
    into one global bucket (silent recall loss); the signature length is not
    statically known here, so the divisibility guard lives in
    :func:`_candidates_from_shingles`."""
    if bands < 1 or rows_per_band < 1:
        raise ValueError(
            f"bands and rows_per_band must be >= 1 "
            f"(got bands={bands}, rows_per_band={rows_per_band})"
        )

    def bucket(b: int) -> Column:
        els = [
            F.element_at(sig, b * rows_per_band + r + 1) for r in range(rows_per_band)
        ]
        if method == "md5":
            return F.md5(F.concat_ws("|", *[e.cast("string") for e in els]))
        return F.xxhash64(*els)

    return F.array(
        *[
            F.struct(F.lit(b).alias("band"), bucket(b).alias("bucket"))
            for b in range(bands)
        ]
    )


def _shingle_frame(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(id, _sh) with shingles materialized ONCE and the frame repartitioned
    to full parallelism.

    Two deliberate moves for the compute shape: (a) higher-order-function
    expressions get no common-subexpression elimination, so building shingles
    as a named column stops every downstream minhash from re-deriving them;
    (b) document inputs are often tiny in bytes but cost milliseconds per row
    here — file-size-based partitioning would run the whole job in one task,
    so repartition by row count, not bytes.
    """
    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    return df.select(
        F.col(id_col).alias("id"), word_shingles(text_col, shingle_n).alias("_sh")
    ).repartition(n_parts, "id")


def _candidates_from_shingles(
    sh_df: DataFrame,
    k: int,
    bands: int,
    max_bucket_size: int,
    method: str = "xxhash64",
) -> DataFrame:
    rows_per_band = k // bands
    if rows_per_band < 1 or bands * rows_per_band != k:
        # bands > k would make every band bucket a hash of ZERO minhashes
        # (md5('') = one global bucket per band -> all buckets over the size
        # cap -> zero candidates, silent total recall loss; xxhash64() with
        # no args is an analysis error). Non-divisible k silently ignores
        # the trailing minhashes the caller paid to compute.
        raise ValueError(
            f"bands must evenly divide k with rows_per_band >= 1 "
            f"(got k={k}, bands={bands})"
        )
    if method == "md5" and k > 8:
        # the md5 method derives K hashes as 8-hex-char slices of two 32-char
        # digests — k > 8 would slice past them and yield constant "" hashes
        # (global band collisions, silent recall loss)
        raise ValueError(f"md5 minhash method supports k <= 8 (got {k})")
    # Build the banded buckets DIRECTLY from per-index minhash expressions.
    # The obvious form — materialize `sig = array(min_0..min_k)` and slice it
    # with element_at per band — re-inlines the whole signature expression at
    # every reference (projection collapse + no CSE inside higher-order
    # functions), recomputing all K minhashes per element_at. Here each
    # min_i appears exactly once, and for md5 the per-shingle digests are
    # BOUND once as a lambda variable (same O(n²)-re-eval trap as
    # `_ordered_grams`; this stage measured 4.3 s → ~1 s at sf0.1).
    def _band_structs(mh: list[Column]) -> Column:
        out = []
        for b in range(bands):
            els = [mh[b * rows_per_band + r] for r in range(rows_per_band)]
            if method == "md5":
                bucket = F.md5(F.concat_ws("|", *[e.cast("string") for e in els]))
            else:
                bucket = F.xxhash64(*els)
            out.append(
                F.struct(F.lit(b).alias("band"), bucket.alias("bucket"))
            )
        return F.array(*out)

    if method == "md5":
        # hash each shingle ONCE (twice for k > 4); the K minhashes are
        # 8-hex-char slices of the digest built by md5_minhash_digest
        def digest(s):
            return md5_minhash_digest(s, k)

        def _slice_at(i: int):
            # NOTE: must stay a ONE-parameter lambda — pyspark passes the
            # element index to two-parameter transform lambdas
            return lambda d: F.substring(d, 8 * i + 1, 8)

        def _from_digests(dd: Column) -> Column:
            mh = [
                F.array_min(F.transform(dd, _slice_at(i))) for i in range(k)
            ]
            return _band_structs(mh)

        banded_arr = F.element_at(
            F.transform(
                F.array(F.transform(F.col("_sh"), digest)), _from_digests
            ),
            1,
        )
    else:

        def _xx_at(i: int):
            return lambda s: F.xxhash64(F.lit(i), s)

        mh = [
            F.array_min(F.transform(F.col("_sh"), _xx_at(i))) for i in range(k)
        ]
        banded_arr = _band_structs(mh)
    banded = sh_df.select(
        "id", F.explode(banded_arr).alias("bb")
    ).select("id", "bb.band", F.col("bb.bucket").cast("string").alias("bucket"))
    # signatures are the expensive part and `banded` is consumed three times
    # (bucket counts, gate, self-join) — materialize once. The pair set is
    # eagerly computed (localCheckpoint) so the cache can be released HERE
    # instead of leaking storage blocks for the session lifetime; candidate
    # pairs are orders of magnitude smaller than the banded frame.
    banded = banded.persist()
    try:
        # bucket-size gate: count per (band, bucket) — map-side combined —
        # and keep only useful buckets (≥2 members, ≤ cap)
        eligible = (
            banded.groupBy("band", "bucket")
            .count()
            .filter((F.col("count") >= 2) & (F.col("count") <= max_bucket_size))
            .select("band", "bucket")
        )
        gated = banded.join(eligible, on=["band", "bucket"], how="left_semi")

        left = gated.alias("l")
        right = gated.alias("r")
        pairs = (
            left.join(
                right,
                on=[
                    F.col("l.band") == F.col("r.band"),
                    F.col("l.bucket") == F.col("r.bucket"),
                    F.col("l.id") < F.col("r.id"),
                ],
            )
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .distinct()
        )
        return pairs.localCheckpoint(eager=True)
    finally:
        banded.unpersist()


def near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int = 64,
    method: str = "xxhash64",
) -> DataFrame:
    """LSH candidates verified by exact n-gram Jaccard ≥ threshold.

    The shingle frame is shared (cached) between candidate generation and
    verification — shingling is the expensive stage and runs exactly once.
    The verified pair set is computed eagerly so both caches are released
    before returning (no storage-block leak across calls).
    """
    sh_df = _shingle_frame(df, text_col, id_col, shingle_n).persist()
    try:
        cands = _candidates_from_shingles(sh_df, k, bands, max_bucket_size, method)
        a = sh_df.select(F.col("id").alias("id_a"), F.col("_sh").alias("sh_a"))
        b = sh_df.select(F.col("id").alias("id_b"), F.col("_sh").alias("sh_b"))
        return (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .withColumn(
                "jaccard", F.round(ngram_jaccard(F.col("sh_a"), F.col("sh_b")), 6)
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
            .localCheckpoint(eager=True)
        )
    finally:
        sh_df.unpersist()


# --- winnowing fingerprints ---------------------------------------------------


def winnow_fingerprints(
    col: str | Column, k: int = 3, w: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03): hash
    every ORDERED k-word gram, slide a window of ``w`` consecutive gram
    hashes, keep each window's minimum — the window-minimum selection that
    guarantees any shared substring of ≥ w+k-1 words yields a shared
    fingerprint. (The paper pairs this with a Karp-Rabin ROLLING hash for
    per-gram efficiency; here each gram hashes independently via md5 so the
    oracle can replay it — the selection scheme and its guarantee are
    identical.) Returns the sorted distinct fingerprint set.

    Hashes are 8-hex-char md5 prefixes (string min == numeric min), so the
    whole pipeline replays in external SQL engines for oracle checks.
    Documents shorter than ``k`` words have no fingerprints; shorter than
    ``k+w-1`` words fingerprint to the single global minimum (standard
    degenerate-window behavior).
    """
    # Arrow-batched kernel: the expression formulation (transform over
    # per-window array_min slices) is O(T·w) interpreted HOF calls per doc —
    # measured 17 s at sf0.1 vs ~1 s here. \s is matched in ASCII mode to
    # mirror Java regex \s (ASCII-only by default), keeping tokenization
    # identical to tokens()/the DuckDB oracle.
    ws = re.compile(r"\s+", re.ASCII)

    @F.pandas_udf("array<string>")
    def _winnow(texts: pd.Series) -> pd.Series:
        out = []
        for txt in texts:
            toks = [t.lower() for t in ws.split(txt) if t] if txt else []
            grams = [
                hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:8]
                for i in range(len(toks) - k + 1)
            ]
            if not grams:
                out.append([])
            elif len(grams) < w:
                out.append([min(grams)])
            else:
                out.append(
                    sorted(
                        {min(grams[j : j + w]) for j in range(len(grams) - w + 1)}
                    )
                )
        return pd.Series(out)

    return _winnow(_c_col(col))


def _c_col(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- SimHash -----------------------------------------------------------------


def simhash64(col: str | Column) -> Column:
    """64-bit SimHash from md5(token) votes.

    Each distinct lower-cased token hashes to 64 bits (first 16 hex chars of
    md5); bit b of the signature is 1 iff more tokens have bit b set than
    unset. Built-in-only: aggregate over the token array sums per-bit votes.
    """
    t = F.array_distinct(F.transform(tokens(col), F.lower))
    # per-token 64-bit value
    h = lambda tok: F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("decimal(20,0)").cast("bigint")  # noqa: E731
    # votes[b] = sum over tokens of bit b (0/1); accumulate into array of 60 counts
    n_bits = 60  # 15 hex chars = 60 bits (conv of 16 chars can overflow signed 64)
    votes = F.aggregate(
        t,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, tok: F.zip_with(
            acc,
            F.array(
                *[
                    F.shiftright(h(tok), b).bitwiseAND(F.lit(1)).cast("int")
                    for b in range(n_bits)
                ]
            ),
            lambda a, v: a + v,
        ),
    )
    n = F.size(t)
    bits = F.transform(votes, lambda v: F.when(v * 2 > n, 1).otherwise(0))
    sig = F.lit(0).cast("bigint")
    for pos in range(n_bits):
        sig = sig.bitwiseOR(
            F.shiftleft(F.element_at(bits, pos + 1).cast("bigint"), pos)
        )
    return sig


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (popcount of xor)."""
    return F.bit_count(a.bitwiseXOR(b)).cast("int")


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n_bits: int = 60
) -> DataFrame:
    """(id, simhash) — the fast path for :func:`simhash64` (bit-identical
    signatures, agreement-tested).

    Arrow-batched kernel: per batch, hash each distinct lower-cased token
    ONCE (md5, first 15 hex chars = 60-bit value, same as
    ``conv(substring(md5(tok),1,15),16,10)``), unpack to a bits matrix and
    take per-bit majority votes with one numpy reduction. Scale shape: a
    NARROW map — no explode, no shuffle at all (the previous
    explode+aggregate formulation shuffled a 60-int vote vector per doc).
    Tokenization matches ``tokens()`` (ASCII ``\\s`` split, Java-regex
    semantics).
    """
    if not (1 <= n_bits <= 60):
        # the per-token value is 15 hex chars (60 bits) of md5; silently
        # zero-padding bits 60+ would skew every downstream band layout and
        # hamming threshold with no error
        raise ValueError(f"n_bits must be in [1, 60] (got {n_bits})")
    ws = re.compile(r"\s+", re.ASCII)
    shifts = np.arange(n_bits, dtype=np.uint64)

    @F.pandas_udf("bigint")
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        for txt in texts:
            toks = {t.lower() for t in ws.split(txt) if t} if txt else set()
            if not toks:
                out.append(0)
                continue
            vals = np.array(
                [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks],
                dtype=np.uint64,
            )
            bits = (vals[:, None] >> shifts) & np.uint64(1)  # (T, n_bits)
            votes = bits.sum(axis=0)
            sig = int(((votes * 2 > len(vals)).astype(np.uint64) << shifts).sum())
            out.append(sig)
        return pd.Series(out, dtype="int64")

    return df.select(
        F.col(id_col).alias("id"), _sig(F.col(text_col)).alias("simhash")
    )


def simhash_band_chunks(
    n_bits: int, n_bands: int, col: str | Column = "simhash"
) -> Column:
    """``array<struct<band:int, chunk:bigint>>`` — the pigeonhole band
    slices of a simhash column (band b = bits [b*n_bits/n_bands,
    (b+1)*n_bits/n_bands)).

    THE single definition of the band layout. The near-dup self-join
    (:func:`simhash_near_dup`) and the incremental signature store
    (``operators.incremental_dedup``) both bucket by these chunks; if
    either computed the slices differently, a store written by one operator
    would be probed with incompatible chunks by the other and silently miss
    matches — so both call this."""
    c = _c_col(col)
    bounds = [b * n_bits // n_bands for b in range(n_bands + 1)]
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(c, bounds[b])
                .bitwiseAND(F.lit((1 << (bounds[b + 1] - bounds[b])) - 1))
                .alias("chunk"),
            )
            for b in range(n_bands)
        ]
    )


def simhash_near_dup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_bits: int = 60,
    n_bands: int = 4,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Near-dup pairs by SimHash signature: banded hamming-≤k join.

    Pigeonhole: with ``n_bands`` equal bit-chunks, two signatures within
    hamming distance < n_bands share at least one identical chunk — so
    candidates are pairs colliding on (band, chunk), verified exactly with
    ``bit_count(xor)``. Shuffle key is (band, chunk); no all-pairs join
    anywhere, same scale shape as MinHash-LSH. ``max_bucket_size`` caps the
    quadratic corner (identical boilerplate signatures).
    """
    if max_hamming >= n_bands:
        raise ValueError(
            f"pigeonhole needs max_hamming < n_bands "
            f"(got {max_hamming} >= {n_bands}); raise n_bands"
        )
    sigs = simhash_signatures(df, text_col, id_col, n_bits)
    chunks = simhash_band_chunks(n_bits, n_bands)
    banded = sigs.select(
        "id", "simhash", F.explode(chunks).alias("bb")
    ).select("id", "simhash", "bb.band", "bb.chunk")
    banded = banded.persist()
    try:
        eligible = (
            banded.groupBy("band", "chunk")
            .count()
            .filter((F.col("count") >= 2) & (F.col("count") <= max_bucket_size))
            .select("band", "chunk")
        )
        gated = banded.join(eligible, on=["band", "chunk"], how="left_semi")
        left, right = gated.alias("l"), gated.alias("r")
        # verify (cheap popcount) BEFORE the pair-dedup shuffle: only the few
        # hamming-passing pairs reach the distinct, instead of every
        # bucket-collision carrying two 64-bit sigs through an exchange
        pairs = (
            left.join(
                right,
                on=[
                    F.col("l.band") == F.col("r.band"),
                    F.col("l.chunk") == F.col("r.chunk"),
                    F.col("l.id") < F.col("r.id"),
                ],
            )
            .select(
                F.col("l.id").alias("id_a"),
                F.col("r.id").alias("id_b"),
                hamming64(F.col("l.simhash"), F.col("r.simhash")).alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
        )
        return pairs.localCheckpoint(eager=True)
    finally:
        banded.unpersist()


# --- exact duplicated-span detection (substring-level dedup) ------------------


def _raw_tokens(col: str | Column) -> Column:
    """RAW space-split tokens (no casefolding, no filtering) so that token
    POSITIONS are reproducible in any SQL engine's ``string_split`` — span
    offsets must mean the same thing to the oracle and to a downstream
    stripper."""
    return F.split(F.col(col) if isinstance(col, str) else col, " ")


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_docs: int = 2,
    hash_exchange: bool = False,
) -> DataFrame:
    """Exact substring-level duplicate detection: maximal token spans whose
    every k-token window recurs in >= ``min_docs`` distinct documents.

    The fixed-k-window approximation of suffix-array substring dedup (Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): any duplicated substring of >= k tokens is covered by
    duplicated k-windows, and a maximal run of duplicated window START
    positions [a..b] is exactly the maximal duplicated span of tokens
    [a .. b+k-1]. Shorter duplicates are invisible by design — k is the
    noise floor.

    Plan shape (scale): one exchange of all k-windows keyed on the window
    text (map-side-combined count-distinct, then a semi-join back on the
    same key so AQE can reuse the exchange), then a per-document window
    function (gaps-and-islands: pos - row_number) whose partitions are
    single documents — never a global sort. With ``hash_exchange=True``
    the shuffle key is ``xxhash64(window)`` (8 bytes instead of ~6k text —
    the right call at 100 TB; probabilistically exact, a 64-bit collision
    could mark a span duplicated spuriously, which is why the ORACLE runs
    the exact-string default).

    Returns one row per (doc, span): ``doc_id | span_start | span_end |
    span_tokens | span_text`` with 0-based inclusive token offsets.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2 (got {k}); k=1 marks single tokens")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2 (got {min_docs})")
    from pyspark.sql import Window

    doc = F.col(id_col).alias("doc_id")

    def _windows(tt: Column) -> Column:
        last = F.size(tt) - k  # last 0-based start position
        return F.when(
            last >= 0,
            F.transform(
                F.sequence(F.lit(0), last),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.concat_ws(" ", F.slice(tt, i + 1, k)).alias("win"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:int,win:string>>"))

    # bind the token array once per row (see _ordered_grams: a free
    # expression inside the lambda re-tokenizes per position -> O(n^2))
    wins = F.element_at(F.transform(F.array(_raw_tokens(text_col)), _windows), 1)
    shingled = (
        df.select(doc, F.explode(wins).alias("w"))
        .select("doc_id", F.col("w.pos").alias("pos"), F.col("w.win").alias("win"))
    )
    key = F.xxhash64("win").alias("key") if hash_exchange else F.col("win").alias("key")
    keyed = shingled.select("doc_id", "pos", key)
    dup_keys = (
        keyed.groupBy("key")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("key")
    )
    hits = keyed.join(dup_keys, "key", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        hits.withColumn("_grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .drop("_grp")
    )
    spans = spans.withColumn(
        "span_tokens", F.col("span_end") - F.col("span_start") + 1
    )
    # re-attach the span text from the source row (join on doc id — both
    # sides already hash-partitionable on it; spans << corpus)
    src = df.select(doc, _raw_tokens(text_col).alias("_t"))
    return (
        spans.join(src, "doc_id")
        .withColumn(
            "span_text",
            F.concat_ws(
                " ", F.slice("_t", F.col("span_start") + 1, F.col("span_tokens"))
            ),
        )
        .select("doc_id", "span_start", "span_end", "span_tokens", "span_text")
    )


def strip_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_docs: int = 2,
    hash_exchange: bool = False,
) -> DataFrame:
    """Remove every duplicated span (the drop-all policy of Lee et al.
    substring dedup) — tokens covered by any :func:`duplicate_spans` span
    are deleted from EVERY document that has them, the rest keep their
    original order. A fully-duplicated document comes back as ''.

    One extra exchange over detection: covered positions explode from the
    span table (tiny — bounded by total duplicated tokens) and anti-join
    the per-token table on (doc, pos); reassembly is a per-document
    ordered aggregation, partitioned by document — no global sort.
    """
    spans = duplicate_spans(df, text_col, id_col, k, min_docs, hash_exchange)
    covered = spans.select(
        "doc_id", F.explode(F.sequence("span_start", "span_end")).alias("pos")
    )
    doc = F.col(id_col).alias("doc_id")
    toks_pos = df.select(doc, F.posexplode(_raw_tokens(text_col)).alias("pos", "tok"))
    kept = toks_pos.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("_cleaned")
    )
    return (
        df.select(doc)
        .join(rebuilt, "doc_id", "left")
        .select("doc_id", F.coalesce("_cleaned", F.lit("")).alias("cleaned_text"))
    )
