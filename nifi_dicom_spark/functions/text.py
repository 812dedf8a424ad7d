"""Text-analysis columns for large-scale training-data pipelines.

All pure built-in expressions (JVM-side, codegen) — the transcript/document
tables at 100 TB never touch Python for these. Cross-engine-deterministic
(same results in DuckDB SQL) so every one is oracle-checkable.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny multi-language stopword list — deterministic, not linguistic truth
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization (empty strings filtered)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def word_tokens(col: str | Column) -> Column:
    """BPE-ish pre-tokenization: split into word / number / punct runs."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)


def _bind(expr: Column, fn) -> Column:
    """Evaluate ``fn`` with ``expr`` bound as a lambda variable.

    Free expressions inside higher-order-function lambdas (and expressions
    repeated across a projection) are re-evaluated at every reference —
    binding via a single-element ``transform`` materializes ``expr`` once
    per row. Same trick as ``dedup_text._ordered_grams``; here it keeps
    each text metric at ONE tokenization per row instead of one per use.
    """
    return F.element_at(F.transform(F.array(expr), fn), 1)


def _stopword_ratio_of(t: Column) -> Column:
    sw = F.filter(t, lambda x: F.lower(x).isin(STOPWORDS))
    return F.when(F.size(t) > 0, F.size(sw) / F.size(t)).otherwise(F.lit(0.0))


def stopword_ratio(col: str | Column) -> Column:
    return _bind(tokens(col), _stopword_ratio_of)


def punct_ratio(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def _mean_word_len_of(t: Column) -> Column:
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(t) > 0, total / F.size(t)).otherwise(F.lit(0.0))


def mean_word_len(col: str | Column) -> Column:
    return _bind(tokens(col), _mean_word_len_of)


def quality_score(col: str | Column) -> Column:
    """Composite quality heuristic in [0,1]: long enough, balanced word
    length, some stopwords, little punctuation noise. The three
    token-based parts share ONE bound tokenization per row."""

    def _token_parts(t: Column) -> Column:
        n = F.size(t)
        len_ok = F.when(n >= 5, 1.0).otherwise(n / F.lit(5.0))
        mwl = _mean_word_len_of(t)
        wl_ok = F.when((mwl >= 3) & (mwl <= 10), 1.0).otherwise(0.5)
        sw = _stopword_ratio_of(t)
        sw_ok = F.when((sw > 0.0) & (sw < 0.6), 1.0).otherwise(0.5)
        return len_ok + wl_ok + sw_ok

    pr_ok = F.when(punct_ratio(col) < 0.2, 1.0).otherwise(0.3)
    return F.round((_bind(tokens(col), _token_parts) + pr_ok) / 4.0, 6)


def fingerprint(col: str | Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lower-cased
    text — exact-dup key robust to spacing (rolling-hash stand-in that stays
    cross-engine deterministic)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.regexp_replace(F.trim(c), r"\s+", " ")))


# --- language ID (n-gram heuristic) -----------------------------------------

#: deterministic marker sets per language (toy heuristic — scores by marker
#: hit counts, ties broken alphabetically). Real pipelines plug a model here.
_LANG_MARKERS = {
    "en": ["the", "and", "is"],
    "de": ["der", "und", "ist"],
    "fr": ["le", "et", "est"],
    "es": ["el", "y", "es"],
}


def _lang_score_of(lowered: Column, lang: str) -> Column:
    markers = _LANG_MARKERS[lang]
    return F.size(F.filter(lowered, lambda x: x.isin(markers)))


def _lang_guess_of(lowered: Column) -> Column:
    """argmax over marker-token hit counts of an already-lowered token
    array, alphabetical tie-break; 'und' when all scores are 0."""
    scores = {
        lang: _lang_score_of(lowered, lang) for lang in sorted(_LANG_MARKERS)
    }
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # reverse alphabetical so the earliest language wins ties in the chain
    for lang in sorted(_LANG_MARKERS, reverse=True):
        out = F.when(
            (best > 0) & (scores[lang] == best), F.lit(lang)
        ).otherwise(out)
    return out


def lang_guess(col: str | Column) -> Column:
    """argmax over marker-token hit counts, alphabetical tie-break;
    'und' (undetermined) when all scores are 0. Expressed as an explicit
    when-chain so the exact same logic is one CASE expression in SQL.
    All per-language scores share one bound tokenization per row."""
    return _bind(F.transform(tokens(col), F.lower), _lang_guess_of)


# --- repetition signals (Gopher-style quality filters) ------------------------


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document repetition signals for corpus quality filtering, after
    the "Repetition Removal" family in Rae et al. 2021 (Gopher, §A1.1):
    heavily repetitive documents are low-quality (boilerplate, generation
    loops) and are filtered by thresholding these fractions.

    Columns: ``n_tokens``, ``dup_token_frac`` (1 - distinct/total),
    ``top_token`` + ``top_token_frac`` (mode token and its share),
    ``top_bigram`` + ``top_bigram_frac`` (mode word-2-gram, share of the
    n-1 bigram slots). Ties break to the lexicographically smallest
    token/bigram, so results are deterministic and oracle-replayable.

    Scale shape: tokens/bigrams are exploded then aggregated by
    (doc, term) — partial aggregation collapses repeats map-side, and both
    the groupBy and the window shuffle on the doc id, so AQE reuses one
    exchange. Explode-then-aggregate (not array HOFs) is deliberate: a
    single pathological 1 GB document becomes rows, not one driver-sized
    array cell.
    """
    c = F.col(id_col)
    toks = F.transform(tokens(text_col), F.lower)
    base = df.select(c.alias("_id"), toks.alias("toks"))
    n_bg = F.greatest(F.size("toks") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("toks", 1, n_bg),
        F.slice("toks", 2, n_bg),
        lambda a, b: F.concat_ws(" ", a, b),
    )

    stats = base.select(
        "_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
    )

    def _mode(frame: DataFrame, arr: Column, out: str) -> DataFrame:
        term = frame.select("_id", F.explode(arr).alias("term"))
        counts = term.groupBy("_id", "term").agg(F.count("*").alias("c"))
        w = Window.partitionBy("_id").orderBy(F.col("c").desc(), F.col("term").asc())
        return (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("_id", F.col("term").alias(out), F.col("c").alias(out + "_n"))
        )

    top_tok = _mode(base, F.col("toks"), "top_token")
    top_bg = _mode(base, bigrams, "top_bigram")

    def _frac(num: Column, den: Column) -> Column:
        return F.round(
            F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0)), 6
        )

    return (
        stats.join(top_tok, "_id", "left")
        .join(top_bg, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            _frac(F.col("n_tokens") - F.col("n_distinct"), F.col("n_tokens")).alias(
                "dup_token_frac"
            ),
            F.coalesce("top_token", F.lit("")).alias("top_token"),
            _frac(F.coalesce("top_token_n", F.lit(0)), F.col("n_tokens")).alias(
                "top_token_frac"
            ),
            F.coalesce("top_bigram", F.lit("")).alias("top_bigram"),
            _frac(
                F.coalesce("top_bigram_n", F.lit(0)), F.col("n_tokens") - 1
            ).alias("top_bigram_frac"),
        )
    )


# --- composite corpus filter ---------------------------------------------------


def quality_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 10,
    max_dup_frac: float = 0.8,
    min_quality: float = 0.5,
) -> DataFrame:
    """C4/Gopher-style keep/drop decision with machine-readable reasons.

    Composes the signal family into the decision a corpus pipeline actually
    ships: too_short (token count), repetitive (duplicate-token fraction),
    low_quality (composite score), lang_unknown (marker heuristic), has_pii
    (any structured identifier). ``reasons`` is the comma-joined list of
    failed rules in fixed order; ``keep`` is "no rule failed".

    One narrow projection, zero shuffle — pipelines with the scan at
    100 TB. Tokenization cost: the lowered token array is bound ONCE per
    row and shared by the count/repetition/language rules; quality_score
    binds its own unlowered array (token lengths must not pass through
    lower(), whose locale edge cases differ across engines). The PII rules
    are regexp passes over the raw text, one per kind.
    """
    from .pii import _KINDS, pii_count

    def _parts(t: Column) -> Column:
        n = F.size(t)
        dup = F.when(
            n > 0,
            (n - F.size(F.array_distinct(t))) / n.cast("double"),
        ).otherwise(F.lit(0.0))
        return F.struct(
            n.cast("long").alias("n"),
            F.round(dup, 6).alias("dup"),
            _lang_guess_of(t).alias("lang"),
        )

    s = _bind(F.transform(tokens(text_col), F.lower), _parts)
    q = quality_score(text_col)
    lang = s["lang"]
    n_pii = sum(pii_count(text_col, k).cast("long") for k in _KINDS)
    reasons = F.concat_ws(
        ",",
        F.when(s["n"] < min_tokens, "too_short"),
        F.when(s["dup"] > max_dup_frac, "repetitive"),
        F.when(q < min_quality, "low_quality"),
        F.when(lang == "und", "lang_unknown"),
        F.when(n_pii > 0, "has_pii"),
    )
    return df.select(
        F.col(id_col),
        s["n"].alias("n_tokens"),
        s["dup"].alias("dup_token_frac"),
        q.alias("quality"),
        lang.alias("lang"),
        reasons.alias("reasons"),
        (reasons == "").alias("keep"),
    )


# ------------------------------------------------------- unigram LM score


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Perplexity-proxy quality score: mean log-probability of each
    document's tokens under the corpus's OWN unigram distribution (the
    KenLM-style signal large-scale pipelines use to rank text quality,
    computed without an external model: p(t) = corpus_count(t) / corpus
    tokens, case-folded).

    Output: ``(id, n_tokens, mean_logprob, bits_per_token)`` — higher
    ``bits_per_token`` ⇔ rarer vocabulary ⇔ "surprising" text (gibberish
    and boilerplate both stand out, at opposite ends). Documents with zero
    tokens are omitted (their mean is undefined).

    Scale shape: exact corpus-wide frequencies cost two exchanges over the
    exploded token relation — (1) hash-shuffle by token for the frequency
    aggregate and the join (AQE broadcasts the vocab side when it is
    small; a huge vocabulary falls back to the co-partitioned shuffle
    join, so no size assumption is baked in), then (2) re-aggregate by
    doc id. The corpus total is Σ tf over the vocab-sized freq relation
    (not a third corpus scan) and joins in as a broadcast single-row
    crossJoin. Partial aggregation (map-side combine) applies at both
    ends; nothing is collected to the driver.
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    # the corpus total is Σ tf — derive it from the vocab-sized freq
    # relation rather than a third full scan of the text column
    total = freq.groupBy().agg(F.sum("tf").alias("corpus_tokens"))
    per_doc = (
        tok.join(freq, "token")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log("tf")).alias("_avg_ln_tf"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "id",
        "n_tokens",
        F.round(
            F.col("_avg_ln_tf") - F.log("corpus_tokens"), 4
        ).alias("mean_logprob"),
        F.round(
            -(F.col("_avg_ln_tf") - F.log("corpus_tokens")) / F.lit(math.log(2)),
            4,
        ).alias("bits_per_token"),
    )



def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = 0.5,
) -> DataFrame:
    """Bigram-LM quality score: mean log p(w_i | w_{i-1}) of each document
    under an add-k-smoothed bigram model trained on the corpus's OWN
    token stream (the CCNet/KenLM perplexity-bucketing signal one order
    up from :func:`unigram_logprob` — word ORDER now matters, so shuffled
    boilerplate and Markov-plausible text separate even when their
    unigram mixes are identical).

    p(w2 | w1) = (c(w1 w2) + k) / (c(w1) + k·V) with V = corpus vocabulary
    size; scored over each document's interior bigrams (documents with
    fewer than 2 tokens are omitted — their mean is undefined).

    Output: ``(id, n_bigrams, mean_logprob, bits_per_token)``; lower
    bits_per_token ⇔ more predictable word-to-word transitions.

    Scale shape: the bigram relation is built row-locally by a codegen'd
    ``transform(sequence(...))`` over the bound token array (no Python),
    then exchanged twice — once keyed on (w1, w2) for the bigram
    frequency join, once re-keyed on w1 for the context-count join (AQE
    broadcasts either frequency side when small; nothing assumes it) —
    and re-aggregated by doc id. V is a vocab-sized aggregate joined as a
    broadcast single-row crossJoin, never a third corpus scan. All counts
    are map-side combined; nothing collects to the driver.
    """
    t = F.transform(tokens(F.col(text_col)), F.lower)

    def _pairs(tt: Column) -> Column:
        n2 = F.size(tt) - 1
        return F.when(
            n2 >= 1,
            F.transform(
                F.sequence(F.lit(1), n2),
                lambda i: F.struct(
                    F.element_at(tt, i).alias("w1"),
                    F.element_at(tt, i + 1).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    pairs = F.element_at(F.transform(F.array(t), _pairs), 1)
    bg = df.select(F.col(id_col).alias("id"), F.explode(pairs).alias("p")).select(
        "id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    bg_freq = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    ug = (
        df.select(F.explode(t).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    vocab = ug.groupBy().agg(F.count(F.lit(1)).alias("v"))
    lp = F.log(
        (F.col("cb") + F.lit(add_k)) / (F.col("cu") + F.lit(add_k) * F.col("v"))
    )
    per_doc = (
        bg.join(bg_freq, ["w1", "w2"])
        .join(ug, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("id", lp.alias("_lp"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.avg("_lp").alias("_m"))
    )
    return per_doc.select(
        "id",
        "n_bigrams",
        F.round("_m", 4).alias("mean_logprob"),
        F.round(-F.col("_m") / F.lit(math.log(2)), 4).alias("bits_per_token"),
    )


def top_ngrams(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 100,
) -> DataFrame:
    """Corpus-wide top-``k`` word ``n``-grams (case-folded whitespace
    tokens), the boilerplate-discovery primitive: the most frequent
    n-grams in a web corpus are navigation chrome, license banners, and
    template text — the inputs to a repetition-removal pass.

    Deterministic total order: count desc, then ngram asc (ngrams are
    unique after the aggregate, so the tie-break is total and the LIMIT
    is stable across engines).

    Scale shape: the n-gram relation is built by a narrow, fully
    codegen'd ``transform(sequence(...), slice, concat_ws)`` over each
    document's token array (documents shorter than ``n`` contribute an
    empty array — no error, no skew), exploded and hash-aggregated with
    map-side partial combine. ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject — each partition keeps its local top-k and only
    k·partitions rows reach the driver, never the full vocabulary.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = tokens(F.lower(F.col(text_col)))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram").asc())
        .limit(k)
    )
