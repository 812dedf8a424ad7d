"""Text-statistics and duplicated-span operators: unigram and bigram
log-probabilities and top n-grams (``functions/text.py``), exact
duplicated-span detection and stripping (``functions/dedup_text.py``),
checked against pure-Python replays and hand-built documents."""

from __future__ import annotations


def test_unigram_logprob_matches_serial(spark):
    """Exact corpus-unigram mean log-prob vs a pure-Python replay; empty
    docs omitted; case-folded."""
    import math
    from collections import Counter

    from nifi_dicom_spark.functions.text import unigram_logprob

    texts = {1: "a b a c", 2: "A b", 3: "", 4: "c c d"}
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    out = {r["id"]: r for r in unigram_logprob(docs).collect()}
    toks = {k: v.lower().split() for k, v in texts.items()}
    freq = Counter(t for v in toks.values() for t in v)
    total = sum(freq.values())
    assert set(out) == {1, 2, 4}  # empty doc omitted
    for k in out:
        exp = sum(math.log(freq[t] / total) for t in toks[k]) / len(toks[k])
        assert abs(out[k]["mean_logprob"] - round(exp, 4)) < 1e-9
        assert out[k]["n_tokens"] == len(toks[k])
        assert abs(
            out[k]["bits_per_token"] - round(-exp / math.log(2), 4)
        ) < 2e-4


def test_top_ngrams_counts_and_ties(spark):
    """Bigram counts vs serial replay; short docs contribute nothing; the
    (cnt desc, ngram asc) order is total and the limit stable."""
    from collections import Counter

    from nifi_dicom_spark.functions.text import top_ngrams

    texts = ["a b a b c", "b c", "x", ""]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = top_ngrams(docs, n=2, k=3).collect()
    serial = Counter()
    for t in texts:
        w = t.split()
        for i in range(len(w) - 1):
            serial[f"{w[i]} {w[i+1]}"] += 1
    expect = sorted(serial.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [(r["ngram"], r["cnt"]) for r in rows] == expect
    # n=1 degenerates to token counts
    uni = {r["ngram"]: r["cnt"] for r in top_ngrams(docs, n=1, k=10).collect()}
    assert uni == {"a": 2, "b": 3, "c": 2, "x": 1}


# --- exact duplicated-span detection ------------------------------------------


def _span_docs(spark):
    """Six tiny docs with a fully-controlled duplication structure (k=3):
    docs 0/1 share 'a b c d' (two overlapping 3-windows -> ONE merged
    span of 4 tokens), docs 2/3/4 share 'x y z' exactly, doc 5 is unique,
    and doc 6 is 'a b c d' verbatim (fully duplicated)."""
    rows = [
        (0, "a b c d p q r s"),
        (1, "m n a b c d t u"),
        (2, "x y z g h i j"),
        (3, "k l x y z w v"),
        (4, "x y z o e f u"),
        (5, "one two three four five six"),
        (6, "a b c d"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_spans_merges_overlapping_windows(spark):
    from nifi_dicom_spark.functions.dedup_text import duplicate_spans

    docs = _span_docs(spark)
    got = {
        (r["doc_id"], r["span_start"]): r
        for r in duplicate_spans(docs, "text", "doc_id", k=3).collect()
    }
    # 'a b c d' in docs 0/1/6: windows 'a b c'+'b c d' chain into one span
    for doc_id, start in [(0, 0), (1, 2), (6, 0)]:
        r = got.pop((doc_id, start))
        assert r["span_tokens"] == 4 and r["span_text"] == "a b c d"
        assert r["span_end"] == start + 3
    # 'x y z' in docs 2/3/4: single window, exact span
    for doc_id, start in [(2, 0), (3, 2), (4, 0)]:
        r = got.pop((doc_id, start))
        assert r["span_tokens"] == 3 and r["span_text"] == "x y z"
    assert got == {}, f"unexpected extra spans: {got}"


def test_duplicate_spans_min_docs_and_short_docs(spark):
    from nifi_dicom_spark.functions.dedup_text import duplicate_spans

    docs = _span_docs(spark)
    # min_docs=3: the 2-doc 'a b c d' family needs its third member (doc 6);
    # each window must individually clear the bar — only 'b c d' has all
    # three (doc 6 is the 4-token doc so both windows survive via 0/1/6)
    got = duplicate_spans(docs, "text", "doc_id", k=3, min_docs=3).collect()
    assert {(r["doc_id"], r["span_text"]) for r in got} == {
        (0, "a b c d"),
        (1, "a b c d"),
        (6, "a b c d"),
        (2, "x y z"),
        (3, "x y z"),
        (4, "x y z"),
    }
    # a doc shorter than k yields no windows and never crashes slice()
    tiny = spark.createDataFrame([(0, "a b"), (1, "a b")], "doc_id long, text string")
    assert duplicate_spans(tiny, "text", "doc_id", k=3).count() == 0


def test_duplicate_spans_hash_exchange_parity(spark):
    """xxhash64 exchange keys give byte-identical results on collision-free
    data (the 100-TB fast path's correctness contract)."""
    from nifi_dicom_spark.functions.dedup_text import duplicate_spans

    docs = _span_docs(spark)
    a = sorted(map(tuple, duplicate_spans(docs, "text", "doc_id", k=3).collect()))
    b = sorted(
        map(
            tuple,
            duplicate_spans(docs, "text", "doc_id", k=3, hash_exchange=True).collect(),
        )
    )
    assert a == b


def test_strip_duplicate_spans_drop_all_policy(spark):
    from nifi_dicom_spark.functions.dedup_text import strip_duplicate_spans

    docs = _span_docs(spark)
    got = {
        r["doc_id"]: r["cleaned_text"]
        for r in strip_duplicate_spans(docs, "text", "doc_id", k=3).collect()
    }
    assert got[0] == "p q r s"
    assert got[1] == "m n t u"
    assert got[2] == "g h i j"
    assert got[3] == "k l w v"
    assert got[4] == "o e f u"
    assert got[5] == "one two three four five six"  # untouched
    assert got[6] == ""  # fully duplicated -> empty, not missing


def test_duplicate_spans_validation(spark):
    import pytest

    from nifi_dicom_spark.functions.dedup_text import duplicate_spans

    docs = _span_docs(spark)
    with pytest.raises(ValueError, match="k must be >= 2"):
        duplicate_spans(docs, "text", "doc_id", k=1)
    with pytest.raises(ValueError, match="min_docs must be >= 2"):
        duplicate_spans(docs, "text", "doc_id", min_docs=1)


def test_bigram_logprob_matches_serial(spark):
    """Add-k bigram LM vs a pure-Python replay: context counts are FULL
    unigram occurrences, V is vocab size, sub-2-token docs omitted, and
    word order matters (same bag, different order => different score)."""
    import math
    from collections import Counter

    from nifi_dicom_spark.functions.text import bigram_logprob

    texts = {1: "a b a c", 2: "A b", 3: "", 4: "c c d", 5: "b a c a", 6: "x"}
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    out = {r["id"]: r for r in bigram_logprob(docs, add_k=0.5).collect()}
    toks = {k: v.lower().split() for k, v in texts.items()}
    ug = Counter(t for v in toks.values() for t in v)
    bgs = Counter(p for v in toks.values() for p in zip(v, v[1:]))
    vv = len(ug)
    assert set(out) == {1, 2, 4, 5}  # empty and 1-token docs omitted
    exp_by_doc = {}
    for k in out:
        pairs = list(zip(toks[k], toks[k][1:]))
        exp = sum(
            math.log((bgs[p] + 0.5) / (ug[p[0]] + 0.5 * vv)) for p in pairs
        ) / len(pairs)
        exp_by_doc[k] = exp
        assert out[k]["n_bigrams"] == len(pairs)
        assert abs(out[k]["mean_logprob"] - round(exp, 4)) < 1e-9
        assert abs(
            out[k]["bits_per_token"] - round(-exp / math.log(2), 4)
        ) < 2e-4
    # docs 1 and 5 share a unigram bag but not an order — scores differ
    assert out[1]["mean_logprob"] != out[5]["mean_logprob"] or (
        round(exp_by_doc[1], 4) == round(exp_by_doc[5], 4)
    )
