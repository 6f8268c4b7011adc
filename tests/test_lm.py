"""Tests for queries/lm.py + functions/bpe.py: duplicate spans, bigram-LM
scoring, and BPE training/encoding.

The BPE trainer is pinned against an INDEPENDENT reference implementation
(Sennrich-style regex merge over a space-joined symbol vocabulary) — this
is the hard check for the rows-only driver entries."""

import collections
import math
import re

import pytest
from pyspark.sql import functions as F


def _docs_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


# --- independent BPE reference (regex over space-joined symbols) -------------


def _ref_bpe(word_freqs, num_merges):
    vocab = {" ".join(list(w)) + " </w>": c for w, c in word_freqs.items()}
    merges = []
    for _ in range(num_merges):
        pairs = collections.Counter()
        for word, freq in vocab.items():
            symbols = word.split()
            for i in range(len(symbols) - 1):
                pairs[(symbols[i], symbols[i + 1])] += freq
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        pat = re.compile(r"(?<!\S)" + re.escape(a + " " + b) + r"(?!\S)")
        vocab = {pat.sub(a + b, w): f for w, f in vocab.items()}
        merges.append((a, b, a + b, c))
    return merges, vocab


CORPUS = [
    "lower lower lowest newer newer newer wider low new",
    "newer wider wider lowest lower new new low low lower",
    "the newer the lower the wider the lowest",
]


def test_train_matches_reference_implementation(spark):
    from changegen_spark.functions.bpe import bpe_train, word_counts

    freqs = collections.Counter(" ".join(CORPUS).split())
    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    got = bpe_train(word_counts(docs), num_merges=15)
    want, _ = _ref_bpe(freqs, 15)
    assert got == want
    # sanity: the corpus supports a non-trivial number of merges
    assert len(got) >= 10


def test_encode_matches_trained_vocab_state(spark):
    """Greedy lowest-rank-first encoding must reproduce exactly the symbol
    sequence training left each word in."""
    from changegen_spark.functions.bpe import _encode_word, bpe_train, word_counts

    freqs = collections.Counter(" ".join(CORPUS).split())
    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    merges = bpe_train(word_counts(docs), num_merges=15)
    ranks = {(l, r): i for i, (l, r, _m, _c) in enumerate(merges)}
    _, final_vocab = _ref_bpe(freqs, 15)
    rep = {w.replace(" ", "").replace("</w>", ""): w.split() for w in final_vocab}
    for word in freqs:
        assert _encode_word(word, ranks) == rep[word], word


def _bpe_tokens(text, merges):
    """Driver-side BPE encoding of one document with trained merges."""
    from changegen_spark.functions.bpe import _encode_word

    ranks = {(l, r): i for i, (l, r, _m, _c) in enumerate(merges)}
    return [t for w in text.split() for t in _encode_word(w, ranks)]


def test_encode_udf_rebuilds_words(spark):
    """Trained merges encode each document into tokens that concatenate
    back to its words, and the count UDF counts exactly those tokens."""
    from changegen_spark.functions.bpe import bpe_encode_count_udf, bpe_train, word_counts

    docs = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string")
    merges = bpe_train(word_counts(docs), num_merges=8)
    cnt = bpe_encode_count_udf(merges)
    by_id = {r.doc_id: r.n for r in docs.select("doc_id", cnt(F.col("text")).alias("n")).collect()}
    for i, text in enumerate(CORPUS):
        toks = _bpe_tokens(text, merges)
        assert [w for w in "".join(toks).split("</w>") if w] == text.split()
        assert by_id[i] == len(toks)


def test_encode_no_merges_is_chars(spark):
    from changegen_spark.functions.bpe import _encode_word

    assert _encode_word("abc", {}) == ["a", "b", "c", "</w>"]


# --- duplicate spans ---------------------------------------------------------


def test_dup_spans_planted_duplicate(spark, monkeypatch):
    from changegen_spark.queries import lm

    # docs 1 and 2 share tokens d1..d9 (two overlapping duplicated 8-grams
    # -> one merged span of 9 tokens); doc 3 shares nothing.
    shared = " ".join(f"d{i}" for i in range(1, 10))
    rows = [
        (1, "a1 a2 " + shared + " a3 a4", "en", "s", 1),
        (2, shared + " b1 b2 b3 b4 b5", "en", "s", 1),
        (3, " ".join(f"c{i}" for i in range(1, 15)), "en", "s", 1),
    ]
    monkeypatch.setattr(lm, "_docs", lambda s, d: _docs_df(spark, rows))
    out = {(r.doc_id, r.span_start): r for r in lm.q_dup_spans(spark, "x").collect()}
    assert set(out) == {(1, 3), (2, 1)}
    r1 = out[(1, 3)]
    assert (r1.span_end, r1.span_tokens, r1.n_dup_grams) == (11, 9, 2)
    r2 = out[(2, 1)]
    assert (r2.span_end, r2.span_tokens, r2.n_dup_grams) == (9, 9, 2)


def test_dup_spans_abutting_windows_merge(spark, monkeypatch):
    from changegen_spark.queries import lm

    # doc 1 = A(8 tokens) + B(8 tokens); doc 2 contains A and B separately
    # with a 9-token gap.  In doc 1 only the windows at pos 1 (=A) and
    # pos 9 (=B) are duplicated — abutting intervals [1,8] and [9,16] —
    # which must merge into ONE maximal span [1,16] (interval union).
    a = " ".join(f"a{i}" for i in range(1, 9))
    b = " ".join(f"b{i}" for i in range(1, 9))
    gap = " ".join(f"g{i}" for i in range(1, 10))
    rows = [
        (1, a + " " + b, "en", "s", 1),
        (2, a + " " + gap + " " + b, "en", "s", 1),
    ]
    monkeypatch.setattr(lm, "_docs", lambda s, d: _docs_df(spark, rows))
    out = [
        (r.doc_id, r.span_start, r.span_end, r.span_tokens, r.n_dup_grams)
        for r in lm.q_dup_spans(spark, "x").collect()
    ]
    assert out == [(1, 1, 16, 16, 2), (2, 1, 8, 8, 1), (2, 18, 25, 8, 1)]


def test_dup_spans_islands_split_on_gap(spark, monkeypatch):
    from changegen_spark.queries import lm

    # doc 1 contains the shared 8-gram twice, separated by >7 unique tokens
    # -> two spans in doc 1 (and one in doc 2); within-doc repetition counts.
    shared = " ".join(f"d{i}" for i in range(1, 9))
    gap = " ".join(f"g{i}" for i in range(1, 11))
    rows = [
        (1, shared + " " + gap + " " + shared, "en", "s", 1),
        (2, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10", "en", "s", 1),
    ]
    monkeypatch.setattr(lm, "_docs", lambda s, d: _docs_df(spark, rows))
    out = [(r.doc_id, r.span_start, r.span_end) for r in lm.q_dup_spans(spark, "x").collect()]
    assert out == [(1, 1, 8), (1, 19, 26)]


# --- bigram LM score ---------------------------------------------------------


def test_lm_score_hand_computed(spark, monkeypatch):
    from changegen_spark.queries import lm

    rows = [
        (1, "a b a b", "en", "s", 1),
        (2, "a b c", "en", "s", 1),
        (3, "z", "en", "s", 1),  # <2 tokens -> absent
    ]
    monkeypatch.setattr(lm, "_docs", lambda s, d: _docs_df(spark, rows))
    out = {r.doc_id: r for r in lm.q_lm_score(spark, "x").collect()}
    assert set(out) == {1, 2}

    toks = [r[1].split() for r in rows]
    uni = collections.Counter(w for t in toks for w in t)
    big = collections.Counter(
        (t[i], t[i + 1]) for t in toks for i in range(len(t) - 1)
    )
    v = len(uni)

    def nll(t):
        lps = [
            math.log((big[(t[i], t[i + 1])] + 1.0) / (uni[t[i]] + v))
            for i in range(len(t) - 1)
        ]
        return -sum(lps) / len(lps)

    assert out[1].n_bigrams == 3
    assert out[1].nll == pytest.approx(round(nll(toks[0]), 6), abs=1e-6)
    assert out[2].nll == pytest.approx(round(nll(toks[1]), 6), abs=1e-6)
    assert out[1].ppl == pytest.approx(round(math.exp(nll(toks[0])), 3), abs=1e-3)


# --- interpolated Kneser-Ney -------------------------------------------------


def test_kn_bigram_matches_independent_python_model(spark, sf_dir):
    """Plain-Python KN from the raw texts (Counter-based, float algebra,
    no shared code): every count column exact, every probability within
    one e6 ulp."""
    import collections

    from changegen_spark.queries.lm import q_kn_bigram
    from changegen_spark.sources.tables import load_table

    rows = q_kn_bigram(spark, sf_dir).collect()
    assert rows, "corpus yields bigrams"
    texts = [
        r.text for r in load_table(spark, sf_dir, "documents").select("text").collect()
    ]
    bc = collections.Counter()
    for t in texts:
        toks = (t or "").strip().split()
        for a, b in zip(toks, toks[1:]):
            bc[(a, b)] += 1
    c1, n1r, n1l = (
        collections.Counter(),
        collections.Counter(),
        collections.Counter(),
    )
    for (a, b), c in bc.items():
        c1[a] += c
        n1r[a] += 1
        n1l[b] += 1
    tt = len(bc)
    for r in rows:
        assert (r.c12, r.c1, r.n1r, r.n1l) == (
            bc[(r.w1, r.w2)],
            c1[r.w1],
            n1r[r.w1],
            n1l[r.w2],
        ), (r.w1, r.w2)
        pkn = (max(r.c12 - 0.75, 0) + 0.75 * r.n1r * (r.n1l / tt)) / r.c1
        assert abs(round(pkn * 1e6) - r.p_kn_e6) <= 1, (r.w1, r.w2)
        pmle = r.c12 / r.c1
        assert abs(round(pmle * 1e6) - r.p_mle_e6) <= 1


def test_kn_distributes_exactly_unit_mass_per_context(spark, sf_dir):
    """The KN identity: summed over the FULL vocabulary,
    Σ_w2 P(w2|w1) = (c1 − D·n1r)/c1 + (D·n1r/c1)·Σ_w2 N1l(w2)/T = 1
    exactly, because Σ_w2 N1l(w2) = T.  Verified as exact rationals
    (fractions.Fraction) for the three heaviest contexts."""
    import collections
    from fractions import Fraction

    from changegen_spark.sources.tables import load_table

    texts = [
        r.text for r in load_table(spark, sf_dir, "documents").select("text").collect()
    ]
    bc = collections.Counter()
    for t in texts:
        toks = (t or "").strip().split()
        for a, b in zip(toks, toks[1:]):
            bc[(a, b)] += 1
    c1 = collections.Counter()
    n1r, n1l = collections.Counter(), collections.Counter()
    for (a, b), c in bc.items():
        c1[a] += c
        n1r[a] += 1
        n1l[b] += 1
    tt = len(bc)
    vocab_r = set(b for (_, b) in bc)
    d = Fraction(3, 4)
    for w1, _ in c1.most_common(3):
        total = sum(
            (
                Fraction(max(bc.get((w1, w2), 0) * 4 - 3, 0), 4)
                + d * n1r[w1] * Fraction(n1l[w2], tt)
            )
            / c1[w1]
            for w2 in vocab_r
        )
        assert total == 1


# --- r13 optimization: count-only encode UDFs ≡ the array encoders -----------


def test_encode_count_udf_equals_array_size(spark):
    """bpe_encode_count_udf must return exactly the size of the encoded
    token array, empty and blank documents included — the r13 boundary
    optimization changes what crosses Arrow, not what is computed."""
    from changegen_spark.functions.bpe import (
        bpe_encode_count_udf,
        bpe_train,
        word_counts,
    )

    texts = dict(enumerate(CORPUS)) | {99: "", 100: "   "}
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    merges = bpe_train(word_counts(docs), num_merges=8)
    cnt = bpe_encode_count_udf(merges)
    rows = docs.select("doc_id", cnt(F.col("text")).alias("n_cnt")).collect()
    assert len(rows) == len(texts)
    assert all(r.n_cnt == len(_bpe_tokens(texts[r.doc_id], merges)) for r in rows)


def test_wordpiece_stats_udf_equals_array_form(spark):
    """wordpiece_encode_stats_udf must equal the (length, UNK count) of
    each document's encoded piece array."""
    from changegen_spark.functions.bpe import word_counts
    from changegen_spark.functions.wordpiece import (
        UNK,
        encode_word,
        wordpiece_encode_stats_udf,
        wordpiece_train,
    )

    texts = dict(enumerate(CORPUS)) | {99: "zzz qqq"}
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    _m, pieces = wordpiece_train(word_counts(docs), 8)
    st = wordpiece_encode_stats_udf(pieces)
    rows = docs.select("doc_id", st(F.col("text")).alias("st")).collect()
    assert len(rows) == len(texts)
    frozen = frozenset(pieces)
    for r in rows:
        arr = [p for w in texts[r.doc_id].split() for p in encode_word(w, frozen)]
        assert r.st.n_pieces == len(arr)
        assert r.st.n_unk == arr.count(UNK)
