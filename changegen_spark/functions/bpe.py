"""Byte-pair-encoding tokenizer: corpus statistics, merge learning, encoding.

The tokenizer-training step of an LLM data pipeline (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units").  The
reference repo has no tokenizer — this is deliberate beyond-parity surface
for the training-data family, alongside deduplication / decontamination /
packing (queries/mlprep.py).

100 TB design: the ONLY corpus-scale operation is ``word_counts`` — one
groupBy shuffle with map-side partial aggregation.  Merge learning then
runs on the aggregated ``(word, count)`` vocabulary, which is bounded by
``max_words`` and orders of magnitude smaller than the corpus; this is the
same contract every production tokenizer trainer uses (word-count
pre-aggregation, then single-node merge learning over the vocabulary).
Encoding is an Arrow-batched pandas UDF with the learned merge ranks
broadcast to executors and a per-batch word→tokens memo (Zipf makes the
memo hit rate very high).
"""

from __future__ import annotations

# module-level so the iterator-form pandas_udf type hints (stringified
# by `from __future__ import annotations`) resolve at registration time
import pandas as pd  # noqa: F401
from typing import Iterator  # noqa: F401

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EOW = "</w>"  # end-of-word marker appended as a separate initial symbol


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distributed (word, cnt) frequency table — the corpus-scale pass.

    Whitespace tokenization (the module family's shared tokenizer,
    queries/mlprep._toks); empty strings from leading/trailing whitespace
    are dropped.  One shuffle, map-side combine."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    return (
        df.select(F.explode(toks).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def bpe_train(
    wc: DataFrame, num_merges: int, max_words: int = 1_000_000
) -> list[tuple[str, str, str, int]]:
    """Learn ``num_merges`` BPE merges from a (word, cnt) frequency table.

    The vocabulary is capped at ``max_words`` rows by (cnt desc, word asc)
    — a deterministic top-k, so the collect is bounded regardless of corpus
    size.  Ties between candidate pairs break on the lexicographically
    smallest (left, right), making the merge list deterministic.

    Returns ``[(left, right, merged, pair_count), ...]`` in merge order.
    Stops early if no pair occurs at least twice.
    """
    rows = (
        wc.orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(max_words)
        .collect()
    )
    # vocab: symbol tuple -> corpus count
    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        sym = tuple(r["word"]) + (EOW,)
        vocab[sym] = vocab.get(sym, 0) + int(r["cnt"])

    merges: list[tuple[str, str, str, int]] = []
    for _ in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, cnt in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), pcount = best
        if pcount < 2:
            break
        merged = left + right
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, cnt in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == left and sym[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + cnt
        vocab = new_vocab
        merges.append((left, right, merged, pcount))
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply learned merges to one word, lowest rank first — the standard
    BPE inference loop; identical semantics to the training-time merge
    (leftmost-first, non-overlapping)."""
    sym: list[str] = list(word) + [EOW]
    while len(sym) > 1:
        best_rank = None
        best_pair = None
        for a, b in zip(sym, sym[1:]):
            r = ranks.get((a, b))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_pair = (a, b)
        if best_pair is None:
            break
        a, b = best_pair
        out: list[str] = []
        i = 0
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def bpe_encode_count_udf(merges: list[tuple[str, str, str, int]]):
    """Arrow-batched encoder returning only the per-document BPE token
    COUNT — the encoded token array's size, without materializing or
    shipping the token arrays across the Python↔JVM boundary (r13, guide
    §4.1/§2.3: q_bpe_encode_stats consumes nothing but the size, yet paid
    Arrow transfer of every token string).  Iterator form so the per-task
    word → count memo amortizes across batches (guide §4.5); values equal
    ``len(_encode_word(w))`` by construction."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from changegen_spark.functions.unigram import _MEMO_MAX

    ranks = {(l, r): i for i, (l, r, _m, _c) in enumerate(merges)}

    @pandas_udf("long")
    def encode_count(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        memo: dict[str, int] = {}
        for texts in batches:
            out = []
            for t in texts:
                n = 0
                for w in (t or "").strip().split():
                    got = memo.get(w)
                    if got is None:
                        got = len(_encode_word(w, ranks))
                        if len(memo) < _MEMO_MAX:
                            memo[w] = got
                    n += got
                out.append(n)
            yield pd.Series(out)

    return encode_count
