"""WordPiece tokenizer: likelihood-scored merge learning + greedy
longest-match-first encoding (Schuster & Nakajima 2012; the BERT
tokenizer).  Completes the tokenizer trio next to BPE
(functions/bpe.py, count-scored merges) and the unigram LM
(functions/unigram.py, Viterbi-EM): WordPiece trains like BPE but
scores candidate pairs by ``count(pair) / (count(left)·count(right))``
— the pair that most increases corpus likelihood under a unigram
factorization — and its inference is NOT merge replay: it is a greedy
longest-prefix match against the final vocabulary, with ``##``
marking word-continuation pieces and ``[UNK]`` for unmatchable words.

The reference repo has no tokenizer; beyond-parity surface like the
rest of the family.

100 TB design: identical to BPE — the only corpus-scale operation is
the shared ``word_counts`` groupBy (one shuffle, map-side combine);
merge learning runs on the bounded aggregated vocabulary
driver-side (the contract every production trainer uses), and encoding
is an Arrow-batched pandas UDF with the vocabulary in the closure and
a per-batch memo.

Determinism contract (the golden implementation in
queries/wordpiece.py follows it independently):
  * word symbols: first character bare, continuations ``##``-prefixed;
  * pair score comparison is EXACT — cross-multiplied integers
    ``p_a·l_b·r_b`` vs ``p_b·l_a·r_a``, never a float ratio — with
    ties to the lexicographically smallest (left, right);
  * merge stops below pair count 2 or after ``num_merges``;
  * the emitted ``score_e9`` is the floor-scaled integer
    ``(10^9·p) // (l·r)``;
  * encoding: longest matching piece at each position, whole word →
    ``[UNK]`` when no piece matches.
"""

from __future__ import annotations

# module-level so the iterator-form pandas_udf type hints (stringified
# by `from __future__ import annotations`) resolve at registration time
import pandas as pd  # noqa: F401
from typing import Iterator  # noqa: F401

from pyspark.sql import DataFrame

CONT = "##"
UNK = "[UNK]"


def _symbols(word: str) -> tuple[str, ...]:
    return (word[0],) + tuple(CONT + ch for ch in word[1:])


def _merge_symbol(left: str, right: str) -> str:
    return left + (right[len(CONT) :] if right.startswith(CONT) else right)


def wordpiece_train(
    wc: DataFrame, num_merges: int, max_words: int = 1_000_000
) -> tuple[list[tuple[str, str, str, int, int]], set[str]]:
    """Learn ``num_merges`` WordPiece merges from a (word, cnt) table.

    Returns ``(merges, vocab)`` where merges is
    ``[(left, right, merged, pair_count, score_e9), ...]`` in merge
    order and vocab is the final piece inventory (surviving single-char
    symbols plus every merged symbol) for the encoder.  The vocabulary
    collect is capped at ``max_words`` by (cnt desc, word asc) exactly
    like bpe_train, so the driver loop is bounded at any corpus size."""
    from pyspark.sql import functions as F

    rows = (
        wc.orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(max_words)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {}
    chars: set[str] = set()
    for r in rows:
        sym = _symbols(r["word"])
        vocab[sym] = vocab.get(sym, 0) + int(r["cnt"])
        chars.update(sym)

    merges: list[tuple[str, str, str, int, int]] = []
    for _ in range(num_merges):
        pair_cnt: dict[tuple[str, str], int] = {}
        sym_cnt: dict[str, int] = {}
        for sym, cnt in vocab.items():
            for s in sym:
                sym_cnt[s] = sym_cnt.get(s, 0) + cnt
            for a, b in zip(sym, sym[1:]):
                pair_cnt[(a, b)] = pair_cnt.get((a, b), 0) + cnt
        best: tuple[str, str] | None = None
        for pair, p in pair_cnt.items():
            if p < 2:
                continue
            if best is None:
                best = pair
                continue
            bp = pair_cnt[best]
            # exact fraction comparison: p/(l·r) vs bp/(bl·br)
            l, r0 = sym_cnt[pair[0]], sym_cnt[pair[1]]
            bl, br = sym_cnt[best[0]], sym_cnt[best[1]]
            lhs = p * bl * br
            rhs = bp * l * r0
            if lhs > rhs or (lhs == rhs and pair < best):
                best = pair
        if best is None:
            break
        left, right = best
        p = pair_cnt[best]
        merged = _merge_symbol(left, right)
        score_e9 = (10**9 * p) // (sym_cnt[left] * sym_cnt[right])
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
        merges.append((left, right, merged, p, score_e9))

    pieces = set(chars)
    pieces.update(m[2] for m in merges)
    return merges, pieces


def encode_word(word: str, pieces: set[str]) -> list[str]:
    """Greedy longest-match-first WordPiece inference for one word."""
    out: list[str] = []
    pos = 0
    n = len(word)
    while pos < n:
        found = None
        ln = n - pos
        while ln > 0:
            piece = word[pos : pos + ln]
            cand = piece if pos == 0 else CONT + piece
            if cand in pieces:
                found = cand
                break
            ln -= 1
        if found is None:
            return [UNK]
        out.append(found)
        pos += ln
    return out


def wordpiece_encode_stats_udf(pieces: set[str]):
    """Arrow-batched encoder returning per-document (n_pieces, n_unk)
    only — q_wordpiece_encode_stats consumes nothing else, so shipping
    the token-string arrays across the Python↔JVM boundary (plus the two
    interpreted ``size``/``filter`` array passes on the JVM side) was
    pure overhead (r13, guide §4.1/§2.3).  Iterator form with a per-task
    word → (count, unk) memo (guide §4.5); values equal
    ``(len(encode_word(w)), encode_word(w).count(UNK))`` by
    construction."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from changegen_spark.functions.unigram import _MEMO_MAX

    frozen = frozenset(pieces)

    @pandas_udf("struct<n_pieces:long,n_unk:long>")
    def encode_stats(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        memo: dict[str, tuple[int, int]] = {}
        for texts in batches:
            n_out, u_out = [], []
            for t in texts:
                n = u = 0
                for w in (t or "").strip().split():
                    got = memo.get(w)
                    if got is None:
                        toks = encode_word(w, frozen)
                        got = (len(toks), toks.count(UNK))
                        if len(memo) < _MEMO_MAX:
                            memo[w] = got
                    n += got[0]
                    u += got[1]
                n_out.append(n)
                u_out.append(u)
            yield pd.DataFrame({"n_pieces": n_out, "n_unk": u_out})

    return encode_stats
