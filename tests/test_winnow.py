"""Winnowing fingerprints: parity with an independent pure-Python
reference (hash-level argmin/tie-break semantics), the shared-substring
guarantee, and the short-document convention."""

import hashlib

from pyspark.sql import functions as F

import changegen_spark.queries.winnow as wn


def _ref_winnow(text: str, k: int = wn.WINNOW_K, w: int = wn.WINNOW_W):
    """Reference robust winnowing: positioned md5-hex word k-grams, per
    window of w hashes select (min hash, rightmost position on ties)."""
    toks = text.strip().split()
    grams = [
        (i + 1, hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest())
        for i in range(len(toks) - k + 1)
    ]
    out = set()
    for s in range(len(grams) - w + 1):
        window = grams[s : s + w]
        mh = min(h for _, h in window)
        fpos = max(p for p, h in window if h == mh)
        out.add((fpos, mh))
    return out


def _fp(spark, docs: dict[int, str]):
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    fps = df.select(
        "doc_id", F.explode(wn.winnow_select_pandas()(F.col("text")).getField("fps")).alias("f")
    )
    res = {}
    for r in fps.collect():
        res.setdefault(r["doc_id"], set()).add((r["f"]["fpos"], r["f"]["fh"]))
    return res


def test_winnow_matches_reference(spark):
    docs = {
        1: "a b c d e f g h i j k l m n o p",
        2: "the quick brown fox jumps over the lazy dog again and again",
        3: "x x x x x x x x x x",  # all-identical grams → tie-break path
        4: "p q r s t u v w a b c d e f g h",
    }
    got = _fp(spark, docs)
    for i, t in docs.items():
        assert got.get(i, set()) == _ref_winnow(t), i


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """Any shared token run of length >= W + K - 1 (= 8) must share at
    least one selected fingerprint HASH — the winnowing theorem, the
    property that makes the fingerprint join zero-false-negative."""
    run = "alpha beta gamma delta epsilon zeta eta theta"  # exactly 8 tokens
    docs = {
        1: "one two three " + run + " four five six",
        2: "seven eight " + run + " nine ten eleven twelve",
    }
    got = _fp(spark, docs)
    h1 = {h for _, h in got[1]}
    h2 = {h for _, h in got[2]}
    assert h1 & h2, "shared 8-token run produced no shared fingerprint"


def test_winnow_short_docs_skipped(spark):
    # 7 tokens → 4 grams < W=5 → no full window → no fingerprints
    docs = {1: "a b c d e f g"}
    assert _fp(spark, docs).get(1, set()) == set()


def test_winnow_stats_udf_counts_match_selection(spark):
    """The count-only stats UDF (q_winnow_fingerprints' Arrow boundary)
    must agree with the full selection UDF and the pure-Python reference
    on every document, including the short-doc and all-ties paths."""
    from pyspark.sql import functions as F

    docs = {
        1: "a b c d e f g h i j k l m n o p",
        2: "the quick brown fox jumps over the lazy dog again and again",
        3: "x x x x x x x x x x",
        4: "a b c d e f g",  # short doc: 4 grams < W → n_fp = 0
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["s"]["n_grams"], r["s"]["n_fp"])
        for r in df.select(
            "doc_id", wn.winnow_stats_pandas()(F.col("text")).alias("s")
        ).collect()
    }
    for i, t in docs.items():
        toks = t.split()
        n_grams = max(0, len(toks) - wn.WINNOW_K + 1)
        assert got[i] == (n_grams, len(_ref_winnow(t))), i


def test_winnow_density_near_bound(spark):
    """On diverse text the expected selection density is 2/(W+1) = 1/3;
    pin a generous band around it using the registry query itself."""
    rows = wn.q_winnow_fingerprints(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0.05 <= r["fp_density"] <= 0.95
