"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
2003 — the MOSS algorithm).

The third fingerprinting primitive next to the rolling-hash
``q_fingerprint`` (whole-doc canonicalization) and ``q_dup_spans``
(duplicated-window spans): winnowing selects, from every window of
``WINNOW_W`` consecutive positioned ``WINNOW_K``-gram hashes, the minimal
hash (rightmost on ties — "robust winnowing"), yielding a position-aware
fingerprint SET per document with a hard guarantee: any token run of
length >= WINNOW_W + WINNOW_K - 1 shared between two documents shares at
least one selected fingerprint.  That makes the fingerprint join a
zero-false-negative candidate generator for substring-level overlap —
the plagiarism/near-dup detection shape, distinct from whole-doc (exact
dedup) and from per-doc spans (dup_spans).

Scale design (r13 optimization): winnowing selection is a PER-DOCUMENT
computation, so it runs inside the same Arrow-batched map stage that
hashes the grams (``winnow_select_pandas``) — the r3-r12 shape exploded
every positioned gram (a 32-char hex string per row), shuffled them all
by doc_id for two window passes, then paid a distinct exchange; none of
those exchanges carried information the gram-hashing task didn't already
hold.  Now zero shuffles happen before selection: the per-doc stats
query is map-only + final sort, and the pair join's exchange carries
SELECTED fingerprints only (~2/(W+1) of all grams, the winnowing density
bound), deduplicated locally per document before the exchange.  At
100 TB every stage is map-side or a hash equi-shuffle; there is no
all-pairs anything — pair candidates inherit LSH-band-style locality
from the fingerprint equi-join.

Cross-engine contract: gram hashes are lowercase-hex md5 of the
space-joined token gram (Spark: ``lower(hex(gh))`` over the UDF's digest
bytes; DuckDB: ``md5(ng)``), and the per-window argmin tie-break is
encoded identically on both sides (hash asc, then position desc via the
``100000000 - pos`` zero-padded suffix), so the selected sets are
engine-exact.  Reference scope note: the reference engine has no
fingerprinting at all (SURVEY §2.10) — this family is deliberate
beyond-parity surface for the training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from changegen_spark.operators.fence import fence
from changegen_spark.sources.tables import load_table

WINNOW_K = 4  # word-gram order
WINNOW_W = 5  # hashes per winnowing window; guarantee length = W + K - 1 = 8
MIN_SHARED = 3  # pair-candidate reporting threshold


def _winnow_doc(t: str | None, k: int, w: int) -> tuple[int, list[tuple[int, str]]]:
    """One document's robust winnowing: text → (n_grams, sorted DISTINCT
    selected fingerprints as (fpos, fh) with 1-based gram positions).

    For every full window of ``w`` consecutive gram hashes, select the
    minimal lowercase-hex md5 (rightmost position on ties).  Documents
    with fewer than ``w`` grams have no full window and return an empty
    selection (the MOSS short-document convention; pinned in tests).

    Selection semantics are byte-identical to the r3-r12 windowed-SQL
    form (min over struct(h asc, 100000000-pos asc) == h asc, pos desc)
    and to the DuckDB oracle, pinned against the independent pure-Python
    reference in tests/test_winnow.py."""
    import hashlib
    from collections import deque

    md5 = hashlib.md5
    toks = (t or "").strip().split()
    hs = [
        md5(" ".join(toks[i : i + k]).encode()).hexdigest()
        for i in range(len(toks) - k + 1)
    ]
    sel: set[tuple[int, str]] = set()
    # O(n) sliding-window minimum (monotonic deque of 0-based indices).
    # Popping while the back value is >= the incoming one keeps the
    # RIGHTMOST index among tied minima at the front — the same
    # (h asc, pos desc) tie-break as the windowed-SQL form and the
    # pure-Python test reference.
    dq: deque[int] = deque()
    for i, h in enumerate(hs):
        while dq and hs[dq[-1]] >= h:
            dq.pop()
        dq.append(i)
        s = i - w + 1  # window start for the window ending at i
        if s >= 0:
            if dq[0] < s:
                dq.popleft()
            sel.add((dq[0] + 1, hs[dq[0]]))
    return len(hs), sorted(sel)


def winnow_select_pandas(k: int = WINNOW_K, w: int = WINNOW_W):
    """Arrow-batched per-document robust winnowing: text →
    struct<n_grams:long, fps:array<struct<fpos:long, fh:string>>>
    (see :func:`_winnow_doc` for the selection semantics)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def ws(texts):
        n_out, fp_out = [], []
        for t in texts:
            n, fps = _winnow_doc(t, k, w)
            n_out.append(n)
            fp_out.append(fps)
        return pd.DataFrame({"n_grams": n_out, "fps": fp_out})

    # real annotation objects: the module-level `from __future__ import
    # annotations` stringifies inline hints, which pyspark's type-hint
    # inference cannot resolve against this closure's locals
    ws.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return pandas_udf(
        ws, "struct<n_grams:long, fps:array<struct<fpos:long, fh:string>>>"
    )


def winnow_stats_pandas(k: int = WINNOW_K, w: int = WINNOW_W):
    """Count-only variant for the per-doc summary query: text →
    struct<n_grams:long, n_fp:long> — same selection as
    :func:`winnow_select_pandas` but only two longs cross Arrow (§4.1
    "control how many columns cross"; same recipe as the tokenizer
    count-only encode variants).  ``n_fp`` counts the DISTINCT selected
    (fpos, fh) fingerprints."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def wstats(texts):
        n_out, c_out = [], []
        for t in texts:
            n, fps = _winnow_doc(t, k, w)
            n_out.append(n)
            c_out.append(len(fps))
        return pd.DataFrame({"n_grams": n_out, "n_fp": c_out})

    wstats.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return pandas_udf(wstats, "struct<n_grams:long, n_fp:long>")


def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents scan, spread to the cost-gated target.

    Scale-adaptive (guide §2, r14): the winnowing selection is CPU-bound
    Python inside the scan stage, so a small input (locally: one parquet
    split) would serialize it on one core — but the r13 spread to FULL
    parallelism over-parallelized it (driver: 2.21 s at 32-way vs 0.98 s
    at 8-way).  The 64 KiB/task dial lands the sf0.1 scan near the proven
    8-way shape; at scale splits >= cores and no repartition happens —
    the pass stays map-only."""
    from changegen_spark.functions.spread import (
        GRAM_BYTES_PER_TASK,
        spread_if_narrow,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return spread_if_narrow(docs, "doc_id", GRAM_BYTES_PER_TASK)


def _doc_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_grams, fps): the per-document Arrow winnowing pass."""
    docs = _docs_parallel(spark, sf_dir)
    return docs.select(
        "doc_id", winnow_select_pandas()(F.col("text")).alias("wsel")
    ).select(
        "doc_id",
        F.col("wsel.n_grams").alias("n_grams"),
        F.col("wsel.fps").alias("fps"),
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing summary: gram count, full-window count,
    selected-fingerprint count, and selection density (the winnowing
    bound says density -> 2/(W+1) on random text)."""
    stats = _docs_parallel(spark, sf_dir).select(
        "doc_id", winnow_stats_pandas()(F.col("text")).alias("ws")
    )
    return (
        stats.select(
            "doc_id",
            F.col("ws.n_grams").alias("n_grams"),
            F.col("ws.n_fp").alias("n_fp"),
        )
        .filter(F.col("n_grams") >= WINNOW_W)
        .select(
            "doc_id",
            "n_grams",
            (F.col("n_grams") - F.lit(WINNOW_W) + F.lit(1)).alias("n_windows"),
            "n_fp",
            F.round(
                F.col("n_fp") / (F.col("n_grams") - F.lit(WINNOW_W) + F.lit(1)),
                6,
            ).alias("fp_density"),
        )
        .orderBy("doc_id")
    )


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing >= MIN_SHARED selected fingerprint HASHES —
    the winnowing candidate join (shared hash values, position-free, as
    MOSS matches them).  Distinct hash values only, so a hash winnowed at
    several positions in one doc counts once per pair (deduplicated
    locally per document — array_distinct — before the exchange, so the
    old global .distinct() exchange is gone)."""
    # sort-merge hint: a broadcast self-join would evaluate the Arrow
    # winnowing pass TWICE (build + probe subtrees are planned
    # independently), and at 100 TB neither side could broadcast anyway.
    # r14: the r13 comment claimed AQE would reuse one fh exchange across
    # the self-join sides; the POST-execution plan disproves it (two
    # ArrowEvalPython + two fh exchanges — plans/r14/
    # q_winnow_pairs_final_after.txt pre-fence).  A lazy fence
    # on the exploded (doc_id, fh) rows — KBs per document, never text —
    # guarantees ONE winnowing pass per run; both join sides read the
    # fenced RDD.  Caveat: the fence pins the whole exploded (doc_id, fh)
    # set in executor-local storage and drops its lineage, so the set is
    # not recomputed after an executor is lost — a fault-tolerance gap
    # that grows with the pinned set at the 100 TB scale.
    hv = _doc_fps(spark, sf_dir).select(
        "doc_id",
        F.explode(F.array_distinct(F.col("fps").getField("fh"))).alias("fh"),
    ).transform(fence, "q_winnow_pairs hv", eager=False)
    return (
        hv.alias("a")
        .join(
            hv.alias("b").hint("merge"),
            (F.col("a.fh") == F.col("b.fh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= F.lit(MIN_SHARED))
        .orderBy("id_a", "id_b")
    )


_GRAMS_SQL = f"""
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(t[CAST(i AS INT):CAST(i AS INT) + {WINNOW_K - 1}], ' ')) AS h
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {WINNOW_K - 1})) AS i
        FROM toks WHERE len(t) >= {WINNOW_K})
), sized AS (
  SELECT doc_id, pos, h, count(*) OVER (PARTITION BY doc_id) AS n_grams,
         min(h || lpad(CAST(100000000 - pos AS VARCHAR), 9, '0'))
             OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS mn
  FROM grams
), fp AS (
  SELECT DISTINCT doc_id,
         100000000 - CAST(substr(mn, 33) AS BIGINT) AS fpos,
         substr(mn, 1, 32) AS fh
  FROM sized WHERE pos <= n_grams - {WINNOW_W} + 1
)"""


Q_WINNOW_FP_SQL = f"""
WITH {_GRAMS_SQL},
counts AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
fpc AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id)
SELECT c.doc_id, c.n_grams,
       c.n_grams - {WINNOW_W} + 1 AS n_windows,
       fpc.n_fp,
       round(CAST(fpc.n_fp AS DOUBLE) / (c.n_grams - {WINNOW_W} + 1), 6) AS fp_density
FROM counts c JOIN fpc ON c.doc_id = fpc.doc_id
WHERE c.n_grams >= {WINNOW_W}
ORDER BY c.doc_id
"""


Q_WINNOW_PAIRS_SQL = f"""
WITH {_GRAMS_SQL},
hv AS (SELECT DISTINCT doc_id, fh FROM fp)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM hv a JOIN hv b ON a.fh = b.fh AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {MIN_SHARED}
ORDER BY id_a, id_b
"""


QUERIES = {
    "q_winnow_fingerprints": q_winnow_fingerprints,
    "q_winnow_pairs": q_winnow_pairs,
}
ORACLES = {
    "q_winnow_fingerprints": Q_WINNOW_FP_SQL,
    "q_winnow_pairs": Q_WINNOW_PAIRS_SQL,
}
