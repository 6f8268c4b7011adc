"""Streaming twin of the training-data prep family (documents table).

A corpus ingestion pipeline at 100 TB is a stream: new crawl drops land in
an object store and must be sampled incrementally, not by recomputing the
corpus.  ``reservoir_per_source_stream`` keeps a bounded per-source
reservoir in ``applyInPandasWithState``; the registry query
``q_streaming_reservoir`` drives it over a file-source directory (the
object-store drop-dir interface) and the tests assert batch parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def reservoir_per_source_stream(docs: DataFrame, k: int = 10) -> DataFrame:
    """Streaming per-source weighted reservoir sample (Efraimidis-
    Spirakis) via ``applyInPandasWithState`` — the online form of the
    batch ``q_reservoir_per_source`` quota sampler.

    The state per source is EXACTLY the k-row sample (ids, weights,
    keys) plus a seen counter — bounded no matter how much data the
    stream carries, and the merge law (k smallest of the union) is the
    KMV discipline: micro-batch boundaries cannot change the final
    sample.  The E-S keys are computed by the SAME Catalyst expression
    as the batch query BEFORE the stateful stage, so stream/batch parity
    is exact double equality — no Python float arithmetic in the path.

    Each batch emits the group's CURRENT sample tagged with ``n_seen``
    (rows absorbed so far); the emission with the highest n_seen per
    source is the sample of everything seen (pinned against the batch
    query in tests/test_streaming_corpus.py)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from changegen_spark.queries.mlprep import es_sample_keys

    keyed = (
        docs.select(
            "source", "doc_id", F.col("n_chars").cast("long").alias("w")
        )
        .filter(F.col("w") > 0)
        .withColumn("es_key", es_sample_keys(F.col("doc_id"), F.col("w")))
    )

    out_schema = (
        "source string, n_seen long, doc_id long, w long, es_key double, rank long"
    )
    state_schema = "ids array<long>, ws array<long>, keys array<double>, n long"

    def fn(key, pdfs, state: GroupState):
        (source,) = key
        if state.exists:
            ids, ws, keys, n = state.get
            pool = list(zip(keys, ids, ws))
        else:
            pool, n = [], 0
        for pdf in pdfs:
            n += len(pdf)
            pool.extend(
                zip(pdf["es_key"].tolist(), pdf["doc_id"].tolist(), pdf["w"].tolist())
            )
        pool.sort(key=lambda t: (t[0], t[1]))
        pool = pool[:k]
        state.update(
            (
                [int(i) for _, i, _ in pool],
                [int(w) for _, _, w in pool],
                [float(kk) for kk, _, _ in pool],
                n,
            )
        )
        yield pd.DataFrame(
            {
                "source": [source] * len(pool),
                "n_seen": [n] * len(pool),
                "doc_id": [i for _, i, _ in pool],
                "w": [w for _, _, w in pool],
                "es_key": [kk for kk, _, _ in pool],
                "rank": list(range(1, len(pool) + 1)),
            }
        )

    return keyed.groupBy("source").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
