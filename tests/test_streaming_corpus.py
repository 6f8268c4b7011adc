"""Streaming twin of the training-data prep family: batch parity over a
finite file source (availableNow), the core Structured Streaming guarantee."""

import pytest

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _run(stream_df, name, mode="append"):
    from changegen_spark.streaming.events import run_to_memory_sink

    return run_to_memory_sink(stream_df, name, mode=mode)


@pytest.mark.slow
def test_reservoir_stream_matches_batch(spark, tmp_path, sf_dir):
    """The streaming per-source reservoir's FINAL emission (max n_seen per
    source) must equal the batch q_reservoir_per_source sample row-for-row
    — k-smallest-of-union is merge-exact, so the 3-file micro-batch split
    cannot move the sample; and every emission carries ≤ k rows (the state
    bound made observable)."""
    from changegen_spark.queries.mlprep import RS_GROUP_K, q_reservoir_per_source
    from changegen_spark.sources.tables import load_table
    from changegen_spark.streaming.corpus import reservoir_per_source_stream

    docs = load_table(spark, str(sf_dir), "documents")
    d = str(tmp_path / "res_drop")
    docs.repartition(3).write.parquet(d)
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = _run(
        reservoir_per_source_stream(stream, k=RS_GROUP_K),
        "t_res_stream",
        mode="update",
    ).collect()
    assert out
    # emissions bounded by k per (source, n_seen)
    from collections import Counter

    per_emit = Counter((r.source, r.n_seen) for r in out)
    assert max(per_emit.values()) <= RS_GROUP_K
    # final emission per source
    final_n = {}
    for r in out:
        final_n[r.source] = max(final_n.get(r.source, 0), r.n_seen)
    got = {
        (r.source, r.doc_id, r.w, r.es_key, r.rank)
        for r in out
        if r.n_seen == final_n[r.source]
    }
    want = {
        (r.source, r.doc_id, r.w, r.es_key, r.rank)
        for r in q_reservoir_per_source(spark, str(sf_dir)).collect()
    }
    assert got == want
