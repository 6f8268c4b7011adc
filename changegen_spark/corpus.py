"""Corpus-prep CLI: raw document parquet → verified training shards.

The training-data twin of the changegen CLI: one command runs the
oracle-checked pipeline composition (exact dedup → quality gate →
decontamination → per-source sequence packing, ``queries.mlprep.
corpus_pipeline``) over a parquet directory and writes JSONL shards with a
content manifest (``sinks.shards.write_training_shards``).

    python -m changegen_spark.corpus SRC_DIR --outdir shards/ \\
        --min-tokens 20 --min-alpha 0.5 --max-contamination 0.5 \\
        --eval-holdout 19:3 --shards 8 --verify

Decontamination holdout is either ``--eval-holdout MOD:RES`` (documents
with doc_id %% MOD == RES are held out as the eval set and excluded from
the output) or ``--evalset PATH`` (an external parquet of n-grams with an
``ng`` column, the ``q_external_decontaminate`` artifact shape); with
neither, no decontamination filter is applied.

Prints ONE JSON summary line (counts, token totals, manifest digest) so
the command composes in pipelines.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m changegen_spark.corpus", description=__doc__
    )
    p.add_argument("src_dir", help="parquet directory containing documents.parquet")
    p.add_argument("--outdir", required=True, help="shard output directory")
    p.add_argument("--min-tokens", type=int, default=20)
    p.add_argument("--min-alpha", type=float, default=0.5)
    p.add_argument("--max-contamination", type=float, default=0.5)
    p.add_argument(
        "--eval-holdout",
        default=None,
        metavar="MOD:RES",
        help="hold out doc_id %% MOD == RES as the decontamination eval set",
    )
    p.add_argument(
        "--evalset",
        default=None,
        help="external eval-set n-gram parquet (column: ng) to decontaminate against",
    )
    p.add_argument("--pack-budget", type=int, default=None)
    p.add_argument("--shards", type=int, default=8)
    p.add_argument(
        "--no-text", action="store_true", help="omit document text from the shards"
    )
    p.add_argument(
        "--verify",
        action="store_true",
        help="re-read the written shards and check them against the manifest",
    )
    p.add_argument(
        "--against",
        default=None,
        metavar="PREFIX",
        help="drop documents that are exact or near dups of the persisted "
        "corpus artifacts {PREFIX}_hashes/{PREFIX}_bands (the bucketed "
        "tables persist_dedup_corpus writes — zero corpus-side shuffle)",
    )
    p.add_argument(
        "--persist-corpus",
        default=None,
        metavar="PREFIX",
        help="after filtering, persist the processed batch's dedup "
        "artifacts under PREFIX for future incremental runs",
    )
    args = p.parse_args(argv)
    if args.eval_holdout and args.evalset:
        raise SystemExit("--eval-holdout and --evalset are mutually exclusive")

    from pyspark.sql import functions as F

    from changegen_spark.queries.mlprep import corpus_pipeline
    from changegen_spark.session import get_spark
    from changegen_spark.sinks.shards import (
        verify_training_shards,
        write_training_shards,
    )
    from changegen_spark.sources.tables import load_table

    spark = get_spark("changegen_spark-corpus")
    docs = load_table(spark, args.src_dir, "documents")

    n_dropped_incremental = None
    if args.against:
        # incremental mode: this batch vs the persisted "seen" corpus —
        # the daily-increment contract (queries/scale.py): both corpus
        # sides are bucketed by their join key, so no corpus-side Exchange
        from changegen_spark.operators.fence import fence_observed
        from changegen_spark.queries.scale import incremental_dedup_flags

        # Fence the verdicts once; the fence's own job counts the drops,
        # and keep_ids/the pipeline's semi-join then REUSE the fenced rows —
        # one execution of the dedup scan instead of three (count-before +
        # count-after + pipeline), the same single-execution contract as
        # the sinks.  sort=False: the CLI consumes verdicts
        # programmatically, no presentation sort.
        flags, seen = fence_observed(
            incremental_dedup_flags(
                docs,
                spark.table(f"{args.against}_hashes"),
                spark.table(f"{args.against}_bands"),
                sort=False,
            ),
            "corpus incremental verdicts",
            dropped=F.count_if(F.col("status") != "keep"),
        )
        n_dropped_incremental = seen["dropped"]
        keep_ids = flags.filter(F.col("status") == "keep").select("doc_id")
        docs = docs.join(keep_ids, "doc_id", "left_semi")

    is_eval = None
    if args.eval_holdout:
        mod, res = (int(x) for x in args.eval_holdout.split(":"))
        is_eval = F.col("doc_id") % mod == res
    out = corpus_pipeline(
        docs,
        is_eval=is_eval,
        min_tokens=args.min_tokens,
        min_alpha=args.min_alpha,
        max_contamination=args.max_contamination,
        pack_budget=args.pack_budget,
        keep_text=not args.no_text,
        # scale path: the shard sink hash-places rows and fixes the
        # within-shard order itself — no global presentation sort here
        sort=False,
    )
    if args.evalset:
        # external-artifact decontamination: drop documents whose n-gram
        # overlap with the shipped eval set exceeds the threshold
        # (the q_external_decontaminate join shape: broadcast-or-semi-join
        # against the KB..MB-sized artifact, never a corpus-side explode)
        from changegen_spark.queries.mlprep import DECON_N, distinct_ngrams_pandas

        eval_ngs = spark.read.parquet(args.evalset).select("ng").distinct()
        grams = docs.select(
            "doc_id",
            F.explode(distinct_ngrams_pandas(DECON_N)(F.col("text"))).alias("ng"),
        ).distinct()
        totals = grams.groupBy("doc_id").agg(F.count("*").alias("__n"))
        hits = (
            grams.join(eval_ngs, "ng", "left_semi")
            .groupBy("doc_id")
            .agg(F.count("*").alias("__h"))
        )
        frac = totals.join(hits, "doc_id", "left").select(
            "doc_id",
            (F.coalesce("__h", F.lit(0)) / F.col("__n")).alias("__frac"),
        )
        out = (
            out.join(frac, "doc_id", "left")
            .filter(F.coalesce("__frac", F.lit(0.0)) <= args.max_contamination)
            .drop("__frac")
        )

    manifest = write_training_shards(
        out, args.outdir, key_col="doc_id", n_shards=args.shards
    )
    summary = {
        "src": args.src_dir,
        "outdir": args.outdir,
        "n_docs": manifest["total_rows"],
        "n_shards": manifest["n_shards"],
        "hash_sum_total": sum(s["hash_sum"] for s in manifest["shards"].values()),
    }
    if n_dropped_incremental is not None:
        summary["n_dropped_incremental"] = int(n_dropped_incremental)
    if args.persist_corpus:
        # ingest-time artifact refresh: this batch's content hashes + LSH
        # band rows, UNIONED with the --against corpus when chaining
        # increments (artifact-level union — the corpus text is never
        # re-read).  A distinct prefix is required when unioning: the
        # bucketed write would otherwise overwrite the tables it reads.
        from changegen_spark.queries.scale import (
            _content_hash,
            dedup_bands_of,
            persist_dedup_corpus,
        )
        from changegen_spark.sources.bucketed import write_bucketed

        if not args.against:
            persist_dedup_corpus(spark, docs, prefix=args.persist_corpus)
        else:
            if args.persist_corpus == args.against:
                raise SystemExit(
                    "--persist-corpus must differ from --against "
                    "(the bucketed write cannot overwrite its own input)"
                )
            hashes = (
                spark.table(f"{args.against}_hashes")
                .unionByName(docs.select(_content_hash().alias("h")))
                .distinct()
            )
            bands = spark.table(f"{args.against}_bands").unionByName(
                dedup_bands_of(docs).withColumnRenamed("id", "corpus_id")
            )
            write_bucketed(hashes, f"{args.persist_corpus}_hashes", "h")
            write_bucketed(bands, f"{args.persist_corpus}_bands", "bh")
        summary["persisted_corpus"] = args.persist_corpus
    if args.verify:
        summary["verified"] = bool(verify_training_shards(spark, args.outdir)["ok"])
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
