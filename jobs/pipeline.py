#!/usr/bin/env python3
"""spark-submit entrypoint: the full training-data ingest pipeline —
filter → dedup → index — in one command:

    spark-submit --py-files textindex_spark.zip jobs/pipeline.py \
        --input /data/documents --output /data/corpus_v1 \
        [--langs en fr] [--min-quality-micro 500000] \
        [--min-tokens 20] [--max-tokens 100000] \
        [--dedup lsh|simhash|ngram|exact|none] [--threshold 0.2] \
        [--max-hamming 3] [--extract-html] [--parts N] \
        [--bench BENCH.parquet [--decontam-ngram 5] [--decontam-max-hits 0]] \
        [--redact]            # scrub PII from kept text before dedup/index
        [--gopher]            # drop within-document-repetitive docs
        [--url-dedup]         # latest snapshot per canonical URL (batch only)

Outputs under --output: ``verdicts/`` (per-doc filter verdicts),
``kept/`` (filtered corpus), ``dedup/pairs`` + ``dedup/clusters``,
``index/`` (queryable BM25 index) and ``pipeline.json`` (lineage).
Prints the lineage JSON. Query the result with jobs/search.py
--index <output>/index.

Streaming mode — the same composition applied per micro-batch as
files arrive (filter → online dedup vs the kept-corpus state →
incremental index append; exactly-once across both state stores):

    spark-submit --py-files textindex_spark.zip jobs/pipeline.py \
        --stream --input '/data/incoming/*' --output /data/corpus_v1 \
        --checkpoint /data/corpus_v1_ckpt [--langs en ...]
"""
from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--langs", nargs="*", default=["en"])
    ap.add_argument("--min-quality-micro", type=int, default=500_000)
    ap.add_argument("--min-tokens", type=int, default=20)
    ap.add_argument("--max-tokens", type=int, default=100_000)
    ap.add_argument(
        "--dedup", choices=["lsh", "simhash", "ngram", "exact", "none"],
        default="lsh",
    )
    ap.add_argument("--threshold", type=float, default=0.2)
    ap.add_argument("--max-hamming", type=int, default=3)
    ap.add_argument(
        "--extract-html", action="store_true",
        help="extract text for rows whose text column is null but "
        "html is set (one kernel pass over only those rows)",
    )
    ap.add_argument("--parts", type=int, default=None)
    ap.add_argument(
        "--bench", default=None,
        help="evaluation-benchmark parquet (text column): drop "
        "documents sharing n-grams with it (decontamination stage)",
    )
    ap.add_argument("--decontam-ngram", type=int, default=5)
    ap.add_argument("--decontam-max-hits", type=int, default=0)
    ap.add_argument(
        "--upsert", action="store_true",
        help="streaming re-crawl semantics: a changed re-fetch "
        "replaces its old version (same atomic commit); batch mode "
        "can use --url-dedup on the input instead",
    )
    ap.add_argument(
        "--url-dedup", action="store_true",
        help="collapse to the latest snapshot per canonical URL first",
    )
    ap.add_argument(
        "--strip-lines", action="store_true",
        help="remove corpus-level boilerplate lines before dedup/index "
        "(batch only)",
    )
    ap.add_argument("--max-line-df", type=int, default=10)
    ap.add_argument(
        "--gopher", action="store_true",
        help="drop docs failing the Gopher repetition filters",
    )
    ap.add_argument(
        "--redact", action="store_true",
        help="scrub PII (email/IPv4/phone) from kept documents' text "
        "before dedup and indexing; counts land in the lineage",
    )
    ap.add_argument(
        "--linkgraph", action="store_true",
        help="batch only: extract the hyperlink graph from the kept "
        "corpus (<out>/graph: links/hosts/pagerank) and build the "
        "anchor-text retrieval field (<out>/anchor_index; query via "
        "jobs/search.py --anchor-index)",
    )
    ap.add_argument(
        "--percolate", default=None, metavar="QUERIES_TSV",
        help="standing-query alerts (id<TAB>boolexpr per line, the "
        "jobs/percolate.py format) evaluated on the docs entering the "
        "index: batch → <out>/alerts (+ per-query lineage counts); "
        "--stream → <out>/alerts/batch_<id> per micro-batch",
    )
    ap.add_argument("--stream", action="store_true")
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    from textindex_spark.pipeline import run_pipeline
    from textindex_spark.session import get_spark

    alerts = None
    if args.percolate:
        from textindex_spark.percolate import load_queries

        alerts = load_queries(args.percolate)
        if not alerts:
            ap.error(f"no queries in {args.percolate}")
    spark = get_spark("textindex-pipeline", cpus=args.cpus)
    if args.stream:
        if not args.checkpoint:
            ap.error("--stream requires --checkpoint")
        if args.url_dedup:
            ap.error("--url-dedup is batch-only (the streaming content "
                     "dedup subsumes re-fetches vs the kept corpus)")
        if args.strip_lines:
            ap.error("--strip-lines is batch-only (line df is a "
                     "corpus-global statistic)")
        if args.linkgraph:
            ap.error("--linkgraph is batch-only (PageRank and the "
                     "anchor digest are corpus-global)")
        if args.dedup not in ("lsh", "none"):
            ap.error("--stream dedup is the online exact+LSH state "
                     "machine; --dedup must stay 'lsh'")
        from textindex_spark.streaming.pipeline import stream_pipeline

        stream_pipeline(
            spark,
            args.input,
            args.output,
            args.checkpoint,
            langs=tuple(args.langs),
            min_quality_micro=args.min_quality_micro,
            min_tokens=args.min_tokens,
            max_tokens=args.max_tokens,
            extract_html=args.extract_html,
            bench_path=args.bench,
            decontam_ngram=args.decontam_ngram,
            decontam_max_hits=args.decontam_max_hits,
            redact=args.redact,
            gopher=args.gopher,
            upsert=args.upsert,
            alerts=alerts,
        )
        from textindex_spark import manifest

        stats = manifest.read_table(
            spark, f"{args.output}/index", "stats"
        ).collect()[0]
        print(json.dumps({"indexed_docs": stats["n_docs"],
                          "index": f"{args.output}/index"}))
        return
    lineage = run_pipeline(
        spark,
        spark.read.parquet(args.input),
        args.output,
        langs=tuple(args.langs),
        min_quality_micro=args.min_quality_micro,
        min_tokens=args.min_tokens,
        max_tokens=args.max_tokens,
        dedup_method=args.dedup,
        threshold=args.threshold,
        max_hamming=args.max_hamming,
        extract_html=args.extract_html,
        write_partitions=args.parts,
        bench=spark.read.parquet(args.bench) if args.bench else None,
        decontam_ngram=args.decontam_ngram,
        decontam_max_hits=args.decontam_max_hits,
        redact=args.redact,
        gopher=args.gopher,
        url_dedup=args.url_dedup,
        strip_lines=args.strip_lines,
        max_line_df=args.max_line_df,
        alerts=alerts,
        linkgraph=args.linkgraph,
    )
    print(json.dumps(lineage, sort_keys=True))


if __name__ == "__main__":
    main()
