#!/usr/bin/env python3
"""spark-submit entrypoint: percolation — standing queries over
incoming documents (alerting / routing / saved searches).

    spark-submit --py-files textindex_spark.zip jobs/percolate.py \
        --queries QUERIES.tsv --input DOCS.parquet --output OUT_DIR
        [--stream --checkpoint CK]   # input becomes a file-stream glob

``QUERIES.tsv``: one standing query per line, ``<id><TAB><expr>`` —
the expression grammar is the boolean search surface (AND/OR/NOT +
parens; term / glob / ``base~d`` fuzzy / ``/regex/`` leaves). Batch
mode writes ``(query_id, doc_id, url)`` matches to ``--output``;
``--stream`` drains the input glob availableNow and writes one
idempotent ``batch_<id>`` dir per micro-batch.
"""
from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True, metavar="TSV")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--stream", action="store_true")
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()
    if args.stream and not args.checkpoint:
        ap.error("--stream requires --checkpoint")

    from textindex_spark.manifest import _fs
    from textindex_spark.percolate import (
        load_queries,
        percolate,
        stream_percolate,
    )
    from textindex_spark.session import get_spark

    queries = load_queries(args.queries)
    if not queries:
        ap.error(f"no queries in {args.queries}")
    spark = get_spark("textindex-percolate", cpus=args.cpus)
    if args.stream:
        stream_percolate(
            spark, queries, args.input, args.output, args.checkpoint
        )
        batches = f"{args.output}/batch_*"
        fs, pattern, _ = _fs(spark, batches)
        # zero micro-batches processed → no batch dirs yet; any other
        # read failure propagates
        n = spark.read.parquet(batches).count() if fs.globStatus(pattern) else 0
        print(f"percolated stream: {n} total (query, doc) matches in "
              f"{args.output}/batch_*")
        return
    docs = spark.read.parquet(args.input)
    matches = percolate(spark, queries, docs, with_urls=True)
    matches.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"percolated: {n} (query, doc) matches -> {args.output}")


if __name__ == "__main__":
    main()
