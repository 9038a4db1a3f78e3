#!/usr/bin/env python3
"""spark-submit entrypoint: BM25 top-k / unranked find / file search.

    spark-submit --py-files textindex_spark.zip jobs/search.py \
        --index /path/to/index --terms "spark" "quer*" "querry~1" \
        [--k 10] [--mode and|or] [--prune] [--unranked] [--files PAT]
        [--phrase]            # treat --terms as one exact phrase
        [--near N]            # docs with all terms within N kept tokens
        [--exclude PAT ...]   # NOT: drop docs matching any pattern
        [--scope lang:en]     # metadata-filtered retrieval (lang:V /
                              # site:HOST / ts:FROM..TO); all query
                              # modes except --files
        [--bool "EXPR"]       # nested boolean tree, e.g.
                              #   "spark AND (vector OR merge) AND NOT qu*"
        [--lines DOCS.parquet]  # attach matched lines (snippets) to each
                                # ranked hit, re-read from the raw corpus
        [--hybrid EMB.parquet --qvec-id N]  # RRF-fuse BM25 --terms with
                                # cosine top-k over document embeddings
                                # (--rrf-k/--depth tune the fusion;
                                # --scope filters BOTH branches;
                                # --hybrid-ivf DIR [--hybrid-pq] [--probe P]
                                # swaps in the stored vector index)
        [--min-match M]       # OR docs matching >= M distinct patterns
        [--near N --ordered]  # in-order proximity chain (SpanNear inOrder)
        [--priors DIR --w-rank X --w-indeg Y]  # static-rank blend over
                                # the link-graph doc_priors table
"""
from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", default=None)
    ap.add_argument(
        "--shards", nargs="*", default=None, metavar="DIR",
        help="federated search over multiple index shards (global "
        "df/avgdl; ranked --terms mode only)",
    )
    ap.add_argument("--terms", nargs="*", default=[])
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--mode", choices=["and", "or"], default="and")
    ap.add_argument("--prune", action="store_true")
    ap.add_argument("--unranked", action="store_true")
    ap.add_argument("--files", default=None, help="file-name wildcard search")
    ap.add_argument(
        "--phrase", action="store_true",
        help="treat --terms as one exact phrase (positional index)",
    )
    ap.add_argument(
        "--near", type=int, default=None, metavar="N",
        help="proximity search: all terms within N kept tokens",
    )
    ap.add_argument(
        "--ranked", action="store_true",
        help="with --near: BM25-ranked top-k instead of (doc, count)",
    )
    ap.add_argument(
        "--ordered", action="store_true",
        help="with --near: terms must match IN QUERY ORDER, each step "
        "at most N kept tokens after the previous (SpanNear inOrder)",
    )
    ap.add_argument(
        "--facet", choices=["lang", "site", "year", "month", "day"],
        default=None,
        help="print matched-doc counts per facet value instead of hits "
        "(year/month/day = crawl-date histogram over warc_ts)",
    )
    ap.add_argument(
        "--exclude", nargs="*", default=None, metavar="PAT",
        help="NOT semantics: drop docs containing any of these "
        "term patterns (wildcards allowed); ranked search only",
    )
    ap.add_argument(
        "--scope", default=None, metavar="FIELD:VALUE",
        help="metadata-filtered retrieval: only docs matching "
        "'lang:VALUE', 'site:HOST' or 'ts:FROM..TO' (ISO-8601, UTC, "
        "inclusive; one side may be empty) reach the result (scores/counts "
        "unchanged); every query mode except --files, "
        "single-index or --shards",
    )
    ap.add_argument(
        "--bool", dest="bool_expr", default=None, metavar="EXPR",
        help="nested boolean query tree (AND/OR/NOT + parens; "
        "wildcard leaves allowed); ranked, single-index",
    )
    ap.add_argument(
        "--similar", type=int, default=None, metavar="DOC_ID",
        help="more-like-this: rank documents similar to DOC_ID "
        "(query-by-document; requires --docs with the raw corpus)",
    )
    ap.add_argument(
        "--docs", default=None, metavar="PARQUET",
        help="raw documents parquet (the --similar source lookup)",
    )
    ap.add_argument(
        "--lines", default=None, metavar="DOCS",
        help="raw documents parquet: attach matched-line snippets to "
        "each ranked hit (--terms ranked mode and --bool)",
    )
    ap.add_argument(
        "--anchor-index", default=None, metavar="DIR",
        help="anchor-field index (jobs/linkgraph.py --anchor-field): "
        "rank by body BM25 + W × incoming-anchor BM25 (disjunctive)",
    )
    ap.add_argument(
        "--w-anchor", type=float, default=1.0,
        help="anchor-field score weight (with --anchor-index)",
    )
    ap.add_argument(
        "--title-index", default=None, metavar="DIR",
        help="title-field index (jobs/build_index.py --title-index): "
        "adds W × title BM25 to the score; composes with "
        "--anchor-index",
    )
    ap.add_argument(
        "--w-title", type=float, default=2.0,
        help="title-field score weight (with --title-index)",
    )
    ap.add_argument(
        "--hybrid", default=None, metavar="EMB",
        help="hybrid retrieval: embeddings parquet (vec_id ≡ doc_id, "
        "embedding array); BM25 --terms top-depth is RRF-fused with "
        "the cosine top-depth for the --qvec-id query vector",
    )
    ap.add_argument(
        "--qvec-id", type=int, default=None, metavar="ID",
        help="vec_id of the query vector inside --hybrid's table "
        "(excluded from the candidate side)",
    )
    ap.add_argument(
        "--rrf-k", type=int, default=None,
        help="RRF constant (default 60)",
    )
    ap.add_argument(
        "--hybrid-ivf", default=None, metavar="IVF_DIR",
        help="with --hybrid: compute the vector branch from a stored "
        "IVF index (jobs/ann_index.py build) instead of a brute-force "
        "scan — the 100 TB path (partition-pruned probes); --hybrid "
        "still supplies the query vector via --qvec-id",
    )
    ap.add_argument(
        "--hybrid-pq", action="store_true",
        help="with --hybrid-ivf: use the two-stage IVF-PQ ADC path "
        "(index must be built with --pq)",
    )
    ap.add_argument(
        "--probe", type=int, default=None,
        help="with --hybrid-ivf: buckets to probe (default k/8 rule)",
    )
    ap.add_argument(
        "--priors", default=None, metavar="PRIORS_DIR",
        help="static-rank blended retrieval: the link-graph doc_priors "
        "parquet (jobs/linkgraph.py); final score = BM25 + "
        "w_rank*ln(1+host_rank) + w_indeg*ln(1+n_follow_inlinks) over "
        "the top --depth candidates (ranked --terms, single index)",
    )
    ap.add_argument("--w-rank", type=float, default=0.0)
    ap.add_argument("--w-indeg", type=float, default=0.0)
    ap.add_argument(
        "--min-match", type=int, default=None, metavar="M",
        help="minimum-should-match: with --mode or, keep only docs "
        "matching at least M distinct --terms patterns (ranked "
        "search, single index or --shards; M > 1 excludes --prune)",
    )
    ap.add_argument(
        "--depth", type=int, default=None,
        help="per-branch candidate depth for --hybrid (default "
        "max(50, 5k))",
    )
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    from textindex_spark.query import (
        facet_counts,
        find_files,
        find_unranked,
        near_docs,
        search,
        search_phrase,
        search_sharded,
    )
    from textindex_spark.session import get_spark

    if (
        not args.files and not args.terms and not args.bool_expr
        and args.similar is None
    ):
        ap.error(
            "provide --terms T [T ...], --bool EXPR, --similar DOC_ID, "
            "or --files PATTERN"
        )
    if args.similar is not None and not args.docs:
        ap.error("--similar requires --docs PARQUET (the raw corpus)")
    if args.bool_expr and (
        args.terms or args.files or args.phrase or args.near is not None
        or args.unranked or args.facet or args.exclude
    ):
        ap.error("--bool is a standalone ranked mode (single index or --shards)")
    if args.scope and args.files:
        ap.error("--scope does not apply to --files name search")
    if args.ordered and args.near is None:
        ap.error("--ordered applies to --near proximity search")
    if args.priors and (
        args.files or args.facet or args.phrase or args.near is not None
        or args.unranked or args.bool_expr or args.similar is not None
        or args.hybrid or args.anchor_index or args.title_index
        or args.shards or args.prune
    ):
        ap.error(
            "--priors composes with ranked --terms on a single --index "
            "(with --mode/--k/--scope/--min-match/--depth/--exclude/"
            "--w-rank/--w-indeg)"
        )
    if args.priors and args.w_rank == 0.0 and args.w_indeg == 0.0:
        ap.error("--priors needs --w-rank and/or --w-indeg != 0")
    if args.similar is not None and (
        args.terms or args.bool_expr or args.files or args.phrase
        or args.near is not None or args.unranked or args.facet
        or args.exclude or args.lines or args.prune
        or args.ranked
    ):
        ap.error(
            "--similar is a standalone mode (only --k/--docs/--scope/"
            "--index apply)"
        )
    if (args.anchor_index or args.title_index) and (
        args.files or args.facet or args.phrase or args.near is not None
        or args.unranked or args.bool_expr or args.exclude or args.prune
        or args.shards or args.similar is not None
    ):
        ap.error(
            "--anchor-index/--title-index compose with ranked --terms "
            "on a single --index only (always disjunctive across "
            "fields; --mode is ignored)"
        )
    if args.hybrid and (
        args.files or args.facet or args.phrase or args.near is not None
        or args.unranked or args.bool_expr or args.prune or args.shards
        or args.similar is not None or args.anchor_index or args.title_index
        or args.exclude
    ):
        ap.error(
            "--hybrid composes with ranked --terms on a single --index "
            "only (with --mode/--k/--scope/--qvec-id/--rrf-k/--depth; "
            "--exclude is not supported — the vector branch cannot "
            "evaluate term exclusions)"
        )
    if args.hybrid and args.qvec_id is None:
        ap.error("--hybrid requires --qvec-id (the query vector's vec_id)")
    if (args.hybrid_ivf or args.hybrid_pq or args.probe is not None) \
            and not args.hybrid:
        ap.error("--hybrid-ivf/--hybrid-pq/--probe require --hybrid")
    if (args.hybrid_pq or args.probe is not None) and not args.hybrid_ivf:
        ap.error("--hybrid-pq/--probe require --hybrid-ivf")
    if args.min_match is not None and (
        args.files or args.facet or args.phrase or args.near is not None
        or args.unranked or args.bool_expr or args.similar is not None
        or args.hybrid or args.anchor_index or args.title_index
        or args.mode != "or"
    ):
        ap.error(
            "--min-match applies to ranked --terms with --mode or "
            "(single index or --shards)"
        )
    if args.prune and args.min_match is not None and args.min_match > 1:
        # the block-max θ probe would count docs below the minimum, so
        # the engine runs such queries unpruned
        ap.error("--prune cannot be combined with --min-match > 1")
    if bool(args.index) == bool(args.shards):
        ap.error("provide exactly one of --index / --shards")
    if args.shards and (
        args.phrase or args.near is not None or args.unranked
        or args.facet or args.files or args.prune or args.similar is not None
    ):
        ap.error(
            "--shards supports ranked --terms search only (with --mode/"
            "--k/--exclude); --phrase/--near/--unranked/--facet/--files/"
            "--prune are single-index modes"
        )
    spark = get_spark("textindex-search", cpus=args.cpus)

    def emit(rows, snippet_patterns):
        """Print hits; with --lines, attach matched-line snippets
        (one extra kernel pass over ONLY the hit documents)."""
        if args.lines and rows:
            from textindex_spark.query import matched_lines
            from textindex_spark.session import local_df

            ids = local_df(
                spark, [(r["doc_id"],) for r in rows], "doc_id long"
            )
            docs = spark.read.parquet(args.lines)
            by_id = {
                r["doc_id"]: list(r["lines"])
                for r in matched_lines(spark, docs, ids, snippet_patterns).collect()
            }
            for r in rows:
                d = r.asDict()
                d["lines"] = by_id.get(r["doc_id"], [])
                print(json.dumps(d))
            return
        for r in rows:
            print(json.dumps(r.asDict()))

    if args.similar is not None:
        from textindex_spark.query import more_like_this

        rows = more_like_this(
            spark, args.index, spark.read.parquet(args.docs), args.similar,
            k=args.k, with_urls=True, scope=args.scope,
        ).collect()
        for r in rows:
            print(json.dumps(r.asDict()))
        return
    if args.bool_expr:
        from textindex_spark.boolquery import (
            parse_bool,
            positive_leaves,
            search_bool,
            search_bool_sharded,
        )

        if args.shards:
            rows = search_bool_sharded(
                spark, args.shards, args.bool_expr, k=args.k, scope=args.scope
            ).collect()
        else:
            rows = search_bool(
                spark, args.index, args.bool_expr, k=args.k, scope=args.scope
            ).collect()
        ast, leaves = parse_bool(args.bool_expr)
        # snippets show evidence: only positive leaves are matched
        emit(rows, [leaves[i] for i in sorted(positive_leaves(ast))])
        return
    if args.shards:
        from textindex_spark.query import split_boosts

        rows = search_sharded(
            spark, args.shards, args.terms, k=args.k, mode=args.mode,
            exclude=args.exclude, scope=args.scope,
            min_match=args.min_match,
        ).collect()
        # snippet matchers need the base patterns, not boost syntax
        emit(rows, split_boosts(args.terms)[0])
        return
    if args.anchor_index or args.title_index:
        from textindex_spark.fields import search_fields
        from textindex_spark.query import split_boosts

        specs = []
        if args.anchor_index:
            specs.append((args.anchor_index, args.w_anchor))
        if args.title_index:
            specs.append((args.title_index, args.w_title))
        rows = search_fields(
            spark, args.index, specs, args.terms, k=args.k,
            scope=args.scope,
        ).collect()
        # snippet matchers need the base patterns, not boost syntax
        emit(rows, split_boosts(args.terms)[0])
        return
    if args.priors:
        from textindex_spark.query import search_with_prior, split_boosts

        rows = search_with_prior(
            spark, args.index, spark.read.parquet(args.priors),
            args.terms, k=args.k, mode=args.mode, w_rank=args.w_rank,
            w_indeg=args.w_indeg, depth=args.depth, scope=args.scope,
            min_match=args.min_match, exclude=args.exclude,
        ).collect()
        emit(rows, split_boosts(args.terms)[0])
        return
    if args.hybrid:
        from pyspark.sql import functions as F

        from textindex_spark.hybrid import search_hybrid
        from textindex_spark.query import split_boosts

        emb = spark.read.parquet(args.hybrid)
        qrows = emb.filter(F.col("vec_id") == args.qvec_id).select(
            "embedding"
        ).collect()
        if not qrows:
            ap.error(f"--qvec-id {args.qvec_id} not found in {args.hybrid}")
        kw = {}
        if args.rrf_k is not None:
            kw["rrf_k"] = args.rrf_k
        qvec = [float(x) for x in qrows[0][0]]
        depth = args.depth or max(50, 5 * args.k)
        if args.hybrid_ivf:
            from textindex_spark.ops import similarity as S

            # n_probe=None engages the stored paths' k/8 rule (the
            # CLI-documented default); the functions' own default (4)
            # must not shadow it
            probe = {"n_probe": args.probe}
            fn = S.ivf_pq_search_stored if args.hybrid_pq else S.ivf_search_stored
            # the stored index may contain the query vector itself —
            # exclude it like the brute-force branch does (where=
            # rides the partition-pruned probe scan)
            kw["vec_hits"] = fn(
                spark, args.hybrid_ivf, qvec, k=depth,
                where=F.col("vec_id") != args.qvec_id, **probe,
            )
        rows = search_hybrid(
            spark, args.index, args.terms,
            emb.filter(F.col("vec_id") != args.qvec_id),
            qvec, k=args.k, depth=depth, mode=args.mode,
            scope=args.scope, with_urls=True, **kw,
        ).collect()
        emit(rows, split_boosts(args.terms)[0])
        return
    if args.files:
        rows = find_files(spark, args.index, args.files).collect()
    elif args.facet:
        rows = facet_counts(
            spark, args.index, args.terms, by=args.facet, mode=args.mode,
            exclude=args.exclude, scope=args.scope,
        ).collect()
    elif args.phrase:
        rows = search_phrase(
            spark, args.index, args.terms, k=args.k, exclude=args.exclude,
            scope=args.scope,
        ).collect()
        emit(rows, args.terms)
        return
    elif args.near is not None and args.ranked:
        from textindex_spark.query import search_near

        rows = search_near(
            spark, args.index, args.terms, window=args.near, k=args.k,
            exclude=args.exclude, scope=args.scope, ordered=args.ordered,
        ).collect()
        emit(rows, args.terms)
        return
    elif args.near is not None:
        rows = near_docs(
            spark, args.index, args.terms, window=args.near,
            exclude=args.exclude, scope=args.scope, ordered=args.ordered,
        ).collect()
    elif args.unranked:
        rows = find_unranked(
            spark, args.index, args.terms, exclude=args.exclude,
            scope=args.scope,
        ).collect()
    else:
        from textindex_spark.query import split_boosts

        rows = search(
            spark, args.index, args.terms, k=args.k, mode=args.mode,
            prune=args.prune, exclude=args.exclude, scope=args.scope,
            min_match=args.min_match,
        ).collect()
        # snippet matchers need the base patterns, not boost syntax
        emit(rows, split_boosts(args.terms)[0])
        return
    for r in rows:
        print(json.dumps(r.asDict()))


if __name__ == "__main__":
    main()
