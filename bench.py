#!/usr/bin/env python3
"""Benchmark entrypoint (driver contract).

Runs the headline jobs at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": ..., "value": <headline seconds>, "unit": "sec",
     "queries": {...per-phase seconds...}, "sf": ...,
     "storage": {table: {"bytes", "files"}},
     "posting_cache": {"entries", "postings", "bytes"}}

Headline = full inverted-index build (read → extract → tokenize →
shuffle → encode → write) over the deterministic synthetic web corpus
(BASELINE.json input shape), sized by sf. Query latencies are
measured warm. ``tools/bench_scaling.py`` runs the same build at two
parallelism levels for the N→4N scaling-efficiency evidence.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

SF_DOCS = {"sf0.001": 500, "sf0.01": 6000, "sf0.1": 60000}


def sf_name() -> str:
    return os.path.basename(os.path.normpath(SF_DIR))


def ensure_bench_corpus(spark, n_docs: int, path: str):
    """Deterministic synthetic corpus parquet (cached by size),
    url-sorted like a host-batched crawl delivery — so url-ordered id
    minting gives same-site docs adjacent ids (clustered postings,
    prunable ranges), which partition-local sorting alone cannot
    recover from a site-interleaved file layout."""
    marker = f"{path}/_SUCCESS"
    if os.path.exists(marker):
        return spark.read.parquet(path)
    from textindex_spark.corpus import synth_corpus

    from tests.spark_fixtures import corpus_df

    rows = synth_corpus(n_docs)
    df = corpus_df(spark, rows).orderBy("url")
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def main() -> None:
    from pyspark.sql import functions as F

    from textindex_spark.build import build_index
    from textindex_spark.ops import dedup, similarity
    from textindex_spark.query import search
    from textindex_spark.session import get_spark

    sf = sf_name()
    n_docs = SF_DOCS.get(sf, 2000)
    spark = get_spark(
        "textindex-bench",
        cpus=CPUS,
        shuffle_partitions=CPUS * 2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}

    # v3: site-topic vocabulary (corpus.py r4) + url-sorted delivery
    corpus_path = f"/tmp/textindex_bench/corpus_v3_{n_docs}"
    # drop the generator's convenience doc_id: the input_hint corpus
    # shape has none, so the build exercises url-ordered id minting —
    # the path that clusters same-site docs into adjacent ids (small
    # posting gaps, prunable ranges)
    corpus = ensure_bench_corpus(spark, n_docs, corpus_path).drop("doc_id")
    corpus.count()  # warm the scan

    # one-time session warmup: pre-fault worker/JVM memory (this VM
    # charges ~0.1ms for the first write to every new page — see
    # textindex_spark/session.py) and run one full UNTIMED build to
    # reach steady state; then time the build twice and take the best.
    from textindex_spark.session import warm_workers

    idx_dir = f"/tmp/textindex_bench/index_{n_docs}_{CPUS}"
    t0 = time.time()
    warm_workers(spark)
    shutil.rmtree(idx_dir, ignore_errors=True)
    build_index(spark, corpus, idx_dir, range_bits=12)
    timings["session_warmup"] = round(time.time() - t0, 3)

    # ---- headline: full index build over the synthetic web corpus
    # (best of 3: BENCH_SCALING.md documents minute-scale VM drift;
    # the min is the engine's number, the spread is the machine's)
    runs = []
    for _ in range(3):
        shutil.rmtree(idx_dir, ignore_errors=True)
        t0 = time.time()
        stats = build_index(spark, corpus, idx_dir, range_bits=12)
        runs.append(time.time() - t0)
    t_build = min(runs)
    timings["index_build"] = round(t_build, 3)
    for i, r in enumerate(runs):
        timings[f"index_build_run{i}"] = round(r, 3)
    # the published index on disk (untimed): data bytes and files per table
    from textindex_spark.build import describe_index

    storage = {
        t: {"bytes": d["bytes"], "files": d["files"]}
        for t, d in describe_index(spark, idx_dir)["tables"].items()
    }

    # ---- warm BM25 query latencies over that index
    from textindex_spark.corpus import site_topic_word

    queries = [
        ("bm25_hot_and", ["spark", "index"], False, "and"),
        # rare site-topic term + hot term: the serving-path AND shape
        # where candidate-range pre-intersection skips the hot term's
        # postings outside the rare term's ranges. (Until r4 this
        # queried two words absent from the corpus and measured only
        # the empty-result short-circuit.)
        ("bm25_rare", [site_topic_word(7), "spark"], False, "and"),
        # absent vocabulary: the empty-result short-circuit (one
        # local_df collect job, no postings I/O)
        ("bm25_absent", ["zanzibar*", "quizzical"], False, "and"),
        ("bm25_wildcard", ["kar?*"], False, "and"),
        ("bm25_hot_pruned", ["spark", "index"], True, "and"),
        # OR is WAND's home turf (r4): pruned vs unpruned pair
        ("bm25_hot_or", ["spark", "index"], False, "or"),
        ("bm25_hot_or_pruned", ["spark", "index"], True, "or"),
    ]
    for name, terms, prune, mode in queries:
        search(
            spark, idx_dir, terms, k=10, mode=mode, prune=prune, with_urls=False
        ).collect()
        t0 = time.time()
        search(
            spark, idx_dir, terms, k=10, mode=mode, prune=prune, with_urls=False
        ).collect()
        timings[name] = round(time.time() - t0, 3)
    # the resident posting cache the hot rows left (untimed)
    from textindex_spark.query import posting_cache_footprint

    posting_cache = posting_cache_footprint()

    # NOT-semantics exclusion (r4): warm serving cost of per-query
    # tombstoning = one extra resident-cache fetch for the exclusion
    # term's ids, then the normal pruned-OR plan
    args = dict(k=10, mode="or", prune=True, with_urls=False, exclude=["merge"])
    search(spark, idx_dir, ["spark", "index"], **args).collect()
    t0 = time.time()
    search(spark, idx_dir, ["spark", "index"], **args).collect()
    timings["bm25_not"] = round(time.time() - t0, 3)

    # metadata-scoped retrieval (r5): warm serving cost of the capped
    # scope complement merged into the dead set (the complement ids
    # are cached per (index, scope) after the first query)
    args = dict(k=10, mode="or", prune=True, with_urls=False, scope="lang:de")
    search(spark, idx_dir, ["spark", "index"], **args).collect()
    t0 = time.time()
    search(spark, idx_dir, ["spark", "index"], **args).collect()
    timings["bm25_scoped"] = round(time.time() - t0, 3)

    # fuzzy expansion + did-you-mean (r5): resident-dictionary banded
    # DP behind the vectorized prefilters — zero Spark jobs warm
    from textindex_spark.query import suggest_terms

    search(spark, idx_dir, ["sparc~1", "index"], k=10, mode="or",
           with_urls=False).collect()
    t0 = time.time()
    search(spark, idx_dir, ["sparc~1", "index"], k=10, mode="or",
           with_urls=False).collect()
    timings["bm25_fuzzy"] = round(time.time() - t0, 3)
    suggest_terms(spark, idx_dir, "sparc")
    t0 = time.time()
    suggest_terms(spark, idx_dir, "sparc")
    timings["suggest"] = round(time.time() - t0, 3)

    # more-like-this (r5): one pushdown point lookup + driver tf·idf
    # term selection + the warm OR serving path with the source doc
    # in the dead set
    from textindex_spark.query import more_like_this

    # the build minted url-ordered ids (the corpus parquet's own
    # doc_id column was dropped), so take the probe id from a query
    # hit and re-mint the corpus the same way via normalize_input
    corpus_docs = spark.read.parquet(corpus_path).drop("doc_id")
    probe_doc = int(
        search(spark, idx_dir, ["spark"], k=1, with_urls=False)
        .collect()[0]["doc_id"]
    )
    more_like_this(spark, idx_dir, corpus_docs, probe_doc).collect()
    t0 = time.time()
    more_like_this(spark, idx_dir, corpus_docs, probe_doc).collect()
    timings["more_like_this"] = round(time.time() - t0, 3)

    # crawl-date scoped retrieval (r5): ts:FROM..TO windows + range_ts
    # time pruning. Two physical layouts of the SAME corpus:
    # * time-ordered ids (fetch-order ingest, the common crawl shape):
    #   warc_ts is monotone in doc_id, so a 10%-of-corpus window keeps
    #   ~10% of posting ranges — range pruning skips the rest before
    #   any decode (the win scales with corpus/window ratio: a 1-day
    #   window on a year-long 10^12-doc index skips ~99.7% of ranges).
    # * url-ordered ids (the headline index): timestamps scatter
    #   across ranges, every range overlaps the window, pruning keeps
    #   everything — the honest no-benefit baseline.
    from datetime import datetime, timedelta, timezone

    ep0 = datetime(2025, 1, 1, tzinfo=timezone.utc)
    span = 13 * n_docs
    iso = lambda s: (ep0 + timedelta(seconds=s)).strftime("%Y-%m-%dT%H:%M:%S")
    win = f"ts:{iso(int(span * 0.45))}..{iso(int(span * 0.55))}"
    targs = dict(k=10, mode="or", prune=True, with_urls=False, scope=win)
    dargs = dict(
        k=10, mode="or", with_urls=False, scope=win, local_score=False
    )
    idx_time = f"/tmp/textindex_bench/index_time_{n_docs}_{CPUS}"
    if not os.path.exists(f"{idx_time}/stats/_SUCCESS"):
        # keep the generator's doc_id: minted in fetch-time order
        build_index(
            spark, ensure_bench_corpus(spark, n_docs, corpus_path),
            idx_time, range_bits=12,
        )
    for tag, d in (("", idx_time), ("_urlorder", idx_dir)):
        search(spark, d, ["spark", "index"], **targs).collect()
        t0 = time.time()
        search(spark, d, ["spark", "index"], **targs).collect()
        timings[f"bm25_tscoped{tag}"] = round(time.time() - t0, 3)
        search(spark, d, ["spark", "index"], **dargs).collect()
        t0 = time.time()
        search(spark, d, ["spark", "index"], **dargs).collect()
        timings[f"bm25_tscoped{tag}_dist"] = round(time.time() - t0, 3)

    # the DISTRIBUTED OR plans (local_score=False) — the path a
    # beyond-driver-memory candidate set takes at real scale; this is
    # where block-max pruning pays (the serving path above reads so
    # few bytes that 2 extra planning jobs dominate at bench sf).
    # Two shapes: all-hot terms (uniform scores — WAND's worst case,
    # nothing prunable, measures pure planning overhead) and the
    # clustered-rare + hot mix (site topic term: high idf, postings
    # concentrated in few doc-id ranges — theta kills the hot-only
    # ranges, WAND's home case).
    or_shapes = [
        ("bm25_or_dist", ["spark", "index"], False),
        ("bm25_or_dist_pruned", ["spark", "index"], True),
        ("bm25_or_rarehot", [site_topic_word(10), "spark"], False),
        ("bm25_or_rarehot_pruned", [site_topic_word(10), "spark"], True),
    ]
    for name, terms, prune in or_shapes:
        args = dict(k=10, mode="or", prune=prune, with_urls=False, local_score=False)
        search(spark, idx_dir, terms, **args).collect()
        t0 = time.time()
        search(spark, idx_dir, terms, **args).collect()
        timings[name] = round(time.time() - t0, 3)

    # nested boolean tree (r4): certain-conjunct range pre-intersection
    # + mask-predicate evaluation, measured warm like the flat queries
    from textindex_spark.boolquery import search_bool

    bool_q = f"spark AND (index OR {site_topic_word(7)}) AND NOT merge"
    search_bool(spark, idx_dir, bool_q, k=10, with_urls=False).collect()
    t0 = time.time()
    search_bool(spark, idx_dir, bool_q, k=10, with_urls=False).collect()
    timings["bm25_bool"] = round(time.time() - t0, 3)

    from textindex_spark.query import search_phrase

    # phrases that occur in every bench corpus size: a phrase with an
    # absent word times only the empty-slot early return
    for name, ph in (
        ("phrase_rank", ["woven", "archive"]),
        ("phrase_rank_wildcard", ["woven", "arch*"]),
    ):
        search_phrase(spark, idx_dir, ph, k=10, with_urls=False).collect()
        t0 = time.time()
        hits = search_phrase(spark, idx_dir, ph, k=10, with_urls=False).collect()
        timings[name] = round(time.time() - t0, 3)
        assert hits, f"{name}: the phrase {ph} must match the bench corpus"

    # ---- driver-table ops at the requested sf — measured WARM like
    # the BM25 set (r2 measured these cold and recorded 16-172%
    # phantom regressions vs plan-identical code; BENCH_SCALING.md
    # documents the ±50% cold-run VM noise)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def timed(name, fn):
        # adaptive warm-up: one pass is not always enough on this VM
        # (page service + JIT can leave the SECOND run 2-3× steady
        # state — the r4 emb_near_dup "regression" was exactly this
        # phantom). Warm until consecutive passes stabilize (last run
        # within 1.4× of the previous), max 3 warm passes, then time.
        prev = None
        for _ in range(3):
            t0 = time.time()
            fn()
            cur = time.time() - t0
            # stable = the improvement has flattened (the PREVIOUS
            # pass was within 1.4x of this one); a big speed-up means
            # still warming, go again
            if prev is not None and prev <= cur * 1.4:
                break
            prev = cur
        t0 = time.time()
        fn()
        timings[name] = round(time.time() - t0, 3)

    # benchmark decontamination (r4 curation suite): broadcast
    # semi-join of corpus shingle hashes against an eval set carved
    # from the corpus itself (same shape as the driver gate)
    from textindex_spark.ops import curate

    bench_docs = docs.filter(F.col("doc_id") % 97 == 0)
    timed(
        "decontam",
        lambda: curate.contamination_hits(docs, bench_docs, n=3).count(),
    )
    from textindex_spark.refimpl.stop_words import STOP_WORD_SET

    stop = tuple(sorted(STOP_WORD_SET))
    timed("unigram_nll", lambda: curate.unigram_logprob(docs).count())
    timed(
        "budget_select",
        lambda: curate.budget_select(docs, stop, 100_000).count(),
    )
    timed("minhash_signatures", lambda: dedup.minhash_signatures(docs).count())
    timed(
        "lsh_pairs",
        lambda: dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs)).count(),
    )
    timed("simhash", lambda: dedup.simhash(docs).count())
    timed(
        "dedup_clusters",
        lambda: dedup.dedup_clusters(
            dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs))
        ).count(),
    )
    qvec = emb.limit(1).collect()[0]["embedding"]
    timed("ann_cosine_topk", lambda: similarity.cosine_topk(emb, list(qvec), k=10).collect())

    def ivf_build():
        assigned, cents = similarity.build_ivf(emb, n_centroids=16, max_iter=5)
        assigned.count()
        return assigned, cents

    assigned, cents = ivf_build()  # warm
    t0 = time.time()
    assigned, cents = ivf_build()
    timings["ann_ivf_build"] = round(time.time() - t0, 3)
    timed(
        "ann_ivf_query",
        lambda: similarity.ivf_cosine_topk(
            assigned, cents, list(qvec), k=10, n_probe=4
        ).collect(),
    )
    timed("emb_near_dup", lambda: similarity.embedding_near_pairs(emb).count())

    # r5: hybrid lexical+vector retrieval — RRF fusion of the warm
    # BM25-OR serving path with the exact-cosine branch (fusion adds
    # only O(depth) work on top of the two branches)
    from textindex_spark import hybrid as hyb

    timed(
        "bm25_hybrid",
        lambda: hyb.search_hybrid(
            spark, idx_dir, ["spark", "vector"], emb, list(qvec),
            k=10, depth=50, mode="or",
        ).collect(),
    )

    # IVF-PQ stored path: build (kmeans + residual codebooks +
    # bucket-partitioned write) once, then the two-stage query — an
    # ADC scan that reads ONLY (id, pq_code) from the probed
    # partitions plus an exact rerank of the shortlist. This is the
    # 100 TB query-scan payload design (m bytes/row vs 4·d).
    import tempfile

    pq_dir = tempfile.mkdtemp(prefix="bench_ivfpq_")
    pp = similarity.suggest_pq_params(len(qvec))
    t0 = time.time()
    similarity.write_ivf(
        spark, emb, pq_dir, n_centroids=16, max_iter=5,
        pq_m=pp["pq_m"], pq_nbits=pp["pq_nbits"],
    )
    timings["ann_pq_build"] = round(time.time() - t0, 3)
    timed(
        "ann_pq_query",
        lambda: similarity.ivf_pq_search_stored(
            spark, pq_dir, list(qvec), k=10, n_probe=4
        ).collect(),
    )
    shutil.rmtree(pq_dir, ignore_errors=True)

    # r5: percolator — five standing queries (AND/OR/NOT + glob)
    # against the whole bench corpus; cost is one tokenize pass + the
    # doc-keyed mask agg, independent of the query count
    from textindex_spark import percolate as perc

    perc_queries = [
        ("p_and", "spark AND merge"),
        ("p_or", "vector OR quarry OR archive"),
        ("p_not", "table AND NOT spark"),
        ("p_wild", "qu* AND merge"),
        ("p_mix", "spark AND (vector OR qu*) AND NOT quarry"),
    ]
    timed(
        "percolate",
        lambda: perc.percolate(spark, perc_queries, docs).count(),
    )

    # r4 additions: Gopher repetition signals, exact-substring window
    # duplication, URL canonicalization + snapshot dedup (urls injected
    # deterministically — the documents table carries none)
    from textindex_spark.gate import _injected_pages
    from textindex_spark.ops import textstats, urls

    timed("repetition", lambda: textstats.repetition_signals(docs).count())
    timed("dup_windows", lambda: dedup.dup_window_stats(docs, k=10).count())
    pages = _injected_pages(docs)
    timed("url_dedup", lambda: urls.url_snapshot_dedup(pages, ts_col="ts").count())
    from textindex_spark.gate import _injected_lines

    lined = _injected_lines(docs)
    timed(
        "line_dedup",
        lambda: dedup.strip_boilerplate_lines(lined).count(),
    )

    # r5: link-graph family — minted anchors (4 per doc: absolute with
    # tracking params, relative ../, protocol-relative, mailto-dropped)
    # so extraction, host aggregation and PageRank all do real work
    from textindex_spark.ops import links as lnk

    d = F.col("doc_id")
    ds = d.cast("string")
    link_html = F.concat(
        F.lit('<p>x</p><a href="http://site'), (d % 97).cast("string"),
        F.lit(".example/p/"), ds, F.lit('?utm_s=1&q=2">first link</a>'),
        F.lit("<a href='../d"), (d % 5).cast("string"),
        F.lit("/p"), ((d * 7) % 1000).cast("string"),
        F.lit(".html'>relative <b>link</b></a>"),
        F.lit('<a rel="nofollow" href="//site'),
        ((d * 13 + 1) % 97).cast("string"),
        F.lit('.example/x">proto</a>'),
        F.lit('<a href="mailto:a@b.c">m</a>'),
    )
    # repartition: the driver documents.parquet is ONE row group, so
    # the scan yields a single split regardless of minPartitionNum and
    # the whole narrow extract chain would run serial — spread the
    # minted pages once so the timed ops use the cores (a real crawl
    # input arrives in many files; this mirrors that shape)
    link_pages = docs.select(
        F.concat(
            F.lit("http://site"), (d % 97).cast("string"),
            F.lit(".example/a/page"), ds, F.lit(".html"),
        ).alias("url"),
        link_html.alias("html"),
    ).repartition(CPUS).persist()
    link_pages.count()
    timed("link_extract", lambda: lnk.extract_links(link_pages).count())
    # aggregate over MATERIALIZED links, as build_link_graph does: an
    # aggregation composed directly over the extraction lineage
    # re-inlines the big resolve/canonicalize trees once per column
    # reference (measured 8× plan blow-up and 0.26 s → 7.9 s)
    links_mat = lnk.extract_links(link_pages).localCheckpoint(eager=True)
    link_edges = lnk.host_graph(links_mat).localCheckpoint(eager=True)
    timed("link_host_graph", lambda: lnk.host_graph(links_mat).count())
    timed(
        "link_pagerank",
        lambda: lnk.pagerank(link_edges, iters=8).count(),
    )

    out = {
        "metric": "synthetic_webcorpus_index_build_sec",
        "value": round(t_build, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_docs": int(stats["n_docs"]),
        "docs_per_sec": round(stats["n_docs"] / t_build, 1),
        "cpus": CPUS,
        "vocab_size": int(stats["vocab_size"]),
        "storage": storage,
        "posting_cache": posting_cache,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
