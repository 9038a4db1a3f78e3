"""End-to-end parity: Spark engine vs single-node oracle.

The two correctness gates of BASELINE.json:
* byte-identical extracted text per url,
* rank-identical BM25 top-k (doc_id, score) on the query set.
"""
import math

import pytest

from textindex_spark.build import build_index
from textindex_spark.corpus import query_set, synth_corpus
from textindex_spark.functions.kernels import EXTRACTED_SCHEMA, extract_text_batches
from textindex_spark.query import find_files, find_unranked, matched_lines, search
from textindex_spark.refimpl.oracle import OracleIndex

from tests.spark_fixtures import corpus_df, spark  # noqa: F401

N_DOCS = 300


@pytest.fixture(scope="session")
def rows():
    return synth_corpus(N_DOCS)


@pytest.fixture(scope="session")
def oracle(rows):
    return OracleIndex.build(rows)


@pytest.fixture(scope="session")
def index_dir(spark, rows, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    stats = build_index(spark, corpus_df(spark, rows), out, range_bits=6)
    assert stats["n_docs"] > 0
    return out


def test_extracted_text_byte_identical(spark, rows, oracle):
    """Per-url byte identity of the extraction stage (input_hint)."""
    html_rows = [r for r in rows if r["doc_id"] in oracle.docs
                 and oracle.docs[r["doc_id"]]["filter"] == "html"]
    df = corpus_df(spark, html_rows).select("doc_id", "url", "html")
    got = {
        r["url"]: r["text"]
        for r in df.mapInPandas(extract_text_batches, EXTRACTED_SCHEMA).collect()
    }
    assert len(got) == len(html_rows) > 50
    for r in html_rows:
        assert got[r["url"]] == oracle.docs[r["doc_id"]]["text"], r["url"]


def test_docs_and_stats_match_oracle(spark, index_dir, oracle):
    docs = {r["doc_id"]: r for r in spark.read.parquet(f"{index_dir}/docs").collect()}
    assert set(docs) == set(oracle.docs)
    for doc_id, od in oracle.docs.items():
        assert docs[doc_id]["doc_len"] == od["doc_len"]
        assert docs[doc_id]["filter"] == od["filter"]
    stats = spark.read.parquet(f"{index_dir}/stats").collect()[0]
    assert stats["n_docs"] == oracle.n_docs
    assert math.isclose(stats["avgdl"], oracle.avgdl, rel_tol=1e-12)


def test_terms_match_oracle(spark, index_dir, oracle):
    terms = {r["term"]: r for r in spark.read.parquet(f"{index_dir}/terms").collect()}
    assert set(terms) == set(oracle.postings)
    for t, plist in oracle.postings.items():
        assert terms[t]["df"] == len(plist), t
        assert terms[t]["cf"] == sum(plist.values()), t


def test_bm25_rank_identity_on_query_set(spark, index_dir, oracle):
    """Rank-identical (doc_id, score) for every query in the set."""
    for q in query_set():
        want = oracle.search(q["terms"], q["k"])
        got = [
            (r["doc_id"], r["score"])
            for r in search(
                spark, index_dir, q["terms"], k=q["k"], with_urls=False
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], (
            q, got[:5], want[:5],
        )
        for (gd, gs), (wd, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), (q, gd, gs, ws)


def test_bm25_distributed_path_matches_local(spark, index_dir, oracle):
    """The distributed agg path and the query-node scoring path must
    be rank-identical (and both match the oracle)."""
    for q in query_set()[:5]:
        want = oracle.search(q["terms"], q["k"])
        for local in (True, False):
            got = [
                (r["doc_id"], r["score"])
                for r in search(
                    spark, index_dir, q["terms"], k=q["k"],
                    with_urls=False, local_score=local,
                ).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in want], (q, local)
            for (gd, gs), (wd, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=1e-9), (q, local, gd)


def test_bm25_pruned_matches_exact(spark, index_dir, oracle):
    for q in query_set()[:6]:
        want = oracle.search(q["terms"], q["k"])
        got = [
            (r["doc_id"], r["score"])
            for r in search(
                spark, index_dir, q["terms"], k=q["k"], prune=True, with_urls=False
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], q


def test_search_exclude_matches_oracle(spark, index_dir, oracle):
    """NOT semantics (``exclude``): rank-identical to the oracle on
    all four execution-path variants — local, pruned local,
    distributed, pruned distributed. Wildcard exclusions expand."""
    # first two exclusions provably change the top-10 (asserted);
    # the last is a matches-nothing no-op
    cases = [
        (["spark", "vector"], "or", ["ha*"]),
        (["qu*"], "or", ["spark", "vec*"]),
        (["spark", "vector"], "and", ["qu*"]),
        (["spark"], "or", ["nosuchterm"]),
    ]
    variants = [
        {},
        {"prune": True},
        {"local_score": False},
        {"local_score": False, "prune": True},
    ]
    for terms, mode, excl in cases:
        want = oracle.search(terms, 10, mode=mode, exclude=excl)
        base = oracle.search(terms, 10, mode=mode)
        for kw in variants:
            got = [
                (r["doc_id"], r["score"])
                for r in search(
                    spark, index_dir, terms, k=10, mode=mode,
                    with_urls=False, exclude=excl, **kw,
                ).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in want], (terms, excl, kw)
            for (gd, gs), (wd, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=1e-9), (terms, excl, kw, gd)
        if (terms, excl) in ((["spark", "vector"], ["ha*"]), (["qu*"], ["spark", "vec*"])):
            assert want != base, (terms, excl, "exclusion must change results")


def test_min_match_matches_oracle(spark, index_dir, oracle):
    """Minimum-should-match (engine extension, Lucene
    minNrShouldMatch): docs matching >= m DISTINCT patterns qualify,
    scores stay the plain disjunctive sums — rank-identical to the
    oracle across all three execution paths (prune=True silently
    falls back: the theta probe cannot account for the membership
    filter)."""
    import math

    cases = [
        (["spark", "qu*", "karo*"], 2),
        (["spark", "qu*", "?iro"], 2),
        (["spark", "index", "qu*"], 3),
        (["spark", "ha*", "querry~2"], 3),
    ]
    narrowed = 0
    for terms, m in cases:
        want = oracle.search(terms, 10, mode="or", min_match=m)
        assert want, (terms, m)
        plain = oracle.search(terms, 10, mode="or")
        narrowed += want != plain
        for kw in (
            {"local_score": True},
            {"local_score": False},
            {"prune": True},
        ):
            got = [
                (r["doc_id"], r["score"])
                for r in search(
                    spark, index_dir, terms, k=10, mode="or",
                    with_urls=False, min_match=m, **kw,
                ).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in want], (terms, m, kw)
            for (_, gs), (_, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=1e-9), (terms, m, kw)
    assert narrowed >= 2  # the filter must actually bite
    # m = n: membership equals AND, scores stay disjunctive (= the
    # AND-mode scoring formula over the same doc set)
    and_want = oracle.search(["spark", "index"], 10, mode="and")
    got = [
        (r["doc_id"], r["score"])
        for r in search(
            spark, index_dir, ["spark", "index"], k=10, mode="or",
            with_urls=False, min_match=2,
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in and_want]
    # m = 1 is a no-op
    a = search(spark, index_dir, ["spark", "index"], k=10, mode="or",
               with_urls=False, min_match=1).collect()
    b = search(spark, index_dir, ["spark", "index"], k=10, mode="or",
               with_urls=False).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    # an expansion covering fewer than m patterns is provably empty
    assert search(spark, index_dir, ["spark", "absentzzz"], k=10,
                  mode="or", with_urls=False, min_match=2).count() == 0
    # validation: and-mode / out-of-range m reject loudly
    with pytest.raises(ValueError, match="min_match"):
        search(spark, index_dir, ["spark", "index"], mode="and", min_match=2)
    with pytest.raises(ValueError, match="min_match"):
        search(spark, index_dir, ["spark", "index"], mode="or", min_match=0)
    with pytest.raises(ValueError, match="min_match"):
        search(spark, index_dir, ["spark", "index"], mode="or", min_match=3)


def test_search_exclude_oversize_fallback(spark, index_dir, oracle, monkeypatch):
    """An exclusion set past LOCAL_SCORE_MAX_POSTINGS must fall back
    to the distributed anti-join (pruning disabled) and stay exact."""
    import textindex_spark.query as Qm

    monkeypatch.setattr(Qm, "LOCAL_SCORE_MAX_POSTINGS", 1)
    terms, excl = ["spark", "vector"], ["merge"]
    want = oracle.search(terms, 10, mode="or", exclude=excl)
    for kw in ({}, {"prune": True}):
        got = [
            (r["doc_id"], r["score"])
            for r in search(
                spark, index_dir, terms, k=10, mode="or",
                with_urls=False, exclude=excl, **kw,
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], kw


def test_sharded_search_matches_single_index(spark, rows, oracle, tmp_path_factory):
    """Federated BM25 over two shards is rank- and score-identical
    to the single-index oracle (global df/avgdl), AND and OR modes,
    including a pattern that only expands in one shard."""
    from textindex_spark.query import search_sharded

    base = tmp_path_factory.mktemp("shards")
    d1, d2 = str(base / "s0"), str(base / "s1")
    build_index(spark, corpus_df(spark, rows[:160]), d1, range_bits=6)
    build_index(spark, corpus_df(spark, rows[160:]), d2, range_bits=6)
    cases = [(q["terms"], q["k"], "and") for q in query_set()[:4]]
    cases += [(["spark", "vector"], 10, "or"), (["zanzibar*", "spark"], 5, "and")]
    for terms, k, mode in cases:
        want = oracle.search(terms, k, mode=mode)
        for local in (None, False):  # serving path AND distributed plan
            got = [
                (r["doc_id"], r["score"])
                for r in search_sharded(
                    spark, [d1, d2], terms, k=k, mode=mode,
                    with_urls=False, local_score=local,
                ).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in want], (terms, mode, local)
            for (gd, gs), (wd, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=1e-9), (terms, mode, gd)
    # NOT exclusion federates too (shard-local exclusion is global:
    # a doc lives in exactly one shard)
    want = oracle.search(["spark", "vector"], 10, mode="or", exclude=["ha*"])
    for local in (None, False):
        got = [
            (r["doc_id"], r["score"])
            for r in search_sharded(
                spark, [d1, d2], ["spark", "vector"], k=10, mode="or",
                with_urls=False, local_score=local, exclude=["ha*"],
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], local
    # query-time boosts federate: the global max boost per term folds
    # into the global idf
    want = oracle.search(["spark^2", "vector"], 10, mode="or")
    for local in (None, False):
        got = [
            (r["doc_id"], r["score"])
            for r in search_sharded(
                spark, [d1, d2], ["spark^2", "vector"], k=10, mode="or",
                with_urls=False, local_score=local,
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], local
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9)
    # minimum-should-match federates: shard-local masks are global
    # (a doc lives in exactly one shard)
    want = oracle.search(["spark", "qu*", "karo*"], 10, mode="or",
                         min_match=2)
    assert want
    for local in (None, False):
        got = [
            (r["doc_id"], r["score"])
            for r in search_sharded(
                spark, [d1, d2], ["spark", "qu*", "karo*"], k=10,
                mode="or", with_urls=False, local_score=local, min_match=2,
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], local
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9)
    # a ts window covering only the SECOND shard's crawl period:
    # results equal the union-index oracle (global stats), and the
    # out-of-window shard is provably skippable — its range_ts bounds
    # yield zero allowed ranges, the shard-per-crawl-month federation
    # shape (shard 1 = rows 0..159 → times 00:00:00..00:34:27)
    from textindex_spark.query import _ts_allowed_ranges

    win = "ts:2025-01-01T00:40:00..2025-01-01T00:55:00"
    assert _ts_allowed_ranges(spark, d1, win) == []
    assert _ts_allowed_ranges(spark, d2, win)
    want = oracle.search(["spark", "vector"], 10, mode="or", scope=win)
    assert want
    for local in (None, False):
        got = [
            (r["doc_id"], r["score"])
            for r in search_sharded(
                spark, [d1, d2], ["spark", "vector"], k=10, mode="or",
                with_urls=False, local_score=local, scope=win,
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], local
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9)

    # a window past every shard's crawl period: all shards skip,
    # both paths return empty
    for local in (None, False):
        assert search_sharded(
            spark, [d1, d2], ["spark", "vector"], k=10, mode="or",
            with_urls=False, local_score=local,
            scope="ts:2030-01-01..2031-01-01",
        ).collect() == [], local

    # metadata scope federates the same way (each shard's docs table
    # answers the predicate for its own docs)
    want = oracle.search(["spark", "vector"], 10, mode="or", scope="lang:fr")
    assert want
    for local in (None, False):
        got = [
            (r["doc_id"], r["score"])
            for r in search_sharded(
                spark, [d1, d2], ["spark", "vector"], k=10, mode="or",
                with_urls=False, local_score=local, scope="lang:fr",
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], local


def test_and_range_preintersection(spark, index_dir, oracle):
    """Candidate-range pre-intersection for conjunctive queries: the
    surviving set equals ranges(a) ∩ ranges(b) from the oracle's
    postings, and is strictly smaller than the hot term's range set
    for a rare+hot pair (the I/O win at scale)."""
    from textindex_spark import query as Qm

    stats = Qm.cached_stats(spark, index_dir)
    rb = stats["range_bits"]
    rare = min(
        (t for t in oracle.postings if len(oracle.postings[t]) >= 1),
        key=lambda t: (len(oracle.postings[t]), t),
    )
    ranges = {
        t: {d >> rb for d in oracle.postings[t]} for t in ("spark", rare)
    }
    want = sorted(ranges["spark"] & ranges[rare])
    got = Qm._and_surviving_ranges(
        spark, index_dir, {"spark": 1, rare: 2}, 3, stats
    )
    assert sorted(got) == want
    assert len(want) < len(ranges["spark"])
    # single pattern: not applicable
    assert Qm._and_surviving_ranges(spark, index_dir, {"spark": 1}, 1, stats) is None
    # the surviving-range predicate must reach the parquet SCAN
    # (PushedFilters), alongside the term in-list and bucket pruning
    plan = (
        find_unranked(spark, index_dir, ["spark", rare])
        ._jdf.queryExecution().executedPlan().toString()
    )
    scan = next(
        l for l in plan.splitlines()
        if "PushedFilters" in l and "postings" in l
    )
    assert "range_id" in scan.split("PushedFilters")[1], scan
    assert "In(term" in scan, scan
    # the partition filter names exactly the query terms' buckets
    # (one bucket prints as `= b`, several as `IN (...)`)
    from textindex_spark.build import term_bucket_py

    buckets = sorted(
        {term_bucket_py(t, stats["n_term_buckets"]) for t in ("spark", rare)}
    )
    part = scan.split("PartitionFilters: [")[1].split("], PushedFilters")[0]
    want = (
        f" = {buckets[0]})" if len(buckets) == 1
        else f" IN ({','.join(map(str, buckets))})"
    )
    assert "term_bucket#" in part and want in part, scan


def test_phrase_near_exclude(spark, index_dir, oracle):
    """NOT exclusion on the positional operators: result set equals
    the unexcluded set minus docs containing the excluded term."""
    from textindex_spark.query import near_docs, search_phrase

    ph = next(p for p in _corpus_phrases(oracle)
              if len(oracle.phrase_occurrences(p)) > 1)
    base = set(oracle.phrase_occurrences(ph))
    # exclusion that bites: a term from ONE matching doc's text
    some = sorted(base)[0]
    excl_term = next(
        t for t in oracle.docs[some]["text"].lower().split()
        if t in oracle.postings and base - set(oracle.postings[t])
    )
    with_t = set(oracle.postings[excl_term])
    exc = {
        r["doc_id"]
        for r in search_phrase(
            spark, index_dir, ph, k=1000, with_urls=False, exclude=[excl_term]
        ).collect()
    }
    assert exc == base - with_t and exc < base
    nb = {r["doc_id"] for r in near_docs(spark, index_dir, ph, 8).collect()}
    ne = {
        r["doc_id"]
        for r in near_docs(spark, index_dir, ph, 8, exclude=[excl_term]).collect()
    }
    assert ne == nb - with_t and nb


def test_facet_counts_match_oracle(spark, index_dir, oracle, rows):
    """Facet slices (lang / site) over the match set equal the
    brute-force per-doc recount, with and without exclusion."""
    import re

    from textindex_spark.query import facet_counts

    by_id = {r["doc_id"]: r for r in rows}
    matched = set(oracle.postings["spark"]) & set(oracle.postings["index"])
    langs: dict[str, int] = {}
    for d in matched:
        langs[by_id[d]["lang"]] = langs.get(by_id[d]["lang"], 0) + 1
    got = {
        (r["value"], r["n_docs"])
        for r in facet_counts(spark, index_dir, ["spark", "index"], by="lang").collect()
    }
    assert got == set(langs.items())

    excl = set(oracle.postings.get("merge", {}))
    sites: dict[str, int] = {}
    for d in (set(oracle.postings["spark"]) | set(oracle.postings["index"])) - excl:
        host = re.match(r"^[a-z]+://([^/]+)", by_id[d]["url"]).group(1)
        sites[host] = sites.get(host, 0) + 1
    got = {
        (r["value"], r["n_docs"])
        for r in facet_counts(
            spark, index_dir, ["spark", "index"], by="site", mode="or",
            exclude=["merge"],
        ).collect()
    }
    assert got == set(sites.items()) and len(got) > 1


def test_bm25_or_pruned_matches_exact(spark, index_dir, oracle):
    """OR-mode block-max pruning (WAND's home turf, VERDICT r3 task
    4): pruned OR results must be rank-identical to the exact OR
    scorer on BOTH execution paths (query-node serving and
    distributed)."""
    for q in query_set()[:6]:
        want = oracle.search(q["terms"], q["k"], mode="or")
        for local in (None, False):
            got = [
                (r["doc_id"], r["score"])
                for r in search(
                    spark, index_dir, q["terms"], k=q["k"], mode="or",
                    prune=True, with_urls=False, local_score=local,
                ).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in want], (q, local)
            for (gd, gs), (wd, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-6, (q, local)


def test_find_unranked_matches_oracle(spark, index_dir, oracle):
    for terms in (["spark"], ["spark", "index"], ["karo*"], ["absent"]):
        want = oracle.find_unranked(terms)
        got = [r["url"] for r in find_unranked(spark, index_dir, terms).collect()]
        assert got == want, terms


def test_find_files(spark, index_dir, oracle):
    got = [r["url"] for r in find_files(spark, index_dir, "*site1.example*").collect()]
    want = [d["url"] for _, d in sorted(oracle.docs.items()) if "site1.example" in d["url"]]
    assert got == want


def test_matched_lines(spark, rows, index_dir, oracle):
    hits = search(spark, index_dir, ["zanzibar*", "spark"], k=5, with_urls=False)
    got = matched_lines(spark, corpus_df(spark, rows), hits, ["spark"]).collect()
    hit_ids = {r["doc_id"] for r in hits.collect()}
    assert {r["doc_id"] for r in got} == hit_ids
    for r in got:
        for line in r["lines"]:
            assert any(w == "spark" for w in line.split(" "))


def test_postings_bucket_partition_pruning(spark, rows, tmp_path, monkeypatch):
    """The postings scan of a query must list ONLY the term_bucket
    directories of the query terms (exact partition pruning, the
    file-listing killer at 10^12 docs) and still push the term
    predicate to the parquet scan. The bucket count is data-sized (a
    300-doc index is one bucket), so the index here is built with a
    small per-bucket token target to have several buckets to prune."""
    from textindex_spark import build as B
    from textindex_spark.build import read_stats, term_bucket_py
    from textindex_spark.query import search

    out = str(tmp_path / "idx")
    monkeypatch.setattr(B, "TOKENS_PER_TERM_BUCKET", 1024)
    build_index(spark, corpus_df(spark, rows), out, range_bits=6)
    n_buckets = read_stats(spark, out)["n_term_buckets"]
    assert n_buckets >= 2
    res = search(spark, out, ["spark"], k=5, local_score=False,
                 with_urls=False)
    plan = res._jdf.queryExecution().executedPlan().toString()
    b = term_bucket_py("spark", n_buckets)
    assert f"(term_bucket#" in plan and f" = {b})" in plan, plan[:2000]
    assert "PushedFilters: [IsNotNull(term), EqualTo(term,spark)]" in plan
    # BM25 must never deserialize the positional payload
    scan = next(
        l for l in plan.splitlines() if "FileScan" in l and "postings" in l
    )
    assert "pos_bytes" not in scan, scan


def _kept_seq(text):
    from textindex_spark.refimpl.txt_tokenize import term_positions

    pos, dl = term_positions(text)
    seq = [None] * dl
    for t, ps in pos.items():
        for p in ps:
            seq[p] = t
    return seq


def _corpus_phrases(oracle, n=6):
    """Pull real kept-token n-grams out of corpus docs so every phrase
    has at least one guaranteed occurrence — plus the corpus's most
    document-frequent bigram so multi-doc matching is exercised."""
    from collections import Counter

    phrases = []
    for doc_id in sorted(oracle.docs)[:3]:
        seq = _kept_seq(oracle.docs[doc_id]["text"])
        if len(seq) < 8:
            continue
        phrases.append(seq[2:4])
        phrases.append(seq[4:7])
    bigram_df = Counter()
    for doc in oracle.docs.values():
        seq = _kept_seq(doc["text"])
        for bg in {(a, b) for a, b in zip(seq, seq[1:])}:
            bigram_df[bg] += 1
    (top, df), = bigram_df.most_common(1)
    assert df > 1
    phrases.append(list(top))
    return phrases[: n + 1]


def test_phrase_search_matches_oracle(spark, index_dir, oracle):
    from textindex_spark.query import phrase_docs, search_phrase

    phrases = _corpus_phrases(oracle)
    assert phrases
    any_multi = False
    for ph in phrases:
        want_occ = oracle.phrase_occurrences(ph)
        assert want_occ  # drawn from a real doc → at least one match
        got_occ = {
            r["doc_id"]: r["n_occ"]
            for r in phrase_docs(spark, index_dir, ph).collect()
        }
        assert got_occ == want_occ, ph
        any_multi = any_multi or len(want_occ) > 1
        want = oracle.search_phrase(ph, k=10)
        got = [
            (r["doc_id"], r["score"])
            for r in search_phrase(spark, index_dir, ph, k=10, with_urls=False).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], ph
        for (gd, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), (ph, gd)
    assert any_multi  # the suite exercised a phrase with >1 matching doc


def test_near_wildcard_matches_oracle(spark, index_dir, oracle):
    """NEAR with wildcard slots (r4): slot positions are the union
    over the expansion; anchored-window counts match the oracle."""
    from textindex_spark.query import near_docs

    checked = 0
    for ph in _corpus_phrases(oracle, n=4):
        if len(ph) < 2 or any(len(t) < 3 for t in ph):
            continue
        wild = [ph[0]] + [ph[1][:2] + "*"] + list(ph[2:])
        for w in (3, 8):
            want = oracle.near_occurrences(wild, window=w)
            got = {
                r["doc_id"]: r["n_near"]
                for r in near_docs(spark, index_dir, wild, window=w).collect()
            }
            assert got == want, (wild, w)
            checked += bool(want)
    assert checked


def test_ordered_near_matches_oracle(spark, index_dir, oracle):
    """Ordered proximity (Lucene SpanNear inOrder, engine extension):
    the in-order chain — each slot strictly after the previous match,
    at most `window` tokens later — matches the oracle's independent
    recursive recomputation, including wildcard slots, duplicate
    slots, and the ranked variant; order must actually bite (A NEAR
    B != B NEAR A somewhere)."""
    import math

    from textindex_spark.query import near_docs, search_near

    checked = asym = 0
    for ph in _corpus_phrases(oracle, n=4):
        if len(ph) < 2:
            continue
        probes = [list(ph[:3])]
        if all(len(t) >= 3 for t in ph[:2]):
            probes.append([ph[0], ph[1][:2] + "*"])
        probes.append([ph[0], ph[0]])  # duplicate slot
        for words in probes:
            for w in (3, 8):
                want = oracle.near_occurrences(words, window=w, ordered=True)
                got = {
                    r["doc_id"]: r["n_near"]
                    for r in near_docs(
                        spark, index_dir, words, window=w, ordered=True
                    ).collect()
                }
                assert got == want, (words, w)
                checked += bool(want)
            rev = list(reversed(words))
            fwd = oracle.near_occurrences(words, window=8, ordered=True)
            bwd = oracle.near_occurrences(rev, window=8, ordered=True)
            asym += fwd != bwd
    assert checked >= 4
    assert asym  # ordering must change results somewhere
    # ranked variant: membership from the ordered chain, scores from
    # the distinct-slot BM25 sum (same scoring as unordered NEAR)
    for ph in _corpus_phrases(oracle, n=2):
        if len(ph) < 2:
            continue
        words = list(ph[:2])
        member = oracle.near_occurrences(words, window=8, ordered=True)
        if not member:
            continue
        got = search_near(
            spark, index_dir, words, window=8, k=10, with_urls=False,
            ordered=True,
        ).collect()
        assert {r["doc_id"] for r in got} <= set(member)
        unord = {
            r["doc_id"]: r["score"]
            for r in search_near(
                spark, index_dir, words, window=8, k=1000, with_urls=False,
            ).collect()
        }
        for r in got:  # same doc scores identically in both modes
            assert math.isclose(r["score"], unord[r["doc_id"]], rel_tol=1e-9)
        break


def test_phrase_rank_wildcard_matches_oracle(spark, index_dir, oracle):
    """Ranked phrases with wildcard slots (VERDICT r3 task 5): the
    wildcard slot scores as the max matched expansion partial; rank
    and scores must match the python oracle."""
    from textindex_spark.query import search_phrase

    phrases = [p for p in _corpus_phrases(oracle) if len(p) >= 2]
    assert phrases
    checked = 0
    for ph in phrases[:3]:
        wild = ph[:-1] + [ph[-1][: max(2, len(ph[-1]) - 2)] + "*"]
        want = oracle.search_phrase(wild, k=10)
        got = [
            (r["doc_id"], r["score"])
            for r in search_phrase(
                spark, index_dir, wild, k=10, with_urls=False
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], wild
        for (gd, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), (wild, gd)
        checked += bool(want)
    assert checked  # at least one wildcard phrase matched something


def test_phrase_missing_term_and_stopword_semantics(spark, index_dir, oracle):
    from textindex_spark.query import phrase_docs, phrase_terms

    assert phrase_docs(spark, index_dir, ["zzzzunseen", "words"]).count() == 0
    # stop words vanish from the phrase: "x the y" ≡ "x y"
    assert phrase_terms(["black", "the", "cat"]) == phrase_terms(["black", "cat"])


def test_near_docs_matches_oracle(spark, index_dir, oracle):
    from textindex_spark.query import near_docs

    phrases = _corpus_phrases(oracle)
    checked = 0
    for ph in phrases:
        for w in (1, 3, 8):
            want = oracle.near_occurrences(ph, window=w)
            got = {
                r["doc_id"]: r["n_near"]
                for r in near_docs(spark, index_dir, ph, window=w).collect()
            }
            assert got == want, (ph, w)
            checked += bool(want)
    assert checked  # at least one (phrase, window) had matches


def test_expand_distributed_matches_cached(spark, index_dir):
    """The distributed dictionary probe (vocab > cache cap) must give
    exactly the in-memory expansion, and prefix patterns push a
    sargable term range to the terms scan."""
    import textindex_spark.query as Q

    pats = [
        "quer*", "spark", "*ie*", "?om", "absentzz*", "querry~2", "spark~1",
        "/quer.*/", "/(spark|vector)/",
    ]
    cached = Q.expand_patterns(spark, index_dir, pats)
    old_cap = Q.TERMS_CACHE_MAX
    try:
        Q.TERMS_CACHE_MAX = -1
        Q._dict_cache.pop(Q.canon_dir(index_dir), None)
        dist = Q.expand_patterns(spark, index_dir, pats)
    finally:
        Q.TERMS_CACHE_MAX = old_cap
        Q._dict_cache.pop(Q.canon_dir(index_dir), None)
    key = lambda df: sorted(map(tuple, df[["pattern_idx", "term"]].values))
    assert key(dist) == key(cached)


def test_fuzzy_expand_matches_oracle(spark, index_dir, oracle):
    """Fuzzy ``term~d`` expansion (engine extension): the resident-
    dictionary banded/prefiltered kernel must equal the oracle's
    independent full-matrix Levenshtein DP over the same vocabulary."""
    import textindex_spark.query as Q

    probes = ["spark~1", "querry~2", "indx~2", "merge~1", "absentzzzzz~1"]
    multi = 0
    for p in probes:
        want = sorted(oracle.expand(p))
        got = sorted(Q.expand_patterns(spark, index_dir, [p])["term"])
        assert got == want, (p, got, want)
        multi += len(want) > 1
    assert multi  # at least one probe expanded to several terms


def test_fuzzy_search_rank_identity(spark, index_dir, oracle):
    """BM25 with fuzzy patterns is rank-identical to the oracle
    (fuzzy expansions ride the same pattern_idx machinery as globs)."""
    for q in (["querry~2"], ["wimsor~1", "topiqzurwi~1"], ["indx~2", "spark"]):
        want = oracle.search(q, 10)
        got = [
            (r["doc_id"], r["score"])
            for r in search(spark, index_dir, q, k=10, with_urls=False).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], (q, got[:3], want[:3])
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), q
        assert want, q  # the probe set must actually match docs


def test_fuzzy_phrase_slots(spark, index_dir, oracle):
    """A fuzzy word inside a phrase becomes a pattern slot (positions
    union over its expansion, MAX-partial scoring) — engine matches
    the oracle's independent recomputation."""
    from textindex_spark.query import phrase_docs

    checked = 0
    for ph in (["woven", "archive~1"], ["spark~2", "index"]):
        want = oracle.phrase_occurrences(ph)
        got = {
            r["doc_id"]: r["n_occ"]
            for r in phrase_docs(spark, index_dir, ph).collect()
        }
        assert got == want, (ph, got, want)
        checked += bool(want)
    assert checked  # at least one fuzzy phrase matched


def test_boosted_search_matches_oracle(spark, index_dir, oracle):
    """Query-time boosts (``pattern^boost``, engine extension): the
    boost folds into idf before scoring AND pruning, so all three
    execution paths stay rank-identical to the oracle's independent
    max-boost-per-term recomputation — and the boost genuinely
    reorders results vs the unboosted query."""
    cases = [
        (["spark^2", "vector"], "or"),
        (["qu*^1.5", "spark"], "and"),
        (["querry~2^3", "index"], "or"),
        (["qu*^2", "query^0.5"], "or"),  # overlapping patterns: max
    ]
    reordered = 0
    for terms, mode in cases:
        want = oracle.search(terms, 10, mode=mode)
        assert want, terms
        plain = oracle.search(
            [t.split("^")[0] for t in terms], 10, mode=mode
        )
        reordered += want != plain
        for kw in (
            {"local_score": True},
            {"local_score": False},
            {"prune": True},
        ):
            got = [
                (r["doc_id"], r["score"])
                for r in search(
                    spark, index_dir, terms, k=10, mode=mode,
                    with_urls=False, **kw,
                ).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in want], (terms, kw)
            for (_, gs), (_, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=1e-9), (terms, kw)
    assert reordered >= 2  # the boosts must actually change rankings
    # ^1 is a no-op; non-positive boosts are rejected
    a = search(spark, index_dir, ["spark^1"], k=5, with_urls=False).collect()
    b = search(spark, index_dir, ["spark"], k=5, with_urls=False).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    with pytest.raises(ValueError, match="boost"):
        search(spark, index_dir, ["spark^0"], k=5)
    # boosts are flat-search syntax: phrases and boolean trees reject
    # them loudly instead of silently matching nothing
    from textindex_spark.boolquery import parse_bool
    from textindex_spark.query import phrase_slots

    with pytest.raises(ValueError, match="boost"):
        parse_bool("spark^2 AND vector")
    with pytest.raises(ValueError, match="boost"):
        phrase_slots(["woven", "archive^2"])
    # malformed boost syntax errors loudly (never a silent miss);
    # '^' inside a /regex/ stays legal
    from textindex_spark.query import split_boosts

    for bad in ("spark^", "spark^x", "a^b", "spark^^2", "spark^2x"):
        with pytest.raises(ValueError, match="boost"):
            split_boosts([bad])
    assert split_boosts(["/a^b/", "/qu.*/^2"]) == (
        ["/a^b/", "/qu.*/"],
        [1.0, 2.0],
    )


def test_boost_stripped_on_membership_surfaces(spark, index_dir, oracle):
    """Boosts cannot change a membership answer: exclusions, unranked
    find, and facet counts strip the boost and honor the base pattern
    (previously a boosted exclude silently no-opped)."""
    from textindex_spark.query import facet_counts

    want = oracle.search(["spark", "vector"], 10, mode="or", exclude=["ha*"])
    got = [
        (r["doc_id"], r["score"])
        for r in search(
            spark, index_dir, ["spark", "vector"], k=10, mode="or",
            with_urls=False, exclude=["ha*^2"],
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in want] and want
    plain = {r["doc_id"] for r in find_unranked(spark, index_dir, ["spark"]).collect()}
    boosted = {
        r["doc_id"]
        for r in find_unranked(spark, index_dir, ["spark^3"]).collect()
    }
    assert boosted == plain and plain
    a = {
        (r["value"], r["n_docs"])
        for r in facet_counts(spark, index_dir, ["spark"], by="lang", mode="or").collect()
    }
    b = {
        (r["value"], r["n_docs"])
        for r in facet_counts(spark, index_dir, ["spark^3"], by="lang", mode="or").collect()
    }
    assert a == b and a


def test_more_like_this_matches_oracle(spark, index_dir, rows, oracle):
    """Query-by-document (engine extension): the engine re-tokenizes
    the source from the raw corpus and ranks terms by tf·idf; the
    oracle recomputes the chain from its postings scan — identical
    term selection, identical top-k, source doc never in results."""
    from textindex_spark.query import more_like_this

    docs = corpus_df(spark, rows)
    probes = sorted(oracle.docs)[:2] + [sorted(oracle.docs)[150]]
    nonempty = 0
    for did in probes:
        want = oracle.more_like_this(did)
        got = [
            (r["doc_id"], r["score"])
            for r in more_like_this(spark, index_dir, docs, did).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], (did, got[:3], want[:3])
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), did
        assert all(d != did for d, _ in got), did
        nonempty += bool(want)
    assert nonempty == len(probes)
    with pytest.raises(ValueError, match="not found"):
        more_like_this(spark, index_dir, docs, 10**12)

    # scoped MLT: "similar docs from this slice" — candidates
    # filtered, term selection and scores unchanged
    did = probes[-1]
    for scope in ("lang:de", "ts:2025-01-01T00:05:00..2025-01-01T00:35:00"):
        want = oracle.more_like_this(did, scope=scope)
        got = [
            (r["doc_id"], r["score"])
            for r in more_like_this(
                spark, index_dir, docs, did, scope=scope
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], (scope, got[:3])
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), scope
        assert want and want != oracle.more_like_this(did)  # scope bites


def test_regex_expand_and_rank(spark, index_dir, oracle):
    """Slash-delimited regex terms (engine extension): expansion over
    the vocabulary equals the oracle's independent re.fullmatch scan,
    and a regex pattern in a ranked query is rank-identical to the
    oracle (regexes ride the same pattern_idx machinery as globs)."""
    import textindex_spark.query as Q

    multi = 0
    for p in ("/quer.*/", "/qu(ery|edra)/", "/.om.?/", "/zzzz+/"):
        want = sorted(oracle.expand(p))
        got = sorted(Q.expand_patterns(spark, index_dir, [p])["term"])
        assert got == want, (p, got, want)
        multi += len(want) > 1
    assert multi >= 2
    for q in (["/quer.*/"], ["/(spark|vector)/", "index"]):
        want = oracle.search(q, 10, mode="or")
        assert want, q
        got = [
            (r["doc_id"], r["score"])
            for r in search(
                spark, index_dir, q, k=10, mode="or", with_urls=False
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9), q


def test_regex_phrase_slot(spark, index_dir, oracle):
    """A regex word inside a phrase becomes a pattern slot, matching
    the oracle's recomputation."""
    from textindex_spark.query import phrase_docs

    ph = ["woven", "/archiv.*/"]
    want = oracle.phrase_occurrences(ph)
    got = {
        r["doc_id"]: r["n_occ"]
        for r in phrase_docs(spark, index_dir, ph).collect()
    }
    assert got == want and want


def test_regex_validation():
    """Invalid regex is rejected up front; non-slash words pass
    through untouched."""
    from textindex_spark.query import _parse_regex

    assert _parse_regex("plain") is None
    assert _parse_regex("/a/") is not None
    assert _parse_regex("//") is None  # empty: not regex syntax
    with pytest.raises(ValueError):
        _parse_regex("/(unclosed/")


def test_suggest_matches_oracle(spark, index_dir, oracle):
    """Did-you-mean suggestions (engine extension): the ranked
    (distance asc, df desc, term asc) top-5 equals the oracle's
    independent full-matrix DP + postings-df recomputation; the exact
    word itself is excluded even when it is in the vocabulary."""
    from textindex_spark.query import suggest_terms

    nonempty = 0
    for w in ("querry", "spark", "indx", "wimsor", "absentzzzzzz"):
        want = oracle.suggest(w)
        got = [
            (r.term, int(r.dist), int(r.df))
            for r in suggest_terms(spark, index_dir, w).itertuples(index=False)
        ]
        assert got == want, (w, got, want)
        assert all(t != w for t, _, _ in got), w
        nonempty += bool(want)
    assert nonempty >= 3


def test_scoped_search_matches_oracle(spark, index_dir, oracle):
    """Metadata-scoped retrieval (engine extension): only docs
    matching a lang:/site: predicate reach top-k, scores unchanged
    (global stats) — all three execution paths (resident serving,
    distributed, block-max pruned) are rank-identical to the oracle's
    independent recomputation."""
    cases = [
        (["spark"], "or", "lang:de"),
        (["spark", "vector"], "or", "lang:fr"),
        (["qu*"], "or", "site:site3.example"),
        (["spark", "table"], "and", "lang:en"),
    ]
    any_nonempty = 0
    for terms, mode, scope in cases:
        want = oracle.search(terms, 10, mode=mode, scope=scope)
        unscoped = oracle.search(terms, 10, mode=mode)
        for kw in (
            {"local_score": True},
            {"local_score": False},
            {"prune": True},
        ):
            got = [
                (r["doc_id"], r["score"])
                for r in search(
                    spark, index_dir, terms, k=10, mode=mode,
                    with_urls=False, scope=scope, **kw,
                ).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in want], (
                terms, scope, kw, got[:3], want[:3],
            )
            for (_, gs), (_, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=1e-9), (terms, scope)
        any_nonempty += bool(want)
        # the scope must actually bite (else the test proves nothing)
        assert want != unscoped or not want, (terms, scope)
    assert any_nonempty >= 3


def test_scoped_search_with_exclusion(spark, index_dir, oracle):
    """Scope composes with NOT exclusion — both filters apply, scores
    unchanged, serving and distributed paths agree."""
    want = oracle.search(
        ["spark", "vector"], 10, mode="or", exclude=["ha*"], scope="lang:de"
    )
    assert want
    for local in (True, False):
        got = [
            (r["doc_id"], r["score"])
            for r in search(
                spark, index_dir, ["spark", "vector"], k=10, mode="or",
                with_urls=False, exclude=["ha*"], scope="lang:de",
                local_score=local,
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in want], local
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9)


def test_scope_oversize_complement_distributed(spark, index_dir, oracle, monkeypatch):
    """The 10^12-doc scope form: when the complement exceeds
    TOMBSTONE_LOCAL_MAX, the scope applies as a left_semi join
    against the pushdown-filtered docs scan (serving path and
    block-max pruning disabled) — results must stay rank-identical
    to the capped-complement path on flat, pruned, and boolean
    queries."""
    import textindex_spark.query as Qm
    from textindex_spark.boolquery import search_bool

    monkeypatch.setattr(Qm, "TOMBSTONE_LOCAL_MAX", 0)
    Qm._scope_ids_cache.clear()
    assert Qm._scope_nonmatch_ids(spark, index_dir, "lang:de") is None
    try:
        want = oracle.search(["spark", "vector"], 10, mode="or", scope="lang:de")
        assert want
        for kw in ({}, {"prune": True}):
            got = [
                (r["doc_id"], r["score"])
                for r in search(
                    spark, index_dir, ["spark", "vector"], k=10, mode="or",
                    with_urls=False, scope="lang:de", **kw,
                ).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in want], kw
            for (_, gs), (_, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=1e-9), kw
        q = "qu* AND (spark OR vector)"
        want_b = {
            r["doc_id"]
            for r in search_bool(
                spark, index_dir, q, k=10, with_urls=False, scope="lang:de"
            ).collect()
        }
        assert want_b and all(
            oracle.scope_ok(d, "lang:de") for d in want_b
        )
    finally:
        Qm._scope_ids_cache.clear()


@pytest.mark.parametrize(
    "scope", ["lang:de", "ts:2025-01-01T00:05:00..2025-01-01T00:35:00"]
)
def test_scope_on_phrase_near_facets(spark, index_dir, oracle, scope):
    """The scope matrix is complete: phrase top-k, proximity
    (membership + ranked), and facet counts all accept lang:/site:
    and ts:A..B scopes — each equals the oracle's recomputation
    filtered by the same metadata predicate (scores/counts unchanged
    by the filter). The ts case runs the positional paths through
    range_ts time pruning."""
    from textindex_spark.query import (
        facet_counts,
        near_docs,
        search_near,
        search_phrase,
    )

    # phrase: full oracle ranking, filter, take 10
    ph = ["woven", "archive"]
    full = oracle.search_phrase(ph, k=10**9)
    want = [
        (d, round(s, 9)) for d, s in full if oracle.scope_ok(d, scope)
    ][:10]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in search_phrase(
            spark, index_dir, ph, k=10, with_urls=False, scope=scope
        ).collect()
    ]
    assert got == want and want
    assert want != [(d, round(s, 9)) for d, s in full[:10]]  # scope bites

    # proximity membership: the scoped (doc, n_near) set is exactly
    # the unscoped set restricted to in-scope docs
    nw = ["spark", "index"]
    base = {
        (r["doc_id"], r["n_near"])
        for r in near_docs(spark, index_dir, nw, window=12).collect()
    }
    got_n = {
        (r["doc_id"], r["n_near"])
        for r in near_docs(
            spark, index_dir, nw, window=12, scope=scope
        ).collect()
    }
    want_n = {(d, n) for d, n in base if oracle.scope_ok(d, scope)}
    assert got_n == want_n and got_n and got_n < base

    # ranked proximity: scoped top-k = unscoped ranking filtered
    full_r = [
        (r["doc_id"], round(r["score"], 9))
        for r in search_near(
            spark, index_dir, nw, window=12, k=10**6, with_urls=False
        ).collect()
    ]
    want_r = [t for t in full_r if oracle.scope_ok(t[0], scope)][:10]
    got_r = [
        (r["doc_id"], round(r["score"], 9))
        for r in search_near(
            spark, index_dir, nw, window=12, k=10, with_urls=False,
            scope=scope,
        ).collect()
    ]
    assert got_r == want_r and want_r

    # facets: scoped counts = per-value counts over in-scope matches
    from collections import Counter

    got_f = {
        (r["value"], r["n_docs"])
        for r in facet_counts(
            spark, index_dir, ["spark"], by="lang", mode="or", scope=scope
        ).collect()
    }
    full_f = oracle.search(["spark"], k=10**9, mode="or")
    want_f = Counter(
        oracle.docs[d]["lang"] for d, _ in full_f if oracle.scope_ok(d, scope)
    )
    assert got_f == set(want_f.items()) and got_f


def test_scope_validation(spark, index_dir):
    """Malformed scopes are rejected before any work."""
    from textindex_spark.query import parse_scope

    assert parse_scope("lang:en") == ("lang", "en")
    assert parse_scope("site:h.example") == ("site", "h.example")
    assert parse_scope("ts:2025-01-01..2025-02-01") == (
        "ts", "2025-01-01..2025-02-01"
    )
    assert parse_scope("ts:..2025-02-01") == ("ts", "..2025-02-01")
    for bad in (
        "lang", "lang:", "author:x", ":en",
        "ts:", "ts:..", "ts:2025-01-01",          # no window
        "ts:notadate..2025-01-01",                 # bad ISO
        "ts:2025-02-01..2025-01-01",               # FROM after TO
    ):
        with pytest.raises(ValueError):
            parse_scope(bad)
        with pytest.raises(ValueError):
            search(spark, index_dir, ["spark"], scope=bad)


def test_ts_scoped_search_matches_oracle(spark, index_dir, oracle):
    """Crawl-date-scoped retrieval (``ts:FROM..TO`` over warc_ts,
    inclusive UTC window, open ends allowed): rank- and
    score-identical to the oracle's independent recomputation on all
    three execution paths, for closed and half-open windows. The
    synthetic corpus mints warc_ts = 2025-01-01T00:00:00Z +
    13 s · doc_id, so minute-granular windows slice the corpus."""
    cases = [
        (["spark"], "or", "ts:2025-01-01T00:10:00..2025-01-01T00:40:00"),
        (["spark", "vector"], "or", "ts:..2025-01-01T00:20:00"),
        (["qu*"], "or", "ts:2025-01-01T00:30:00.."),
        (["spark", "table"], "and",
         "ts:2025-01-01T00:05:00..2025-01-01T00:55:00"),
    ]
    any_nonempty = 0
    for terms, mode, scope in cases:
        want = oracle.search(terms, 10, mode=mode, scope=scope)
        unscoped = oracle.search(terms, 10, mode=mode)
        for kw in (
            {"local_score": True},
            {"local_score": False},
            {"prune": True},
        ):
            got = [
                (r["doc_id"], r["score"])
                for r in search(
                    spark, index_dir, terms, k=10, mode=mode,
                    with_urls=False, scope=scope, **kw,
                ).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in want], (
                terms, scope, kw, got[:3], want[:3],
            )
            for (_, gs), (_, ws) in zip(got, want):
                assert math.isclose(gs, ws, rel_tol=1e-9), (terms, scope)
        any_nonempty += bool(want)
        assert want != unscoped or not want, (terms, scope)  # scope bites
    assert any_nonempty >= 3

    # boolean trees ride the same scope funnel
    from textindex_spark.boolquery import search_bool

    scope = "ts:2025-01-01T00:10:00..2025-01-01T00:40:00"
    got_b = {
        r["doc_id"]
        for r in search_bool(
            spark, index_dir, "spark OR vector", k=10, with_urls=False,
            scope=scope,
        ).collect()
    }
    assert got_b and all(oracle.scope_ok(d, scope) for d in got_b)


def test_docs_warc_ts_roundtrip(spark, index_dir, rows):
    """The docs table carries the crawl fetch time instant exactly
    (UTC session; input was tz-aware UTC)."""
    got = {
        r["doc_id"]: r["warc_ts"]
        for r in spark.read.parquet(f"{index_dir}/docs").collect()
    }
    assert got and all(v is not None for v in got.values())
    by_id = {r["doc_id"]: r for r in rows}
    for doc_id, ts in got.items():
        want = by_id[doc_id]["warc_ts"]
        assert ts.replace(tzinfo=None) == want.replace(tzinfo=None), doc_id


def test_month_facet_matches_oracle(spark, index_dir, oracle, rows, tmp_path):
    """``facet_counts(by="month")`` is a crawl-date histogram: per
    'yyyy-MM' matched-doc counts equal to the oracle's recomputation.
    The parity index spans one month, so a second index with the
    same pages shifted 40 days apart pins the multi-bucket shape."""
    from collections import Counter

    from textindex_spark.query import facet_counts

    full = oracle.search(["spark"], k=10**9, mode="or")
    want = Counter(
        oracle.docs[d]["warc_ts"].strftime("%Y-%m") for d, _ in full
    )
    got = {
        r["value"]: r["n_docs"]
        for r in facet_counts(
            spark, index_dir, ["spark"], by="month",
            mode="or",
        ).collect()
    }
    assert got == dict(want) and got
    # day/year granularities share the machinery; 300 docs * 13 s all
    # land on one day, so day has one bucket and year one bucket
    for by, fmt in (("day", "%Y-%m-%d"), ("year", "%Y")):
        got_g = {
            r["value"]: r["n_docs"]
            for r in facet_counts(
                spark, index_dir, ["spark"], by=by, mode="or"
            ).collect()
        }
        want_g = Counter(
            oracle.docs[d]["warc_ts"].strftime(fmt) for d, _ in full
        )
        assert got_g == dict(want_g) and got_g, by

    # multi-month: same corpus, warc_ts spread 40 days apart
    import pyspark.sql.functions as F

    from textindex_spark.build import build_index

    spread = corpus_df(spark, rows[:80]).withColumn(
        "warc_ts",
        F.expr("timestamp'2025-01-01' + make_interval(0,0,0, doc_id*40, 0,0,0)"),
    )
    out = str(tmp_path / "spread_idx")
    build_index(spark, spread, out, range_bits=6)
    got2 = {
        r["value"]: r["n_docs"]
        for r in facet_counts(spark, out, ["*"], by="month", mode="or").collect()
    }
    assert len(got2) >= 3 and sum(got2.values()) > 0
    # windowed scope composes: restrict to a 3-month slice
    from textindex_spark.query import search as _search

    sliced = _search(
        spark, out, ["*"], k=10**6, mode="or", with_urls=False,
        scope="ts:2025-03-01..2025-05-31T23:59:59",
    ).collect()
    months = {
        r["value"]: r["n_docs"]
        for r in facet_counts(
            spark, out, ["*"], by="month", mode="or",
            scope="ts:2025-03-01..2025-05-31T23:59:59",
        ).collect()
    }
    assert set(months) <= {"2025-03", "2025-04", "2025-05"}
    assert sum(months.values()) == len(sliced)


def test_ts_scope_null_warc_ts_never_matches(spark, rows, tmp_path):
    """Pre-upgrade indexes (and inputs without a fetch time) read
    warc_ts as null through the explicit docs schema: a ts scope
    matches nothing, lang scopes are unaffected, and the month facet
    buckets the docs under a null value."""
    from textindex_spark.build import build_index
    from textindex_spark.query import facet_counts

    nots = corpus_df(spark, rows[:60]).drop("warc_ts")
    out = str(tmp_path / "nots_idx")
    stats = build_index(spark, nots, out, range_bits=6)
    assert stats["n_docs"] > 0
    empty = search(
        spark, out, ["*"], k=10, mode="or", with_urls=False,
        scope="ts:2000-01-01..2100-01-01",
    ).collect()
    assert empty == []
    langs = search(
        spark, out, ["*"], k=10, mode="or", with_urls=False, scope="lang:de"
    ).collect()
    assert langs
    fm = facet_counts(spark, out, ["*"], by="month", mode="or").collect()
    assert len(fm) == 1 and fm[0]["value"] is None


def test_ts_range_pruning(spark, index_dir, oracle, rows, tmp_path):
    """Time pruning: the build records per-range crawl-time bounds
    (range_ts — one row per range_id = doc_id >> range_bits), and a
    ts-scoped query decodes ONLY ranges whose [min_ts, max_ts]
    intersects its window. On this time-ordered corpus (warc_ts
    monotone in doc_id, range_bits=6) a narrow window must keep a
    PROPER subset of ranges while every path stays oracle-identical
    (pinned by test_ts_scoped_search_matches_oracle, which runs
    through the same pruning)."""
    import numpy as np

    from textindex_spark.query import (
        _ts_allowed_ranges,
        _ts_range_cache,
        parse_ts_range,
    )

    # bounds table exists and is complete
    rts = {
        r["range_id"]: r
        for r in spark.read.parquet(f"{index_dir}/range_ts").collect()
    }
    docs = spark.read.parquet(f"{index_dir}/docs").collect()
    want_ranges = {d["doc_id"] >> 6 for d in docs}
    assert set(rts) == want_ranges and len(rts) >= 3
    for d in docs:
        r = rts[d["doc_id"] >> 6]
        assert r["min_ts"] <= d["warc_ts"] <= r["max_ts"]

    # a mid-corpus window keeps a proper subset of ranges — exactly
    # those holding an in-window doc (time-ordered ⇒ contiguous)
    scope = "ts:2025-01-01T00:10:00..2025-01-01T00:20:00"
    allowed = _ts_allowed_ranges(spark, index_dir, scope)
    assert allowed is not None
    lo, hi = parse_ts_range(scope.partition(":")[2])
    in_window = {
        d["doc_id"] >> 6
        for d in docs
        if lo <= d["warc_ts"].timestamp() <= hi
    }
    assert set(allowed) == in_window
    assert 0 < len(allowed) < len(want_ranges)

    # a window past the corpus end prunes everything → empty result
    _ts_range_cache.clear()
    none_scope = "ts:2030-01-01..2031-01-01"
    assert _ts_allowed_ranges(spark, index_dir, none_scope) == []
    for kw in ({"local_score": True}, {"local_score": False}, {"prune": True}):
        got = search(
            spark, index_dir, ["spark"], k=5, mode="or", with_urls=False,
            scope=none_scope, **kw,
        ).collect()
        assert got == [], kw

    # an index without the table (pre-upgrade) → pruning unavailable,
    # queries still correct via the dead-set/semi-join scope. Two
    # real shapes: the manifest KEY absent entirely (what an old
    # finalize_index produced — table_paths would hand back a
    # phantom default dir, so the gate must use table_exists) and an
    # explicitly-dropped table (empty dir list).
    import glob
    import json
    import shutil

    from textindex_spark import manifest as M
    from textindex_spark.build import build_index
    from textindex_spark.query import invalidate_cache

    out = str(tmp_path / "no_rts")
    build_index(spark, corpus_df(spark, rows[:60]), out, range_bits=6)
    man_file = sorted(glob.glob(f"{out}/{M.MANIFEST_DIR}/v*.json"))[-1]
    man = json.loads(open(man_file).read())
    del man["tables"]["range_ts"]  # the genuine pre-upgrade shape
    open(man_file, "w").write(json.dumps(man))
    shutil.rmtree(f"{out}/range_ts")
    invalidate_cache(out)
    assert _ts_allowed_ranges(spark, out, scope) is None
    win = "ts:2025-01-01T00:02:00..2025-01-01T00:08:00"
    assert search(
        spark, out, ["spark"], k=10, mode="or", with_urls=False, scope=win
    ).collect()  # no crash, results checked against the oracle below

    # explicitly-dropped table (empty dir list) degrades the same way
    tables = dict(man["tables"])
    tables["range_ts"] = []
    M.commit(spark, out, set_tables=tables)
    invalidate_cache(out)
    assert _ts_allowed_ranges(spark, out, scope) is None

    # the backfill upgrade op derives the table from the docs scan
    # and re-enables pruning — atomic commit, idempotent second call
    from textindex_spark.build import backfill_range_ts

    n = backfill_range_ts(spark, out)
    assert n == len({r["doc_id"] >> 6 for r in spark.read.parquet(f"{out}/docs").collect()})
    assert backfill_range_ts(spark, out) == 0  # already present
    allowed_bf = _ts_allowed_ranges(spark, out, win)
    assert allowed_bf  # pruning available again, window non-empty
    got = [
        r["doc_id"]
        for r in search(
            spark, out, ["spark"], k=10, mode="or", with_urls=False,
            scope=win,
        ).collect()
    ]
    lo2, hi2 = parse_ts_range(win.partition(":")[2])
    sub_oracle = OracleIndex.build(rows[:60])
    want = [d for d, _ in sub_oracle.search(["spark"], 10, mode="or", scope=win)]
    assert got == want


def test_ts_range_pruning_after_append(spark, rows, tmp_path):
    """Appends stage range_ts rows for the new docs; a range split
    across base+append dirs aggregates min/max over its rows, and a
    window over only the appended period returns exactly the appended
    matches on every path."""
    from textindex_spark.build import append_batch, build_index
    from textindex_spark.query import _ts_allowed_ranges

    out = str(tmp_path / "append_rts")
    build_index(spark, corpus_df(spark, rows[:100]), out, range_bits=6)
    append_batch(spark, corpus_df(spark, rows[100:160]), out)
    # appended window: rows 100..159 → 2025-01-01T00:21:40..00:34:27
    win = "ts:2025-01-01T00:22:00..2025-01-01T00:30:00"
    allowed = _ts_allowed_ranges(spark, out, win)
    assert allowed is not None and allowed
    oracle2 = OracleIndex.build(rows[:160])
    want = [d for d, _ in oracle2.search(["spark"], 10, mode="or", scope=win)]
    assert want
    for kw in ({"local_score": True}, {"local_score": False}, {"prune": True}):
        got = [
            r["doc_id"]
            for r in search(
                spark, out, ["spark"], k=10, mode="or", with_urls=False,
                scope=win, **kw,
            ).collect()
        ]
        assert got == want, kw
    assert all(100 <= d < 160 for d in want)


def test_build_survives_all_ignored_batch(spark, tmp_path):
    """Regression (latent pre-ts-scope): an Arrow batch whose every
    row the CONTENT sniff classifies Ignore (e.g. a crawl segment of
    binary blobs behind .html urls) produced an all-empty pandas
    frame whose float64 columns crashed the Arrow conversion against
    the list<> segment fields — the kernel must yield nothing
    instead, and a fully-rejected corpus must still build a readable
    empty index."""
    from textindex_spark.build import build_index
    from textindex_spark.corpus import synth_corpus

    binary = b"\x00\x01\x02\xff" * 100
    rows = [
        {
            "doc_id": i,
            "url": f"https://site0.example/bin{i}.html",
            "warc_ts": None,
            "html": binary,
            "text": None,
            "lang": "en",
        }
        for i in range(8)
    ]
    # all rows pass the NAME filter (.html) but fail the content
    # sniff, in one partition → one fully-ignored batch
    df = corpus_df(spark, rows).coalesce(1)
    out = str(tmp_path / "allbin_idx")
    stats = build_index(spark, df, out, range_bits=6)
    assert stats["n_docs"] == 0
    assert search(spark, out, ["*"], k=5, mode="or", with_urls=False).collect() == []

    # mixed corpus on one partition: the ignored rows ride along
    good = synth_corpus(20)
    mixed = corpus_df(
        spark, rows + [{**r, "doc_id": r["doc_id"] + 100} for r in good]
    ).coalesce(1)
    out2 = str(tmp_path / "mixed_idx")
    stats2 = build_index(spark, mixed, out2, range_bits=6)
    assert 0 < stats2["n_docs"] <= 20


def test_fuzzy_kernel_hypothesis():
    """Property fuzz: the banded early-exit DP (`_lev_within`) and
    the prefiltered dictionary kernel (`_fuzzy_rows`) agree with the
    oracle's independent full-matrix Levenshtein on random inputs —
    the length window and the pigeonhole chunk filter must never
    reject a true match."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from textindex_spark.query import (
        _Dictionary, _fuzzy_rows, _lev_within, fuzzy_distance,
    )
    from textindex_spark.refimpl.oracle import _edit_distance

    words = st.text(alphabet="abcde", max_size=8)

    @settings(max_examples=300, deadline=None)
    @given(words, words, st.integers(1, 2))
    def check_banded(a, b, d):
        assert _lev_within(a, b, d) == (_edit_distance(a, b) <= d)
        fd = fuzzy_distance(a, b, d)
        true = _edit_distance(a, b)
        assert fd == (true if true <= d else d + 1)

    @settings(max_examples=150, deadline=None)
    @given(
        st.lists(st.text(alphabet="abcd", max_size=6), max_size=15),
        st.text(alphabet="abcd", min_size=1, max_size=6),
        st.integers(1, 2),
    )
    def check_mask(terms, base, d):
        dic = _Dictionary.of(terms, [1] * len(terms), [0.0] * len(terms))
        got = dic.terms[_fuzzy_rows(dic, base, d)].tolist()
        want = sorted(t for t in terms if _edit_distance(base, t) <= d)
        assert got == want, (terms, base, d)

    check_banded()
    check_mask()


def test_fuzzy_pattern_validation():
    """Syntax guardrails: glob+fuzzy combination and out-of-range
    distances are rejected up front; plain terms pass through."""
    from textindex_spark.query import _parse_fuzzy

    assert _parse_fuzzy("plain") is None
    assert _parse_fuzzy("hash~") == ("hash", 1)
    assert _parse_fuzzy("hash~2") == ("hash", 2)
    for bad in ("qu*~1", "hash~0", "hash~9", "hash~12"):
        with pytest.raises(ValueError):
            _parse_fuzzy(bad)


def test_empty_corpus_index(spark, tmp_path):
    """A corpus the filters fully reject (or an empty input) must
    build a valid, queryable index: empty parquet dirs read with
    explicit schemas, every query path returns empty."""
    from textindex_spark.build import build_index, describe_index
    from textindex_spark.query import near_docs, phrase_docs
    from textindex_spark.session import local_df

    empty = local_df(
        spark,
        [],
        "doc_id long, url string, warc_ts timestamp, html binary, "
        "text string, lang string",
    )
    out = str(tmp_path / "empty_idx")
    stats = build_index(spark, empty, out, range_bits=6)
    assert stats["n_docs"] == 0 and stats["vocab_size"] == 0
    assert search(spark, out, ["anything"], k=5, with_urls=False).collect() == []
    assert search(spark, out, ["any*"], k=5, with_urls=True).collect() == []
    assert search(spark, out, ["any*"], k=5, prune=True, with_urls=False).collect() == []
    assert phrase_docs(spark, out, ["blackbird", "catfish"]).collect() == []
    assert near_docs(spark, out, ["blackbird", "catfish"]).collect() == []
    rows = {k: v["rows"] for k, v in describe_index(spark, out)["tables"].items()}
    assert rows == {
        "docs": 0, "postings": 0, "terms": 0, "stats": 1, "segments": 0,
        "range_ts": 0,
    }


def test_phrase_wildcard_slots(spark, index_dir, oracle):
    """Wildcard slots in phrase_docs: positions of a slot are the
    union over the pattern's expansion; counts match the oracle."""
    from textindex_spark.query import phrase_docs, search_phrase

    checked = 0
    for ph in _corpus_phrases(oracle, n=4):
        if len(ph) < 2 or any(len(t) < 3 for t in ph):
            continue
        wild = [ph[0][:2] + "*"] + list(ph[1:])
        want = oracle.phrase_occurrences(wild)
        got = {
            r["doc_id"]: r["n_occ"]
            for r in phrase_docs(spark, index_dir, wild).collect()
        }
        assert got == want, wild
        checked += 1
    assert checked
    # r4: ranked wildcard phrases are supported (no ValueError) and
    # agree with the oracle — the dedicated test covers scores; here
    # just assert the former restriction is gone
    rows = search_phrase(spark, index_dir, ["dat*", "engine"], k=5).collect()
    assert rows == rows  # no raise; content checked by the ranked test


def test_phrase_wildcard_slot_beyond_isin_cap(spark, index_dir, oracle, monkeypatch):
    """ADVICE r2: a wildcard phrase slot expanding past
    ISIN_PUSHDOWN_MAX crashed on qterms=None in _query_blocks. Shrink
    the cap so every expansion takes the broadcast-semi-join path and
    assert the results are unchanged."""
    import textindex_spark.query as Q

    phrases = [p for p in _corpus_phrases(oracle, n=4)
               if len(p) >= 2 and all(len(t) >= 3 for t in p)]
    assert phrases
    wild = [phrases[0][0][:2] + "*"] + list(phrases[0][1:])
    want = oracle.phrase_occurrences(wild)
    monkeypatch.setattr(Q, "ISIN_PUSHDOWN_MAX", 1)
    got = {
        r["doc_id"]: r["n_occ"]
        for r in Q.phrase_docs(spark, index_dir, wild).collect()
    }
    assert got == want
    # NEAR takes the same fetch path
    near_want = {
        r["doc_id"]: r["n_near"]
        for r in Q.near_docs(spark, index_dir, phrases[0][:2], window=8).collect()
    }
    monkeypatch.undo()
    near_ref = {
        r["doc_id"]: r["n_near"]
        for r in Q.near_docs(spark, index_dir, phrases[0][:2], window=8).collect()
    }
    assert near_want == near_ref


def test_sharded_dictionary_probe(spark, index_dir, oracle, monkeypatch):
    """Vocabularies past TERMS_CACHE_MAX use the prefix-shard cache:
    results identical to the resident-dictionary path, repeated
    queries over a hot prefix cost zero terms-table scans."""
    import textindex_spark.query as Q

    pats = ["spark", "dat*", "*ing", "quer?", "z"]
    want = Q.expand_patterns(spark, index_dir, pats)

    Q.invalidate_cache(index_dir)
    monkeypatch.setattr(Q, "TERMS_CACHE_MAX", -1)
    got = Q.expand_patterns(spark, index_dir, pats)
    key = lambda df: sorted(map(tuple, df[["pattern_idx", "term", "df"]].values.tolist()))
    assert key(got) == key(want)
    assert (Q.canon_dir(index_dir), "sp") in Q._shard_cache
    assert (Q.canon_dir(index_dir), "da") in Q._shard_cache

    # second probe over the same prefixes: no terms-table fetch at all
    calls = []
    real = Q._cached_table
    monkeypatch.setattr(
        Q, "_cached_table", lambda *a, **k: (calls.append(a), real(*a, **k))[1]
    )
    got2 = Q.expand_patterns(spark, index_dir, ["spark", "dat*"])
    assert key(got2) == key(want[want["pattern_idx"] <= 1])
    assert not calls  # served entirely from shards
    # full search still rank-identical through the sharded path
    q = query_set()[0]
    want_rank = oracle.search(q["terms"], q["k"])
    got_rank = [
        (r["doc_id"], r["score"])
        for r in search(spark, index_dir, q["terms"], k=q["k"], with_urls=False).collect()
    ]
    assert [d for d, _ in got_rank] == [d for d, _ in want_rank]
    monkeypatch.undo()
    Q.invalidate_cache(index_dir)


def test_phrase_pos_fetch_prunes_ranges(spark, index_dir, oracle):
    """The positional (phrase/NEAR) fetch must push BOTH the term
    in-list AND the surviving range_id in-list down to the parquet
    scan — pos_bytes (the largest column) is only deserialized for
    ranges where every slot co-occurs (VERDICT r2 #4)."""
    from textindex_spark.query import _positional_blocks, cached_stats

    phrases = [p for p in _corpus_phrases(oracle, n=4) if len(p) >= 2]
    words = phrases[0][:2]
    stats = cached_stats(spark, index_dir)
    decoded = _positional_blocks(spark, index_dir, [[w] for w in words], stats)
    plan = decoded._jdf.queryExecution().executedPlan().toString()
    scan = next(
        l for l in plan.splitlines() if "FileScan" in l and "postings" in l
    )
    assert "In(term, " in scan or "EqualTo(term" in scan, scan
    assert "In(range_id, " in scan or "EqualTo(range_id" in scan, scan


def test_positional_edges_match_oracle(spark, tmp_path):
    """Phrase, NEAR and ordered NEAR at the edges of the range-local
    positional kernel, against the oracle: adjacent doc_ids whose
    phrase or window would cross the doc boundary, anchors at
    position 0 with a window reaching below it, docs on both sides of
    a range boundary (range_bits=2: four doc_ids per range), and
    explicit doc_ids at 2^40 and past 2^53. The plan is one
    FlatMapGroupsInPandas over the block fetch: no MapInPandas decode
    and no join when the dead set is empty."""
    import random

    from textindex_spark.query import (
        DeadSet, _positional, near_docs, phrase_docs, search_phrase,
    )

    words = ["quill", "ember", "frost", "glade"]
    texts = {
        0: "quill ember frost",
        1: "glade quill",
        2: "ember",
        3: "frost quill ember",
        4: "ember glade",
        2**40 - 1: "glade frost quill",
        2**40: "quill glade ember frost",
        2**40 + 1: "frost ember",
        2**53 + 3: "ember quill glade",
        2**53 + 4: "glade ember quill quill",
    }
    rng = random.Random(11)
    for d in range(8, 20):
        texts[d] = " ".join(rng.choice(words) for _ in range(rng.randint(1, 6)))
    rows = [
        {"doc_id": d, "url": f"http://s{d % 3}.example/p{d}.html",
         "warc_ts": None, "html": None, "text": t, "lang": "en"}
        for d, t in sorted(texts.items())
    ]
    out = str(tmp_path / "edges")
    build_index(spark, corpus_df(spark, rows), out, range_bits=2)
    oracle = OracleIndex.build(rows)

    queries = [[a, b] for a in words for b in words]
    queries += [rng.sample(words, 3) for _ in range(4)]
    for q in queries:
        got = {r["doc_id"]: r["n_occ"] for r in phrase_docs(spark, out, q).collect()}
        assert got == oracle.phrase_occurrences(q), q
        for w in (1, 3):
            for ordered in (False, True):
                got = {
                    r["doc_id"]: r["n_near"]
                    for r in near_docs(
                        spark, out, q, window=w, ordered=ordered
                    ).collect()
                }
                assert got == oracle.near_occurrences(q, window=w, ordered=ordered), (
                    q, w, ordered,
                )
    for q in (["quill", "ember"], ["ember", "quill"], ["glade", "ember"]):
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in search_phrase(spark, out, q, k=20, with_urls=False).collect()
        ]
        assert got == [(d, round(s, 9)) for d, s in oracle.search_phrase(q, 20)], q

    plan = (
        _positional(spark, out, ["quill", "ember"], DeadSet(spark, out), "near", 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "MapInPandas" not in plan and "Join" not in plan, plan


def test_search_near_ranked_matches_oracle(spark, index_dir, oracle):
    """Ranked NEAR: membership = anchored-window oracle, score = BM25
    sum over distinct slot patterns (max matched expansion for
    wildcards), tie-break (score desc, doc_id asc)."""
    from textindex_spark.query import search_near

    for ph, w in ((_corpus_phrases(oracle)[0], 8), (["agg", "ha*"], 4)):
        members = set(oracle.near_occurrences(ph, window=w))
        if not members:
            continue
        pats = sorted(set(ph))
        want = []
        for d in members:
            s = 0.0
            for p in pats:
                partials = [
                    oracle.weight(t, d, oracle.postings[t][d])
                    for t in oracle.expand(p)
                    if d in oracle.postings[t]
                ]
                s += max(partials)
            want.append((d, round(s, 9)))
        want.sort(key=lambda t: (-t[1], t[0]))
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in search_near(
                spark, index_dir, ph, window=w, k=10, with_urls=False
            ).collect()
        ]
        assert got == want[:10], (ph, w)


def test_random_query_differential(spark, index_dir, oracle):
    """Seeded random-query fuzz: 40 generated queries over ALL four
    pattern types (term, glob, ``~d`` fuzzy, ``/regex/``) with
    optional ``^boost`` suffixes, AND/OR, optional NOT exclusion and
    optional metadata scope (lang values and ts crawl-date windows,
    the latter exercising range_ts time pruning) — rank-AND-score-identical across the
    oracle and all three engine execution paths (query-node,
    distributed, block-max pruned). The per-feature parity tests pin
    each path on curated shapes; this pins their COMPOSITION on
    shapes nobody curated."""
    import random
    import re as re_mod

    rng = random.Random(20260818)
    vocab = sorted(oracle.postings)
    assert len(vocab) > 50

    def pattern(boost_ok=True):
        t = rng.choice(vocab)
        r = rng.random()
        if r < 0.2 and len(t) > 3:
            p = t[: rng.randint(2, len(t) - 1)] + "*"
        elif r < 0.35 and len(t) > 3:
            # mutate one char; fuzzy distance reaches back to vocab
            i = rng.randrange(len(t))
            p = f"{t[:i]}{rng.choice('abcdefgh')}{t[i + 1:]}~{rng.choice([1, 2])}"
        elif r < 0.5 and len(t) > 3:
            p = f"/{re_mod.escape(t[:3])}.*/"
        else:
            p = t
        if boost_ok and rng.random() < 0.25:
            p += "^" + rng.choice(["2", "0.5", "3.5"])
        return p

    for qi in range(40):
        pats = [pattern() for _ in range(rng.randint(1, 3))]
        mode = rng.choice(["and", "or"])
        # minimum-should-match composes with everything else on OR
        # queries (the engine silently disables pruning for m>1)
        min_match = (
            rng.randint(2, len(pats))
            if mode == "or" and len(pats) > 1 and rng.random() < 0.35
            else None
        )
        exclude = [pattern(boost_ok=False)] if rng.random() < 0.4 else None
        scope = rng.choice([
            None, None, None, "lang:de", "lang:fr",
            # ts windows hit the range_ts time-pruning paths; the
            # narrow one often keeps a strict range subset, the late
            # one is frequently empty
            "ts:2025-01-01T00:08:00..2025-01-01T00:30:00",
            "ts:2025-01-01T00:45:00..",
        ])
        k = rng.choice([5, 10])
        want = [
            (d, round(s, 9))
            for d, s in oracle.search(
                pats, k=k, mode=mode, exclude=exclude, scope=scope,
                min_match=min_match,
            )
        ]
        for path_kw in (
            {"local_score": True},
            {"local_score": False},
            {"prune": True},
        ):
            got = [
                (r["doc_id"], round(r["score"], 9))
                for r in search(
                    spark, index_dir, pats, k=k, mode=mode,
                    exclude=exclude, scope=scope, with_urls=False,
                    min_match=min_match, **path_kw,
                ).collect()
            ]
            assert got == want, (
                qi, pats, mode, exclude, scope, min_match, path_kw
            )


def test_random_phrase_differential(spark, index_dir, oracle):
    """Seeded random-phrase fuzz: 20 phrases sampled from real doc
    token runs (guaranteed non-trivial hits) plus shuffled variants
    (mostly misses) — ranked engine results must equal the oracle."""
    import random

    from textindex_spark.query import search_phrase
    from textindex_spark.refimpl.txt_tokenize import iter_raw_words, normalize_token

    rng = random.Random(7)
    doc_ids = sorted(oracle.docs)

    def kept_tokens(doc_id):
        out = []
        for w in iter_raw_words(oracle.docs[doc_id]["text"]):
            t = normalize_token(w)
            if t:
                out.append(t)
        return out

    n_checked = 0
    for _ in range(20):
        toks = kept_tokens(rng.choice(doc_ids))
        if len(toks) < 4:
            continue
        i = rng.randrange(len(toks) - 2)
        phrase = toks[i : i + rng.choice([2, 3])]
        if rng.random() < 0.3:
            phrase = list(reversed(phrase))  # usually a miss
        want = [(d, round(s, 9)) for d, s in oracle.search_phrase(phrase, k=10)]
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in search_phrase(
                spark, index_dir, phrase, k=10, with_urls=False
            ).collect()
        ]
        assert got == want, phrase
        n_checked += 1
    assert n_checked >= 15


def test_static_rank_blend_matches_oracle(spark, index_dir, oracle):
    """Static-rank blended retrieval (engine extension): BM25 top-depth
    candidates re-ranked by score + w_rank*ln(1+host_rank) +
    w_indeg*ln(1+n_follow_inlinks) — pinned against an independent
    python recomputation over minted priors, incl. NULL host ranks,
    docs missing from the priors table, and re-ranking that actually
    reorders the plain BM25 top-k."""
    import math

    from textindex_spark.query import search_with_prior

    # minted priors: every 4th doc's host unknown (NULL rank), every
    # 9th doc missing from the table entirely
    rows_p = []
    pri_py = {}
    for d, info in oracle.docs.items():
        if d % 9 == 0:
            continue
        hr = None if d % 4 == 0 else ((d % 13) + 1) / 1000.0
        nf = d % 7
        rows_p.append((info["url"], hr, nf + 1, nf))
        pri_py[d] = (hr or 0.0, float(nf))
    priors = spark.createDataFrame(
        rows_p,
        "url string, host_rank double, n_inlinks long, "
        "n_follow_inlinks long",
    )

    def py_blend(terms, k, depth, w_rank, w_indeg, mode="or"):
        cand = oracle.search(terms, k=depth, mode=mode)
        blend = []
        for d, s in cand:
            hr, nf = pri_py.get(d, (0.0, 0.0))
            b = s + w_rank * math.log(1.0 + hr) + w_indeg * math.log(1.0 + nf)
            blend.append((d, b))
        blend.sort(key=lambda t: (-t[1], t[0]))
        return [(d, round(b, 9)) for d, b in blend[:k]]

    reordered = 0
    for terms, w_rank, w_indeg in (
        (["spark", "qu*"], 0.0, 0.5),
        (["spark", "index"], 300.0, 0.0),
        (["querry~2", "ha*"], 150.0, 0.25),
    ):
        want = py_blend(terms, 10, 50, w_rank, w_indeg)
        assert want, terms
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in search_with_prior(
                spark, index_dir, priors, terms, k=10, mode="or",
                w_rank=w_rank, w_indeg=w_indeg, depth=50,
            ).collect()
        ]
        assert got == want, (terms, w_rank, w_indeg)
        plain = [d for d, _ in oracle.search(terms, k=10, mode="or")]
        reordered += [d for d, _ in got] != plain
    assert reordered >= 2  # the priors must actually change rankings
    # exclusion composes with the candidate stage (review fix: the
    # CLI silently dropped --exclude)
    want = py_blend(["spark", "qu*"], 10, 50, 0.0, 0.5)
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in search_with_prior(
            spark, index_dir, priors, ["spark", "qu*"], k=10, mode="or",
            w_indeg=0.5, depth=50, exclude=["index"],
        ).collect()
    ]
    assert got and all(
        d not in oracle.postings.get("index", {}) for d, _ in got
    )
    assert got != want  # the exclusion bites
    # duplicate priors rows (multi-fetch corpus) must not multiply
    # candidates into duplicate doc_ids
    dup_priors = priors.unionByName(priors)
    got_dup = search_with_prior(
        spark, index_dir, dup_priors, ["spark", "qu*"], k=10, mode="or",
        w_indeg=0.5, depth=50,
    ).collect()
    ids = [r["doc_id"] for r in got_dup]
    assert len(ids) == len(set(ids)) == 10
    assert [(r["doc_id"], round(r["score"], 9)) for r in got_dup] == want
    # validation
    with pytest.raises(ValueError, match="w_rank"):
        search_with_prior(spark, index_dir, priors, ["spark"])
    with pytest.raises(ValueError, match="PRIOR_DEPTH_MAX"):
        search_with_prior(
            spark, index_dir, priors, ["spark"], w_indeg=1.0, depth=5000
        )


def test_random_ordered_near_differential(spark, index_dir, oracle):
    """Seeded random ordered-proximity fuzz: slot sequences sampled
    from real doc token runs (guaranteed hits) plus reversed variants
    (order-sensitive misses), random windows, occasional wildcard
    slot — engine n_near maps must equal the oracle recursion."""
    import random

    from textindex_spark.query import near_docs
    from textindex_spark.refimpl.txt_tokenize import (
        iter_raw_words,
        normalize_token,
    )

    rng = random.Random(20260821)
    doc_ids = sorted(oracle.docs)

    def kept_tokens(doc_id):
        out = []
        for w in iter_raw_words(oracle.docs[doc_id]["text"]):
            t = normalize_token(w)
            if t:
                out.append(t)
        return out

    n_checked = 0
    for _ in range(20):
        toks = kept_tokens(rng.choice(doc_ids))
        if len(toks) < 5:
            continue
        i = rng.randrange(len(toks) - 3)
        words = toks[i : i + rng.choice([2, 3])]
        if rng.random() < 0.35:
            words = list(reversed(words))
        if rng.random() < 0.3 and len(words[-1]) >= 3:
            words[-1] = words[-1][:2] + "*"
        w = rng.choice([1, 3, 8])
        want = oracle.near_occurrences(words, window=w, ordered=True)
        got = {
            r["doc_id"]: r["n_near"]
            for r in near_docs(
                spark, index_dir, words, window=w, ordered=True
            ).collect()
        }
        assert got == want, (words, w)
        n_checked += 1
    assert n_checked >= 15


def test_finalize_no_overlap_path_identical(spark, rows, index_dir, monkeypatch, tmp_path):
    """The large-corpus finalize branch (write-once + column-pruned
    re-read instead of persisting the encoded postings frame — gated
    by POSTINGS_OVERLAP_MAX_DOCS, build.py finalize_index) must
    produce a bit-identical index: test corpora are all below the
    gate, so force the re-read branch and compare every table against
    the default overlap-path build."""
    from textindex_spark import build as build_mod

    monkeypatch.setattr(build_mod, "POSTINGS_OVERLAP_MAX_DOCS", 0)
    out = str(tmp_path / "no_overlap_idx")
    stats = build_index(spark, corpus_df(spark, rows), out, range_bits=6)
    ref_stats = spark.read.parquet(f"{index_dir}/stats").collect()[0].asDict()
    for k in ("n_docs", "avgdl", "total_tokens", "vocab_size", "range_bits"):
        assert stats[k] == ref_stats[k], k

    def table(d, name, cols):
        df = spark.read.parquet(f"{d}/{name}").select(*cols)
        return sorted(map(tuple, df.collect()))

    for name, cols in (
        ("terms", ["term", "df", "cf", "max_tfnorm", "n_ranges"]),
        ("docs", ["doc_id", "url", "doc_len", "filter"]),
        ("postings", ["term", "range_id", "n_docs", "sum_tf",
                      "doc_gaps", "tf_bytes", "pos_bytes"]),
    ):
        assert table(out, name, cols) == table(index_dir, name, cols), name
