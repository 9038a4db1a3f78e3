"""X5 — query-node posting-block cache.

The reference retains hot index blocks in memory between commands and
evicts the rest after each save (``cleanup``, reference
``src/index2.rs:363-374``; iteration-time ``discard``,
``src/index2/word_map.rs:326-334``). The Spark analog caches fetched
posting-block rows on the query node under an LRU byte budget
(``textindex_spark/query.py``: ``_block_cache`` / ``_fetch_blocks``).
These tests pin: (1) a warm serving query launches ZERO Spark jobs,
(2) warm results are identical to cold, on every path — including an
appended index where one (term, range_id) key owns several block
rows, (3) the byte budget evicts LRU, (4) snapshot mutations
invalidate, (5) the top-k urls of a bounded query come from the
resident doc_id -> url cache — zero jobs warm, the same rows as the
docs join on every path, invalidated by append and delete.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from textindex_spark import query
from textindex_spark.build import append_batch, build_index
from textindex_spark.corpus import synth_corpus
from textindex_spark.query import delete_docs, invalidate_cache, search

from tests.spark_fixtures import corpus_df, spark  # noqa: F401


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    rows = synth_corpus(200)
    out = str(tmp_path_factory.mktemp("blockcache") / "idx")
    build_index(spark, corpus_df(spark, rows), out, range_bits=6)
    return out


def _cd_bytes(cd: str) -> int:
    return sum(v[1] for k, v in query._block_cache.items() if k[0] == cd)


def _jobs_during(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_query_zero_jobs_and_identical(spark, index_dir):
    invalidate_cache(index_dir)
    shapes = [
        dict(mode="and", prune=False),
        dict(mode="and", prune=True),
        dict(mode="or", prune=False),
        dict(mode="or", prune=True),
    ]
    for i, kw in enumerate(shapes):
        cold = search(
            spark, index_dir, ["spark", "index"], k=5, with_urls=False, **kw
        ).collect()
        warm, n_jobs = _jobs_during(
            spark,
            f"warm-{i}",
            lambda: search(
                spark, index_dir, ["spark", "index"], k=5, with_urls=False, **kw
            ).collect(),
        )
        assert [tuple(r) for r in warm] == [tuple(r) for r in cold], kw
        assert n_jobs == 0, f"{kw}: warm serving query launched {n_jobs} Spark jobs"
    cd = query.canon_dir(index_dir)
    assert _cd_bytes(cd) > 0
    assert any(k[0] == cd for k in query._meta_cache)


def test_wildcard_and_partial_warm_parity(spark, index_dir):
    invalidate_cache(index_dir)
    # warm one term via an exact query, then hit a wildcard whose
    # expansion overlaps it — the fetch must merge cached + missing
    # blocks without duplication
    search(spark, index_dir, ["spark"], k=5, with_urls=False).collect()
    cold = search(spark, index_dir, ["quer*", "spark"], k=5, with_urls=False).collect()
    invalidate_cache(index_dir)
    fresh = search(spark, index_dir, ["quer*", "spark"], k=5, with_urls=False).collect()
    assert [tuple(r) for r in cold] == [tuple(r) for r in fresh]


def test_eviction_respects_byte_budget(spark, index_dir, monkeypatch):
    invalidate_cache(index_dir)
    search(spark, index_dir, ["spark"], k=5, with_urls=False).collect()
    cd = query.canon_dir(index_dir)
    one_term = _cd_bytes(cd)
    assert one_term > 0
    # budget fits roughly one term's blocks: loading a second evicts
    # older entries (LRU), the GLOBAL total never exceeding the budget
    monkeypatch.setattr(query, "BLOCK_CACHE_MAX_BYTES", int(one_term * 1.5))
    search(spark, index_dir, ["index"], k=5, with_urls=False).collect()
    assert query._block_bytes <= int(one_term * 1.5)
    assert "index" in {k[1] for k in query._block_cache if k[0] == cd}
    invalidate_cache(index_dir)


def test_oversize_insert_skipped(spark, index_dir, monkeypatch):
    invalidate_cache(index_dir)
    monkeypatch.setattr(query, "BLOCK_CACHE_MAX_BYTES", 1)  # nothing fits
    a = search(spark, index_dir, ["spark"], k=5, with_urls=False).collect()
    b = search(spark, index_dir, ["spark"], k=5, with_urls=False).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert _cd_bytes(query.canon_dir(index_dir)) == 0
    invalidate_cache(index_dir)


def test_split_key_after_append_warm_parity(spark, tmp_path_factory):
    """After append_batch a (term, range_id) key owns SEVERAL block
    rows (build.py append_batch docstring); the cache must serve all
    of them — a warm query on an appended index must match cold on
    every shape (the r4 review's split-key finding)."""
    rows = synth_corpus(90, seed=3)
    out = str(tmp_path_factory.mktemp("splitkey") / "idx")
    # range_bits=6 → 64-doc ranges: batch 2 starts at doc_id 60,
    # inside batch 1's last range → guaranteed split keys for hot terms
    build_index(spark, corpus_df(spark, rows[:60]), out, range_bits=6)
    append_batch(spark, corpus_df(spark, rows[60:]), out)
    pdf = query._cached_table(spark, out, "postings").toPandas()
    dup = pdf.groupby(["term", "range_id"]).size()
    assert (dup > 1).any(), "fixture must produce split (term, range) keys"
    for kw in (dict(prune=False), dict(prune=True), dict(mode="or", prune=True)):
        cold = search(spark, out, ["spark", "index"], k=10, with_urls=False, **kw).collect()
        warm = search(spark, out, ["spark", "index"], k=10, with_urls=False, **kw).collect()
        warm2 = search(spark, out, ["spark", "index"], k=10, with_urls=False, **kw).collect()
        assert [tuple(r) for r in warm] == [tuple(r) for r in cold], kw
        assert [tuple(r) for r in warm2] == [tuple(r) for r in cold], kw


def test_mutation_invalidates_block_cache(spark, index_dir):
    invalidate_cache(index_dir)
    before = search(spark, index_dir, ["spark"], k=5, with_urls=False).collect()
    victim = before[0]["doc_id"]
    url = spark.read.parquet(f"{index_dir}/docs").filter(
        f"doc_id = {victim}"
    ).collect()[0]["url"]
    assert delete_docs(spark, index_dir, url) == 1
    after = search(spark, index_dir, ["spark"], k=5, with_urls=False).collect()
    assert victim not in [r["doc_id"] for r in after]


def test_warm_bool_query_zero_jobs(spark, index_dir):
    """A warm boolean-tree query serves entirely from the resident
    caches — zero Spark jobs, identical to the cold result."""
    from textindex_spark.boolquery import search_bool

    invalidate_cache(index_dir)
    q = "spark AND (index OR quer*) AND NOT merge"
    cold = search_bool(spark, index_dir, q, k=5, with_urls=False).collect()
    warm, n_jobs = _jobs_during(
        spark,
        "warm-bool",
        lambda: search_bool(spark, index_dir, q, k=5, with_urls=False).collect(),
    )
    # scores rounded: the cache returns blocks in a different order
    # than the cold scan, so the float sum can differ in the last ulp
    assert [(r["doc_id"], round(r["score"], 9)) for r in warm] == [
        (r["doc_id"], round(r["score"], 9)) for r in cold
    ]
    assert n_jobs == 0, f"warm bool query launched {n_jobs} Spark jobs"


# --- top-k URL resolution: the resident doc_id -> url cache ----------


def test_warm_url_query_zero_jobs_and_identical(spark, index_dir):
    """The CLI-shaped call (``with_urls=True``) is zero-job warm too:
    blocks and the top-k urls are both resident."""
    invalidate_cache(index_dir)
    shapes = [
        dict(mode="and", prune=False),
        dict(mode="and", prune=True),
        dict(mode="or", prune=False),
        dict(mode="or", prune=True),
    ]
    for i, kw in enumerate(shapes):
        cold = search(
            spark, index_dir, ["spark", "index"], k=5, with_urls=True, **kw
        ).collect()
        warm, n_jobs = _jobs_during(
            spark,
            f"warm-url-{i}",
            lambda: search(
                spark, index_dir, ["spark", "index"], k=5, with_urls=True, **kw
            ).collect(),
        )
        assert [tuple(r) for r in warm] == [tuple(r) for r in cold], kw
        assert cold and all(r["url"] for r in cold), kw
        assert n_jobs == 0, f"{kw}: warm url query launched {n_jobs} Spark jobs"
    cd = query.canon_dir(index_dir)
    assert any(k[0] == cd for k in query._url_cache)


def test_warm_url_bool_query_zero_jobs(spark, index_dir):
    from textindex_spark.boolquery import search_bool

    invalidate_cache(index_dir)
    q = "spark AND (index OR quer*) AND NOT merge"
    cold = search_bool(spark, index_dir, q, k=5, with_urls=True).collect()
    warm, n_jobs = _jobs_during(
        spark,
        "warm-url-bool",
        lambda: search_bool(spark, index_dir, q, k=5, with_urls=True).collect(),
    )
    assert [(r["doc_id"], round(r["score"], 9), r["url"]) for r in warm] == [
        (r["doc_id"], round(r["score"], 9), r["url"]) for r in cold
    ]
    assert cold and all(r["url"] for r in cold)
    assert n_jobs == 0, f"warm url bool query launched {n_jobs} Spark jobs"


@pytest.fixture(scope="module")
def shard_dirs(spark, tmp_path_factory):
    rows = synth_corpus(200)
    base = tmp_path_factory.mktemp("urlshards")
    dirs = [str(base / "s0"), str(base / "s1")]
    build_index(spark, corpus_df(spark, rows[:100]), dirs[0], range_bits=6)
    build_index(spark, corpus_df(spark, rows[100:]), dirs[1], range_bits=6)
    return dirs


def _url_path_call(path: str, spark, index_dir, shard_dirs, with_urls: bool):
    from textindex_spark.boolquery import search_bool, search_bool_sharded
    from textindex_spark.query import search_near, search_phrase, search_sharded

    terms = ["spark", "index"]
    bool_q = "spark AND (index OR quer*) AND NOT merge"
    calls = {
        "local": lambda: search(
            spark, index_dir, terms, k=5, with_urls=with_urls
        ),
        "distributed": lambda: search(
            spark, index_dir, terms, k=5, mode="or", local_score=False,
            with_urls=with_urls,
        ),
        "pruned": lambda: search(
            spark, index_dir, terms, k=5, mode="or", prune=True,
            with_urls=with_urls,
        ),
        "bool": lambda: search_bool(
            spark, index_dir, bool_q, k=5, with_urls=with_urls
        ),
        "phrase": lambda: search_phrase(
            spark, index_dir, ["quer*", "spark"], k=5, with_urls=with_urls
        ),
        "near": lambda: search_near(
            spark, index_dir, terms, window=8, k=5, with_urls=with_urls
        ),
        "sharded": lambda: search_sharded(
            spark, shard_dirs, terms, k=5, mode="or", with_urls=with_urls
        ),
        "sharded_distributed": lambda: search_sharded(
            spark, shard_dirs, terms, k=5, mode="or", local_score=False,
            with_urls=with_urls,
        ),
        "bool_sharded": lambda: search_bool_sharded(
            spark, shard_dirs, bool_q, k=5, with_urls=with_urls
        ),
    }
    dirs = shard_dirs if "sharded" in path else [index_dir]
    return calls[path](), dirs


@pytest.mark.parametrize(
    "path",
    [
        "local", "distributed", "pruned", "bool", "phrase", "near",
        "sharded", "sharded_distributed", "bool_sharded",
    ],
)
def test_url_rows_match_docs_join(spark, index_dir, shard_dirs, path):
    """Every path's cached-url rows equal the left join of its no-url
    top-k against the docs table(s), in the same order."""
    from textindex_spark import manifest

    plain, dirs = _url_path_call(path, spark, index_dir, shard_dirs, False)
    docs = None
    for d in dirs:
        t = manifest.read_table(spark, d, "docs").select("doc_id", "url")
        docs = t if docs is None else docs.unionByName(t)
    want = (
        plain.join(docs, "doc_id", "left")
        .select("doc_id", "score", "url")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .collect()
    )
    got = _url_path_call(path, spark, index_dir, shard_dirs, True)[0].collect()
    assert want, f"{path}: the fixture query must have hits"
    assert [(r["doc_id"], round(r["score"], 9), r["url"]) for r in got] == [
        (r["doc_id"], round(r["score"], 9), r["url"]) for r in want
    ]
    assert all(r["url"] for r in got)


def test_wide_k_keeps_docs_join(spark, index_dir, monkeypatch):
    """k past ISIN_PUSHDOWN_MAX resolves urls through the lazy docs
    join, never the url cache."""

    def no_cache(*_a, **_k):
        raise AssertionError("url cache used for k > ISIN_PUSHDOWN_MAX")

    monkeypatch.setattr(query, "_lookup_urls", no_cache)
    wide = search(
        spark, index_dir, ["spark"], k=query.ISIN_PUSHDOWN_MAX + 1,
        mode="or", with_urls=True,
    ).collect()
    docs = {
        r["doc_id"]: r["url"]
        for r in query._cached_table(spark, index_dir, "docs").collect()
    }
    assert wide and [r["url"] for r in wide] == [docs[r["doc_id"]] for r in wide]


def test_mutations_invalidate_url_cache(spark, tmp_path_factory):
    """append_batch: an id cached as urlless (None) must resolve to the
    appended doc's url; delete_docs: the deleted doc leaves the warm
    url result."""
    rows = synth_corpus(60, seed=5)
    out = str(tmp_path_factory.mktemp("urlinval") / "idx")
    build_index(spark, corpus_df(spark, rows), out, range_bits=6)
    warm = search(spark, out, ["spark"], k=5, with_urls=True).collect()
    assert warm
    new_id = max(r["doc_id"] for r in rows) + 1
    # plant the negative entry the next query would otherwise serve
    assert query._lookup_urls(spark, out, [new_id]) == {new_id: None}
    fresh = dict(
        rows[0], doc_id=new_id, url="https://fresh.example/new.html",
        html=None, text="zqfresh spark spark spark",
    )
    append_batch(spark, corpus_df(spark, [fresh]), out)
    hit = search(spark, out, ["zqfresh", "spark"], k=5, with_urls=True).collect()
    assert [(r["doc_id"], r["url"]) for r in hit] == [(new_id, fresh["url"])]

    before = search(spark, out, ["spark"], k=5, with_urls=True).collect()
    victim = before[0]
    assert delete_docs(spark, out, victim["url"]) == 1
    after = search(spark, out, ["spark"], k=5, with_urls=True).collect()
    assert victim["doc_id"] not in [r["doc_id"] for r in after]
    assert all(r["url"] for r in after)


def test_url_cache_entry_cap_under_threads(spark, index_dir, monkeypatch):
    """Concurrent lookups from several driver threads stay correct
    and the LRU never holds more than its entry cap."""
    import sys
    import threading

    invalidate_cache(index_dir)
    monkeypatch.setattr(query, "URL_CACHE_MAX_ENTRIES", 8)
    docs = {
        r["doc_id"]: r["url"]
        for r in query._cached_table(spark, index_dir, "docs").collect()
    }
    ids = sorted(docs)[:48]
    errors: list[str] = []

    def worker(t: int) -> None:
        for rep in range(3):
            want = ids[(t * 5 + rep) % 40:][:8]
            got = query._lookup_urls(spark, index_dir, want)
            if got != {i: docs[i] for i in want}:
                errors.append(f"thread {t} rep {rep}: {got}")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(6)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors[:2]
    assert 0 < len(query._url_cache) <= 8
    invalidate_cache(index_dir)
