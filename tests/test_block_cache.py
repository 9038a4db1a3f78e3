"""X5 — query-node posting cache.

The reference retains hot index blocks in memory between commands and
evicts the rest after each save (``cleanup``, reference
``src/index2.rs:363-374``; iteration-time ``discard``,
``src/index2/word_map.rs:326-334``). The Spark analog keeps fetched
postings decoded on the query node, as doc_id-sorted doc_id/tf/dl
columns per term, under an LRU budget of decoded bytes
(``textindex_spark/query.py``: ``_posting_cache`` / ``_fetch_blocks``).
These tests pin: (1) a warm serving query launches ZERO Spark jobs
and decodes nothing, (2) warm results are identical to cold, on every
path — including an appended index where one (term, range_id) key
owns several block rows — and bit-identical to a fresh decode scored
with the per-posting formula, (3) range-restricted misses fetch only
their ranges, (4) the byte budget evicts LRU, also under concurrent
queries, (5) snapshot mutations invalidate, (6) the top-k urls of a
bounded query come from the resident doc_id -> url cache — zero jobs
warm, the same rows as the docs join on every path, invalidated by
append and delete.
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
    return sum(e.nbytes for k, e in query._posting_cache.items() if k[0] == cd)


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
    assert query._posting_bytes <= int(one_term * 1.5)
    assert "index" in {k[1] for k in query._posting_cache if k[0] == cd}
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


# --- resident result frames: a warm top-k answers from driver memory --


@pytest.fixture
def py4j_calls(monkeypatch):
    """Counts the py4j round trips (driver → JVM commands) this thread
    makes. py4j's own finalizer thread, which releases the JVM
    references of garbage-collected objects at any time, is not the
    caller under test."""
    import threading

    from py4j.clientserver import ClientServerConnection

    calls = [0]
    send = ClientServerConnection.send_command
    caller = threading.get_ident()

    def counting(self, command, *args, **kwargs):
        calls[0] += threading.get_ident() == caller
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    return calls


def _resident_call(family: str, spark, index_dir, shard_dirs, with_urls: bool):
    from textindex_spark.boolquery import search_bool
    from textindex_spark.query import search_sharded

    kw = dict(k=5, with_urls=with_urls)
    calls = {
        "and": lambda: search(spark, index_dir, ["spark", "index"], **kw),
        "or": lambda: search(spark, index_dir, ["spark", "index"], mode="or", **kw),
        "or_pruned": lambda: search(
            spark, index_dir, ["spark", "index"], mode="or", prune=True, **kw
        ),
        "wildcard": lambda: search(spark, index_dir, ["quer*"], **kw),
        "fuzzy": lambda: search(spark, index_dir, ["querry~1"], **kw),
        "exclude": lambda: search(
            spark, index_dir, ["spark"], exclude=["merge"], **kw
        ),
        "scope": lambda: search(spark, index_dir, ["spark"], scope="lang:en", **kw),
        "bool": lambda: search_bool(
            spark, index_dir, "spark AND (index OR quer*) AND NOT merge", **kw
        ),
        "sharded": lambda: search_sharded(
            spark, shard_dirs, ["spark", "index"], mode="or", **kw
        ),
    }
    return calls[family]()


@pytest.mark.parametrize("with_urls", [False, True])
@pytest.mark.parametrize(
    "family",
    ["and", "or_pruned", "wildcard", "fuzzy", "exclude", "scope", "bool", "sharded"],
)
def test_warm_result_zero_py4j_calls(
    spark, index_dir, shard_dirs, py4j_calls, family, with_urls
):
    """A warm bounded query's result frame answers collect(),
    toPandas() and count() without one JVM round trip, from the
    search call on: the frame never materializes its JVM side."""
    cold = _resident_call(family, spark, index_dir, shard_dirs, with_urls).collect()
    assert cold, f"{family}: the fixture query must have hits"
    py4j_calls[0] = 0
    frame = _resident_call(family, spark, index_dir, shard_dirs, with_urls)
    rows = frame.collect()
    pdf = frame.toPandas()
    n = frame.count()
    assert py4j_calls[0] == 0, f"{family}: {py4j_calls[0]} py4j calls warm"
    assert "_jdf" not in frame.__dict__
    assert rows == cold and n == len(rows)
    assert [tuple(r) for r in pdf.itertuples(index=False)] == [tuple(r) for r in rows]
    # the counter sees real traffic: materializing the frame crosses
    frame.filter("score > 0").count()
    assert py4j_calls[0] > 0 and "_jdf" in frame.__dict__


@pytest.fixture
def pandas_objects(monkeypatch):
    """Counts the pandas DataFrame and Series objects built, by
    wrapping their common constructor (`NDFrame.__init__`, which both
    public constructors and pandas' internal copies go through)."""
    from pandas.core.generic import NDFrame

    made = [0]
    init = NDFrame.__init__

    def counting(self, *args, **kwargs):
        made[0] += 1
        return init(self, *args, **kwargs)

    monkeypatch.setattr(NDFrame, "__init__", counting)
    return made


@pytest.mark.parametrize("with_urls", [False, True])
@pytest.mark.parametrize(
    "family",
    ["and", "or", "or_pruned", "wildcard", "fuzzy", "exclude", "scope", "bool", "sharded"],
)
def test_warm_query_builds_no_pandas_objects(
    spark, index_dir, shard_dirs, pandas_objects, family, with_urls
):
    """A warm bounded query runs on numpy arrays from expansion to
    top-k: from the search call through collect() it builds no pandas
    DataFrame or Series."""
    cold = _resident_call(family, spark, index_dir, shard_dirs, with_urls).collect()
    assert cold, f"{family}: the fixture query must have hits"
    pandas_objects[0] = 0
    rows = _resident_call(family, spark, index_dir, shard_dirs, with_urls).collect()
    assert pandas_objects[0] == 0, f"{family}: {pandas_objects[0]} pandas objects warm"
    assert rows == cold
    # the counter sees real construction
    query.expand_patterns(spark, index_dir, ["spark"])
    assert pandas_objects[0] > 0


@pytest.mark.parametrize(
    "ddl,rows",
    [
        ("doc_id long, score double", [(7, 2.5), (3, 1.25), (9, 1.25)]),
        (
            "doc_id long, score double, url string",
            [(7, 2.5, "https://a.example/x"), (3, 1.25, None), (9, 1.0, "https://b/y")],
        ),
        ("doc_id long, score double, url string", []),
        ("doc_id long, rrf_micro bigint, url string", [(4, 16393, None)]),
    ],
)
def test_resident_frame_matches_local_df(spark, ddl, rows):
    """A ResidentFrame is the local_df frame of the same rows: the
    same collect(), toPandas() values and dtypes (int64/float64/object
    for the empty result too), schema, and — once materialized — the
    same joins, filters, sorts and unions, as either side."""
    from pyspark.sql.types import StructType

    from textindex_spark.session import ResidentFrame, local_df

    res = ResidentFrame(spark, rows, ddl)
    ref = local_df(spark, rows, ddl)
    assert res.collect() == ref.collect()
    assert [r.asDict() for r in res.collect()] == [r.asDict() for r in ref.collect()]
    got, want = res.toPandas(), ref.toPandas()
    assert list(got.dtypes) == list(want.dtypes)
    assert got.equals(want)
    assert res.schema == ref.schema and res.columns == ref.columns
    assert res.dtypes == ref.dtypes
    assert res.take(2) == ref.take(2) and res.head() == ref.head()
    assert res.isEmpty() == (not rows)
    # the schema handed out is a copy: mutating it changes nothing
    res.schema.add("extra", "long")
    assert res.schema == StructType.fromDDL(ddl) == ref.schema
    assert "_jdf" not in res.__dict__

    other = local_df(spark, [(7, "seven"), (3, "three")], "doc_id long, tag string")
    assert sorted(res.join(other, "doc_id").collect()) == sorted(
        ref.join(other, "doc_id").collect()
    )
    assert sorted(other.join(res, "doc_id", "left").collect()) == sorted(
        other.join(ref, "doc_id", "left").collect()
    )
    assert res.filter("doc_id > 3").collect() == ref.filter("doc_id > 3").collect()
    assert res.orderBy("doc_id").collect() == ref.orderBy("doc_id").collect()
    assert sorted(res.unionByName(ref).collect()) == sorted(ref.unionByName(ref).collect())
    assert sorted(ref.unionByName(res).collect()) == sorted(ref.unionByName(ref).collect())
    assert "_jdf" in res.__dict__


def test_warm_expand_reuses_term_index(spark, index_dir, monkeypatch):
    """The term-sorted dictionary is built once per load, not per
    query: a warm expansion never rebuilds it, and gives the same
    rows in the same order."""
    invalidate_cache(index_dir)
    pats = ["spark", "quer*", "absentzz", "querry~1"]
    cold = query.expand_patterns(spark, index_dir, pats)

    def no_rebuild(*_a, **_k):
        raise AssertionError("warm expansion rebuilt the term index")

    monkeypatch.setattr(query._Dictionary, "of", no_rebuild)
    warm = query.expand_patterns(spark, index_dir, pats)
    assert warm.equals(cold)
    assert (cold["term"] == "spark").any()


# --- decoded posting cache: decode once, slice per query -------------


@pytest.fixture
def varint_decodes(monkeypatch):
    """Counts varint passes: every decode of the codec (the flat block
    decode included) goes through `codec.varint_decode`."""
    from textindex_spark import codec

    calls = [0]
    decode = codec.varint_decode

    def counting(buf):
        calls[0] += 1
        return decode(buf)

    monkeypatch.setattr(codec, "varint_decode", counting)
    return calls


@pytest.mark.parametrize("with_urls", [False, True])
@pytest.mark.parametrize(
    "family",
    ["and", "or", "or_pruned", "wildcard", "fuzzy", "exclude", "scope", "bool", "sharded"],
)
def test_warm_query_decodes_nothing(
    spark, index_dir, shard_dirs, varint_decodes, family, with_urls
):
    """A warm resident query scores the cached doc_id/tf/dl columns:
    from the search call through collect() it runs no varint decode."""
    for d in [index_dir, *shard_dirs]:
        invalidate_cache(d)
    cold = _resident_call(family, spark, index_dir, shard_dirs, with_urls).collect()
    assert cold, f"{family}: the fixture query must have hits"
    assert varint_decodes[0] > 0, "the cold fill decodes through the counter"
    varint_decodes[0] = 0
    warm = _resident_call(family, spark, index_dir, shard_dirs, with_urls).collect()
    assert varint_decodes[0] == 0, f"{family}: {varint_decodes[0]} varint decodes warm"
    assert warm == cold


@pytest.fixture(scope="module")
def split_index(spark, tmp_path_factory):
    """An appended, uncompacted index: hot (term, range_id) keys own
    several block rows."""
    rows = synth_corpus(150, seed=13)
    out = str(tmp_path_factory.mktemp("splitdiff") / "idx")
    build_index(spark, corpus_df(spark, rows[:100]), out, range_bits=5)
    append_batch(spark, corpus_df(spark, rows[100:]), out)
    return out


def _per_posting_scores(pdf, terms, ranges, stats, info):
    """The reference: the table's block rows of ``terms`` (in term
    order, each term's rows in table order) restricted to ``ranges``,
    one fresh `decode_flat`, and BM25 accumulated per posting with
    ``ufunc.at`` → ((doc_ids, scores, masks), (term_idx, docs, tf, dl))."""
    import numpy as np

    from textindex_spark.build import B, K1
    from textindex_spark.codec import decode_flat

    pos = {t: i for i, t in enumerate(terms)}
    rows = pdf[pdf["term"].isin(terms)]
    if ranges is not None:
        rows = rows[rows["range_id"].isin(ranges)]
    rows = rows.iloc[np.argsort([pos[t] for t in rows["term"]], kind="stable")]
    term_idx = np.array([pos[t] for t in rows["term"]], dtype=np.int64)
    docs, (tfs, dls), counts = decode_flat(
        list(rows["doc_gaps"]),
        rows["range_id"].to_numpy(np.int64) << stats["range_bits"],
        [list(rows["tf_bytes"]), list(rows["dl_bytes"])],
    )
    t_idx = np.repeat(term_idx, counts)
    tf, dl = tfs.astype(np.float64), dls.astype(np.float64)
    avgdl = float(stats["avgdl"]) or 1.0
    w = info.idf[t_idx] * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
    uniq, inv = np.unique(docs, return_inverse=True)
    score = np.zeros(len(uniq))
    np.add.at(score, inv, w)
    mask = np.zeros(len(uniq), dtype=np.int64)
    np.bitwise_or.at(mask, inv, info.mask[t_idx])
    return (uniq, score, mask), (t_idx, docs, tfs, dls)


def test_decoded_postings_differential(spark, split_index):
    """Seeded differential: random term lists and range sets (None,
    [], subsets, absent ranges) over random cache states (cold, meta
    only, partly filled by other requests) give exactly the postings
    of a fresh decode and bit-identical scores, masks and doc order."""
    import random

    import numpy as np

    out = split_index
    stats0 = query.cached_stats(spark, out)
    pdf = query._cached_table(spark, out, "postings").select(*query._BLOCK_COLS).toPandas()
    assert (pdf.groupby(["term", "range_id"]).size() > 1).any(), "needs split keys"
    by_rows = pdf.groupby("term").size().sort_values()
    hot, vocab = by_rows.index[-10:].tolist(), by_rows.index.tolist()
    all_ranges = sorted(set(pdf["range_id"].tolist()))
    assert len(all_ranges) >= 4
    rng = random.Random(21)
    shapes = {"none": 0, "empty": 0, "subset": 0}
    for trial in range(40):
        roll = rng.random()
        if roll < 0.25:
            invalidate_cache(out)
        elif roll < 0.4:
            invalidate_cache(out)
            query._block_meta(spark, out, rng.sample(hot, 3), stats0)
        terms = sorted(
            set(rng.sample(hot, rng.randint(1, 4)) + rng.sample(vocab, rng.randint(0, 2)))
            | ({"zzabsentterm"} if rng.random() < 0.2 else set())
        )
        shape = rng.choice(list(shapes))
        shapes[shape] += 1
        ranges = {
            "none": None,
            "empty": [],
            "subset": rng.sample(all_ranges + [all_ranges[-1] + 7], rng.randint(1, 4)),
        }[shape]
        if rng.random() < 0.5:  # a neighbouring request fills part first
            query._fetch_blocks(
                spark, out, rng.sample(terms, 1), stats0,
                ranges=rng.choice([None, rng.sample(all_ranges, 2)]),
            )
        # a federated query scores with the GLOBAL avgdl
        stats = dict(stats0, avgdl=stats0["avgdl"] * rng.choice([1.0, 1.37]))
        info = query._TermInfo(
            np.array(terms),
            np.array([rng.uniform(0.1, 3.0) for _ in terms]),
            np.array([1 << rng.randint(0, 3) for _ in terms], dtype=np.int64),
        )
        post = query._fetch_blocks(spark, out, terms, stats, ranges=ranges)
        got = query._score_blocks_np(post, stats, info)
        want, (t_idx, docs, tfs, dls) = _per_posting_scores(pdf, terms, ranges, stats, info)
        for g, w in zip(got, want):
            assert g.dtype == w.dtype and np.array_equal(g, w), (trial, terms, ranges)
        assert post.counts.tolist() == np.bincount(t_idx, minlength=len(terms)).tolist()
        mine = np.lexsort((post.doc_id, np.repeat(np.arange(len(terms)), post.counts)))
        ref = np.lexsort((docs, t_idx))
        assert np.array_equal(mine, np.arange(len(mine))), "runs are doc_id-sorted"
        assert np.array_equal(post.doc_id, docs[ref])
        assert np.array_equal(post.tf, tfs[ref]) and np.array_equal(post.dl, dls[ref])
        assert post.tf.dtype == post.dl.dtype == np.int32
    assert min(shapes.values()) > 0, shapes


@pytest.mark.parametrize("meta_resident", [True, False])
def test_theta_probe_miss_fetches_only_best_range(
    spark, index_dir, monkeypatch, meta_resident
):
    """The block-max θ probe on a cold posting cache scans only the
    best range, whether or not the terms' block-max metadata is
    resident, and the entries it leaves hold that range alone."""
    if not meta_resident:
        monkeypatch.setattr(query, "META_CACHE_TERM_MAX_ROWS", 0)
    invalidate_cache(index_dir)
    calls, scanned = [], []
    fetch, decode = query._fetch_blocks, query._decode_terms

    def spy_fetch(*a, ranges=None, **kw):
        calls.append(None if ranges is None else list(ranges))
        if len(calls) == 1:
            cd = query.canon_dir(index_dir)
            assert not any(k[0] == cd for k in query._posting_cache)
        return fetch(*a, ranges=ranges, **kw)

    def spy_decode(fetched, range_bits):
        scanned.append(sorted(set(fetched["range_id"].tolist())))
        return decode(fetched, range_bits)

    monkeypatch.setattr(query, "_fetch_blocks", spy_fetch)
    monkeypatch.setattr(query, "_decode_terms", spy_decode)
    terms = ["index", "spark"]
    out = search(
        spark, index_dir, terms, k=5, mode="or", prune=True, with_urls=False
    ).collect()
    assert out and len(calls[0]) == 1, calls
    assert scanned[0] == calls[0], (scanned, calls)
    # the probe's entries, before the scoring fetch widened them
    monkeypatch.setattr(query, "_fetch_blocks", fetch)
    invalidate_cache(index_dir)
    if meta_resident:
        query._block_meta(spark, index_dir, terms, query.cached_stats(spark, index_dir))
    stats = query.cached_stats(spark, index_dir)
    fetch(spark, index_dir, terms, stats, ranges=calls[0])
    cd = query.canon_dir(index_dir)
    for t in terms:
        e = query._posting_cache[(cd, t)]
        assert e.ranges == frozenset(calls[0]), (t, e.ranges)
        assert set((e.doc_id >> stats["range_bits"]).tolist()) == set(calls[0])


def test_mutations_invalidate_posting_cache(spark, tmp_path_factory):
    """append, delete, compact, purge, rebuild and merge each drop the
    index's posting entries; the next warm query equals a cold one."""
    from textindex_spark.build import compact_postings, merge_indexes, purge_deleted

    rows = synth_corpus(120, seed=9)
    base = tmp_path_factory.mktemp("postinval")
    out = str(base / "idx")
    build_index(spark, corpus_df(spark, rows[:80]), out, range_bits=6)
    terms = ["spark", "index"]

    def run(d):
        return search(spark, d, terms, k=200, mode="or", with_urls=True).collect()

    def after(op, d=out):
        cd = query.canon_dir(d)
        if not any(k[0] == cd for k in query._posting_cache):
            run(d)
        assert any(k[0] == cd for k in query._posting_cache)
        op()
        assert not any(k[0] == cd for k in query._posting_cache), op
        got = run(d)
        invalidate_cache(d)
        assert got == run(d)
        return {r["doc_id"]: r["url"] for r in got}

    start = {r["doc_id"]: r["url"] for r in run(out)}
    appended = after(lambda: append_batch(spark, corpus_df(spark, rows[80:]), out))
    assert set(appended) > set(start)
    victim = next(iter(appended))
    deleted = after(lambda: delete_docs(spark, out, appended[victim]))
    assert victim not in deleted
    assert after(lambda: compact_postings(spark, out)) == deleted
    assert after(lambda: purge_deleted(spark, out)) == deleted
    rebuilt = after(
        lambda: build_index(spark, corpus_df(spark, rows[60:]), out, range_bits=6)
    )
    assert set(rebuilt) <= {r["doc_id"] for r in rows[60:]}

    shards = [str(base / "s0"), str(base / "s1")]
    build_index(spark, corpus_df(spark, rows[:60]), shards[0], range_bits=6)
    build_index(spark, corpus_df(spark, rows[60:]), shards[1], range_bits=6)
    merged = str(base / "merged")
    # an entry left under the new index's key by an earlier generation
    query._posting_cache_put(query.canon_dir(merged), "spark", query._NO_POSTINGS)
    got = after(lambda: merge_indexes(spark, shards, merged, range_bits=6), merged)
    assert got and set(got) <= {r["doc_id"] for r in rows}


def test_posting_cache_cap_under_threads(spark, index_dir, monkeypatch):
    """Concurrent fetches from 6 driver threads under a decoded-bytes
    budget of a few entries: every fetch returns the uncapped
    postings, and the byte count equals the entries' bytes and stays
    within the budget."""
    import sys
    import threading

    import numpy as np

    stats = query.cached_stats(spark, index_dir)
    cd = query.canon_dir(index_dir)
    terms = [
        r["term"]
        for r in query._cached_table(spark, index_dir, "terms")
        .orderBy(F.desc("df"), "term").limit(6).collect()
    ]
    reqs = [(t, r) for t in terms for r in (None, (1, 2))]
    invalidate_cache(index_dir)
    want = {}
    for t, r in reqs:
        p = query._fetch_blocks(spark, index_dir, [t], stats, ranges=r and list(r))
        want[(t, r)] = (p.doc_id, p.tf, p.dl)
    assert all(len(v[0]) for v in want.values())
    cap = 3 * max(e.nbytes for k, e in query._posting_cache.items() if k[0] == cd)
    invalidate_cache(index_dir)
    monkeypatch.setattr(query, "BLOCK_CACHE_MAX_BYTES", cap)
    errors: list[str] = []

    def worker(tid: int) -> None:
        for rep in range(2):
            for j in range(len(reqs)):
                t, r = reqs[(tid * 5 + rep * 3 + j) % len(reqs)]
                p = query._fetch_blocks(spark, index_dir, [t], stats, ranges=r and list(r))
                if not all(
                    np.array_equal(a, b) for a, b in zip((p.doc_id, p.tf, p.dl), want[(t, r)])
                ):
                    errors.append(f"thread {tid}: {t} {r}")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(6)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors[:2]
    with query._cache_lock:
        held = sum(e.nbytes for e in query._posting_cache.values())
        assert query._posting_bytes == held <= cap
        assert any(k[0] == cd for k in query._posting_cache)
        assert query.posting_cache_footprint() == {
            "entries": len(query._posting_cache),
            "postings": sum(len(e.doc_id) for e in query._posting_cache.values()),
            "bytes": held,
        }
    invalidate_cache(index_dir)
