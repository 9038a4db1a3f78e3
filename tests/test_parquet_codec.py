"""Parquet page codec of the index tables (session.PARQUET_CODEC).

Every table the engine writes uses one codec, zstd: the Spark writer
takes it from the session, the pyarrow stats writer from the constant.
Readers take the codec from each column chunk, so an index built with
Snappy (Spark's default, and every index written before the codec was
set) stays readable, and appends and compactions mix zstd files into
it without a migration step.
"""
from __future__ import annotations

import math
import os

import pyarrow.parquet as pq

from textindex_spark import build, manifest
from textindex_spark.boolquery import search_bool
from textindex_spark.build import (
    append_batch,
    build_index,
    compact_postings,
    merge_indexes,
    purge_deleted,
)
from textindex_spark.corpus import synth_corpus
from textindex_spark.query import delete_docs, search, search_phrase
from textindex_spark.refimpl.oracle import OracleIndex

from tests.spark_fixtures import corpus_df, spark  # noqa: F401
from tests.test_boolquery import oracle_bool

CODEC_CONF = "spark.sql.parquet.compression.codec"


def _codecs(spark, index_dir) -> dict[str, set[str]]:
    """table → codecs of every column chunk of every data file the
    live snapshot publishes."""
    out: dict[str, set[str]] = {}
    for t, rels in manifest.current_manifest(spark, index_dir)["tables"].items():
        for rel in rels:
            for root, _, files in os.walk(os.path.join(index_dir, rel)):
                for f in files:
                    if f.startswith(("_", ".")):
                        continue
                    md = pq.ParquetFile(os.path.join(root, f)).metadata
                    out.setdefault(t, set()).update(
                        md.row_group(i).column(j).compression
                        for i in range(md.num_row_groups)
                        for j in range(md.num_columns)
                    )
    return out


CORE_TABLES = ("docs", "postings", "terms", "stats", "segments")


def _assert_zstd(spark, index_dir, must_have=CORE_TABLES):
    codecs = _codecs(spark, index_dir)
    assert set(must_have) <= {t for t, c in codecs.items() if c}, codecs
    for t, c in codecs.items():
        assert c <= {"ZSTD"}, (t, c)


def test_every_written_table_is_zstd(spark, tmp_path):
    """build, append, tombstones, compaction, purge and merge: every
    column chunk of every published file, the stats row included."""
    rows = synth_corpus(160)
    idx = str(tmp_path / "idx")
    build_index(spark, corpus_df(spark, rows[:120]), idx, range_bits=6)
    _assert_zstd(spark, idx, must_have=CORE_TABLES + ("range_ts",))
    append_batch(spark, corpus_df(spark, rows[120:]), idx)
    _assert_zstd(spark, idx)
    url = manifest.read_table(spark, idx, "docs").collect()[0]["url"]
    assert delete_docs(spark, idx, url) == 1
    _assert_zstd(spark, idx, must_have=("deleted", "stats"))
    assert compact_postings(spark, idx) > 0
    _assert_zstd(spark, idx)
    assert purge_deleted(spark, idx) == 1
    _assert_zstd(spark, idx)
    # merge: a second shard with disjoint ids
    other = str(tmp_path / "other")
    build_index(
        spark,
        corpus_df(spark, [dict(r, doc_id=r["doc_id"] + 1000) for r in rows[:40]]),
        other,
        range_bits=6,
    )
    merged = str(tmp_path / "merged")
    merge_indexes(spark, [idx, other], merged, range_bits=6)
    _assert_zstd(spark, merged)


def _topk(spark, idx, family, q):
    if family == "bool":
        df = search_bool(spark, idx, q, k=10, with_urls=False)
    elif family == "phrase":
        df = search_phrase(spark, idx, q, k=10, with_urls=False)
    else:
        df = search(spark, idx, q["terms"], k=10, with_urls=False, **q.get("kw", {}))
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _oracle_topk(oracle, family, q):
    if family == "bool":
        return oracle_bool(oracle, q, k=10)
    if family == "phrase":
        return oracle.search_phrase(q, k=10)
    kw = {k: v for k, v in q.get("kw", {}).items() if k != "prune"}
    return oracle.search(q["terms"], 10, **kw)


QUERIES = [
    ("and", {"terms": ["spark", "index"]}),
    ("or", {"terms": ["spark", "vector", "quarry"], "kw": {"mode": "or"}}),
    ("or", {"terms": ["spark", "vector", "quarry"],
            "kw": {"mode": "or", "prune": True}}),
    ("wildcard", {"terms": ["qu*"]}),
    ("fuzzy", {"terms": ["sparc~1", "index"], "kw": {"mode": "or"}}),
    ("exclude", {"terms": ["spark", "index"],
                 "kw": {"mode": "or", "exclude": ["merge"]}}),
    ("scope", {"terms": ["spark", "vector"],
               "kw": {"mode": "or", "scope": "lang:en"}}),
    ("bool", "spark AND (index OR vector) AND NOT merge"),
]


def _common_bigram(oracle) -> list[str]:
    """The corpus's most document-frequent pair of adjacent terms."""
    from collections import Counter

    from textindex_spark.refimpl.txt_tokenize import term_positions

    df = Counter()
    for doc in oracle.docs.values():
        pos, _ = term_positions(doc["text"])
        at = {p: t for t, ps in pos.items() for p in ps}
        df.update({(at[p], at[p + 1]) for p in at if p + 1 in at})
    return list(df.most_common(1)[0][0])


def _assert_rank_identical(got, want, ctx):
    assert [d for d, _ in got] == [d for d, _ in want], ctx
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9), ctx


def test_snappy_index_reads_and_mixes_with_zstd(spark, tmp_path, monkeypatch):
    """A Snappy-only index answers every query family with no
    migration; after a zstd append and compaction its tables hold
    both codecs and every family still equals the oracle and a fresh
    zstd build, rank-identical."""
    rows = synth_corpus(300)
    snappy, fresh = str(tmp_path / "snappy"), str(tmp_path / "fresh")
    prev = spark.conf.get(CODEC_CONF)
    spark.conf.set(CODEC_CONF, "snappy")
    try:
        with monkeypatch.context() as m:
            m.setattr(build, "PARQUET_CODEC", "snappy")
            build_index(spark, corpus_df(spark, rows[:220]), snappy, range_bits=6)
    finally:
        spark.conf.set(CODEC_CONF, prev)
    assert set().union(*_codecs(spark, snappy).values()) == {"SNAPPY"}

    oracle = OracleIndex.build(rows[:220])
    queries = QUERIES + [("phrase", _common_bigram(oracle))]
    for family, q in queries:
        want = _oracle_topk(oracle, family, q)
        assert want, (family, q)
        _assert_rank_identical(_topk(spark, snappy, family, q), want, (family, q))

    append_batch(spark, corpus_df(spark, rows[220:]), snappy)
    assert compact_postings(spark, snappy) > 0
    codecs = _codecs(spark, snappy)
    assert codecs["postings"] == {"ZSTD"}  # compaction rewrote them
    assert codecs["docs"] == {"SNAPPY", "ZSTD"}  # base + appended part

    build_index(spark, corpus_df(spark, rows), fresh, range_bits=6)
    _assert_zstd(spark, fresh)
    oracle = OracleIndex.build(rows)
    for family, q in queries:
        got = _topk(spark, snappy, family, q)
        _assert_rank_identical(got, _oracle_topk(oracle, family, q), (family, q))
        _assert_rank_identical(got, _topk(spark, fresh, family, q), (family, q))
