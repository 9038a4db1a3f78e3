"""Physical index merge (`build.merge_indexes`): fresh-build
equivalence, tombstone purging, id-collision policies, latest-per-url
conflict resolution."""
from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tests.spark_fixtures import corpus_df, spark  # noqa: F401
from textindex_spark import manifest
from textindex_spark.build import build_index, merge_indexes
from textindex_spark.query import delete_docs, search, search_phrase

WORDS = ["spark", "vector", "merge", "archive", "table", "quarry"]


def _rows(ids, site="a"):
    rows = []
    for i in ids:
        text = " ".join(WORDS[(i + j) % len(WORDS)] for j in range(3 + i % 4))
        rows.append(
            {
                "doc_id": i,
                "url": f"http://{site}{i % 5}.example/p{i}.html",
                "warc_ts": dt.datetime(2020, 1, 1) + dt.timedelta(hours=i),
                "html": None,
                "text": text,
                "lang": "en",
            }
        )
    return rows


def _search_map(spark, idx, terms):
    res = search(spark, idx, terms, k=50, mode="or")
    return {r["url"]: round(r["score"], 9) for r in res.collect()}


def _stats(spark, idx):
    r = manifest.read_table(spark, idx, "stats").collect()[0]
    return (r["n_docs"], r["vocab_size"], round(r["avgdl"], 9))


def _terms_map(spark, idx):
    return {
        r["term"]: (r["df"], r["cf"])
        for r in manifest.read_table(spark, idx, "terms").collect()
    }


def test_merge_disjoint_equals_fresh_build(spark, tmp_path):
    a_rows, b_rows = _rows(range(0, 18), "a"), _rows(range(40, 55), "b")
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    dm, df_ = str(tmp_path / "m"), str(tmp_path / "fresh")
    build_index(spark, corpus_df(spark, a_rows), da, range_bits=4)
    build_index(spark, corpus_df(spark, b_rows), db, range_bits=6)
    merge_indexes(spark, [da, db], dm, range_bits=5)
    build_index(spark, corpus_df(spark, a_rows + b_rows), df_, range_bits=5)
    assert _stats(spark, dm) == _stats(spark, df_)
    assert _terms_map(spark, dm) == _terms_map(spark, df_)
    assert _search_map(spark, dm, ["spark", "quarry"]) == _search_map(
        spark, df_, ["spark", "quarry"]
    )
    # ids preserved: the merged docs table carries the original ids
    ids = {
        r["doc_id"]
        for r in manifest.read_table(spark, dm, "docs").collect()
    }
    assert ids == set(range(0, 18)) | set(range(40, 55))
    # positions survived the merge: phrase search parity
    pm = {
        r["doc_id"]
        for r in search_phrase(spark, dm, ["spark", "vector"], k=50).collect()
    }
    pf = {
        r["doc_id"]
        for r in search_phrase(spark, df_, ["spark", "vector"], k=50).collect()
    }
    assert pm == pf and pm


def test_merge_drops_tombstones(spark, tmp_path):
    a_rows, b_rows = _rows(range(0, 18), "a"), _rows(range(40, 55), "b")
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    dm, df_ = str(tmp_path / "m"), str(tmp_path / "fresh")
    build_index(spark, corpus_df(spark, a_rows), da, range_bits=5)
    build_index(spark, corpus_df(spark, b_rows), db, range_bits=5)
    n = delete_docs(spark, da, "*a1.example*")
    assert n > 0
    merge_indexes(spark, [da, db], dm, range_bits=5)
    live = [r for r in a_rows if "a1.example" not in r["url"]] + b_rows
    build_index(spark, corpus_df(spark, live), df_, range_bits=5)
    assert _stats(spark, dm) == _stats(spark, df_)
    assert _terms_map(spark, dm) == _terms_map(spark, df_)
    assert _search_map(spark, dm, ["spark", "merge"]) == _search_map(
        spark, df_, ["spark", "merge"]
    )
    assert not manifest.table_exists(spark, dm, "deleted")


def test_merge_id_collision_error_and_remap(spark, tmp_path):
    a_rows, b_rows = _rows(range(0, 12), "a"), _rows(range(0, 10), "b")
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, corpus_df(spark, a_rows), da, range_bits=4)
    build_index(spark, corpus_df(spark, b_rows), db, range_bits=4)
    with pytest.raises(ValueError, match="more than one shard"):
        merge_indexes(spark, [da, db], str(tmp_path / "m0"), range_bits=4)
    dm, df_ = str(tmp_path / "m"), str(tmp_path / "fresh")
    merge_indexes(
        spark, [da, db], dm, range_bits=4, on_id_conflict="remap"
    )
    # fresh build needs unique ids; identity is the url either way
    b2 = [dict(r, doc_id=r["doc_id"] + 1000) for r in b_rows]
    build_index(spark, corpus_df(spark, a_rows + b2), df_, range_bits=4)
    sm, sf = _stats(spark, dm), _stats(spark, df_)
    assert sm == sf
    assert _search_map(spark, dm, ["spark", "table"]) == _search_map(
        spark, df_, ["spark", "table"]
    )
    # remapped ids are disjoint across shards
    ids = [
        r["doc_id"]
        for r in manifest.read_table(spark, dm, "docs").collect()
    ]
    assert len(ids) == len(set(ids)) == 22


def test_merge_latest_per_url(spark, tmp_path):
    # same 10 urls crawled twice: shard b is the fresher snapshot
    a_rows = _rows(range(0, 10), "x")
    b_rows = [
        dict(r, doc_id=r["doc_id"] + 100,
             warc_ts=r["warc_ts"] + dt.timedelta(days=30),
             text=r["text"] + " refetch")
        for r in _rows(range(0, 10), "x")
    ]
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    dm, df_ = str(tmp_path / "m"), str(tmp_path / "fresh")
    build_index(spark, corpus_df(spark, a_rows), da, range_bits=5)
    build_index(spark, corpus_df(spark, b_rows), db, range_bits=5)
    merge_indexes(spark, [da, db], dm, range_bits=5, url_conflict="latest")
    build_index(spark, corpus_df(spark, b_rows), df_, range_bits=5)
    assert _stats(spark, dm) == _stats(spark, df_)
    assert _terms_map(spark, dm) == _terms_map(spark, df_)
    docs = manifest.read_table(spark, dm, "docs")
    assert docs.count() == 10
    assert docs.filter(F.col("doc_id") < 100).count() == 0


def test_merge_validation(spark, tmp_path):
    da = str(tmp_path / "a")
    build_index(spark, corpus_df(spark, _rows(range(4))), da, range_bits=4)
    with pytest.raises(ValueError, match="at least two"):
        merge_indexes(spark, [da], str(tmp_path / "m"))
    with pytest.raises(ValueError, match="on_id_conflict"):
        merge_indexes(spark, [da, da], str(tmp_path / "m"),
                      on_id_conflict="nope")
    with pytest.raises(ValueError, match="url_conflict"):
        merge_indexes(spark, [da, da], str(tmp_path / "m"),
                      url_conflict="nope")
    # out_dir must be a NEW home: neither a shard nor an existing index
    db = str(tmp_path / "b")
    build_index(spark, corpus_df(spark, _rows(range(10, 14))), db,
                range_bits=4)
    with pytest.raises(ValueError, match="one of the shards"):
        merge_indexes(spark, [da, db], da)
    dc = str(tmp_path / "c")  # an existing index that is NOT a shard
    build_index(spark, corpus_df(spark, _rows(range(20, 23))), dc,
                range_bits=4)
    with pytest.raises(ValueError, match="existing index"):
        merge_indexes(spark, [da, db], dc)
    dm = str(tmp_path / "mok")
    merge_indexes(spark, [da, db], dm, range_bits=4)
    with pytest.raises(ValueError, match="existing index"):
        merge_indexes(spark, [da, db], dm)


def test_gate_merged_probe_rebuilds_half_written_dir(spark, tmp_path, monkeypatch):
    """A merge that crashed between the segments write and the stats
    publish leaves a directory `merge_indexes` refuses forever; the
    gate's cache probe must clear and rebuild it, then reuse the
    finished merge without merging again."""
    from textindex_spark import gate

    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, corpus_df(spark, _rows(range(0, 8))), da, range_bits=4)
    build_index(spark, corpus_df(spark, _rows(range(20, 26))), db, range_bits=4)
    dm = tmp_path / "m"
    (dm / "segments").mkdir(parents=True)
    (dm / "segments" / "part-00000.parquet").write_bytes(b"torn")
    with pytest.raises(ValueError, match="existing index"):
        merge_indexes(spark, [da, db], str(dm))
    assert gate.ensure_merged_index(spark, [da, db], str(dm)) == str(dm)
    assert _stats(spark, str(dm))[0] == 14
    # both shards' matches are served by the merged index
    assert len(_search_map(spark, str(dm), ["spark"])) == len(
        _search_map(spark, da, ["spark"])
    ) + len(_search_map(spark, db, ["spark"]))

    def no_merge(*a, **kw):
        raise AssertionError("a finished merge must not be rebuilt")

    monkeypatch.setattr(gate.B, "merge_indexes", no_merge)
    gate.ensure_merged_index(spark, [da, db], str(dm))
