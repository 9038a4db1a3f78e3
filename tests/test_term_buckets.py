"""Postings bucket sizing: n_term_buckets follows total_tokens (capped
at 64), appends and compaction keep the stored count, consolidation
re-sizes it atomically with the postings, federation mixes counts.
Also the worker's zip re-read guard and the build's job labels."""
import glob
import importlib
import math
import os
import sys
import zipfile
import zipimport

import pytest

from textindex_spark import build as B
from textindex_spark import manifest
from textindex_spark.build import append_batch, build_index, read_stats
from textindex_spark.corpus import query_set, synth_corpus
from textindex_spark.query import search, search_sharded
from textindex_spark.refimpl.oracle import OracleIndex

from tests.spark_fixtures import corpus_df, spark  # noqa: F401

TARGET = B.TOKENS_PER_TERM_BUCKET


@pytest.fixture(scope="module")
def rows():
    return synth_corpus(300)


@pytest.fixture(scope="module")
def oracle(rows):
    return OracleIndex.build(rows)


def _tokens(rows) -> int:
    return sum(d["doc_len"] for d in OracleIndex.build(rows).docs.values())


def _build(spark, rows, out, target=TARGET, range_bits=6):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(B, "TOKENS_PER_TERM_BUCKET", target)
        return build_index(spark, corpus_df(spark, rows), out, range_bits=range_bits)


def _bucket_files(postings_dir: str) -> dict[int, int]:
    """term_bucket value → number of parquet files in its directory."""
    return {
        int(d.rsplit("=", 1)[1]): len(glob.glob(f"{d}/*.parquet"))
        for d in glob.glob(f"{postings_dir}/term_bucket=*")
    }


def _topk(spark, where, terms, k, **kw):
    fn = search_sharded if isinstance(where, list) else search
    return [
        (r["doc_id"], r["score"])
        for r in fn(spark, where, terms, k=k, with_urls=False, **kw).collect()
    ]


def _assert_rank_identical(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9)


def _assert_matches_oracle(spark, where, oracle, n_queries=8):
    for q in query_set()[:n_queries]:
        for mode in ("and", "or"):
            _assert_rank_identical(
                _topk(spark, where, q["terms"], q["k"], mode=mode),
                oracle.search(q["terms"], q["k"], mode=mode),
            )


def test_sizing_rule():
    f = B.n_term_buckets_for
    assert TARGET == 1 << 20
    assert [f(0), f(1), f(TARGET), f(TARGET + 1), f(3 * TARGET)] == [1, 1, 1, 2, 3]
    assert f(63 * TARGET + 1) == 64
    assert f(64 * TARGET) == f(10**15) == B.N_TERM_BUCKETS_DEFAULT == 64


def test_perfbench_size_index_is_one_bucket_one_file(spark, tmp_path):
    """A 1,500-row corpus (the benchmark's size, ~107k tokens) is ONE
    bucket directory holding ONE postings file; the count rides in
    the stats row."""
    out = str(tmp_path / "idx")
    stats = build_index(
        spark, corpus_df(spark, synth_corpus(1500, seed=1)), out, range_bits=8
    )
    assert 0 < stats["total_tokens"] < TARGET
    assert stats["n_term_buckets"] == read_stats(spark, out)["n_term_buckets"] == 1
    assert _bucket_files(f"{out}/postings") == {0: 1}


def test_cap_keeps_64_buckets(spark, rows, tmp_path):
    """An index of 64 × the target tokens or more keeps exactly the
    64 buckets of the fixed layout."""
    target = _tokens(rows) // 64
    out = str(tmp_path / "idx")
    stats = _build(spark, rows, out, target=target)
    assert stats["total_tokens"] >= 64 * target
    assert stats["n_term_buckets"] == 64
    assert sorted(_bucket_files(f"{out}/postings")) == list(range(64))


@pytest.mark.parametrize("multi", [False, True], ids=["one_bucket", "multi_bucket"])
def test_append_keeps_stored_count_rank_identical(spark, rows, oracle, tmp_path, multi):
    """Appends bucket their staged postings under the index's STORED
    count (not one re-derived from the grown corpus), and stay
    rank-identical to a rebuild."""
    target = 2048 if multi else TARGET
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    base = _build(spark, rows[:200], inc, target=target)
    _build(spark, rows, full, target=target)
    assert (base["n_term_buckets"] > 1) == multi
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(B, "TOKENS_PER_TERM_BUCKET", target)
        stats = append_batch(spark, corpus_df(spark, rows[200:]), inc)
    assert stats["n_term_buckets"] == base["n_term_buckets"]
    staged = [p for p in manifest.table_paths(spark, inc, "postings")
              if os.path.basename(p).startswith("postings_append")]
    assert len(staged) == 1
    assert set(_bucket_files(staged[0])) <= set(range(base["n_term_buckets"]))
    for q in query_set()[:8]:
        for mode in ("and", "or"):
            _assert_rank_identical(
                _topk(spark, inc, q["terms"], q["k"], mode=mode),
                _topk(spark, full, q["terms"], q["k"], mode=mode),
            )
    _assert_matches_oracle(spark, inc, oracle)


def _grown_index(spark, rows, out):
    """An index bootstrapped at ONE bucket (target = its own token
    count), then grown by two appends to about 3× that."""
    target = _tokens(rows[:100])
    _build(spark, rows[:100], out, target=target)
    append_batch(spark, corpus_df(spark, rows[100:200]), out)
    append_batch(spark, corpus_df(spark, rows[200:]), out)
    assert read_stats(spark, out)["n_term_buckets"] == 1
    return target


def test_consolidation_resizes_atomically(spark, rows, oracle, tmp_path):
    """_consolidate_postings re-derives the count from the current
    total_tokens and publishes postings + stats in ONE manifest
    version; a crash between the staging writes and that commit
    leaves the live snapshot untouched, and the retry converges."""
    out = str(tmp_path / "idx")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(B, "TOKENS_PER_TERM_BUCKET", _grown_index(spark, rows, out))
        want_n = B.n_term_buckets_for(read_stats(spark, out)["total_tokens"])
        assert want_n >= 2
        before = manifest.current_manifest(spark, out)

        def crash(*a, **kw):
            raise RuntimeError("simulated crash before the commit")

        with pytest.MonkeyPatch.context() as crash_mp:
            crash_mp.setattr(B.manifest, "commit", crash)
            with pytest.raises(RuntimeError, match="simulated crash"):
                B._consolidate_postings(spark, out)
        assert glob.glob(f"{out}/postings_consolidated_*")  # staged, unpublished
        assert manifest.current_manifest(spark, out) == before
        assert read_stats(spark, out)["n_term_buckets"] == 1
        _assert_matches_oracle(spark, out, oracle, n_queries=4)

        B._consolidate_postings(spark, out)
    after = manifest.current_manifest(spark, out)
    assert after["version"] == before["version"] + 1
    changed = {
        t for t in set(after["tables"]) | set(before["tables"])
        if after["tables"].get(t) != before["tables"].get(t)
    }
    assert changed == {"postings", "stats"}
    assert read_stats(spark, out)["n_term_buckets"] == want_n
    (pdir,) = manifest.table_paths(spark, out, "postings")
    assert sorted(_bucket_files(pdir)) == list(range(want_n))
    _assert_matches_oracle(spark, out, oracle)


def test_consolidation_and_append_never_mix_counts(spark, rows, oracle, tmp_path):
    """Either interleaving of a consolidation and an append is caught
    by the conditional commits: an append landing inside a
    consolidation skips the consolidation; a consolidation landing
    inside an append fails the append with CommitConflict, and its
    retry stages under the new count."""
    out = str(tmp_path / "idx")
    head, tail = rows[:250], rows[250:]
    target = _tokens(rows[:100])
    _build(spark, rows[:100], out, target=target)
    append_batch(spark, corpus_df(spark, rows[100:200]), out)
    real_commit = manifest.commit
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(B, "TOKENS_PER_TERM_BUCKET", target)
        # (1) append lands between the consolidation's staging and commit
        armed = {"on": True}

        def append_first(*a, **kw):
            if armed.pop("on", False):
                append_batch(spark, corpus_df(spark, rows[200:250]), out)
            return real_commit(*a, **kw)

        with pytest.MonkeyPatch.context() as race:
            race.setattr(B.manifest, "commit", append_first)
            B._consolidate_postings(spark, out)
        assert read_stats(spark, out)["n_term_buckets"] == 1  # skipped
        assert len(manifest.table_paths(spark, out, "postings")) == 3
        _assert_matches_oracle(spark, out, OracleIndex.build(head), n_queries=4)

        # (2) consolidation lands between the append's staging and commit
        armed = {"on": True}

        def consolidate_first(*a, **kw):
            if armed.pop("on", False):
                B._consolidate_postings(spark, out)
            return real_commit(*a, **kw)

        with pytest.MonkeyPatch.context() as race:
            race.setattr(B.manifest, "commit", consolidate_first)
            with pytest.raises(manifest.CommitConflict):
                append_batch(spark, corpus_df(spark, tail), out)
        n = read_stats(spark, out)["n_term_buckets"]
        assert n == B.n_term_buckets_for(_tokens(head)) >= 2
        stats = append_batch(spark, corpus_df(spark, tail), out)
    assert stats["n_term_buckets"] == n
    staged = [p for p in manifest.table_paths(spark, out, "postings")
              if os.path.basename(p).startswith("postings_append")]
    assert len(staged) == 1 and set(_bucket_files(staged[0])) <= set(range(n))
    _assert_matches_oracle(spark, out, oracle)


def test_sharded_mixed_bucket_counts(spark, rows, oracle, tmp_path):
    """Federation reads each shard's own count: a 1-bucket shard and a
    multi-bucket shard together answer like the single index."""
    ids = sorted(oracle.docs)
    split = ids[len(ids) // 2]
    s0, s1, one = (str(tmp_path / n) for n in ("s0", "s1", "one"))
    _build(spark, [r for r in rows if r["doc_id"] < split], s0)
    _build(spark, [r for r in rows if r["doc_id"] >= split], s1, target=512)
    _build(spark, rows, one)
    counts = [read_stats(spark, d)["n_term_buckets"] for d in (s0, s1, one)]
    assert counts[0] == counts[2] == 1 and counts[1] > 1
    for q in query_set()[:8]:
        for mode in ("and", "or"):
            for local in (None, False):
                _assert_rank_identical(
                    _topk(spark, [s0, s1], q["terms"], q["k"], mode=mode,
                          local_score=local),
                    _topk(spark, one, q["terms"], q["k"], mode=mode),
                )
    _assert_matches_oracle(spark, [s0, s1], oracle)


def test_build_jobs_carry_phase_descriptions(spark, rows, tmp_path):
    """Every Spark job of one build is labeled with its phase, the
    driver-thread phases (docs, range_ts, postings) included; the
    caller's description and job group come back unchanged."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def job_ids():
        seq = store.jobsList(None)
        return {int(seq.apply(i).jobId()) for i in range(seq.size())}

    seen = max(job_ids(), default=-1)
    sc.setJobGroup("bucket-test-group", "caller group")
    sc.setJobDescription("caller description")
    try:
        build_index(
            spark, corpus_df(spark, rows).drop("doc_id"),
            str(tmp_path / "idx"), range_bits=6,
        )
        assert sc.getLocalProperty("spark.job.description") == "caller description"
        assert sc.getLocalProperty("spark.jobGroup.id") == "bucket-test-group"
    finally:
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    descs = []
    for jid in sorted(j for j in job_ids() if j > seen):
        d = store.job(jid).description()
        descs.append(d.get() if d.isDefined() else None)
    phases = {"segments", "docs", "range_ts", "stats", "postings", "terms"}
    assert set(descs) == {f"textindex build: {p}" for p in phases}, descs


# --- the worker's zip re-read guard -------------------------------------

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12+ invalidates zip directories lazily",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@needs_guard
def test_zip_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    arch = str(tmp_path / "mods.zip")
    _write_zip(arch, {"zg_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(arch)
    import zg_mod_a  # noqa: F401

    assert isinstance(sys.path_importer_cache[arch], zipimport.zipimporter)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(arch) <= 1
    # a rewritten archive (new size and mtime) is read again
    _write_zip(arch, {"zg_mod_a": "X = 1\n", "zg_mod_b": "Y = 2\n"})
    st = os.stat(arch)
    os.utime(arch, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    n = reads.count(arch)
    importlib.invalidate_caches()
    assert reads.count(arch) == n + 1
    assert importlib.import_module("zg_mod_b").Y == 2
    for m in ("zg_mod_a", "zg_mod_b"):
        sys.modules.pop(m, None)


@needs_guard
def test_zip_guard_active_in_workers(spark):
    """A Python worker that imports the engine package (as unpickling
    any engine kernel does) has the guard installed, and its
    invalidate_caches() is then cheap once each archive has been read
    (it re-read every zipimporter's archive before: 144–176 ms per
    task on CPython 3.11)."""

    def probe(batches):  # nested: pickled by value, not by module
        import time

        import pandas as pd

        import textindex_spark  # noqa: F401

        importlib.invalidate_caches()  # may read each archive once
        t = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t) * 1e3
        on = getattr(zipimport.zipimporter.invalidate_caches, "_reread_guard", False)
        for pdf in batches:
            yield pd.DataFrame({"on": [on] * len(pdf), "ms": [ms] * len(pdf)})

    got = (
        spark.range(4).repartition(4)
        .mapInPandas(probe, "on boolean, ms double")
        .collect()
    )
    assert got and all(r["on"] for r in got)
    assert min(r["ms"] for r in got) < 20
