"""Atomic snapshot commits (textindex_spark.manifest).

Pins the crash-safety contract VERDICT r1 asked for: compact/delete/
append never mutate the live snapshot in place; a failure before the
single manifest publish leaves the previous index fully readable, and
a retried append is idempotent (same staging dirs, one commit).
"""
from __future__ import annotations

import pytest

from textindex_spark import manifest
from textindex_spark.build import append_batch, build_index, compact_postings
from textindex_spark.corpus import synth_corpus
from textindex_spark.query import delete_docs, search

from tests.spark_fixtures import corpus_df, spark  # noqa: F401


@pytest.fixture()
def index_dir(spark, tmp_path):
    rows = synth_corpus(120)
    out = str(tmp_path / "idx")
    build_index(spark, corpus_df(spark, rows), out, range_bits=6)
    return out


def _topk(spark, index_dir, k=5):
    return [
        (r["doc_id"], round(r["score"], 9))
        for r in search(spark, index_dir, ["spark"], k=k, with_urls=False).collect()
    ]


def test_fresh_build_publishes_manifest(spark, index_dir):
    man = manifest.current_manifest(spark, index_dir)
    assert man is not None
    assert man["tables"]["postings"] == ["postings"]
    assert man["tables"]["deleted"] == []


def test_compact_is_snapshot_swap(spark, index_dir):
    rows = synth_corpus(160)[120:]
    append_batch(spark, corpus_df(spark, rows), index_dir)
    before = _topk(spark, index_dir)
    n = compact_postings(spark, index_dir)
    assert n > 0
    man = manifest.current_manifest(spark, index_dir)
    assert len(man["tables"]["postings"]) == 1
    assert man["tables"]["postings"][0].startswith("postings_compact_")
    # old data dirs still on disk (snapshot isolation), results identical
    assert _topk(spark, index_dir) == before


def test_crash_before_commit_preserves_old_snapshot(spark, index_dir, monkeypatch):
    """Simulate dying after staging but before the manifest publish:
    every reader must still see the pre-operation snapshot."""
    before_man = manifest.current_manifest(spark, index_dir)
    before = _topk(spark, index_dir)

    def boom(*a, **k):
        raise RuntimeError("simulated crash before manifest publish")

    monkeypatch.setattr(manifest, "commit", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        append_batch(spark, corpus_df(spark, synth_corpus(140)[120:]), index_dir)
    with pytest.raises(RuntimeError, match="simulated crash"):
        delete_docs(spark, index_dir, "*")
    monkeypatch.undo()
    assert manifest.current_manifest(spark, index_dir) == before_man
    assert _topk(spark, index_dir) == before


def test_append_retry_after_crash_is_idempotent(spark, index_dir, monkeypatch):
    new_rows = synth_corpus(150)[120:]
    base_stats = manifest.read_table(spark, index_dir, "stats").collect()[0]

    def boom(*a, **k):
        raise RuntimeError("crash")

    monkeypatch.setattr(manifest, "commit", boom)
    with pytest.raises(RuntimeError):
        append_batch(spark, corpus_df(spark, new_rows), index_dir)
    monkeypatch.undo()
    # retry with the SAME batch: overwrites the same staged dirs, one commit
    stats = append_batch(spark, corpus_df(spark, new_rows), index_dir)
    docs = manifest.read_table(spark, index_dir, "docs")
    # no duplicate docs from the crashed first attempt, stats consistent
    assert docs.count() == docs.select("doc_id").distinct().count() == stats["n_docs"]
    assert stats["n_docs"] > base_stats["n_docs"]


def test_describe_index(spark, index_dir):
    from textindex_spark.build import describe_index

    d = describe_index(spark, index_dir)
    assert d["tables"]["docs"]["rows"] == d["stats"]["n_docs"] > 0
    assert d["tables"]["postings"]["bytes"] > 0
    assert d["tables"]["postings"]["files"] > 0
    assert d["snapshot_version"] >= 1
    assert "deleted" not in d["tables"]  # fresh build → no tombstones
    # data files only: the _SUCCESS markers are neither files nor bytes
    import os

    for t, info in d["tables"].items():
        parquet = [
            os.path.join(root, f)
            for p in manifest.table_paths(spark, index_dir, t)
            for root, _, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        ]
        assert info["files"] == len(parquet) > 0, t
        assert info["bytes"] == sum(os.path.getsize(f) for f in parquet), t


def test_delete_is_atomic_commit(spark, index_dir):
    victim_url = manifest.read_table(spark, index_dir, "docs").collect()[0]["url"]
    v0 = manifest.current_manifest(spark, index_dir)["version"]
    n = delete_docs(spark, index_dir, victim_url)
    assert n == 1
    man = manifest.current_manifest(spark, index_dir)
    assert man["version"] == v0 + 1  # tombstones + stats in ONE commit
    assert len(man["tables"]["deleted"]) == 1
    assert man["tables"]["stats"][0].startswith("stats_del_")


def test_expire_snapshots_removes_superseded_dirs(spark, index_dir):
    """Retention: after append + compact, expiring to keep_last=1
    deletes the pre-compaction postings dirs AND the old manifest
    version files; the current snapshot answers identically, time
    travel to expired versions raises, and a re-run is a no-op."""
    import os

    append_batch(spark, corpus_df(spark, synth_corpus(160)[120:]), index_dir)
    compact_postings(spark, index_dir)
    before = _topk(spark, index_dir)
    vers = [v["version"] for v in manifest.list_versions(spark, index_dir)]
    assert len(vers) >= 3
    rep = manifest.expire_snapshots(spark, index_dir, keep_last=1, min_age_sec=0)
    assert rep["retained_versions"] == [vers[-1]]
    assert rep["expired_versions"] == vers[:-1]
    # the superseded plain postings dir and the append staging dirs
    # are gone from disk; live tables untouched
    assert "postings" in rep["removed_dirs"]
    assert any(d.startswith("postings_append_") for d in rep["removed_dirs"])
    for d in rep["removed_dirs"]:
        assert not os.path.exists(f"{index_dir}/{d}")
    assert _topk(spark, index_dir) == before
    with pytest.raises(ValueError, match="no snapshot"):
        manifest.manifest_at(spark, index_dir, vers[0])
    rep2 = manifest.expire_snapshots(spark, index_dir, keep_last=1, min_age_sec=0)
    assert rep2["expired_versions"] == [] and rep2["removed_dirs"] == []


def test_expire_snapshots_orphans_age_guard_and_unknown_dirs(spark, index_dir):
    """Orphan GC: a never-committed staging dir (crash leftover) is
    removed only past the age guard; dry_run reports without
    deleting; a plain dir no manifest mentions is never a candidate."""
    import os

    orphan = f"{index_dir}/postings_stage_deadbeef"
    os.makedirs(orphan)
    with open(f"{orphan}/part-0.parquet", "w") as f:
        f.write("x")
    aux = f"{index_dir}/lineage"  # unknown auxiliary table dir
    os.makedirs(aux)
    rep = manifest.expire_snapshots(
        spark, index_dir, keep_last=1, min_age_sec=3600
    )
    assert "postings_stage_deadbeef" in rep["kept_young_dirs"]
    assert os.path.exists(orphan)
    rep = manifest.expire_snapshots(
        spark, index_dir, keep_last=1, min_age_sec=0, dry_run=True
    )
    assert "postings_stage_deadbeef" in rep["removed_dirs"]
    assert os.path.exists(orphan)  # dry run deletes nothing
    rep = manifest.expire_snapshots(spark, index_dir, keep_last=1, min_age_sec=0)
    assert "postings_stage_deadbeef" in rep["removed_dirs"]
    assert not os.path.exists(orphan)
    assert os.path.exists(aux) and "lineage" not in rep["removed_dirs"]


def test_expire_after_purge_protects_live_subtree(spark, index_dir):
    """The purge_N subtree is the CURRENT data after a purge — expiry
    must delete the superseded top-level table dirs but recurse-
    protect the subtree the retained manifest points into."""
    import os

    from textindex_spark.build import purge_deleted

    victim = manifest.read_table(spark, index_dir, "docs").collect()[0]["url"]
    delete_docs(spark, index_dir, victim)
    assert purge_deleted(spark, index_dir) == 1
    before = _topk(spark, index_dir)
    rep = manifest.expire_snapshots(spark, index_dir, keep_last=1, min_age_sec=0)
    assert all(not d.startswith("purge_") for d in rep["removed_dirs"])
    assert "docs" in rep["removed_dirs"]  # superseded plain dirs go
    sub = [d for d in os.listdir(index_dir) if d.startswith("purge_")]
    assert len(sub) == 1 and os.path.isdir(f"{index_dir}/{sub[0]}/postings")
    assert _topk(spark, index_dir) == before


def test_write_file_atomic_loses_race_cleanly(spark, tmp_path):
    """ADVICE r2: POSIX rename overwrites, so version-race losers must
    detect the loss. Pre-existing destination → False without
    touching the winner's bytes; read-back verification guards the
    overwrite window."""
    from textindex_spark.manifest import _read_file, _write_file_atomic

    path = f"file:{tmp_path}/_manifests/v000000000001.json"
    assert _write_file_atomic(spark, path, b'{"v": 1}') is True
    # second committer at the SAME version: must report the lost race
    assert _write_file_atomic(spark, path, b'{"v": "other"}') is False
    assert _read_file(spark, path) == b'{"v": 1}'  # winner intact


def test_rebuild_invalidates_query_caches(spark, tmp_path):
    """Round-3 review: build_index overwrites table dirs in place, so
    querying, rebuilding, then querying again in one process must not
    serve dead cached file references or a stale dictionary."""
    rows = synth_corpus(140)
    out = str(tmp_path / "re")
    build_index(spark, corpus_df(spark, rows[:80]), out, range_bits=6)
    first = _topk(spark, out)  # populates frame + dictionary caches
    assert first
    build_index(spark, corpus_df(spark, rows), out, range_bits=6)
    from textindex_spark.build import read_stats
    from textindex_spark.query import cached_stats

    assert cached_stats(spark, out)["n_docs"] == read_stats(spark, out)["n_docs"]
    again = _topk(spark, out)  # must read the NEW files, no dead refs
    assert again and again != first


def test_rollback_replaces_props_for_replay_guards(spark, tmp_path):
    """Rollback must revert the free-form props WHOLESALE: a stream's
    committed batch-id replay guard (stream_batch_id) has to return
    to the target snapshot's value — and keys absent at the target
    must disappear — or a re-delivered micro-batch after rollback
    would be silently skipped as a replay."""
    from textindex_spark import manifest

    d = str(tmp_path / "idx")
    rows = synth_corpus(60)
    build_index(spark, corpus_df(spark, rows), d, range_bits=6)
    manifest.commit(spark, d, props={"stream_batch_id": 0, "stream_run_id": "ck"})
    v0 = manifest.current_manifest(spark, d)["version"]
    manifest.commit(
        spark, d, props={"stream_batch_id": 3, "dedup_batch_id": 7}
    )
    assert manifest.get_prop(spark, d, "stream_batch_id") == 3

    manifest.rollback(spark, d, v0)
    assert manifest.get_prop(spark, d, "stream_batch_id") == 0
    assert manifest.get_prop(spark, d, "stream_run_id") == "ck"
    # key committed after the target snapshot is gone, not merged
    assert manifest.get_prop(spark, d, "dedup_batch_id") is None
    # the replay guard now accepts batch 1 again (1 > committed 0)
    assert 1 > manifest.get_prop(spark, d, "stream_batch_id", -1)


def test_canon_path_file_uri_authority(tmp_path):
    """file://host/path URIs carry an authority — NOT a local path;
    stripping the scheme must not produce a cwd-relative spelling
    (os-level IO would resolve it against the driver's CWD while
    Hadoop readers resolve it against the host)."""
    d = str(tmp_path / "idx")
    import os

    os.makedirs(d, exist_ok=True)
    # local spellings collapse to one realpath
    assert (
        manifest.canon_path(d)
        == manifest.canon_path(f"file://{d}")
        == manifest.canon_path(f"file:{d}")
        == manifest.canon_path(d + "/")
    )
    # authority-carrying URI: kept verbatim (minus trailing slash),
    # never treated as relative
    assert manifest.canon_path("file://nas/share/idx/") == "file://nas/share/idx"
    assert manifest._local_path("file://nas/share/idx") is None
    assert manifest._local_path(f"file://{d}") == d
    assert manifest._local_path("relative/path") is None


def test_expire_rerun_reclaims_after_crash_between_phases(spark, index_dir):
    """Crash window (review r5): expire deletes the expired manifest
    files, then dies before its data-dir loop. The re-run can no
    longer compute the superseded set (the referencing manifests are
    gone) — plain table dirs must still be reclaimed via the
    known-table-name orphan clause, while plain dirs a retained
    manifest references stay protected."""
    import os

    append_batch(spark, corpus_df(spark, synth_corpus(160)[120:]), index_dir)
    compact_postings(spark, index_dir)
    before = _topk(spark, index_dir)
    vers = [v["version"] for v in manifest.list_versions(spark, index_dir)]
    # simulate the crash: only the expired version files are gone
    for v in vers[:-1]:
        os.remove(f"{index_dir}/_manifests/v{v:012d}.json")
    assert os.path.isdir(f"{index_dir}/postings")  # the leak
    rep = manifest.expire_snapshots(spark, index_dir, keep_last=1, min_age_sec=0)
    assert "postings" in rep["removed_dirs"]
    assert not os.path.exists(f"{index_dir}/postings")
    man = manifest.current_manifest(spark, index_dir)
    for name, rels in man["tables"].items():
        for rel in rels:
            assert os.path.exists(f"{index_dir}/{rel}"), (name, rel)
    assert _topk(spark, index_dir) == before


def test_conditional_commit_and_backfill_conflict(spark, tmp_path):
    """`commit(require_tables=)` is a conditional publish: the named
    table's dir list must be current at the version the commit lands
    on, else CommitConflict and NO new version. backfill_range_ts
    uses it so a concurrent append between its docs scan and its
    publish re-derives instead of committing a bounds table that
    silently prunes the appended ranges."""
    import glob
    import json
    import shutil

    from textindex_spark.build import backfill_range_ts, build_index
    from textindex_spark.corpus import synth_corpus
    from textindex_spark.query import _ts_allowed_ranges, invalidate_cache

    rows = synth_corpus(80, seed=11)
    out = str(tmp_path / "idx")
    build_index(spark, corpus_df(spark, rows), out, range_bits=5)

    v0 = manifest.current_manifest(spark, out)["version"]
    with pytest.raises(manifest.CommitConflict):
        manifest.commit(
            spark, out,
            set_tables={"range_ts": ["bogus_dir"]},
            require_tables={"docs": ["not", "the", "current", "dirs"]},
        )
    assert manifest.current_manifest(spark, out)["version"] == v0

    # strip range_ts (pre-upgrade shape), then backfill under a
    # first-attempt conflict: the loop must re-derive and succeed
    man_file = sorted(glob.glob(f"{out}/_manifests/v*.json"))[-1]
    man = json.loads(open(man_file).read())
    del man["tables"]["range_ts"]
    open(man_file, "w").write(json.dumps(man))
    shutil.rmtree(f"{out}/range_ts")
    invalidate_cache(out)

    real_commit = manifest.commit
    calls = {"n": 0}

    def flaky_commit(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise manifest.CommitConflict("simulated concurrent append")
        return real_commit(*a, **kw)

    import textindex_spark.build as B_mod

    orig = B_mod.manifest.commit
    B_mod.manifest.commit = flaky_commit
    try:
        n = backfill_range_ts(spark, out)
    finally:
        B_mod.manifest.commit = orig
    assert calls["n"] == 2 and n > 0
    invalidate_cache(out)
    assert _ts_allowed_ranges(
        spark, out, "ts:2025-01-01T00:00:00..2025-01-01T00:20:00"
    )

    # aborted-backfill staging dirs are expire-reclaimable (the
    # _backfill_ pattern joined _GEN_DIR_RE)
    import os

    os.makedirs(f"{out}/range_ts_backfill_v99", exist_ok=True)
    open(f"{out}/range_ts_backfill_v99/part-0.parquet", "w").close()
    rep = manifest.expire_snapshots(spark, out, keep_last=1, min_age_sec=0)
    assert "range_ts_backfill_v99" in rep["removed_dirs"]
    assert not os.path.exists(f"{out}/range_ts_backfill_v99")
