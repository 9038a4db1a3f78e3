"""Versioned-manifest table commits (Iceberg-style, FS-agnostic).

The round-1 engine swapped tables with ``shutil.rmtree`` + ``move`` —
driver-local filesystem calls that break on HDFS/S3 and lose the
postings table if the process dies between the two calls. This module
replaces them with the snapshot pattern the storage layout was always
shaped for:

* every index table (docs/postings/terms/stats/deleted) is a LIST of
  immutable data directories;
* a JSON manifest under ``{index_dir}/_manifests/v{n}.json`` maps
  table name → directory list (+ free-form props, e.g. the streaming
  sink's last committed batch id);
* readers resolve the HIGHEST manifest version (falling back to the
  plain ``{index_dir}/{table}`` layout when no manifest exists, so
  round-1 indexes stay readable);
* a writer stages new directories (never touching live ones), then
  makes them visible with ONE atomic manifest publish — create a temp
  file, ``FileSystem.rename`` it to ``v{n+1}.json``. Rename is atomic
  on HDFS and local filesystems; a crash at any earlier point leaves
  only orphan staging dirs and the old snapshot fully intact.

Multi-table operations (append = docs + postings + terms + stats,
delete = tombstones + stats) therefore commit atomically: queries see
either the old snapshot or the complete new one, never a half-applied
mix.

All filesystem access goes through the Hadoop FileSystem API of the
live SparkSession (``Path.getFileSystem``), so the same code runs on
file://, hdfs://, and s3a:// (on S3, rename is copy+delete —
non-atomic but still last-writer-wins-safe here because version file
names are unique; production would layer a conditional-put catalog).
"""
from __future__ import annotations

import json
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

MANIFEST_DIR = "_manifests"
_V_RE = re.compile(r"^v(\d{12})\.json$")

# Default (manifest-less) layout: one directory per table.
DEFAULT_TABLES = (
    "docs", "postings", "terms", "stats", "deleted", "segments", "range_ts"
)


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def _read_file(spark: SparkSession, path: str) -> bytes:
    fs, jpath, _ = _fs(spark, path)
    stream = fs.open(jpath)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def _local_path(path: str) -> str | None:
    """Local filesystem path for file:// / scheme-less paths, else
    None. A ``file://host/path`` URI with a non-empty authority is
    NOT local — stripping the scheme would leave ``host/path``, a
    cwd-relative spelling that os-level IO would resolve against the
    driver's working directory while Hadoop readers resolve it
    against ``host`` (review r4); such URIs take the Hadoop branch."""
    if path.startswith("file://"):
        p = path[len("file://"):]
        return p if p.startswith("/") else None
    if path.startswith("file:"):
        p = path[len("file:"):]
        return p if p.startswith("/") else None
    if "://" not in path:
        return path if path.startswith("/") else None
    return None


def _write_file_atomic(spark: SparkSession, path: str, data: bytes) -> bool:
    """Exclusive-create the version file. Returns False when a
    concurrent committer won the race for this destination.

    * local paths (file:// or scheme-less): temp file + ``os.link`` —
      hard-link creation FAILS if the destination exists, atomically
      at the kernel level, so mutual exclusion is exact (POSIX
      renameTo would overwrite; ADVICE r2 / round-3 review).
    * remote filesystems: temp + rename (atomic-no-overwrite on
      HDFS), then a read-back verification as a best-effort guard for
      stores whose rename can overwrite. Losing a commit there
      additionally requires two committers inside the same
      millisecond-scale window AND the loser's read-back to race the
      winner's rename; ``commit`` is also idempotent against
      re-applied adds (duplicate staged paths are skipped), so a
      spurious False → retry cannot duplicate data."""
    lp = _local_path(path)
    if lp is not None:
        import errno
        import os
        import tempfile

        os.makedirs(os.path.dirname(lp), exist_ok=True)
        fd, tmp = tempfile.mkstemp(
            prefix=".tmp-", dir=os.path.dirname(lp)
        )
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            try:
                os.link(tmp, lp)  # atomic exclusive create
                return True
            except OSError as e:
                if e.errno == errno.EEXIST:
                    return False  # lost the version race
                # hard links unsupported on this mount (overlay /
                # network / FAT raise EPERM / EOPNOTSUPP, not EEXIST):
                # fall through to the Hadoop FS rename path, which
                # works everywhere the Hadoop client does (ADVICE r3)
        finally:
            os.unlink(tmp)
    fs, jpath, jvm = _fs(spark, path)
    if fs.exists(jpath):
        return False
    tmp_j = jvm.org.apache.hadoop.fs.Path(
        jpath.getParent(), f".tmp-{uuid.uuid4().hex}"
    )
    out = fs.create(tmp_j, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    ok = fs.rename(tmp_j, jpath)
    if not ok:
        fs.delete(tmp_j, False)
        return False
    try:
        return _read_file(spark, path) == data
    except Exception:
        return False


def _exists(spark: SparkSession, path: str) -> bool:
    fs, jpath, _ = _fs(spark, path)
    return bool(fs.exists(jpath))


def current_manifest(spark: SparkSession, index_dir: str) -> dict | None:
    """Highest-version manifest, or None (legacy / fresh index)."""
    mdir = f"{index_dir}/{MANIFEST_DIR}"
    fs, jpath, _ = _fs(spark, mdir)
    if not fs.exists(jpath):
        return None
    best_n, best_name = -1, None
    for status in fs.listStatus(jpath):
        m = _V_RE.match(status.getPath().getName())
        if m and int(m.group(1)) > best_n:
            best_n, best_name = int(m.group(1)), status.getPath().getName()
    if best_name is None:
        return None
    return json.loads(_read_file(spark, f"{mdir}/{best_name}").decode("utf-8"))


def table_paths(spark: SparkSession, index_dir: str, name: str) -> list[str]:
    """Data directories for a table under the current snapshot."""
    man = current_manifest(spark, index_dir)
    if man is not None and name in man.get("tables", {}):
        return [f"{index_dir}/{rel}" for rel in man["tables"][name]]
    return [f"{index_dir}/{name}"]


def manifest_at(spark: SparkSession, index_dir: str, version: int) -> dict:
    """The manifest of a specific snapshot version (manifests are
    immutable and never garbage-collected, so every committed version
    stays readable)."""
    path = f"{index_dir}/{MANIFEST_DIR}/v{int(version):012d}.json"
    if not _exists(spark, path):
        raise ValueError(f"no snapshot v{version} at {index_dir}")
    return json.loads(_read_file(spark, path).decode("utf-8"))


def list_versions(spark: SparkSession, index_dir: str) -> list[dict]:
    """Snapshot history, ascending: [{version, tables: {name:
    n_dirs}, props}]. Empty for a manifest-less (legacy) index."""
    mdir = f"{index_dir}/{MANIFEST_DIR}"
    fs, jpath, _ = _fs(spark, mdir)
    if not fs.exists(jpath):
        return []
    versions = sorted(
        int(m.group(1))
        for status in fs.listStatus(jpath)
        if (m := _V_RE.match(status.getPath().getName()))
    )
    out = []
    for v in versions:
        man = manifest_at(spark, index_dir, v)
        out.append(
            {
                "version": v,
                "tables": {t: len(d) for t, d in man.get("tables", {}).items()},
                "props": man.get("props", {}),
            }
        )
    return out


def rollback(spark: SparkSession, index_dir: str, version: int) -> dict:
    """Roll the index back to snapshot ``version`` — Iceberg's
    rollback-to-snapshot: commits a NEW manifest whose table lists
    (and props, minus this marker) are the old version's, so history
    keeps moving forward and nothing is deleted. Sound because every
    snapshot-mutating op except a full rebuild stages NEW directories
    and never touches old ones (append/compact/delete/stream); a
    rebuild overwrites the default dirs in place, so snapshots from
    before the latest rebuild may be unreadable — callers roll back
    across append/delete/compact boundaries, which is the use case
    (undo a bad batch). Query-node caches for this index_dir are
    invalidated after the commit publishes."""
    man = manifest_at(spark, index_dir, version)
    cur = current_manifest(spark, index_dir) or {}
    props = dict(man.get("props", {}))
    props["rolled_back_from"] = int(cur.get("version", 0))
    props["rolled_back_to"] = int(version)
    tables = {t: list(d) for t, d in man.get("tables", {}).items()}
    # tables that did not exist at the target snapshot are dropped
    # (empty dir-list == dropped, see table_exists)
    for t in cur.get("tables", {}):
        tables.setdefault(t, [])
    out = commit(
        spark,
        index_dir,
        set_tables=tables,
        props=props,
        replace_props=True,
    )
    # query-node caches hold the pre-rollback snapshot's frames;
    # every other snapshot mutator invalidates after committing, and
    # rollback was the one relying on caller discipline (review r4)
    from textindex_spark import query as _q

    _q.invalidate_cache(index_dir)
    return out


# Authoritative DDL per table, used (a) to read EMPTY data dirs — an
# empty parquet write leaves no footer to infer from — and (b) to keep
# multi-dir unions column-stable. term_bucket is the postings table's
# directory-partition column.
TABLE_SCHEMAS = {
    "segments": (
        "doc_id long, url string, lang string, warc_ts timestamp, "
        "filter string, truncated boolean, doc_len long, "
        "terms array<string>, tfs array<int>, positions array<array<int>>"
    ),
    "docs": (
        "doc_id long, url string, lang string, warc_ts timestamp, "
        "filter string, truncated boolean, doc_len long"
    ),
    "postings": (
        "term string, range_id long, n_docs int, sum_tf long, max_tf int, "
        "max_tfnorm double, enc_avgdl double, doc_gaps binary, "
        "tf_bytes binary, dl_bytes binary, pos_bytes binary, term_bucket int"
    ),
    "terms": "term string, df long, cf long, max_tfnorm double, n_ranges long",
    "range_ts": (
        "range_id long, min_ts timestamp, max_ts timestamp, n_docs long"
    ),
    "deleted": "doc_id long",
}


def read_table(
    spark: SparkSession, index_dir: str, name: str, version: int | None = None
) -> DataFrame:
    """Union of the snapshot's data dirs. Each root is loaded
    separately (directory-partitioned tables like the bucketed
    postings reject multi-root discovery with
    CONFLICTING_DIRECTORY_STRUCTURES); Catalyst pushes filters below
    the Union, so partition pruning still applies per root. Known
    tables read with their explicit schema so an empty table (e.g. a
    corpus the filters fully rejected) stays readable.

    ``version`` time-travels the read to that snapshot (sound across
    append/delete/compact/stream commits — they never delete dirs;
    snapshots predating a full REBUILD may be unreadable)."""
    if version is not None:
        man = manifest_at(spark, index_dir, version)
        rels = man.get("tables", {}).get(name, [])
        if not rels:
            raise ValueError(f"table {name} absent in snapshot v{version}")
        paths = [f"{index_dir}/{rel}" for rel in rels]
    else:
        paths = table_paths(spark, index_dir, name)
    ddl = TABLE_SCHEMAS.get(name)

    def _one(p):
        return (spark.read.schema(ddl) if ddl else spark.read).parquet(p)

    df = _one(paths[0])
    for p in paths[1:]:
        df = df.unionByName(_one(p))
    return df


def table_exists(spark: SparkSession, index_dir: str, name: str) -> bool:
    man = current_manifest(spark, index_dir)
    if man is not None and name in man.get("tables", {}):
        return bool(man["tables"][name])  # empty dir-list == dropped table
    return _exists(spark, f"{index_dir}/{name}")


def get_prop(spark: SparkSession, index_dir: str, key: str, default=None):
    man = current_manifest(spark, index_dir)
    if man is None:
        return default
    return man.get("props", {}).get(key, default)


class CommitConflict(RuntimeError):
    """A conditional commit found ``require_tables`` out of date: a
    concurrent commit changed a table the caller derived its staged
    data from. Callers re-derive against the new snapshot and retry."""


def pinned(man: dict | None, *tables: str) -> dict[str, list[str]] | None:
    """``require_tables`` value pinning each named table to its dir
    list in ``man`` (the manifest the caller derived its staged data
    from); None for an index without a manifest."""
    if man is None:
        return None
    return {t: list(man["tables"].get(t, [])) for t in tables}


def commit(
    spark: SparkSession,
    index_dir: str,
    set_tables: dict[str, list[str]] | None = None,
    add_to_tables: dict[str, list[str]] | None = None,
    props: dict | None = None,
    replace_props: bool = False,
    require_tables: dict[str, list[str]] | None = None,
) -> dict:
    """Publish a new snapshot: ``set_tables`` replaces a table's
    directory list (relative paths), ``add_to_tables`` appends to it,
    ``props`` merge-updates the free-form properties
    (``replace_props=True`` substitutes them wholesale — rollback
    must not leak props committed after the target snapshot, e.g.
    stream batch-id replay guards). Retries the version race a few
    times; returns the committed manifest.

    ``require_tables`` makes the commit CONDITIONAL: each named
    table's current dir list must equal the given value at the
    version this commit lands on, else CommitConflict. Because the
    version file write is create-if-absent (a CAS), the check and the
    publish are atomic together — a derive-stage-commit caller (e.g.
    ``backfill_range_ts``, whose staged bounds must cover the WHOLE
    docs table) can prove no concurrent append/purge slipped between
    its source scan and its publish."""
    for _ in range(16):
        man = current_manifest(spark, index_dir)
        if man is None:
            tables = {
                t: [t]
                for t in DEFAULT_TABLES
                if _exists(spark, f"{index_dir}/{t}")
            }
            version, mprops = 0, {}
        else:
            tables = {k: list(v) for k, v in man.get("tables", {}).items()}
            version, mprops = int(man["version"]), dict(man.get("props", {}))
        if require_tables is not None:
            for t, want in require_tables.items():
                if tables.get(t, []) != list(want):
                    raise CommitConflict(
                        f"table {t!r} changed since the caller's source "
                        f"scan at {index_dir} (have {tables.get(t, [])}, "
                        f"derived from {list(want)})"
                    )
        for t, paths in (set_tables or {}).items():
            tables[t] = list(paths)
        for t, paths in (add_to_tables or {}).items():
            tables.setdefault(t, [t] if _exists(spark, f"{index_dir}/{t}") else [])
            # skip already-registered dirs: a commit retried after a
            # spurious failure (e.g. read-back hiccup on a remote FS
            # AFTER the rename landed) must not register the same
            # staged directory twice — that would union every row of
            # the batch into queries twice (round-3 review)
            tables[t].extend(p for p in paths if p not in tables[t])
        if replace_props:
            mprops = dict(props or {})
        else:
            mprops.update(props or {})
        new = {"version": version + 1, "tables": tables, "props": mprops}
        path = f"{index_dir}/{MANIFEST_DIR}/v{version + 1:012d}.json"
        if _write_file_atomic(
            spark, path, json.dumps(new, indent=1, sort_keys=True).encode("utf-8")
        ):
            return new
    raise RuntimeError(f"manifest commit contention at {index_dir}")


def canon_path(path: str) -> str:
    """One canonical spelling for a local path / file: URI (realpath,
    no trailing slash); non-local URIs verbatim minus trailing
    slashes. Used for stream run identities so the same checkpoint
    spelled relatively vs absolutely vs as a file: URI is ONE stream
    (review r4), mirroring query.canon_dir for cache keys."""
    p = path
    if p.startswith("file://"):
        p = p[len("file://"):]
    elif p.startswith("file:"):
        p = p[len("file:"):]
    if p is not path and not p.startswith("/"):
        # file URI with an authority (file://host/path) — not a local
        # path; keep the original spelling verbatim
        return path.rstrip("/")
    if "://" not in p:
        import os

        p = os.path.realpath(p)
    return p.rstrip("/")


def check_stream_identity(
    spark: SparkSession, state_dir: str, run_id: str | None, run_prop: str
) -> None:
    """Refuse to interpret renumbered micro-batch ids as replays when
    the state was committed by a DIFFERENT stream.

    The committed-batch-id replay guard is only sound within ONE
    stream: Structured Streaming numbers batches per checkpoint, so a
    query restarted against existing state with a NEW checkpoint (or
    a second pipeline pointed at the same state) restarts ids at 0 —
    every batch would then be silently skipped as a 'replay' until
    ids exceed the old committed id (ADVICE r3). Mirrors Spark's own
    (queryId, batchId) transaction-version pattern. ``run_id=None``
    skips the check (caller-managed ids)."""
    if run_id is None:
        return
    committed = get_prop(spark, state_dir, run_prop)
    if committed is not None and canon_path(str(committed)) != canon_path(str(run_id)):
        raise ValueError(
            f"{state_dir} was committed by stream '{committed}' but this "
            f"query runs as '{run_id}'. Batch ids are not comparable "
            "across streams; continuing would silently skip batches as "
            "replays. Reuse the original checkpoint location, or adopt "
            "the state explicitly with manifest.rebind_stream(...)."
        )


def rebind_stream(
    spark: SparkSession,
    state_dir: str,
    run_id: str,
    run_prop: str,
    batch_prop: str,
) -> None:
    """Adopt existing state under a NEW stream identity: records the
    new run id and resets the committed batch id to -1 so the new
    stream's batches (numbered from 0) are all processed. Re-ingested
    documents are handled by the sinks' own idempotency guards."""
    commit(spark, state_dir, props={run_prop: str(run_id), batch_prop: -1})


# Generated-directory name patterns of every engine writer (append /
# compact / consolidate / refit / purge / explicit staging) — the only
# names expire_snapshots may treat as never-committed orphans.
_GEN_DIR_RE = re.compile(
    r"_(stage|append|compact|consolidated|refit|backfill)_"  # staged dirs
    r"|^purge_\d+$"                                 # purge subtrees
    r"|^(deleted|stats_del)_\d+$"                   # delete-commit dirs
    r"|_b\d+_v\d+$"                                 # streaming state folds
)


def expire_snapshots(
    spark: SparkSession,
    index_dir: str,
    keep_last: int = 2,
    min_age_sec: float = 86400.0,
    dry_run: bool = False,
) -> dict:
    """Retention maintenance — Iceberg's expire-snapshots +
    remove-orphan-files for the JSON-manifest layer. Without it every
    compaction/refit/purge/append leaves its superseded data dirs on
    disk forever (time travel holds them live): at 100 TB the index
    footprint grows without bound. This call

    1. deletes manifest version files BELOW the ``keep_last`` newest
       (the current snapshot is always retained — ``keep_last`` is
       clamped to ≥ 1), then
    2. deletes data directories that the EXPIRED manifests referenced
       but no retained snapshot still does (committed and provably
       superseded — e.g. the pre-compaction postings dirs, a refit's
       old vectors), and
    3. deletes never-committed orphan staging dirs (crash leftovers)
       recognized by the generated-name patterns the engine's own
       writers use, but only when older than ``min_age_sec``
       (Iceberg's remove-orphan-files age guard, default 3 days
       there): a staging dir an in-flight concurrent writer has
       created but not yet committed is unreferenced BY DESIGN. Pass
       0 only when no other writer can be active.

    Directories are only ever deleted from these two candidate sets —
    a plain table dir no manifest mentions (the manifest-less
    fallback layout, auxiliary tables) is never a candidate, and a
    candidate with no "/" in its name is additionally skipped when
    any retained manifest lacks that table name (its reads would fall
    back to the plain dir).

    Manifests are deleted before data dirs, so a crash mid-call
    leaves orphan dirs rather than readable version files pointing at
    deleted data; a re-run removes them — generated-name dirs via the
    orphan patterns, plain table dirs via the known-table-name clause
    below (both behind the same age guard). Time travel / rollback to
    an expired version raises the normal "no snapshot" error. The
    current snapshot's reads are unaffected, so no cache
    invalidation.

    Returns {expired_versions, removed_dirs, kept_young_dirs,
    retained_versions} (with ``dry_run=True`` the same report,
    nothing deleted)."""
    import time as _time

    mdir = f"{index_dir}/{MANIFEST_DIR}"
    fs, jmdir, jvm = _fs(spark, mdir)
    if not fs.exists(jmdir):
        return {
            "expired_versions": [], "removed_dirs": [],
            "kept_young_dirs": [], "retained_versions": [],
        }
    versions = sorted(
        int(m.group(1))
        for status in fs.listStatus(jmdir)
        if (m := _V_RE.match(status.getPath().getName()))
    )
    retained = versions[-max(1, int(keep_last)):]
    expired = [v for v in versions if v not in retained]
    referenced: set[str] = set()
    retained_names: list[set[str]] = []
    known_keys: set[str] = set()
    for v in retained:
        man = manifest_at(spark, index_dir, v)
        tables = man.get("tables", {})
        retained_names.append(set(tables))
        known_keys.update(tables)
        for rels in tables.values():
            referenced.update(r.strip("/") for r in rels)
    superseded: set[str] = set()
    for v in expired:
        man = manifest_at(spark, index_dir, v)
        tables = man.get("tables", {})
        known_keys.update(tables)
        for rels in tables.values():
            superseded.update(r.strip("/") for r in rels)
    superseded -= referenced
    for v in expired:
        if not dry_run:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{mdir}/v{v:012d}.json"), False
            )

    def _live(rel: str) -> bool:
        """A retained snapshot still needs this path: referenced
        directly, an ancestor of a referenced path, or the plain dir
        of a TABLE NAME some retained manifest does not list — reads
        of that table there resolve to {index_dir}/{name} via the
        manifest-less fallback."""
        if rel in referenced or any(r.startswith(rel + "/") for r in referenced):
            return True
        return rel in known_keys and any(
            rel not in names for names in retained_names
        )

    removed: list[str] = []
    kept_young: list[str] = []
    for rel in sorted(superseded):
        if _live(rel):
            continue
        jp = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/{rel}")
        if not fs.exists(jp):
            continue
        removed.append(rel)
        if not dry_run:
            fs.delete(jp, True)
    # top-level orphans behind the age guard: never-committed staging
    # dirs (the engine's own generated-name patterns) PLUS plain dirs
    # carrying a table name every retained manifest knows but none
    # references — the leftovers of a prior expire that crashed
    # between its manifest deletion and its data-dir loop (their
    # referencing manifests are gone, so the superseded set above can
    # no longer see them; without this clause they leak forever).
    # _live still protects the manifest-less-fallback and current-dir
    # cases; the age guard protects an in-flight rebuild writing a
    # plain dir it has not committed yet.
    now_ms = _time.time() * 1000.0
    _, jroot, _ = _fs(spark, index_dir)
    for status in fs.listStatus(jroot):
        name = status.getPath().getName()
        if not status.isDirectory() or not (
            _GEN_DIR_RE.search(name) or name in known_keys
        ):
            continue
        if name in removed or _live(name):
            continue
        if (now_ms - status.getModificationTime()) / 1000.0 < min_age_sec:
            kept_young.append(name)
            continue
        removed.append(name)
        if not dry_run:
            fs.delete(status.getPath(), True)
    return {
        "expired_versions": expired,
        "removed_dirs": sorted(removed),
        "kept_young_dirs": sorted(kept_young),
        "retained_versions": retained,
    }


def next_staging_dir(index_dir: str, table: str, tag: str) -> str:
    """Deterministic staging dir name (idempotent retries overwrite
    the same staging output rather than duplicating it)."""
    return f"{index_dir}/{table}_stage_{tag}"


def rel(index_dir: str, abs_path: str) -> str:
    assert abs_path.startswith(index_dir + "/"), abs_path
    return abs_path[len(index_dir) + 1 :]
