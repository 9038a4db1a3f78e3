"""Index build: documents → docs/terms/postings/stats (+ lineage/metrics).

The Spark re-architecture of the reference's walk → load → tokenize →
merge pipeline (``/root/reference/src/proc3/threads.rs:63-168``):

    read documents table
      → Catalyst name-filter (pushdown predicate; proc3.rs:203-299)
      → mapInPandas extract+tokenize kernel (Arrow-batched; the
        per-doc tf map is the partial agg, tmp_index.rs:20-28)
      → segments table  (resumable unit; one write per partition id)
      → explode (term, tf) pairs JVM-side
      → groupBy(term, range_id)  ← THE shuffle (index2.rs:491-547's
        single-writer merge, parallelized; range_id splits hot terms
        across reducers BY CONSTRUCTION — the structural replacement
        for the reference's 256 frequency bags, word_map.rs:23-32)
      → vectorized delta-gap varint encode + block-max metadata
      → postings / terms / stats tables.

Scale notes (100 TB / 10^12 docs):
* ``range_id = doc_id >> range_bits`` bounds every shuffle group to
  2^range_bits postings regardless of term frequency — a stop-word-
  grade term with df=10^11 becomes 10^11/2^range_bits independent
  groups, so there is no hot reducer and no giant collect_list. This
  is deterministic salting aligned with the storage layout (the salt
  IS the block key), cheaper than df-estimation + two-stage merge.
* Postings are written into hash-bucketed directories
  (term_bucket = hash(term) % n_term_buckets, partitionBy) with
  term-sorted files → queries prune to their terms' directories before
  any file listing, then parquet row-group min/max stats skip within
  the bucket (Iceberg mapping: bucket(N, term) partition transform +
  sort order term, range_id). The bucket count is sized from the data:
  one bucket per TOKENS_PER_TERM_BUCKET tokens (~4 MB of postings),
  capped at 64, so a small index is one postings file instead of 64
  near-empty ones, and a 10^12-doc index keeps 64 directories of a
  few GB each.
* Per-posting doc_len is stored alongside tf (both varint), so BM25
  needs NO join against the docs table at query time — norms live in
  the posting list, as in production IR systems.
* Storage: the varint blocks sit inside zstd Parquet pages, and so does
  every other table (``session.PARQUET_CODEC``: the session setting for
  Spark writes, an argument for the pyarrow stats row). General-purpose
  page compression on top of the integer codec takes the perfbench
  seed-1 index from 711 KB under Snappy to 561 KB (postings 377 → 290
  KB, segments 280 → 233 KB). Parquet records the codec per column
  chunk, so a table may mix Snappy and zstd files; nothing migrates.
* Everything before the central shuffle is a single narrow stage
  (scan → filter → kernel → explode), fully pipelined.
"""
from __future__ import annotations

import time
from collections.abc import Iterator
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from textindex_spark import manifest
from textindex_spark.codec import encode_batch, encode_positions_batch
from textindex_spark.functions.kernels import SEGMENT_SCHEMA, extract_tokenize_batches
from textindex_spark.refimpl.filters import EXT_IGNORE, NAME_IGNORE
from textindex_spark.session import PARQUET_CODEC, local_df

K1 = 1.2
B = 0.75
RANGE_BITS_DEFAULT = 13  # 8192 docs per posting block/range

# finalize overlap gate: below this corpus size the encoded postings
# frame is persisted (MEMORY_AND_DISK) so the terms derivation runs
# CONCURRENTLY with the bucketed postings write instead of re-reading
# the written parquet afterwards — removes the last serial job in the
# finalize tail. Above the gate the write-once / column-pruned
# re-read path stays: caching a 100 TB postings set would spill it to
# local disk in full, i.e. write the data twice.
POSTINGS_OVERLAP_MAX_DOCS = 2_000_000

STATS_SCHEMA = (
    "n_docs long, avgdl double, total_tokens long, vocab_size long, "
    "range_bits long, k1 double, b double, build_sec double, "
    "n_term_buckets long"
)


@contextmanager
def job_phase(spark: SparkSession, phase: str) -> Iterator[None]:
    """Label the Spark jobs this thread launches inside the block as
    ``textindex build: <phase>`` (the UI / event-log description),
    then restore the caller's description. Job descriptions are
    thread-local, so a phase running on its own driver thread sets it
    there. The job group is never touched: callers use it to count
    and cancel their own jobs."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"textindex build: {phase}")
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def write_stats_row(spark: SparkSession, stats_dir: str, stats: dict) -> None:
    """Write the ONE-row stats table. On a local filesystem this is a
    driver-side pyarrow write — it removes an entire Spark job launch
    from the finalize/append tail (fixed ~0.2-0.4 s of driver/barrier
    latency that does not shrink with cores — part of the Amdahl term
    in the N→4N scaling measurement; the table is one row at 10^12
    docs too). Non-local URIs (HDFS/S3) fall back to the Spark
    writer. Readers (`read_stats`) use the explicit STATS_SCHEMA
    either way."""
    local = manifest._local_path(stats_dir)
    if local is None:
        local_df(spark, [stats], STATS_SCHEMA).write.mode("overwrite").parquet(
            stats_dir
        )
        return
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    _pa_types = {"long": pa.int64(), "double": pa.float64()}
    cols = {}
    for part in STATS_SCHEMA.split(", "):
        name, typ = part.split()
        val = stats.get(name)
        if val is not None:
            val = int(val) if typ == "long" else float(val)
        cols[name] = pa.array([val], type=_pa_types[typ])
    import os

    shutil.rmtree(local, ignore_errors=True)
    os.makedirs(local, exist_ok=True)
    pq.write_table(
        pa.table(cols), f"{local}/part-00000.parquet", compression=PARQUET_CODEC
    )
    open(f"{local}/_SUCCESS", "w").close()

# Postings live in hash-bucketed directories (term_bucket=K/): the
# bucket of a term is a pure function of the term string, computable
# on the driver (term_bucket_py) and in Catalyst (term_bucket_col)
# alike, so EVERY query prunes to the |query terms| matching
# directories before any file listing or scan task exists — exact
# partition pruning instead of min/max range pruning. It also removes
# the RangePartitioner sampling pass that repartitionByRange ran over
# the encoded postings (measured: an extra ~40% on the postings write
# at local[32]). The layout maps 1:1 onto Iceberg bucket(N, term)
# partition transforms.
#
# Sizing rule: n_term_buckets = min(64, ceil(total_tokens / 2^20)).
# Postings encode at ~3.5 bytes per token, so a bucket holds ~4 MB
# once the index is big enough to fill one, and the count stops at 64
# (an index of 64 × 2^20 tokens or more has 64 directories). Below
# that every bucket is one file, and per-file parquet overhead
# dominated: with 64 buckets a 1,337-doc, 107k-token index wrote 64
# postings files, 655 KB in all, for rows that take 378 KB as one
# file. The count is stored in stats.n_term_buckets, and every
# reader, append and compaction takes it from there; rows without it
# (indexes built before the sizing rule) read as
# N_TERM_BUCKETS_DEFAULT.
N_TERM_BUCKETS_DEFAULT = 64
TOKENS_PER_TERM_BUCKET = 1 << 20


def n_term_buckets_for(total_tokens: int) -> int:
    """Postings bucket count for an index of ``total_tokens`` tokens
    (the sizing rule above)."""
    per = TOKENS_PER_TERM_BUCKET
    return min(N_TERM_BUCKETS_DEFAULT, max(1, -(-int(total_tokens) // per)))


def term_bucket_col(term: Column, n_buckets: int) -> Column:
    """Catalyst term → bucket: md5-hex-prefix 60-bit hash mod N (the
    same construction as ops.dedup.portable_hash60, reproducible in
    DuckDB and in plain Python — see term_bucket_py)."""
    return F.pmod(
        F.conv(F.substring(F.md5(term), 1, 15), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("int")


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of term_bucket_col (bit-identical)."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:15], 16) % n_buckets


def write_postings_bucketed(
    postings: DataFrame, path: str, nparts: int, n_buckets: int
) -> None:
    """One shuffle keyed (term_bucket, range_id>>6) — co-locates each
    bucket (few files per directory) while still splitting a huge
    bucket across tasks by doc-id range — then term-sorted files under
    partitionBy(term_bucket). No sampling job, no global sort."""
    (
        postings.withColumn("term_bucket", term_bucket_col(F.col("term"), n_buckets))
        .repartition(nparts, "term_bucket", F.shiftright(F.col("range_id"), 6))
        .sortWithinPartitions("term", "range_id")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(path)
    )

POSTING_SCHEMA = (
    "term string, range_id long, n_docs int, sum_tf long, max_tf int, "
    "max_tfnorm double, enc_avgdl double, "
    "doc_gaps binary, tf_bytes binary, dl_bytes binary, pos_bytes binary"
)

# docs-table projection of a segments frame (manifest.TABLE_SCHEMAS
# keeps the authoritative DDL; warc_ts rides along for ts-scoped
# retrieval — older on-disk docs tables without the column read as
# null through the explicit read schema)
DOC_COLS = (
    "doc_id", "url", "lang", "warc_ts", "filter", "truncated", "doc_len"
)


def range_ts(docs: DataFrame, range_bits: int) -> DataFrame:
    """Per-posting-range crawl-time bounds over a docs-shaped frame:
    (range_id, min_ts, max_ts, n_docs), range_id = doc_id >>
    range_bits. The ts-scope range-pruning metadata — the time analog
    of the per-block max-score bounds."""
    return (
        docs.groupBy(
            F.shiftright(F.col("doc_id"), range_bits).alias("range_id")
        ).agg(
            F.min("warc_ts").alias("min_ts"),
            F.max("warc_ts").alias("max_ts"),
            F.count("*").alias("n_docs"),
        )
    )


def name_filter_predicate(url: Column) -> Column:
    """Catalyst (pushdown-able) form of the reference name filter
    (proc3.rs:203-299): lowercased last path component; extension =
    suffix after the last '.' when a non-empty stem exists."""
    name = F.lower(F.element_at(F.split(url, "/"), -1))
    ext = F.regexp_extract(name, r"^.+\.([^.]*)$", 1)
    return ~ext.isin(*sorted(EXT_IGNORE)) & ~name.isin(*sorted(NAME_IGNORE))


def mint_doc_ids(documents: DataFrame, base: int = 0) -> DataFrame:
    """Assign dense doc_ids (base, base+1, ...) without a global sort.

    Two-pass partition-offset scheme (the distributed replacement for
    ``Window.orderBy(url)``, whose unpartitioned window funnels every
    row through ONE task — a non-starter at 10^12 docs):

    1. sortWithinPartitions("url") — narrow, parallel; same-site urls
       inside a partition become adjacent (and globally adjacent when
       the corpus arrives host-batched, as crawls do). Measured effect
       (BASELINE.md r4): postings BYTES are unchanged on the bench
       corpus (every delta-gap fits one varint byte either way); the
       real win is that site-correlated terms concentrate into few
       doc-id ranges, which block-max pruning then skips (−85%
       candidate docs on the rare+hot OR query) — locality for the
       pruner, in the spirit of "Document Reordering for Faster
       Intersection" (VLDB 2019), not compression.
    2. ``monotonically_increasing_id()`` over that order gives
       (partition_id << 33 | local_ordinal) JVM-side.
    3. A cheap column-pruned pass collects per-partition counts
       (one row per partition) → cumulative offsets on the driver.
    4. doc_id = offset[partition_id] + local_ordinal via a broadcast
       join against the tiny offsets table.

    Both passes recompute the same deterministic narrow lineage
    (parquet scan split order + per-partition sort), so ordinals are
    stable between them — the same contract Spark's own
    ``zipWithIndex`` relies on. That precondition is now ENFORCED, not
    assumed (VERDICT/ADVICE r2): the assignment pass left-joins the
    counted offsets and raises at execution time if the second pass
    sees a partition id the counts pass never saw, or more rows in a
    partition than were counted. Any row migration between the two
    passes (nondeterministic upstream: sample(), AQE-coalesced
    round-robin, a task retry with different splits) conserves the
    total, so some partition must gain a row — tripping one of the
    two checks instead of silently minting colliding/skipped ids.
    The check is a per-row Catalyst conditional fused into the doc_id
    projection — no extra pass, no shuffle.
    """
    spark = documents.sparkSession
    mids = documents.sortWithinPartitions("url").withColumn(
        "_mid", F.monotonically_increasing_id()
    )
    # counts come from the UNSORTED input: partition membership is
    # unchanged by the intra-partition sort (spark_partition_id here
    # equals monotonically_increasing_id's partition index in the
    # assignment pass), so the counts job skips the sort entirely —
    # one full per-partition sort per build instead of two (r4). Any
    # mismatch a nondeterministic source could still introduce trips
    # the fused invariant check below.
    counts = (
        documents.select(F.spark_partition_id().alias("_pid"))
        .groupBy("_pid")
        .agg(F.count("*").alias("_cnt"))
        .collect()
    )
    offsets, acc = [], int(base)
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((int(r["_pid"]), acc, int(r["_cnt"])))
        acc += int(r["_cnt"])
    off_df = local_df(
        spark, offsets or [(0, base, 0)], "_pid long, _off long, _cnt long"
    )
    ordinal = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
    checked_id = F.when(
        F.col("_off").isNotNull() & (ordinal < F.col("_cnt")),
        F.col("_off") + ordinal,
    ).otherwise(
        F.raise_error(
            F.lit(
                "mint_doc_ids: partition layout changed between the counts "
                "pass and the assignment pass (nondeterministic input — "
                "e.g. sample()/round-robin repartition upstream). Persist "
                "or materialize the input before minting."
            )
        ).cast("long")
    )
    return (
        mids.withColumn("_pid", F.shiftright("_mid", 33))
        .join(F.broadcast(off_df), "_pid", "left")
        .withColumn("doc_id", checked_id)
        .drop("_mid", "_pid", "_off", "_cnt")
    )


def normalize_input(documents: DataFrame) -> DataFrame:
    """Accept either the input_hint shape (url, warc_ts, html, text,
    lang [, doc_id]) or the driver testdata shape (doc_id, text, lang,
    source, n_chars) and produce (doc_id, url, html, text, lang,
    warc_ts). ``warc_ts`` (crawl fetch time) is carried into the docs
    table for ts-scoped retrieval and date-histogram facets; inputs
    without it get a null timestamp."""
    cols = set(documents.columns)
    if "url" not in cols:
        documents = documents.withColumn(
            "url",
            F.concat(
                F.lit("doc://"),
                F.coalesce(F.col("source"), F.lit("src")) if "source" in cols else F.lit("src"),
                F.lit("/"),
                F.col("doc_id").cast("string"),
                F.lit(".txt"),
            ),
        )
    if "html" not in cols:
        documents = documents.withColumn("html", F.lit(None).cast("binary"))
    if "text" not in cols:
        documents = documents.withColumn("text", F.lit(None).cast("string"))
    if "lang" not in cols:
        documents = documents.withColumn("lang", F.lit(""))
    if "warc_ts" not in cols:
        documents = documents.withColumn(
            "warc_ts", F.lit(None).cast("timestamp")
        )
    if "doc_id" not in cols:
        documents = mint_doc_ids(documents)
    return documents.select(
        "doc_id", "url", "html", "text", "lang", "warc_ts"
    )


def tokenize_segments(documents: DataFrame) -> DataFrame:
    """documents → segment rows (one per indexed doc, with parallel
    terms/tfs arrays). Narrow, fully pipelined stage."""
    return documents.filter(name_filter_predicate(F.col("url"))).mapInPandas(
        extract_tokenize_batches, SEGMENT_SCHEMA
    )


def _encode_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if len(pdf) == 0:
            continue
        doc_lists = [np.asarray(a, dtype=np.int64) for a in pdf["doc_ids"]]
        tf_lists = [np.asarray(a, dtype=np.int64) for a in pdf["tfs"]]
        dl_lists = [np.asarray(a, dtype=np.int64) for a in pdf["dls"]]
        bases = (pdf["range_id"].values.astype(np.int64)) << pdf["range_bits"].iat[0]
        enc = encode_batch(doc_lists, bases, [tf_lists, dl_lists])
        pos_bytes = encode_positions_batch(
            [[np.asarray(p, dtype=np.int64) for p in docs] for docs in pdf["poss"]]
        )
        yield pd.DataFrame(
            {
                "term": pdf["term"],
                "range_id": pdf["range_id"],
                "n_docs": pdf["n_docs"],
                "sum_tf": pdf["sum_tf"],
                "max_tf": pdf["max_tf"],
                "max_tfnorm": pdf["max_tfnorm"],
                "enc_avgdl": pdf["enc_avgdl"],
                "doc_gaps": [e[0] for e in enc],
                "tf_bytes": [e[1] for e in enc],
                "dl_bytes": [e[2] for e in enc],
                "pos_bytes": pos_bytes,
            }
        )


def build_postings(
    segments: DataFrame, avgdl: float, range_bits: int = RANGE_BITS_DEFAULT
) -> DataFrame:
    """segments → encoded posting blocks. One shuffle, keyed
    (term, range_id)."""
    pairs = (
        segments.select(
            "doc_id",
            "doc_len",
            F.explode(F.arrays_zip("terms", "tfs", "positions")).alias("p"),
        )
        .select(
            F.col("p.terms").alias("term"),
            F.col("p.tfs").cast("long").alias("tf"),
            F.col("p.positions").alias("pos"),
            "doc_id",
            "doc_len",
        )
        .withColumn("range_id", F.shiftright("doc_id", range_bits))
    )
    avgdl = float(avgdl) or 1.0
    tfnorm = (
        F.col("tf")
        * (K1 + 1.0)
        / (F.col("tf") + K1 * (1.0 - B + B * F.col("doc_len") / F.lit(avgdl)))
    )
    grouped = (
        pairs.withColumn("tfnorm", tfnorm)
        .groupBy("term", "range_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "tf", "doc_len", "pos"))
            ).alias("pl"),
            F.count("*").cast("int").alias("n_docs"),
            F.sum("tf").alias("sum_tf"),
            F.max("tf").cast("int").alias("max_tf"),
            F.max("tfnorm").alias("max_tfnorm"),
        )
        .select(
            "term",
            "range_id",
            "n_docs",
            "sum_tf",
            "max_tf",
            "max_tfnorm",
            F.col("pl.doc_id").alias("doc_ids"),
            F.col("pl.tf").alias("tfs"),
            F.col("pl.doc_len").alias("dls"),
            F.col("pl.pos").alias("poss"),
            F.lit(range_bits).alias("range_bits"),
            # the avgdl the block-max metadata was computed under; the
            # pruner falls back to the avgdl-free bound when the live
            # avgdl has drifted (incremental appends change it)
            F.lit(avgdl).alias("enc_avgdl"),
        )
    )
    return grouped.mapInPandas(_encode_kernel, POSTING_SCHEMA)


def terms_from_postings(postings: DataFrame) -> DataFrame:
    """Dictionary stats from block rows (cheap agg over blocks, never
    over raw postings)."""
    return postings.groupBy("term").agg(
        F.sum("n_docs").alias("df"),
        F.sum("sum_tf").alias("cf"),
        F.max("max_tfnorm").alias("max_tfnorm"),
        F.count("*").alias("n_ranges"),
    )


def build_index(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    range_bits: int = RANGE_BITS_DEFAULT,
    write_partitions: int | None = None,
    extra_props: dict | None = None,
) -> dict:
    """Full single-shot build. Returns the stats row as a dict.
    (``build_index_resumable`` is the checkpointed variant.)
    ``extra_props`` ride the snapshot-publishing commit itself —
    streaming bootstrap records its batch-id replay guard atomically
    with the data, leaving no window where the index exists but the
    guard doesn't."""
    t0 = time.time()
    with job_phase(spark, "segments"):
        segments = tokenize_segments(normalize_input(documents))
        segments.write.mode("overwrite").parquet(f"{out_dir}/segments")
    return finalize_index(
        spark, out_dir, range_bits, write_partitions, t0, extra_props
    )


def finalize_index(
    spark: SparkSession,
    out_dir: str,
    range_bits: int = RANGE_BITS_DEFAULT,
    write_partitions: int | None = None,
    t0: float | None = None,
    extra_props: dict | None = None,
    publish: bool = True,
) -> dict:
    """Phase 2: segments → docs/stats/postings/terms. Reads the
    segments table (column-pruned per consumer) so extraction runs
    exactly once regardless of how many segment partitions were
    written. ``publish=False`` builds the tables but skips the
    manifest commit + cache invalidation — for callers that stage the
    subtree and register it in an OUTER index's commit
    (``purge_deleted``), where a nested manifest would make the
    staging dir masquerade as an independent live index."""
    t0 = t0 or time.time()
    seg = spark.read.schema(manifest.TABLE_SCHEMAS["segments"]).parquet(
        f"{out_dir}/segments"
    )
    docs = seg.select(*DOC_COLS)
    # The docs write is independent of the postings chain (both read
    # only the segments table), so it runs on a driver thread while
    # the stats agg + postings shuffle proceed — Spark schedules jobs
    # submitted from separate threads concurrently, removing the
    # serial job barrier (fixed latency that does NOT shrink with
    # cores — the Amdahl term in the N→4N scaling measurement). An
    # InheritableThread carries the caller's job group (and other local
    # properties) to the thread's jobs, so a caller's cancelJobGroup or
    # per-group job count reaches them too.
    from pyspark import InheritableThread

    docs_err: list[BaseException] = []

    def _write_docs() -> None:
        try:
            with job_phase(spark, "docs"):
                docs.write.mode("overwrite").parquet(f"{out_dir}/docs")
            # per-range crawl-time bounds (doc_id >> range_bits is the
            # posting-block key): a ts-scoped query prunes posting
            # ranges whose [min_ts, max_ts] misses its window BEFORE
            # any decode — on a time-ordered crawl (the common ingest
            # order) a narrow window skips almost every range. Nulls
            # are ignored by min/max, so an all-null range carries
            # null bounds and is prunable by every window (null
            # warc_ts never matches a ts scope). Aggregated from the
            # just-written docs table — a 2-column scan of the small
            # table, not a second pass over the segments lineage —
            # still on the already-overlapped docs thread.
            written = spark.read.schema(
                manifest.TABLE_SCHEMAS["docs"]
            ).parquet(f"{out_dir}/docs")
            with job_phase(spark, "range_ts"):
                range_ts(written, range_bits).write.mode("overwrite").parquet(
                    f"{out_dir}/range_ts"
                )
        except BaseException as e:  # surfaced after join()
            docs_err.append(e)

    docs_job = InheritableThread(_write_docs, daemon=True)
    docs_job.start()

    with job_phase(spark, "stats"):
        stats_row = seg.agg(
            F.count("*").alias("n_docs"),
            F.avg("doc_len").alias("avgdl"),
            F.sum("doc_len").alias("total_tokens"),
        ).collect()[0]
    n_docs = stats_row["n_docs"] or 0
    avgdl = float(stats_row["avgdl"] or 0.0)
    total_tokens = int(stats_row["total_tokens"] or 0)
    n_buckets = n_term_buckets_for(total_tokens)

    postings = build_postings(seg, avgdl, range_bits)
    nparts = write_partitions or max(1, postings.sparkSession.sparkContext.defaultParallelism)
    # Small/medium corpora: persist the encoded blocks and let the
    # bucketed write run on a driver thread while the terms agg below
    # consumes the same cached frame — the two jobs share one
    # materialization and the finalize tail loses its last serial
    # stage. Large corpora keep write-once + column-pruned re-read
    # (see POSTINGS_OVERLAP_MAX_DOCS).
    overlap = 0 < n_docs <= POSTINGS_OVERLAP_MAX_DOCS
    postings_err: list[BaseException] = []
    postings_job: InheritableThread | None = None
    if overlap:
        from pyspark import StorageLevel

        postings = postings.persist(StorageLevel.MEMORY_AND_DISK)

        def _write_postings() -> None:
            try:
                with job_phase(spark, "postings"):
                    write_postings_bucketed(
                        postings, f"{out_dir}/postings", nparts, n_buckets
                    )
            except BaseException as e:  # surfaced after join()
                postings_err.append(e)

        postings_job = InheritableThread(_write_postings, daemon=True)
        postings_job.start()
        postings_df = postings
    else:
        with job_phase(spark, "postings"):
            write_postings_bucketed(
                postings, f"{out_dir}/postings", nparts, n_buckets
            )
        postings_df = spark.read.schema(manifest.TABLE_SCHEMAS["postings"]).parquet(
            f"{out_dir}/postings"
        )
    # vocab_size rides on the terms WRITE as an observed metric — no
    # separate re-read + count() job (VERDICT r3 task 6). The observe
    # sits ABOVE the range exchange: below it, repartitionByRange's
    # sampling pass would execute the metrics node twice and double
    # the count.
    from pyspark.sql import Observation

    obs = Observation("vocab")
    terms = terms_from_postings(postings_df)
    try:
        with job_phase(spark, "terms"):
            (
                terms.repartitionByRange(max(1, nparts // 4), "term")
                .sortWithinPartitions("term")
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .write.mode("overwrite")
                .parquet(f"{out_dir}/terms")
            )
        vocab_size = int(obs.get["n"] or 0)
        # the docs write ran concurrently with everything above (stats
        # agg, postings shuffle+write, terms write); it only has to be
        # durable before the manifest commit below
        docs_job.join()
        if docs_err:
            raise docs_err[0]
    finally:
        # ALWAYS drain the background postings write before leaving —
        # propagating a terms/docs failure with the daemon thread
        # still writing out_dir/postings would let a caller's retry
        # race its own overwrite against the orphan (mixed postings
        # dir under the next manifest commit), and leak the persisted
        # frame for the session.
        if postings_job is not None:
            postings_job.join()
            postings.unpersist()
    if postings_err:
        raise postings_err[0]
    stats = {
        "n_docs": int(n_docs),
        "avgdl": avgdl,
        "total_tokens": total_tokens,
        "vocab_size": int(vocab_size),
        "range_bits": range_bits,
        "k1": K1,
        "b": B,
        "build_sec": time.time() - t0,
        "n_term_buckets": n_buckets,
    }
    write_stats_row(spark, f"{out_dir}/stats", stats)
    if not publish:
        return stats
    # Publish the fresh snapshot: every table at its default dir, any
    # tombstones from a previous index generation dropped.
    manifest.commit(
        spark,
        out_dir,
        set_tables={
            "segments": ["segments"],
            "docs": ["docs"],
            "postings": ["postings"],
            "terms": ["terms"],
            "stats": ["stats"],
            "range_ts": ["range_ts"],
            "deleted": [],
        },
        props=extra_props,
    )
    # a REBUILD overwrites the default table dirs in place — unlike
    # append/compact it deletes old parquet files, so any cached
    # analyzed frames from a previous generation of this index_dir
    # would point at dead files (round-3 review)
    from textindex_spark import query as _q

    _q.invalidate_cache(out_dir)
    return stats


def read_stats(spark: SparkSession, index_dir: str) -> dict:
    return manifest.read_table(spark, index_dir, "stats").collect()[0].asDict()


def describe_index(spark: SparkSession, index_dir: str) -> dict:
    """The reference's ``stats`` command analog
    (``/root/reference/src/main.rs:285-347`` prints block/word/file
    counts of the 4 KiB blockfile): per-table row/byte/file counts of
    the current snapshot, plus the scalar stats row and manifest
    version. Byte and file counts cover data files only
    (`_data_file_sizes`), listed through the Hadoop FileSystem
    (FS-agnostic, no driver-local os.walk)."""
    out: dict = {"tables": {}}
    for t in manifest.DEFAULT_TABLES:
        if not manifest.table_exists(spark, index_dir, t):
            continue
        paths = manifest.table_paths(spark, index_dir, t)
        sizes = [n for p in paths for n in _data_file_sizes(spark, p)]
        out["tables"][t] = {
            "rows": manifest.read_table(spark, index_dir, t).count(),
            "bytes": sum(sizes),
            "files": len(sizes),
            "dirs": len(paths),
        }
    out["stats"] = read_stats(spark, index_dir)
    man = manifest.current_manifest(spark, index_dir)
    out["snapshot_version"] = int(man["version"]) if man else 0
    lineage = read_lineage(spark, index_dir)
    out["lineage_rows"] = lineage.count()
    return out


def _data_file_sizes(spark: SparkSession, path: str) -> list[int]:
    """Byte sizes of the data files under ``path``, recursively. Names
    starting with ``_`` or ``.`` (the ``_SUCCESS`` marker, checksums)
    are skipped: Spark's hidden-file rule, so the count is the files a
    scan reads."""
    fs, jpath, _ = manifest._fs(spark, path)
    if not fs.exists(jpath):
        return []
    it = fs.listFiles(jpath, True)
    sizes = []
    while it.hasNext():
        st = it.next()
        if not st.getPath().getName().startswith(("_", ".")):
            sizes.append(int(st.getLen()))
    return sizes


# ------------------------------------------------------- resumable build

LINEAGE_SCHEMA = (
    "pid int, n_docs long, n_tokens long, n_terms long, n_postings long, "
    "bytes long, wall_sec double, phase string"
)


def _dir_bytes(spark: SparkSession, path: str) -> int:
    """Recursive byte size via the Hadoop FileSystem API — works on
    file://, hdfs:// and s3a:// alike (VERDICT r2: the os.walk version
    broke on any non-local index_dir while the rest of the engine
    already used the FS API)."""
    try:
        fs, jpath, _ = manifest._fs(spark, path)
        if not fs.exists(jpath):
            return 0
        return int(fs.getContentSummary(jpath).getLength())
    except Exception as e:
        # transient FS hiccups must not fail the build over a metrics
        # column, but a silent 0 makes lineage undiagnosable (ADVICE
        # r3) — leave a trace
        import warnings

        warnings.warn(f"_dir_bytes({path}) failed ({e!r}); lineage records 0")
        return 0


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    try:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(f"{out_dir}/lineage")
    except Exception:
        return local_df(spark, [], LINEAGE_SCHEMA)


def pending_partitions(spark: SparkSession, out_dir: str, n_parts: int) -> list[int]:
    """S8 analog (threads.rs:292-301 / index2.rs:435-437): work units
    already recorded in lineage are skipped — expressed as an
    anti-join of the partition universe against lineage."""
    universe = spark.range(n_parts).select(F.col("id").cast("int").alias("pid"))
    done = read_lineage(spark, out_dir).filter(F.col("phase") == "segments").select("pid")
    return sorted(
        r["pid"] for r in universe.join(done, "pid", "left_anti").collect()
    )


def build_index_resumable(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    n_parts: int = 8,
    range_bits: int = RANGE_BITS_DEFAULT,
    write_partitions: int | None = None,
    fail_after: int | None = None,
) -> dict:
    """Checkpointed build (north_rule): the corpus is split into
    ``n_parts`` deterministic url-hash partitions; each partition's
    segment build commits independently and appends a lineage row
    with its metrics (docs/terms/postings/bytes — the north_rule
    counters). A restart recomputes only partitions absent from
    lineage. ``fail_after`` aborts after N partitions (test hook
    simulating a mid-build crash).

    At cluster scale each pid is one job over one input slice
    (partition-pruned when `documents` is bucketed/partitioned by the
    same key) and lineage becomes an Iceberg table; the local layout
    is identical in shape.
    """
    had_ids = "doc_id" in documents.columns
    documents = normalize_input(documents).withColumn(
        "pid", F.pmod(F.xxhash64("url"), F.lit(n_parts)).cast("int")
    )
    if not had_ids:
        # MINTED ids are only stable across runs if the input's scan
        # partitioning is unchanged (mint_doc_ids' zipWithIndex
        # contract). A restart with different parallelism / split
        # sizes would silently re-mint DIFFERENT ids while earlier
        # partitions committed under the old assignment — two docs
        # sharing one doc_id corrupts AND-masks and BM25 sums. Pin
        # the id↔content assignment with a one-scan fingerprint on
        # the first run and refuse to resume if it drifts (review
        # r4); inputs that carry their own doc_id skip this.
        fp = int(
            documents.agg(
                # bit_xor: order-insensitive, never overflows (ANSI-
                # safe); (doc_id, url) pairs are unique so XOR
                # cancellation cannot occur
                F.bit_xor(
                    F.xxhash64(
                        F.concat_ws(
                            "\x00", F.col("doc_id").cast("string"), F.col("url")
                        )
                    )
                )
            ).collect()[0][0]
            or 0
        )
        fp_path = f"{out_dir}/mint_fingerprint.txt"
        if manifest._exists(spark, fp_path):
            prior = int(manifest._read_file(spark, fp_path).decode("utf-8"))
            if prior != fp:
                raise RuntimeError(
                    "build_index_resumable: the minted doc_id assignment "
                    "differs from the original run's (input scan "
                    "partitioning changed — different cluster size, "
                    "maxPartitionBytes, or input layout). Resuming would "
                    "mint ids colliding with committed partitions. Rerun "
                    "with the original configuration, provide a doc_id "
                    "column, or start a fresh out_dir."
                )
        else:
            manifest._write_file_atomic(
                spark, fp_path, str(fp).encode("utf-8")
            )
    done = 0
    for pid in pending_partitions(spark, out_dir, n_parts):
        t0 = time.time()
        part_dir = f"{out_dir}/segments/pid={pid}"
        seg = tokenize_segments(documents.filter(F.col("pid") == pid).drop("pid"))
        seg.write.mode("overwrite").parquet(part_dir)
        part = spark.read.parquet(part_dir)
        m = part.agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_len").alias("n_tokens"),
            F.sum(F.size("terms")).alias("n_postings"),
        ).collect()[0]
        n_terms = part.select(F.explode("terms").alias("t")).distinct().count()
        row = [
            (
                pid,
                int(m["n_docs"] or 0),
                int(m["n_tokens"] or 0),
                int(n_terms),
                int(m["n_postings"] or 0),
                _dir_bytes(spark, part_dir),
                time.time() - t0,
                "segments",
            )
        ]
        local_df(spark, row, LINEAGE_SCHEMA).write.mode("append").parquet(
            f"{out_dir}/lineage"
        )
        done += 1
        if fail_after is not None and done >= fail_after:
            raise RuntimeError(f"simulated failure after {done} partitions")
    return finalize_index(spark, out_dir, range_bits, write_partitions)


def append_batch(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    extra_props: dict | None = None,
    replace_by_url: bool = False,
) -> dict:
    """Incremental indexing (the reference's re-run-and-skip model,
    S7/S8, made a first-class operation): index NEW documents into an
    existing index WITHOUT touching existing posting blocks.

    ``replace_by_url=True`` is the re-crawl upsert: live docs whose
    url matches an incoming url are tombstoned in the SAME atomic
    manifest commit that publishes the new postings — readers never
    see both versions, and a crash before the commit leaves the old
    snapshot intact. Incoming urls should be unique per batch (run
    `ops.urls.latest_snapshots` upstream for multi-snapshot input);
    if several incoming rows share a url they are all indexed and
    only pre-existing versions are tombstoned.

    Why this is cheap here: new docs receive doc_ids above the current
    maximum, so their (term, range_id) block rows either land in brand
    new ranges or ADD rows next to existing ones — the postings table
    is an append-only set of block rows (a (term, range) key may own
    several rows; decode/score handle that transparently, and the
    pruner's per-row upper bounds stay valid). Only the small
    dictionary/stats tables are recomputed (an agg over block rows).
    avgdl drift is handled at query time via ``enc_avgdl`` (stale
    block-max bounds are replaced by the avgdl-free bound).

    Atomicity: every output (segment part, docs part, postings part,
    new terms/stats versions) is STAGED under directories named by the
    batch's base doc_id, then published with one manifest commit
    (``textindex_spark.manifest``). A crash or retry before the commit
    leaves the live snapshot untouched and re-stages the exact same
    directories, so the operation is idempotent end to end.

    The commit is conditional on the stats table the batch was staged
    against: its postings are bucketed under that row's
    n_term_buckets, which a concurrent consolidation may change
    (manifest.CommitConflict then; a retry re-stages under the new
    count).
    """
    # manifest BEFORE stats: a stats change landing between the two
    # reads then fails the conditional commit below instead of
    # slipping through it
    man = manifest.current_manifest(spark, out_dir)
    stats = read_stats(spark, out_dir)
    range_bits = int(stats["range_bits"])
    old_docs = manifest.read_table(spark, out_dir, "docs")
    old_max = old_docs.agg(F.max("doc_id")).collect()[0][0]
    old_max = -1 if old_max is None else int(old_max)
    cols = set(documents.columns)
    if "doc_id" not in cols:
        documents = mint_doc_ids(documents, base=old_max + 1)
    documents = normalize_input(documents)
    bad = documents.filter(F.col("doc_id") <= old_max).limit(1).count()
    if bad:
        raise ValueError("append_batch requires doc_ids above the current max")

    base = old_max + 1
    # staging tag = base doc_id + CURRENT manifest version (ADVICE r2:
    # base alone collides when a committed append contained zero
    # surviving docs — old_max unchanged → same dir names → the next
    # append overwrote live data dirs and double-registered the path).
    # A crash-and-retry before the commit re-derives the same tag
    # (version unchanged) and overwrites its own staging, keeping the
    # operation idempotent; any successful commit bumps the version.
    tag = f"{base}_v{int(man['version']) if man else 0}"
    seg_dir = f"{out_dir}/segments_append_{tag}"
    docs_dir = f"{out_dir}/docs_append_{tag}"
    postings_dir = f"{out_dir}/postings_append_{tag}"
    terms_dir = f"{out_dir}/terms_append_{tag}"
    stats_dir = f"{out_dir}/stats_append_{tag}"
    dead_dir = f"{out_dir}/deleted_append_{tag}"

    tokenize_segments(documents).write.mode("overwrite").parquet(seg_dir)
    new_seg = spark.read.schema(manifest.TABLE_SCHEMAS["segments"]).parquet(seg_dir)

    new_seg.select(*DOC_COLS).write.mode("overwrite").parquet(docs_dir)
    # crawl-time range bounds for the appended rows. ONLY when the
    # base index already has the table: a base built before range_ts
    # existed has no rows for its own ranges, and a partial table
    # would prune live base ranges (query-side pruning trusts the
    # table to be complete). A range straddling base+append owns a
    # row in each dir; the query loader aggregates min/max per range.
    rts_dir = f"{out_dir}/range_ts_append_{tag}"
    # table_exists, not table_paths: a manifest lacking the key
    # entirely (pre-upgrade base) would get paths()'s phantom default
    # dir and stage a table covering ONLY the appended ranges — the
    # partial-table hazard this gate exists to prevent
    has_range_ts = manifest.table_exists(spark, out_dir, "range_ts")
    if has_range_ts:
        range_ts(
            spark.read.schema(manifest.TABLE_SCHEMAS["docs"]).parquet(docs_dir),
            range_bits,
        ).write.mode("overwrite").parquet(rts_dir)
    # stats must count LIVE docs only: the docs table keeps tombstoned
    # rows (queries anti-join the `deleted` table), so an append after
    # a delete would otherwise resurrect the dead docs in
    # n_docs/avgdl and drift every BM25 idf (r4 close-out fix —
    # old_max above still ranges over ALL ever-minted ids so doc_ids
    # are never reused)
    live_old = old_docs
    if manifest.table_paths(spark, out_dir, "deleted"):
        dead = (
            manifest.read_table(spark, out_dir, "deleted")
            .select("doc_id")
            .distinct()
        )
        live_old = old_docs.join(dead, "doc_id", "left_anti")
    victims = None
    if replace_by_url:
        # re-crawl upsert: pre-existing live versions of incoming urls
        # are tombstoned in the same commit that adds the new docs
        incoming_urls = (
            spark.read.schema(manifest.TABLE_SCHEMAS["docs"])
            .parquet(docs_dir)
            .select("url")
            .distinct()
        )
        victims = live_old.join(incoming_urls, "url", "left_semi").select(
            "doc_id"
        )
        victims.write.mode("overwrite").parquet(dead_dir)
        victims = spark.read.parquet(dead_dir)
        if victims.limit(1).count() == 0:
            victims = None
        else:
            live_old = live_old.join(victims, "doc_id", "left_anti")
    srow = (
        live_old.select("doc_len")
        .unionByName(
            spark.read.schema(manifest.TABLE_SCHEMAS["docs"])
            .parquet(docs_dir)
            .select("doc_len")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.avg("doc_len").alias("avgdl"),
            F.sum("doc_len").alias("total_tokens"),
        )
        .collect()[0]
    )
    new_avgdl = float(srow["avgdl"] or 0.0)

    # postings: encode ONLY the new segment rows into a staged part
    # (same bucketed layout as the base table so multi-dir reads and
    # directory pruning see one homogeneous partition scheme)
    n_buckets = int(stats.get("n_term_buckets") or N_TERM_BUCKETS_DEFAULT)
    write_postings_bucketed(
        build_postings(new_seg, new_avgdl, range_bits),
        postings_dir,
        max(1, spark.sparkContext.defaultParallelism // 2),
        n_buckets,
    )

    # dictionary: cheap agg over old + staged block rows, full rewrite
    postings_df = manifest.read_table(spark, out_dir, "postings").unionByName(
        spark.read.schema(manifest.TABLE_SCHEMAS["postings"]).parquet(postings_dir)
    )
    # observe above the range exchange (see finalize_index: the
    # sampling pass would double a below-exchange count)
    from pyspark.sql import Observation

    obs = Observation("vocab_append")
    terms = terms_from_postings(postings_df)
    nparts = max(1, spark.sparkContext.defaultParallelism // 4)
    (
        terms.repartitionByRange(nparts, "term")
        .sortWithinPartitions("term")
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .parquet(terms_dir)
    )

    new_stats = dict(stats)
    new_stats.update(
        n_docs=int(srow["n_docs"]),
        avgdl=new_avgdl,
        total_tokens=int(srow["total_tokens"] or 0),
        vocab_size=int(obs.get["n"] or 0),
    )
    write_stats_row(spark, stats_dir, new_stats)

    # the ONE atomic step: everything above becomes visible together
    add = {
        "segments": [manifest.rel(out_dir, seg_dir)],
        "docs": [manifest.rel(out_dir, docs_dir)],
        "postings": [manifest.rel(out_dir, postings_dir)],
    }
    if has_range_ts:
        add["range_ts"] = [manifest.rel(out_dir, rts_dir)]
    if victims is not None:
        add["deleted"] = [manifest.rel(out_dir, dead_dir)]
    manifest.commit(
        spark,
        out_dir,
        add_to_tables=add,
        set_tables={
            "terms": [manifest.rel(out_dir, terms_dir)],
            "stats": [manifest.rel(out_dir, stats_dir)],
        },
        props={"last_append_base": base, **(extra_props or {})},
        require_tables=manifest.pinned(man, "stats"),
    )
    # invalidate the query-node caches (dictionary + analyzed frames)
    from textindex_spark import query as _q

    _q.invalidate_cache(out_dir)
    return new_stats


def backfill_range_ts(spark: SparkSession, out_dir: str) -> int:
    """Upgrade op: derive the per-range crawl-time bounds table
    (``range_ts``) for an index built before it existed, enabling
    ts-scope time pruning without a rebuild. One 2-column agg over
    the docs table → a STAGED versioned dir → one atomic manifest
    commit (idempotent: a retry re-stages the same version-tagged dir;
    a crash before the commit leaves the snapshot untouched). Returns
    the number of range rows written; no-op (0) when the current
    snapshot already carries the table. Concurrent-append safe: the
    publish is a conditional commit on the docs dir list the bounds
    were derived from (manifest.CommitConflict → re-derive)."""
    stats = read_stats(spark, out_dir)
    for _ in range(5):
        if manifest.table_exists(spark, out_dir, "range_ts"):
            return 0
        man = manifest.current_manifest(spark, out_dir)
        tag = int(man["version"]) if man else 0
        rts_dir = f"{out_dir}/range_ts_backfill_v{tag}"
        docs = manifest.read_table(spark, out_dir, "docs")
        range_ts(docs, int(stats["range_bits"])).write.mode(
            "overwrite"
        ).parquet(rts_dir)
        n = spark.read.schema(manifest.TABLE_SCHEMAS["range_ts"]).parquet(
            rts_dir
        ).count()
        try:
            # CONDITIONAL commit: the staged bounds must cover the
            # WHOLE docs table, so the publish requires the docs dir
            # list it was derived from to still be current — a
            # concurrent append/purge between the scan and the commit
            # raises CommitConflict and the loop re-derives against
            # the new snapshot (a partial bounds table would silently
            # prune the ranges it misses)
            manifest.commit(
                spark, out_dir,
                set_tables={"range_ts": [manifest.rel(out_dir, rts_dir)]},
                require_tables=manifest.pinned(man, "docs"),
            )
        except manifest.CommitConflict:
            continue
        from textindex_spark import query as _q

        _q.invalidate_cache(out_dir)
        return n
    raise RuntimeError(
        f"backfill_range_ts: persistent commit contention at {out_dir}"
    )


def maybe_compact(
    spark: SparkSession, out_dir: str, max_postings_dirs: int = 4
) -> int:
    """Compaction policy (the scheduled analog of the reference's
    manual maintenance): compact when the postings table has
    accumulated ≥ ``max_postings_dirs`` data directories (one per
    append batch). The trigger reads ONLY the manifest — zero Spark
    jobs when there is nothing to do — so it is safe to call after
    every append (``stream_index`` does). Returns merged key count
    (0 = not triggered or nothing split)."""
    from textindex_spark import manifest as _m

    if (
        _m.table_exists(spark, out_dir, "range_ts")
        and len(_m.table_paths(spark, out_dir, "range_ts")) >= max_postings_dirs
    ):
        # per-append bounds dirs grow like postings dirs; fold them
        # into one aggregated dir (cheap: n_ranges rows)
        _consolidate_range_ts(spark, out_dir)
    if len(_m.table_paths(spark, out_dir, "postings")) < max_postings_dirs:
        return 0
    merged = compact_postings(spark, out_dir)
    if len(_m.table_paths(spark, out_dir, "postings")) >= max_postings_dirs:
        # appends landed in disjoint doc-id ranges → no split keys for
        # compact_postings to merge, but the directory count (and the
        # per-query file-listing fan-out) still grows — fold the dirs
        # into one bucketed table
        _consolidate_postings(spark, out_dir)
    return merged


def _consolidate_range_ts(spark: SparkSession, out_dir: str) -> None:
    """Fold the range_ts table's per-append dirs into ONE aggregated
    dir (min/max per range — the same reduction the query loader does
    on the fly) and commit atomically. Conditional on the range_ts
    dir list itself: a concurrent append staging new bounds must not
    be silently dropped by the rewrite (CommitConflict → skip; the
    next maintenance call retries)."""
    man = manifest.current_manifest(spark, out_dir)
    gen = (int(man["version"]) + 1) if man else 1
    new_dir = f"{out_dir}/range_ts_compact_{gen}"
    (
        manifest.read_table(spark, out_dir, "range_ts")
        .groupBy("range_id")
        .agg(
            F.min("min_ts").alias("min_ts"),
            F.max("max_ts").alias("max_ts"),
            F.sum("n_docs").alias("n_docs"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(new_dir)
    )
    try:
        manifest.commit(
            spark, out_dir,
            set_tables={"range_ts": [manifest.rel(out_dir, new_dir)]},
            require_tables=manifest.pinned(man, "range_ts"),
        )
    except manifest.CommitConflict:
        return
    from textindex_spark import query as _q

    _q.invalidate_cache(out_dir)


def _consolidate_postings(spark: SparkSession, out_dir: str) -> None:
    """Rewrite the postings table's N data dirs as ONE bucketed dir
    (no decode — block rows pass through), re-sized to the bucket
    count of the index's current total_tokens: an index bootstrapped
    small (a stream's first batch) grows out of its one bucket here.
    The postings and a stats row carrying the new count publish in
    ONE commit, conditional on both tables' dir lists: an append that
    landed meanwhile (its postings bucketed under the old count, its
    stats row carrying it) makes the commit a CommitConflict, and
    the consolidation is skipped until the next maintenance call."""
    man = manifest.current_manifest(spark, out_dir)
    stats = read_stats(spark, out_dir)
    postings = manifest.read_table(spark, out_dir, "postings")
    gen = (int(man["version"]) + 1) if man else 1
    new_dir = f"{out_dir}/postings_consolidated_{gen}"
    stats_dir = f"{out_dir}/stats_consolidated_{gen}"
    n_buckets = n_term_buckets_for(stats.get("total_tokens") or 0)
    cols = [f.split()[0] for f in POSTING_SCHEMA.split(", ")]
    write_postings_bucketed(
        postings.select(*cols),
        new_dir,
        max(1, spark.sparkContext.defaultParallelism),
        n_buckets,
    )
    write_stats_row(spark, stats_dir, {**stats, "n_term_buckets": n_buckets})
    try:
        manifest.commit(
            spark, out_dir,
            set_tables={
                "postings": [manifest.rel(out_dir, new_dir)],
                "stats": [manifest.rel(out_dir, stats_dir)],
            },
            require_tables=manifest.pinned(man, "postings", "stats"),
        )
    except manifest.CommitConflict:
        return
    from textindex_spark import query as _q

    _q.invalidate_cache(out_dir)


def purge_deleted(spark: SparkSession, out_dir: str) -> int:
    """Physically remove tombstoned documents — the offline companion
    to the ``delete`` tombstones (Iceberg's rewrite-data-files after
    row-level deletes). Returns the number of docs purged.

    The segments table is the ingest log (extraction + tokenization
    already materialized), so purge = ONE anti-join over segments +
    the finalize phase re-derived into a staged ``purge_{gen}/``
    subtree, then one atomic manifest swap pointing every table at
    the purged dirs and dropping ``deleted``. The expensive build
    phase (HTML extract + tokenize) is never re-run; nothing touches
    the live snapshot until the commit, so a crash mid-purge leaves
    the tombstoned index intact, and the pre-purge snapshot stays
    readable (rollback-able) afterwards.

    After purge, term df/cf and the corpus stats are EXACT for the
    live corpus (tombstone-filtered queries keep n_docs/avgdl fresh
    but score with the pre-delete df), so results equal a fresh build
    over the surviving docs — test-pinned. Also consolidates
    append-accumulated segment/posting dirs as a side effect."""
    if not manifest.table_exists(spark, out_dir, "deleted"):
        return 0
    dead = manifest.read_table(spark, out_dir, "deleted").select("doc_id")
    n = dead.count()
    if n == 0:
        return 0
    stats = read_stats(spark, out_dir)
    man = manifest.current_manifest(spark, out_dir)
    gen = (int(man["version"]) + 1) if man else 1
    sub = f"purge_{gen}"
    seg = manifest.read_table(spark, out_dir, "segments")
    seg.join(F.broadcast(dead), "doc_id", "left_anti").write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/{sub}/segments")
    # publish=False: the subtree is STAGING — its tables are registered
    # in the OUTER commit below; a nested manifest would leave an
    # orphan snapshot that makes purge_N/ look like a live index
    finalize_index(
        spark,
        f"{out_dir}/{sub}",
        range_bits=int(stats["range_bits"]),
        publish=False,
    )
    tables = {
        t: [f"{sub}/{t}"]
        for t in ("segments", "docs", "postings", "terms", "stats", "range_ts")
    }
    tables["deleted"] = []
    manifest.commit(spark, out_dir, set_tables=tables)
    from textindex_spark import query as _q

    _q.invalidate_cache(out_dir)
    return n


def compact_postings(spark: SparkSession, out_dir: str) -> int:
    """Merge split block rows (a (term, range_id) key owning several
    rows after appends) back to one row per key. Returns the number of
    merged keys. Only touches affected keys; at scale this is the
    Iceberg rewrite-data-files analog scoped by a join.

    Commit protocol: the compacted table is written to a NEW versioned
    directory and published with one manifest commit — no rmtree/move,
    nothing destructive touches the live snapshot, and a crash at any
    point leaves the old postings fully readable. The publish is
    conditional (manifest.CommitConflict if the postings or stats
    tables changed meanwhile)."""
    man = manifest.current_manifest(spark, out_dir)
    postings = manifest.read_table(spark, out_dir, "postings")
    dup_keys = (
        postings.groupBy("term", "range_id").count().filter(F.col("count") > 1)
    )
    n_dup = dup_keys.count()
    if n_dup == 0:
        return 0
    stats = read_stats(spark, out_dir)
    range_bits = int(stats["range_bits"])
    avgdl = float(stats["avgdl"]) or 1.0
    split = postings.join(
        F.broadcast(dup_keys.select("term", "range_id")), ["term", "range_id"]
    )
    intact = postings.join(
        F.broadcast(dup_keys.select("term", "range_id")),
        ["term", "range_id"],
        "left_anti",
    )

    from textindex_spark.codec import decode_batch, decode_positions_batch

    def merge_kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            bases = pdf["range_id"].values.astype("int64") << range_bits
            docs, tfs, dls = decode_batch(
                list(pdf["doc_gaps"]), bases,
                [list(pdf["tf_bytes"]), list(pdf["dl_bytes"])],
            )
            poss = decode_positions_batch(list(pdf["pos_bytes"]), tfs)
            rows = []
            for i in range(len(pdf)):
                for j, (d, t, l) in enumerate(zip(docs[i], tfs[i], dls[i])):
                    rows.append(
                        (pdf["term"].iat[i], int(pdf["range_id"].iat[i]),
                         int(d), int(t), int(l),
                         poss[i][j].astype("int32"))
                    )
            yield pd.DataFrame(
                rows,
                columns=["term", "range_id", "doc_id", "tf", "doc_len", "pos"],
            )

    pairs = split.mapInPandas(
        merge_kernel,
        "term string, range_id long, doc_id long, tf long, doc_len long, "
        "pos array<int>",
    )
    tfnorm = (
        F.col("tf") * (K1 + 1.0)
        / (F.col("tf") + K1 * (1.0 - B + B * F.col("doc_len") / F.lit(avgdl)))
    )
    regrouped = (
        pairs.withColumn("tfnorm", tfnorm)
        .groupBy("term", "range_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "tf", "doc_len", "pos"))
            ).alias("pl"),
            F.count("*").cast("int").alias("n_docs"),
            F.sum("tf").alias("sum_tf"),
            F.max("tf").cast("int").alias("max_tf"),
            F.max("tfnorm").alias("max_tfnorm"),
        )
        .select(
            "term", "range_id", "n_docs", "sum_tf", "max_tf", "max_tfnorm",
            F.col("pl.doc_id").alias("doc_ids"),
            F.col("pl.tf").alias("tfs"),
            F.col("pl.doc_len").alias("dls"),
            F.col("pl.pos").alias("poss"),
            F.lit(range_bits).alias("range_bits"),
            F.lit(avgdl).alias("enc_avgdl"),
        )
    )
    merged = regrouped.mapInPandas(_encode_kernel, POSTING_SCHEMA)
    combined = intact.select(*merged.columns).unionByName(merged)
    gen = (int(man["version"]) + 1) if man else 1
    new_dir = f"{out_dir}/postings_compact_{gen}"
    nparts = max(1, spark.sparkContext.defaultParallelism)
    write_postings_bucketed(
        combined, new_dir, nparts,
        int(stats.get("n_term_buckets") or N_TERM_BUCKETS_DEFAULT),
    )
    # conditional on the postings + stats the rewrite was derived
    # from: a concurrent append's block rows must not be dropped, nor
    # a concurrent consolidation's bucket count contradicted
    manifest.commit(
        spark, out_dir,
        set_tables={"postings": [manifest.rel(out_dir, new_dir)]},
        require_tables=manifest.pinned(man, "postings", "stats"),
    )
    from textindex_spark import query as _q

    _q.invalidate_cache(out_dir)
    return int(n_dup)


def merge_indexes(
    spark: SparkSession,
    shard_dirs: list[str],
    out_dir: str,
    range_bits: int = RANGE_BITS_DEFAULT,
    on_id_conflict: str = "error",
    url_conflict: str = "keep_all",
    write_partitions: int | None = None,
) -> dict:
    """Physically merge N independently built index shards into ONE
    index — the segment-merge / force-merge analog at whole-index
    granularity, and the physical counterpart of query-time
    federation (``query.search_sharded``): a shard-per-crawl-month
    layout consolidates its cold shards without ever re-running the
    extract/tokenize kernel.

    The merged index is EXACTLY what a fresh build over the shards'
    LIVE documents would produce (parity test-pinned): each shard's
    segments table is the ingest log (the purge_deleted insight), so
    merge = union of tombstone-filtered segments → the standard
    finalize pipeline re-encoding postings at the merged range
    geometry. A merge is therefore also a purge: tombstones do not
    survive it.

    doc_id policy — ids are PRESERVED (they are the stable identity
    federation merges on). Colliding id spaces across shards:
    ``on_id_conflict="error"`` (default) raises;
    ``"remap"`` offsets each later shard's ids past the running max
    (ids then differ from the source shards; urls remain stable).

    ``url_conflict="latest"`` keeps only the newest snapshot per url
    (max (warc_ts, doc_id) — the re-crawl upsert rule) when shards
    overlap in crawl coverage; the default keeps duplicates as
    distinct docs (disjoint-corpus shards).

    Scale shape: one narrow union scan of pre-tokenized segments +
    the ONE standard (term, range_id) shuffle; the id-collision check
    is a doc_id-keyed count; "latest" adds one url-keyed groupBy.
    Nothing re-tokenizes, nothing collects.
    """
    import os as _os

    if on_id_conflict not in ("error", "remap"):
        raise ValueError(f"unknown on_id_conflict {on_id_conflict!r}")
    if url_conflict not in ("keep_all", "latest"):
        raise ValueError(f"unknown url_conflict {url_conflict!r}")
    if len(shard_dirs) < 2:
        raise ValueError("merge_indexes needs at least two shards")
    # out_dir must be a NEW index home: writing into a shard would
    # overwrite a table the lazy merge plan is still reading, and
    # writing into any existing index would silently destroy it while
    # leaving stale manifest tables (e.g. `deleted`) behind
    out_abs = _os.path.abspath(out_dir)
    for d in shard_dirs:
        if _os.path.abspath(d) == out_abs:
            raise ValueError("merge out_dir must not be one of the shards")
    if (
        manifest.current_manifest(spark, out_dir) is not None
        or _os.path.exists(_os.path.join(out_dir, "segments"))
    ):
        raise ValueError(
            f"refusing to merge into existing index at {out_dir}; "
            "pick a fresh directory"
        )
    t0 = time.time()
    segs = []
    for d in shard_dirs:
        seg = manifest.read_table(spark, d, "segments")
        if manifest.table_exists(spark, d, "deleted"):
            dead = manifest.read_table(spark, d, "deleted").select("doc_id")
            seg = seg.join(F.broadcast(dead), "doc_id", "left_anti")
        segs.append(seg)
    tagged = segs[0].select(F.col("doc_id"), F.lit(0).alias("_shard"))
    for i, s in enumerate(segs[1:], 1):
        tagged = tagged.unionByName(
            s.select(F.col("doc_id"), F.lit(i).alias("_shard"))
        )
    n_clash = (
        tagged.groupBy("doc_id")
        .agg(F.count_distinct("_shard").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    if n_clash and on_id_conflict == "error":
        raise ValueError(
            f"{n_clash} doc_ids appear in more than one shard; pass "
            "on_id_conflict='remap' to offset later shards' ids (urls "
            "stay the stable identity)"
        )
    if n_clash:
        # running range-aligned offsets: shard i's ids shift past the
        # previous shards' max, rounded up to a range boundary so the
        # shifted ids keep their within-shard block clustering
        offset = 0
        shifted = []
        step = 1 << range_bits
        for s in segs:
            shifted.append(
                s.withColumn("doc_id", F.col("doc_id") + F.lit(offset))
            )
            mx = s.agg(F.max("doc_id")).collect()[0][0] or 0
            offset = ((offset + mx) // step + 1) * step
        segs = shifted
    union = segs[0]
    for s in segs[1:]:
        union = union.unionByName(s)
    if url_conflict == "latest":
        # newest snapshot per url wins: null fetch times sort lowest,
        # doc_id breaks ts ties (the append_batch upsert rule)
        key = F.struct(
            F.coalesce(
                F.col("warc_ts").cast("double"), F.lit(float("-inf"))
            ).alias("ts"),
            F.col("doc_id").alias("id"),
        )
        # corpus-sized winner set: a url-keyed shuffle join, never a
        # broadcast (one winner row per distinct url)
        win = union.groupBy("url").agg(F.max(key).alias("_w"))
        union = union.join(
            win.select("url", F.col("_w.id").alias("doc_id")),
            ["url", "doc_id"],
            "left_semi",
        )
    union.write.mode("overwrite").parquet(f"{out_dir}/segments")
    return finalize_index(
        spark, out_dir, range_bits, write_partitions, t0
    )
