"""The two workloads and the per-layer probes of a traced run.

``build``: back-to-back full ``build_index`` runs over the url-sorted
corpus (no ``doc_id`` column, so ids are minted in url order), after
WARM_BUILDS untimed warm builds. The operation is one build.

``serve``: CLI-shaped queries (``with_urls=True``) over a prebuilt index
whose posting blocks fit the resident block cache, warmed before timing.
Families take turns (AND, OR, wildcard, fuzzy, exclude, scope, boolean,
phrase); within a family one of its queries is drawn Zipf-skewed. The
operation is one query.

A traced run (``--trace 1``) runs the same loop with spans and job
counts, then probes every layer the other workload exercises, so both
workloads report the same per-layer metrics.
"""
from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

from inputs import FAMILIES, K
from tracing import JobCounter, Tracer

RANGE_BITS = 8  # 256 docs per posting range: the ~1.35k-doc index has 6
ZIPF_S = 1.0
WARM_BUILDS = 2
# queries run before timing, cycling through the distinct queries:
# latency keeps falling for about the first 40 queries of a session
WARM_QUERIES = 40
# families whose head query checks a built index against the oracle
# (boolean and phrase reach the block and the positional paths)
CHECK_FAMILIES = ("bool", "phrase")


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Run:
    """State shared by one benchmark run: session, inputs, counters."""

    def __init__(self, spark, tracer: Tracer, inputs: dict, run_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.jobs = JobCounter(spark)
        self.inputs = inputs
        self.meta = inputs["meta"]
        self.queries = inputs["queries"]
        self.idx = os.path.join(run_dir, "index")
        self.attempted = 0
        self.failed = 0
        self.job_counts: dict[str, list[int]] = {}
        self.notes: dict = {}  # probe results and paired URL costs

    # -- bookkeeping -------------------------------------------------
    def op(self, what: str, fn):
        """Run one counted operation; an exception is a failed op, never
        the end of the run."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(f"perfbench: {what} raised:", file=sys.stderr)
            traceback.print_exc()
            return None

    def check(self, what: str, ok: bool) -> None:
        """One correctness check counted as an operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: mismatch: {what}", file=sys.stderr)

    def counted(self, label: str):
        return self.jobs.count(label, self.job_counts.setdefault(label, []))

    # -- engine calls ------------------------------------------------
    def corpus(self, name: str = "base"):
        return self.spark.read.parquet(os.path.join(self.inputs["dir"], f"{name}.parquet"))

    def build(self, traced: bool = False) -> dict:
        """One full build into a fresh directory. Traced: the same calls
        ``build_index`` makes, one span each, with the job count."""
        from textindex_spark.build import (
            build_index, finalize_index, normalize_input, tokenize_segments,
        )

        shutil.rmtree(self.idx, ignore_errors=True)
        if not traced:
            return build_index(self.spark, self.corpus(), self.idx, range_bits=RANGE_BITS)
        t = self.tracer
        with t.span("build.index"), self.counted("build"):
            t0 = time.time()
            with t.span("build.segments"):
                segments = tokenize_segments(normalize_input(self.corpus()))
                segments.write.mode("overwrite").parquet(f"{self.idx}/segments")
            with t.span("build.finalize"):
                return finalize_index(self.spark, self.idx, RANGE_BITS, t0=t0)

    def search(self, q: dict, with_urls: bool = True) -> list:
        from textindex_spark.boolquery import search_bool
        from textindex_spark.query import search, search_phrase

        a = q["args"]
        if q["kind"] == "bool":
            df = search_bool(self.spark, self.idx, a["query"], k=K, with_urls=with_urls)
        elif q["kind"] == "phrase":
            df = search_phrase(self.spark, self.idx, a["words"], k=K, with_urls=with_urls)
        else:
            df = search(
                self.spark, self.idx, a["patterns"], k=K,
                mode=a.get("mode", "and"), prune=a.get("prune", False),
                exclude=a.get("exclude"), scope=a.get("scope"),
                with_urls=with_urls,
            )
        return df.collect()

    def index_bytes(self) -> int:
        """On-disk bytes of every table the live snapshot publishes."""
        from textindex_spark import manifest

        man = manifest.current_manifest(self.spark, self.idx)
        total = 0
        for rels in man["tables"].values():
            for rel in rels:
                for root, _, files in os.walk(os.path.join(self.idx, rel)):
                    total += sum(
                        os.path.getsize(os.path.join(root, f))
                        for f in files if not f.startswith((".", "_"))
                    )
        return total

    # -- correctness -------------------------------------------------
    def check_topk(self, q: dict, rows, expected_key: str = "expected") -> None:
        if rows is None:
            return  # already counted as a failed op
        exp = q[expected_key]
        got = [(r["url"], r["score"]) for r in rows]
        ok = len(got) == len(exp) and all(
            u == eu and abs(s - es) <= 1e-6 * max(1.0, abs(es))
            for (u, s), (eu, es) in zip(got, exp)
        )
        self.check(f"{q['family']} {q['args']} top-{K}", ok)

    def check_build(self, stats: dict) -> None:
        self.check("indexed doc count", stats["n_docs"] == self.meta["oracle_n_docs"])
        self.check("vocabulary size", stats["vocab_size"] == self.meta["oracle_vocab_size"])

    def family_heads(self, families=FAMILIES) -> list[dict]:
        """The first query of each family."""
        return [next(q for q in self.queries if q["family"] == f) for f in families]


def zipf_stream(queries: list[dict], seed: int):
    """Endless query stream: families take turns; within a family the
    query is drawn with weight 1/rank^s over a seed-shuffled ranking."""
    rng = random.Random(seed)
    by_family = {f: [q for q in queries if q["family"] == f] for f in FAMILIES}
    for qs in by_family.values():
        rng.shuffle(qs)
    weights = {
        f: [1.0 / (r + 1) ** ZIPF_S for r in range(len(qs))]
        for f, qs in by_family.items()
    }
    i = 0
    while True:
        f = FAMILIES[i % len(FAMILIES)]
        yield rng.choices(by_family[f], weights[f])[0]
        i += 1


# -- workloads -------------------------------------------------------

def setup_build(run: Run) -> None:
    """The first builds after session start are slower (worker start,
    JIT, first-touch pages: about 4x, then 1.4x the steady build time):
    run WARM_BUILDS of them untimed."""
    for _ in range(WARM_BUILDS):
        stats = run.op("warm build", run.build)
        if stats is not None:
            run.check_build(stats)


def loop_build(run: Run, seconds: float) -> dict:
    """Back-to-back builds until ``seconds`` have passed. Traced runs
    alternate traced and untraced builds (the difference is the tracing
    overhead)."""
    walls, docs, traced_walls = [], [], []
    stats = None
    deadline = time.perf_counter() + seconds
    min_builds = 2 if run.tracer.enabled else 1  # a traced run needs one of each
    i = 0
    while i < min_builds or time.perf_counter() < deadline:
        traced = run.tracer.enabled and i % 2 == 1
        i += 1
        t0 = time.perf_counter()
        out = run.op("build", lambda: run.build(traced=traced))
        dt = time.perf_counter() - t0
        if out is None:
            continue
        stats = out
        (traced_walls if traced else walls).append(dt)
        docs.append(out["n_docs"])
    if stats is not None:
        run.check_build(stats)
    for q in run.family_heads(CHECK_FAMILIES):
        run.check_topk(q, run.op("check query", lambda: run.search(q)))
    return {
        "op_s": walls,
        "detail": "builds_s=" + ",".join(f"{x:.2f}" for x in walls),
        "throughput_per_s": (
            sum(docs) / (sum(walls) + sum(traced_walls)) if docs else float("nan")
        ),
        "overhead_s": median(traced_walls) - median(walls),
    }


def setup_serve(run: Run) -> None:
    """Base build, then WARM_QUERIES queries cycling through the
    distinct ones, CLI-shaped and checked against the oracle: this
    fills the block cache and runs each plan shape, the URL join
    included, before timing."""
    stats = run.op("base build", lambda: run.build(traced=run.tracer.enabled))
    if stats is None:
        return
    run.check_build(stats)
    with run.tracer.span("bench.warm"):
        for i in range(WARM_QUERIES):
            q = run.queries[i % len(run.queries)]
            run.check_topk(q, run.op("warm query", lambda: run.search(q)))


def loop_serve(run: Run, seconds: float, seed: int) -> dict:
    """Closed loop, one client. Every result is checked against the
    oracle. Traced runs pair each untraced call with a traced one of the
    same query, plus the layer split calls (expansion, no-URL variant)."""
    lat, overhead, families = [], [], []
    stream = zipf_stream(run.queries, seed)
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        q = next(stream)
        t0 = time.perf_counter()
        rows = run.op("query", lambda: run.search(q))
        dt = time.perf_counter() - t0
        run.check_topk(q, rows)
        if rows is None:
            continue  # a failed query has no latency
        lat.append(dt)
        families.append(q["family"])
        if run.tracer.enabled:
            overhead.append(traced_query(run, q) - lat[-1])
    by_family = {
        f: [x * 1e3 for x, g in zip(lat, families) if g == f] for f in FAMILIES
    }
    return {
        "op_s": lat,
        "detail": " ".join(
            f"{f}={median(v):.0f}ms/{len(v)}" for f, v in by_family.items()
        ),
        "throughput_per_s": len(lat) / sum(lat) if lat else float("nan"),
        "overhead_s": median(overhead),
    }


def traced_query(run: Run, q: dict) -> float:
    """The CLI-shaped call under a span and a job group, then its layer
    split: pattern expansion (or boolean parse) and the no-URL call."""
    from textindex_spark.boolquery import parse_bool
    from textindex_spark.query import expand_patterns

    t = run.tracer
    layer = "boolquery" if q["kind"] == "bool" else "query"
    t0 = time.perf_counter()
    with t.span(f"{layer}.search"), run.counted("query"):
        rows = run.op("traced query", lambda: run.search(q))
    wall = time.perf_counter() - t0
    run.check_topk(q, rows)
    if q["kind"] == "bool":
        with t.span("boolquery.parse"):
            parse_bool(q["args"]["query"])
    elif q["kind"] == "search":
        with t.span("query.expand"):
            expand_patterns(run.spark, run.idx, q["args"]["patterns"])
    t1 = time.perf_counter()
    with t.span(f"{layer}.search_nourl"):
        run.op("traced query", lambda: run.search(q, with_urls=False))
    run.notes.setdefault("url_pairs", []).append(wall - (time.perf_counter() - t1))
    return wall


# -- probes of a traced run -------------------------------------------

def probe_queries(run: Run) -> None:
    """Query layers on the build workload: each family's head query
    through the traced call, on the index the last build just wrote
    (the cache-miss path)."""
    for q in run.family_heads():
        traced_query(run, q)


def probe_dist(run: Run) -> None:
    """OR queries forced onto the distributed plan, all-hot and
    rare+hot terms, pruned and unpruned in alternating order; the two
    must agree."""
    from textindex_spark.corpus import site_topic_word
    from textindex_spark.query import search

    t = run.tracer
    walls = {True: [], False: []}
    for rep in range(2):
        for terms in (["spark", "index"], [site_topic_word(rep + 3), "spark"]):
            got = {}
            for prune in ((False, True) if rep % 2 == 0 else (True, False)):
                t0 = time.perf_counter()
                with t.span("query.dist"), run.counted("dist"):
                    got[prune] = run.op("dist query", lambda: search(
                        run.spark, run.idx, terms, k=K, mode="or", prune=prune,
                        local_score=False, with_urls=True,
                    ).collect())
                walls[prune].append(time.perf_counter() - t0)
            run.check(f"dist pruned == unpruned for {terms}", got[True] == got[False])
    run.notes["pruned_over_unpruned"] = median(walls[True]) / median(walls[False])


def probe_kernels(run: Run) -> None:
    """extract_tokenize_batches in the driver on the workload's docs, in
    Arrow-sized pandas batches, timed over repeated passes."""
    import pyarrow.parquet as pq

    from textindex_spark.functions.kernels import extract_tokenize_batches

    pdf = pq.read_table(os.path.join(run.inputs["dir"], "base.parquet")).to_pandas()
    pdf.insert(0, "doc_id", range(len(pdf)))
    batches = [pdf.iloc[i:i + 4096] for i in range(0, len(pdf), 4096)]
    passes = []
    for _ in range(2):
        with run.tracer.span("kernels.extract_tokenize"):
            t0 = time.perf_counter()
            n_out = sum(len(b) for b in extract_tokenize_batches(iter(batches)))
            passes.append(time.perf_counter() - t0)
    run.check("kernel doc count", n_out == run.meta["oracle_n_docs"])
    run.notes["kernel_us_per_doc"] = median(passes) / len(pdf) * 1e6


def probe_postings(run: Run) -> None:
    """build_postings alone, from the written segments to a noop sink."""
    from textindex_spark import manifest
    from textindex_spark.build import build_postings, read_stats

    seg = run.spark.read.schema(manifest.TABLE_SCHEMAS["segments"]).parquet(
        f"{run.idx}/segments"
    )
    avgdl = read_stats(run.spark, run.idx)["avgdl"]
    with run.tracer.span("build.postings"):
        build_postings(seg, avgdl, RANGE_BITS).write.format("noop").mode("overwrite").save()


def probe_codec(run: Run) -> None:
    """decode_batch, then encode_batch, on the posting blocks of the
    built index; the re-encoded bytes must equal the stored ones."""
    import numpy as np
    import pyarrow.parquet as pq

    from textindex_spark import manifest
    from textindex_spark.codec import decode_batch, encode_batch

    cols = ["range_id", "doc_gaps", "tf_bytes", "dl_bytes"]
    tables = [
        pq.read_table(p, columns=cols)
        for p in manifest.table_paths(run.spark, run.idx, "postings")
    ]
    blocks = [r for t in tables for r in zip(*(t.column(c).to_pylist() for c in cols))]
    chunks = [blocks[i:i + 4096] for i in range(0, len(blocks), 4096)]
    dec_s, enc_s, same = [], [], True
    for _ in range(3):
        td = te = 0.0
        for ch in chunks:
            bases = np.array([b[0] for b in ch], dtype=np.int64) << RANGE_BITS
            gaps, tfb, dlb = ([b[i] for b in ch] for i in (1, 2, 3))
            with run.tracer.span("codec.decode"):
                t0 = time.perf_counter()
                docs, tfs, dls = decode_batch(gaps, bases, [tfb, dlb])
                td += time.perf_counter() - t0
            with run.tracer.span("codec.encode"):
                t0 = time.perf_counter()
                enc = encode_batch(docs, bases, [tfs, dls])
                te += time.perf_counter() - t0
            same = same and all(e == (g, t, d) for e, g, t, d in zip(enc, gaps, tfb, dlb))
        dec_s.append(td)
        enc_s.append(te)
    run.check("codec round trip reproduces the stored blocks", same)
    n_post = sum(len(d) for d in decode_batch(
        [b[1] for b in blocks], np.array([b[0] for b in blocks], dtype=np.int64) << RANGE_BITS
    )[0])
    run.notes["decode_ns_per_posting"] = median(dec_s) / n_post * 1e9
    run.notes["encode_ns_per_posting"] = median(enc_s) / n_post * 1e9
    run.notes["bytes_per_posting"] = sum(
        len(b[1]) + len(b[2]) + len(b[3]) for b in blocks
    ) / n_post


def probe_append(run: Run) -> None:
    """append_batch of the held-out docs (url-disjoint, ids minted above
    the current max); then each family's head query against the oracle
    over base + held."""
    from textindex_spark.build import append_batch

    with run.tracer.span("build.append"):
        run.op("append", lambda: append_batch(run.spark, run.corpus("held"), run.idx))
    for q in run.family_heads(CHECK_FAMILIES):
        rows = run.op("post-append query", lambda: run.search(q))
        run.check_topk(q, rows, "expected_after_append")


@contextmanager
def traced_commits(tracer: Tracer):
    """Every manifest commit of the block runs under a span."""
    from textindex_spark import manifest

    commit = manifest.commit

    def traced_commit(*args, **kwargs):
        with tracer.span("manifest.commit"):
            return commit(*args, **kwargs)

    manifest.commit = traced_commit
    try:
        yield
    finally:
        manifest.commit = commit


LAYERS = ("bench", "session", "kernels", "build", "codec", "manifest", "query", "boolquery")


def layer_metrics(run: Run, overhead_s: float) -> dict:
    """Per-layer metrics (name → (value, unit)) from the spans, job
    counts and probe notes."""
    t, n, jobs = run.tracer, run.notes, run.job_counts
    ms = lambda *names: median([d for x in names for d in t.durations(x)]) * 1e3  # noqa: E731
    q_jobs = jobs["query"]
    url_ms = median(n["url_pairs"]) * 1e3
    m = {
        "session.start_s": (median(t.durations("session.start")), "s"),
        "kernels.extract_tokenize_us_per_doc": (n["kernel_us_per_doc"], "us"),
        "build.segments_s": (median(t.durations("build.segments")), "s"),
        "build.postings_s": (median(t.durations("build.postings")), "s"),
        "build.finalize_s": (median(t.durations("build.finalize")), "s"),
        "build.jobs": (median(jobs["build"]), "count"),
        "build.append_s": (median(t.durations("build.append")), "s"),
        "codec.encode_ns_per_posting": (n["encode_ns_per_posting"], "ns"),
        "codec.decode_ns_per_posting": (n["decode_ns_per_posting"], "ns"),
        "codec.bytes_per_posting": (n["bytes_per_posting"], "B"),
        "manifest.commit_s": (median(t.durations("manifest.commit")), "s"),
        "query.expand_ms": (ms("query.expand"), "ms"),
        "query.nourl_ms": (ms("query.search_nourl", "boolquery.search_nourl"), "ms"),
        "query.url_ms": (url_ms, "ms"),
        "query.url_share": (url_ms / ms("query.search", "boolquery.search"), "ratio"),
        "query.jobs_per_query": (statistics.fmean(q_jobs), "count"),
        "query.zero_job_ratio": (sum(j == 0 for j in q_jobs) / len(q_jobs), "ratio"),
        "query.dist_jobs_per_query": (statistics.fmean(jobs["dist"]), "count"),
        "query.pruned_over_unpruned": (n["pruned_over_unpruned"], "ratio"),
        "boolquery.parse_us": (ms("boolquery.parse") * 1e3, "us"),
        "boolquery.search_ms": (ms("boolquery.search"), "ms"),
        "trace.overhead_ms": (overhead_s * 1e3, "ms"),
    }
    self_s = t.self_seconds()
    for layer in LAYERS:
        m[f"self.{layer}_s"] = (self_s.get(layer, 0.0), "s")
    return m
