"""Percolator: standing queries evaluated over incoming documents
(the Lucene/Elasticsearch percolate surface — alerting, routing,
saved searches).

Engine extension beyond the reference (thscharler/textindex evaluates
ad-hoc queries against a stored index; a percolator inverts that:
queries are registered once, every arriving document reports which
queries it satisfies). Query syntax and semantics are EXACTLY
``boolquery``'s: nested AND/OR/NOT over term / glob / ``base~d``
fuzzy / ``/regex/`` leaves, a leaf true iff the document contains at
least one expansion of the pattern, and formulas the all-false
assignment satisfies (pure complements like ``NOT a``) rejected with
the same ValueError — a doc matching no leaf is never enumerated.

Execution — one shuffle, plan size INDEPENDENT of the query count:

1. Incoming docs run the reference extract+tokenize kernel (the same
   ``build.normalize_input`` mapInPandas stage the index build uses)
   → per-doc distinct terms.
2. Leaf patterns expand over the BATCH vocabulary: exact leaves need
   no work; glob/fuzzy/regex leaves probe the batch's distinct-terms
   frame with the same JVM predicates the dictionary probe uses
   (``rlike`` / ``levenshtein`` — one combined job). Result: a
   ``term → (query_id, leaf_bit)`` map, broadcast.
3. tokens ⋈ broadcast(map) → ``groupBy(doc_id, query_id)``
   ``bit_or(leaf_bit)`` — the ONE shuffle, keyed like the index's
   scoring agg (doc-keyed, uniform; no query is a hot key because a
   doc contributes at most one row per query).
4. Formula evaluation is a broadcast semi-join against each query's
   driver-enumerated SAT table (every leaf-truth mask satisfying the
   AST, ≤ 2^n_leaves rows, n_leaves ≤ ``PERCOLATE_MAX_LEAVES``) — no
   per-query Catalyst predicate, so ten or ten thousand registered
   queries compile to the same three-join plan (cf. PLANS.md §23 on
   per-reference plan growth).

At 10^12 docs/day the incoming stream is the big side and never
shuffles on anything but doc_id; the query side rides broadcasts
sized by Σ leaves + Σ 2^leaves.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from textindex_spark import build as B
from textindex_spark.boolquery import _eval_py, parse_bool
from textindex_spark.query import (
    _fuzzy_cond,
    _parse_fuzzy,
    _parse_regex,
    _regex_cond,
    _is_wildcard,
)
from textindex_spark.refimpl.oracle import wildcard_to_regex
from textindex_spark.session import local_df

# 2^16 SAT rows worst case per query — the broadcast stays tiny while
# covering any realistic alert expression
PERCOLATE_MAX_LEAVES = 16

# Persisted segments frame of the LAST percolate call (released at the
# next call — the returned lazy frame references it; single-flight per
# process, the ops.similarity._emb_persists pattern). Without it the
# extract/tokenize kernel would re-run for the tokens explode AND the
# vocabulary probe.
_perc_persists: list[DataFrame] = []


def load_queries(path: str) -> list[tuple[str, str]]:
    """Standing queries from a TSV file, one ``<id><TAB><expr>`` per
    line; blank lines and ``#`` comments are skipped. A line without
    a tab exits with its file and line number (the CLI contract of
    jobs/percolate.py and jobs/pipeline.py --percolate)."""
    out = []
    with open(path, encoding="utf-8") as fh:
        for ln, line in enumerate(fh, 1):
            line = line.rstrip("\n")
            if not line.strip() or line.lstrip().startswith("#"):
                continue
            if "\t" not in line:
                raise SystemExit(
                    f"{path}:{ln}: expected '<id><TAB><expr>', got {line!r}"
                )
            qid, expr = line.split("\t", 1)
            out.append((qid.strip(), expr.strip()))
    return out


def compile_queries(
    queries: list[tuple[str, str]],
) -> tuple[list[tuple[str, int, str]], list[tuple[str, int]]]:
    """Parse + validate registered queries → (leaf_rows, sat_rows):
    ``leaf_rows`` = (pattern, leaf_bit, query_id) for every leaf
    occurrence; ``sat_rows`` = (query_id, mask) for every satisfying
    leaf-truth assignment. Raises on duplicate ids, oversize leaf
    sets, and all-false-satisfiable formulas."""
    seen: set[str] = set()
    leaf_rows: list[tuple[str, int, str]] = []
    sat_rows: list[tuple[str, int]] = []
    for qid, expr in queries:
        if qid in seen:
            raise ValueError(f"duplicate query id {qid!r}")
        seen.add(qid)
        ast, leaves = parse_bool(expr)
        n = len(leaves)
        if n > PERCOLATE_MAX_LEAVES:
            raise ValueError(
                f"query {qid!r} has {n} leaves; percolation supports "
                f"at most {PERCOLATE_MAX_LEAVES}"
            )
        if _eval_py(ast, [False] * n):
            raise ValueError(
                f"query {qid!r} matches documents containing none of "
                "its terms (e.g. a pure complement like 'NOT a') — "
                "not percolatable: docs matching no leaf are never "
                "enumerated"
            )
        for i, p in enumerate(leaves):
            leaf_rows.append((p, 1 << i, qid))
        for mask in range(1, 1 << n):
            if _eval_py(ast, [(mask >> i) & 1 for i in range(n)]):
                sat_rows.append((qid, mask))
    return leaf_rows, sat_rows


def _leaf_term_map(
    spark: SparkSession, leaf_rows: list[tuple[str, int, str]], vocab: DataFrame
) -> DataFrame:
    """→ (term, bit, query_id): exact leaves map to themselves; glob /
    fuzzy / regex leaves expand over the batch vocabulary in ONE scan
    of the distinct-terms frame — every leaf condition is evaluated
    as a `when(cond, struct)` element of one array, compacted and
    exploded, so 1 or 50 pattern leaves cost the same pass."""
    exact_rows: list[tuple[str, int, str]] = []
    pattern_conds = []
    for p, b, q in leaf_rows:
        rx = _parse_regex(p)
        fz = None if rx is not None else _parse_fuzzy(p)
        if rx is not None:
            cond = _regex_cond(rx)
        elif fz is not None:
            cond = _fuzzy_cond(*fz)
        elif _is_wildcard(p):
            cond = F.col("term").rlike(
                f"^(?s:{wildcard_to_regex(p).pattern})$"
            )
        else:
            exact_rows.append((p, b, q))
            continue
        pattern_conds.append(
            F.when(
                cond,
                F.struct(
                    F.lit(b).alias("bit"), F.lit(q).alias("query_id")
                ),
            )
        )
    parts = []
    if exact_rows:
        parts.append(local_df(
            spark, exact_rows, "term string, bit long, query_id string"
        ))
    if pattern_conds:
        parts.append(
            vocab.select(
                "term",
                F.array_compact(F.array(*pattern_conds)).alias("_h"),
            )
            .filter(F.size("_h") > 0)
            .select("term", F.explode("_h").alias("h"))
            .select(
                "term",
                F.col("h.bit").alias("bit"),
                F.col("h.query_id").alias("query_id"),
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out


def percolate(
    spark: SparkSession,
    queries: list[tuple[str, str]],
    docs: DataFrame | None,
    with_urls: bool = False,
    segments: DataFrame | None = None,
) -> DataFrame:
    """Match every incoming document against every registered query →
    ``(query_id, doc_id[, url])``, one row per satisfied (query, doc)
    pair. ``docs`` is the raw input-hint corpus shape (url, html/text,
    …) — tokenization is the reference pipeline, identical to what the
    index build would store for the same rows.

    ``segments``: a pre-tokenized segments frame (doc_id, url, terms —
    the index's own segments table shape) to percolate WITHOUT
    re-running the extract/tokenize kernel — the composed pipeline
    alerts on the docs it just indexed at zero extra kernel cost.
    Caller owns that frame's caching; ``docs`` is ignored."""
    leaf_rows, sat_rows = compile_queries(queries)
    if not leaf_rows:
        raise ValueError("no queries registered")
    if segments is not None:
        seg = segments
    else:
        if docs is None:
            raise ValueError("need docs (or segments=)")
        for f in _perc_persists:
            f.unpersist()
        _perc_persists.clear()
        seg = B.tokenize_segments(B.normalize_input(docs)).persist()
        _perc_persists.append(seg)
    tokens = seg.select(
        "doc_id", *(["url"] if with_urls else []),
        F.explode("terms").alias("term"),
    )
    needs_vocab = any(
        _parse_regex(p) is not None or _parse_fuzzy(p) is not None
        or _is_wildcard(p)
        for p, _, _ in leaf_rows
    )
    vocab = (
        seg.select(F.explode("terms").alias("term")).distinct()
        if needs_vocab
        else None
    )
    term_map = _leaf_term_map(spark, leaf_rows, vocab)
    sat = local_df(spark, sat_rows, "query_id string, mask long")
    masks = (
        tokens.join(F.broadcast(term_map), "term")
        .groupBy("doc_id", "query_id",
                 *(["url"] if with_urls else []))
        .agg(F.bit_or("bit").alias("mask"))
    )
    return (
        masks.join(F.broadcast(sat), ["query_id", "mask"], "left_semi")
        .select("query_id", "doc_id", *(["url"] if with_urls else []))
    )


def stream_percolate(
    spark: SparkSession,
    queries: list[tuple[str, str]],
    input_glob: str,
    out_dir: str,
    checkpoint: str,
    input_schema: str = (
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, doc_id long"
    ),
    available_now: bool = True,
):
    """Standing queries over a document STREAM: each micro-batch runs
    the batch percolator (queries resident on the driver — stateless
    per batch, so replay after a crash recomputes the identical match
    set) and writes its matches to ``{out_dir}/batch_{id}`` with
    overwrite — the foreachBatch sink is idempotent under Structured
    Streaming's at-least-once replay. ``available_now`` drains the
    source and blocks (the stream_index convention); False returns
    the running continuous query."""
    compile_queries(queries)  # fail fast before starting the stream
    stream = (
        spark.readStream.schema(input_schema).format("parquet")
        .load(input_glob)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        percolate(spark, queries, batch_df, with_urls=True).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch_{batch_id}")

    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
