"""Boolean query trees: arbitrarily nested AND / OR / NOT retrieval
with BM25 ranking.

Generalizes the flat `query.search` surface (mode="and"/"or" +
``exclude``) to full boolean expressions::

    search_bool(spark, idx, "spark AND (vector OR merge) AND NOT index")

Semantics: a leaf is a term or pattern (glob, ``base~d`` fuzzy, or
slash-delimited ``/regex/`` — note the lexer splits on parens and
whitespace, so regex leaves must avoid both; use a flat query for
group constructs); a document's leaf is TRUE iff the document
contains at least one expansion of the pattern.
A document is retrieved iff the formula evaluates TRUE, ranked by the
BM25 sum over the distinct matched vocabulary terms of POSITIVE
leaves (leaves under an even number of NOTs) — negated leaves gate
membership but never contribute score, matching `search(exclude=)`.

Execution (one distributed pass, the flat-search shape):

* expand every leaf pattern against the resident dictionary (zero
  jobs warm);
* decode postings ONLY for matched vocabulary terms — negated leaves'
  postings must be read anyway to know their truth;
* one shuffle keyed doc_id aggregates (Σ idf·tfnorm·is_positive,
  bit_or(leaf mask)) — no chained joins, exactly the `search` plan;
* the formula is compiled to a Catalyst predicate over the leaf mask
  ((mask & 1<<i) != 0 per leaf, ~/&/| per node) — codegen'd, no UDF;
* top-k via TakeOrderedAndProject.

A document matching NO leaf has the all-false assignment; it can
never be enumerated, so formulas the all-false assignment satisfies
(e.g. ``NOT a``, ``a OR NOT b``) are rejected with ValueError — the
complement of a postings set is not retrievable at scale (the
reference CLI has no negation at all; `search(exclude=)` imposes the
same positivity by construction).

Grammar (case-insensitive keywords, parens free-form)::

    expr  := or ;  or := and ( OR and )* ;  and := unary ( AND? unary )*
    unary := NOT unary | '(' expr ')' | PATTERN

Adjacent atoms without a keyword are an implicit AND ("spark merge"),
matching the flat CLI default.
"""
from __future__ import annotations

import re
from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from textindex_spark.query import (
    B,
    ISIN_PUSHDOWN_MAX,
    K1,
    LOCAL_SCORE_MAX_POSTINGS,
    _and_surviving_ranges,
    _apply_scope,
    _dead_ids_capped,
    _decoded_postings,
    _fetch_blocks,
    _scope_nonmatch_ids,
    _score_blocks_np,
    apply_tombstones,
    cached_stats,
    expand_patterns,
    finish_ranked,
    idf,
    parse_scope,
)

_TOKEN_RE = re.compile(r"\(|\)|[^\s()]+")
_KEYWORDS = {"and", "or", "not"}

# AST nodes: ("leaf", leaf_idx), ("not", child), ("and", [children]),
# ("or", [children])


def parse_bool(query: str) -> tuple[tuple, list[str]]:
    """→ (ast, leaf_patterns): recursive-descent parse of the grammar
    above. Each PATTERN occurrence is its own leaf (the same pattern
    may appear at several polarities)."""
    toks = _TOKEN_RE.findall(query)
    if not toks:
        raise ValueError("empty boolean query")
    leaves: list[str] = []
    pos = 0

    def peek() -> str | None:
        return toks[pos] if pos < len(toks) else None

    def take() -> str:
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def p_or():
        node = p_and()
        parts = [node]
        while peek() is not None and peek().lower() == "or":
            take()
            parts.append(p_and())
        return parts[0] if len(parts) == 1 else ("or", parts)

    def p_and():
        parts = [p_unary()]
        while True:
            t = peek()
            if t is None or t == ")" or t.lower() == "or":
                break
            if t.lower() == "and":
                take()
                t = peek()
                if t is None or t == ")" or t.lower() in ("and", "or"):
                    raise ValueError("AND must be followed by an operand")
            parts.append(p_unary())
        return parts[0] if len(parts) == 1 else ("and", parts)

    def p_unary():
        t = peek()
        if t is None:
            raise ValueError("unexpected end of query")
        if t.lower() == "not":
            take()
            return ("not", p_unary())
        if t == "(":
            take()
            node = p_or()
            if peek() != ")":
                raise ValueError("unbalanced parentheses")
            take()
            return node
        if t == ")" or t.lower() in _KEYWORDS:
            raise ValueError(f"unexpected token {t!r}")
        take()
        if "^" in t:
            # '^' never appears in a vocabulary term, so a boosted
            # leaf would silently match nothing — reject loudly
            # (query-time boosts are a flat-search feature)
            raise ValueError(
                f"boosts are not supported in boolean queries: {t!r}"
            )
        leaves.append(t)
        return ("leaf", len(leaves) - 1)

    ast = p_or()
    if pos != len(toks):
        raise ValueError(f"trailing tokens at {toks[pos]!r}")
    if len(leaves) > 63:
        # the per-doc coverage mask is one signed BIGINT in both
        # execution paths (and the DuckDB oracle)
        raise ValueError(
            f"boolean query has {len(leaves)} pattern occurrences; "
            "at most 63 are supported (one mask bit each)"
        )
    return ast, leaves


def _eval_py(node: tuple, truth) -> bool:
    if node[0] == "leaf":
        return bool(truth[node[1]])
    if node[0] == "not":
        return not _eval_py(node[1], truth)
    vals = (_eval_py(c, truth) for c in node[1])
    return all(vals) if node[0] == "and" else any(vals)


def positive_leaves(node: tuple, depth: int = 0, out: set | None = None) -> set:
    """Leaf indices under an EVEN number of NOTs — the score-bearing
    leaves."""
    if out is None:
        out = set()
    if node[0] == "leaf":
        if depth % 2 == 0:
            out.add(node[1])
    elif node[0] == "not":
        positive_leaves(node[1], depth + 1, out)
    else:
        for c in node[1]:
            positive_leaves(c, depth, out)
    return out


def required_leaves(node: tuple) -> set:
    """Leaf indices that are TRUE in every satisfying assignment —
    the certain positive conjuncts: leaves required by all children
    of an AND (union) or by every branch of an OR (intersection);
    nothing is required under a NOT (conservative — a double-negated
    conjunction is treated as requiring nothing). These drive the
    candidate-range pre-intersection exactly like flat AND queries."""
    if node[0] == "leaf":
        return {node[1]}
    if node[0] == "not":
        return set()
    parts = [required_leaves(c) for c in node[1]]
    if node[0] == "and":
        return set().union(*parts)
    out = parts[0]
    for p in parts[1:]:
        out &= p
    return out


def _mask_predicate(node: tuple, mask: Column) -> Column:
    """Compile the AST to a Catalyst boolean over the leaf bitmask."""
    if node[0] == "leaf":
        return mask.bitwiseAND(F.lit(1 << node[1])) != 0
    if node[0] == "not":
        return ~_mask_predicate(node[1], mask)
    cols = [_mask_predicate(c, mask) for c in node[1]]
    op = (lambda a, b: a & b) if node[0] == "and" else (lambda a, b: a | b)
    return reduce(op, cols)


def _required_masks(expanded, req: list) -> tuple[dict[str, int], int] | None:
    """(mask_by_term, full_mask) over the required leaves — the
    ``and_masks`` input of `query._and_surviving_ranges`, with leaf
    indices re-packed into contiguous bits. Returns None when some
    required leaf has no vocabulary expansion (query unsatisfiable)."""
    bit = {leaf: i for i, leaf in enumerate(req)}
    req_set = set(req)
    mask_by_term: dict[str, int] = {}
    for term, grp in expanded.groupby("term"):
        m = 0
        for i in grp["pattern_idx"]:
            if i in req_set:
                m |= 1 << bit[i]
        if m:
            mask_by_term[term] = m
    covered = 0
    for m in mask_by_term.values():
        covered |= m
    full = (1 << len(req)) - 1
    return (mask_by_term, full) if covered == full else None


def _eval_np(node: tuple, mask_acc: np.ndarray) -> np.ndarray:
    """Vectorized formula evaluation over per-doc leaf bitmasks — the
    numpy twin of ``_mask_predicate`` for the serving path."""
    if node[0] == "leaf":
        return (mask_acc & (1 << node[1])) != 0
    if node[0] == "not":
        return ~_eval_np(node[1], mask_acc)
    parts = [_eval_np(c, mask_acc) for c in node[1]]
    op = np.logical_and if node[0] == "and" else np.logical_or
    return reduce(op, parts)


def search_bool(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    with_urls: bool = True,
    pre_intersect: bool = True,
    local_score: bool | None = None,
    scope: str | None = None,
) -> DataFrame:
    """BM25 top-k for a boolean query tree → DataFrame
    (doc_id, score[, url]), ordered (score desc, doc_id asc). See the
    module docstring for semantics and the execution plan.

    ``scope`` ("lang:en" / "site:host"): metadata-filtered retrieval,
    same mechanics as `query.search` — a capped complement merges
    into the serving path's dead set; oversize complements apply as a
    left_semi join on the distributed plan.

    Serving path: when the matched vocabulary's total df fits
    LOCAL_SCORE_MAX_POSTINGS (and the tombstone set is capped),
    scoring runs on the query node — resident-block-cache fetch,
    numpy decode/score, vectorized formula evaluation (``_eval_np``)
    — warm queries launch zero Spark jobs, exactly like flat
    `query.search`. Wider candidate sets use the distributed plan
    (one shuffle + codegen'd mask predicate). ``local_score`` forces
    the choice (still capped); results are rank-identical either
    way. ``with_urls``: as in `query.search`, a bounded k gives a
    driver-local, evaluated frame (urls from the resident cache)."""
    ast, patterns = parse_bool(query)
    if _eval_py(ast, [False] * len(patterns)):
        raise ValueError(
            "boolean query is satisfied by documents matching no term "
            "(pure-negation form) — the complement of a postings set "
            "is not retrievable; anchor the query with a positive term"
        )
    if scope:
        parse_scope(scope)  # validate before any work
    stats = cached_stats(spark, index_dir)
    expanded = expand_patterns(spark, index_dir, patterns)
    if len(expanded) == 0:
        result = []
    else:
        pos = positive_leaves(ast)
        expanded = expanded.copy()
        expanded["idf"] = [idf(stats["n_docs"], int(d)) for d in expanded["df"]]
        term_info = (
            expanded.groupby("term")
            .agg(
                idf=("idf", "first"),
                mask=(
                    "pattern_idx",
                    lambda s: int(np.bitwise_or.reduce([1 << i for i in s])),
                ),
                pos=(
                    "pattern_idx",
                    lambda s: 1.0 if any(i in pos for i in s) else 0.0,
                ),
            )
            .reset_index()
        )
        # positive-only scoring via the idf map: a term whose leaves
        # are all negated scores 0 everywhere (idf·pos), while its
        # mask bits still gate membership — one column serves both
        # execution paths
        term_info["idf_pos"] = term_info["idf"] * term_info["pos"]
        fits_local = (
            expanded.drop_duplicates("term")["df"].sum()
            <= LOCAL_SCORE_MAX_POSTINGS
        )
        use_local = fits_local if local_score is None else (local_score and fits_local)
        scope_ids = (
            _scope_nonmatch_ids(spark, index_dir, scope) if scope else None
        )
        if scope and scope_ids is None:
            use_local = False  # oversize complement: semi-join distributed
        # candidate-range pre-intersection on the CERTAIN conjuncts
        # (required_leaves): a satisfying doc has every required leaf
        # true, and a doc's postings live in one range — so only
        # ranges where each required leaf has ≥1 expansion present
        # can hold results. Dropping the other ranges for ALL query
        # terms (negated leaves included) is sound: a doc there can
        # never satisfy the formula, and surviving docs keep every
        # one of their rows, so scores are unchanged. Same machinery
        # as the flat AND path (query._and_surviving_ranges).
        req = sorted(required_leaves(ast))
        req_masks = None
        if pre_intersect and len(req) > 1:
            req_masks = _required_masks(expanded, req)
            if req_masks is None:  # a required leaf has no expansion
                return finish_ranked(spark, index_dir, [], k, with_urls)
        if use_local:
            dead = _dead_ids_capped(spark, index_dir)
            if dead is not None:
                if scope_ids is not None and len(scope_ids):
                    dead = np.union1d(dead, scope_ids)
                surviving = None
                if req_masks is not None:
                    surviving = _and_surviving_ranges(
                        spark, index_dir, req_masks[0], req_masks[1], stats
                    )
                    if surviving == []:
                        return finish_ranked(spark, index_dir, [], k, with_urls)
                blocks = _fetch_blocks(
                    spark, index_dir, list(term_info["term"]), stats,
                    ranges=surviving,
                )
                ti = term_info[["term", "mask"]].copy()
                ti["idf"] = term_info["idf_pos"]
                uniq, score, mask_acc = _score_blocks_np(blocks, stats, ti)
                sat = _eval_np(ast, mask_acc)
                uniq, score = uniq[sat], score[sat]
                if len(dead):
                    alive = ~np.isin(uniq, dead)
                    uniq, score = uniq[alive], score[alive]
                order = np.lexsort((uniq, -score))[:k]
                rows = [(int(uniq[i]), float(score[i])) for i in order]
                return finish_ranked(spark, index_dir, rows, k, with_urls)
        qterms = spark.createDataFrame(term_info[["term", "idf", "mask", "pos"]])
        decoded = _decoded_postings(
            spark, index_dir, qterms, stats, list(term_info["term"]),
            and_masks=req_masks,
        )
        scored = (
            decoded.join(F.broadcast(qterms), "term")
            .groupBy("doc_id")
            .agg(
                F.sum(F.col("idf") * F.col("tfnorm") * F.col("pos")).alias("score"),
                F.bit_or("mask").alias("mask"),
            )
            .filter(_mask_predicate(ast, F.col("mask")))
        )
        scored = apply_tombstones(spark, index_dir, scored)
        if scope:
            scored = _apply_scope(spark, index_dir, scored, scope, scope_ids)
        result = (
            scored.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
    return finish_ranked(spark, index_dir, result, k, with_urls)


def search_bool_sharded(
    spark: SparkSession,
    index_dirs: list[str],
    query: str,
    k: int = 10,
    with_urls: bool = True,
    local_score: bool | None = None,
    scope: str | None = None,
) -> DataFrame:
    """Federated boolean-tree BM25 top-k over multiple index shards —
    identical to `search_bool` on one union-corpus index, by the same
    argument as `query.search_sharded`: every corpus-dependent
    quantity (n_docs, avgdl, per-term df → idf) is resolved GLOBALLY
    from the shards' resident stats/dictionaries before scoring, and
    a document lives in exactly one shard, so leaf masks, formula
    evaluation, tombstones, and the certain-conjunct range
    pre-intersection are all shard-local; the merge is one global
    top-k over k rows per shard.

    Per-shard short-circuit: a shard where some REQUIRED leaf has no
    vocabulary expansion cannot hold a satisfying document and is
    skipped entirely. Serving path (Σ df ≤ cap, tombstones capped):
    per-shard resident block fetch + numpy mask evaluation, merged
    driver-side — zero Spark jobs warm. Distributed fallback: one
    decode + mask-predicate plan per shard, unioned."""
    ast, patterns = parse_bool(query)
    if _eval_py(ast, [False] * len(patterns)):
        raise ValueError(
            "boolean query is satisfied by documents matching no term "
            "(pure-negation form) — anchor the query with a positive term"
        )
    if scope:
        parse_scope(scope)
    import pandas as pd

    stats_list = [cached_stats(spark, d) for d in index_dirs]
    n_docs_g = sum(int(s["n_docs"]) for s in stats_list)
    total_tokens_g = sum(int(s["total_tokens"]) for s in stats_list)
    avgdl_g = (total_tokens_g / n_docs_g) if n_docs_g else 1.0
    expansions = [expand_patterns(spark, d, patterns) for d in index_dirs]
    pos = positive_leaves(ast)
    req = sorted(required_leaves(ast))
    cat = []
    for i, e in enumerate(expansions):
        if len(e):
            e = e.copy()
            e["shard"] = i
            cat.append(e)
    allx = pd.concat(cat) if cat else None
    if allx is None:
        return finish_ranked(spark, index_dirs, [], k, with_urls)
    # GLOBAL df per term (a term may live in several shards)
    df_g = allx.drop_duplicates(["shard", "term"]).groupby("term")["df"].sum()

    def _shard_tinfo(e: pd.DataFrame) -> pd.DataFrame:
        ti = (
            e.groupby("term")
            .agg(
                mask=(
                    "pattern_idx",
                    lambda s: int(np.bitwise_or.reduce([1 << i for i in s])),
                ),
                pos=(
                    "pattern_idx",
                    lambda s: 1.0 if any(i in pos for i in s) else 0.0,
                ),
            )
            .reset_index()
        )
        ti["idf"] = [idf(n_docs_g, int(df_g[t])) for t in ti["term"]]
        ti["idf_pos"] = ti["idf"] * ti["pos"]
        return ti

    # per-shard certain-conjunct masks; a shard missing a required
    # leaf is skipped (None sentinel)
    shard_req = []
    for e in expansions:
        if len(e) == 0:
            shard_req.append("skip")
        elif len(req) > 1:
            m = _required_masks(e, req)
            shard_req.append("skip" if m is None else m)
        else:
            covered = set(e["pattern_idx"].unique())
            shard_req.append("skip" if not set(req) <= covered else None)

    total_df = int(allx.drop_duplicates(["shard", "term"])["df"].sum())
    fits_local = 0 < total_df <= LOCAL_SCORE_MAX_POSTINGS
    use_local = fits_local if local_score is None else (local_score and fits_local)
    ok = False
    if use_local:
        # gate EVERY shard before fetching any blocks (the pre-loop
        # shape query._search_sharded_local uses): a late shard
        # tripping the isin cap or the tombstone cap would otherwise
        # discard block fetches + numpy scoring already paid for by
        # earlier shards before falling back to the distributed path
        deads: dict[int, object] = {}
        ok = True
        for i, d in enumerate(index_dirs):
            if shard_req[i] == "skip":
                continue
            if len(set(expansions[i]["term"])) > ISIN_PUSHDOWN_MAX:
                ok = False
                break
            dead = _dead_ids_capped(spark, d)
            if dead is None:
                ok = False
                break
            if scope:
                sids = _scope_nonmatch_ids(spark, d, scope)
                if sids is None:
                    ok = False  # oversize complement: distributed plan
                    break
                if len(sids):
                    dead = np.union1d(dead, sids)
            deads[i] = dead
    if use_local and ok:
        merged: list[tuple[int, float, int]] = []  # (doc_id, score, shard)
        for i, d in enumerate(index_dirs):
            if shard_req[i] == "skip":
                continue
            e = expansions[i]
            terms_s = sorted(set(e["term"]))
            dead = deads[i]
            stats_s = dict(stats_list[i])
            stats_s["avgdl"] = avgdl_g  # global stats for scoring
            surviving = None
            if isinstance(shard_req[i], tuple):
                surviving = _and_surviving_ranges(
                    spark, d, shard_req[i][0], shard_req[i][1], stats_s
                )
                if surviving == []:
                    continue
            ti = _shard_tinfo(e)
            blocks = _fetch_blocks(spark, d, terms_s, stats_s, ranges=surviving)
            ts = ti[["term", "mask"]].copy()
            ts["idf"] = ti["idf_pos"]
            uniq, score, mask_acc = _score_blocks_np(blocks, stats_s, ts)
            sat = _eval_np(ast, mask_acc)
            uniq, score = uniq[sat], score[sat]
            if len(dead):
                alive = ~np.isin(uniq, dead)
                uniq, score = uniq[alive], score[alive]
            order = np.lexsort((uniq, -score))[:k]
            merged.extend((int(uniq[j]), float(score[j]), i) for j in order)
        merged.sort(key=lambda t: (-t[1], t[0]))
        return finish_ranked(spark, index_dirs, merged[:k], k, with_urls)
    scored_frames = []
    for i, d in enumerate(index_dirs):
        if shard_req[i] == "skip":
            continue
        e = expansions[i]
        terms_s = sorted(set(e["term"]))
        ti = _shard_tinfo(e)
        qterms = spark.createDataFrame(ti[["term", "idf", "mask", "pos"]])
        and_masks = shard_req[i] if isinstance(shard_req[i], tuple) else None
        decoded = _decoded_postings(
            spark, d, qterms, stats_list[i], terms_s, and_masks=and_masks
        )
        # recompute the BM25 partial from (tf, doc_len) with the
        # GLOBAL avgdl — the decoded tfnorm baked the shard's own
        w = (
            F.col("idf")
            * F.col("pos")
            * F.col("tf")
            * (K1 + 1.0)
            / (F.col("tf") + K1 * (1.0 - B + B * F.col("doc_len") / F.lit(avgdl_g)))
        )
        sc = (
            decoded.join(F.broadcast(qterms), "term")
            .groupBy("doc_id")
            .agg(F.sum(w).alias("score"), F.bit_or("mask").alias("mask"))
            .filter(_mask_predicate(ast, F.col("mask")))
        )
        sc = apply_tombstones(spark, d, sc)
        if scope:
            sc = _apply_scope(
                spark, d, sc, scope, _scope_nonmatch_ids(spark, d, scope)
            )
        scored_frames.append(sc.select("doc_id", "score", F.lit(i).alias("_shard")))
    if not scored_frames:
        return finish_ranked(spark, index_dirs, [], k, with_urls)
    merged_df = scored_frames[0]
    for f in scored_frames[1:]:
        merged_df = merged_df.unionByName(f)
    result = merged_df.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    return finish_ranked(spark, index_dirs, result, k, with_urls)
