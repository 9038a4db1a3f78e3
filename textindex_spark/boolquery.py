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

Execution: the shared ranked-query core (`query._ranked`) that also
runs flat `query.search` — a flat query is just the tree
``("and" | "or", leaves)`` or ``("atleast", leaves, m)``:

* expand every leaf pattern against the resident dictionary (zero
  jobs warm) and build one term-info table (global idf, zeroed for
  terms whose leaves are all negated, plus each term's leaf mask);
* one ``DeadSet`` per index holds tombstones, the scope complement
  and a ts scope's allowed ranges;
* decode postings only in the ranges where every certain conjunct
  (`required_leaves`) is present, intersected with the ts ranges —
  negated leaves' postings must be read anyway to know their truth;
* score on the query node (numpy BM25, the tree evaluated over the
  per-doc leaf masks by ``query._eval_np``) when the candidate
  postings fit, else in one distributed pass: a shuffle keyed doc_id
  aggregating (Σ idf·tfnorm, bit_or(leaf mask)), the tree compiled
  to a Catalyst predicate (``query._mask_predicate``, codegen'd, no
  UDF), the DeadSet's anti-/semi-joins, and top-k via
  TakeOrderedAndProject.

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

from pyspark.sql import DataFrame, SparkSession

from textindex_spark.query import (  # noqa: F401 — tree helpers re-exported
    _ranked,
    positive_leaves,
    required_leaves,
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


def _checked_tree(query: str) -> tuple[tuple, list[str]]:
    """parse_bool + the pure-negation check (see the module
    docstring)."""
    ast, patterns = parse_bool(query)
    if _eval_py(ast, [False] * len(patterns)):
        raise ValueError(
            "boolean query is satisfied by documents matching no term "
            "(pure-negation form) — the complement of a postings set "
            "is not retrievable; anchor the query with a positive term"
        )
    return ast, patterns


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
    scoring runs on the query node — resident decoded postings,
    numpy score, vectorized formula evaluation (``_eval_np``)
    — warm queries launch zero Spark jobs, exactly like flat
    `query.search`. Wider candidate sets use the distributed plan
    (one shuffle + codegen'd mask predicate). ``local_score`` forces
    the choice (still capped); results are rank-identical either
    way. ``with_urls``: as in `query.search`, a bounded k gives a
    `ResidentFrame` (urls from the resident cache) whose ``collect``,
    ``toPandas`` and ``count`` answer from driver memory; any other
    method materializes it once."""
    ast, patterns = _checked_tree(query)
    return _ranked(
        spark, [index_dir], patterns, ast, k, with_urls,
        local_score=local_score, pre_intersect=pre_intersect, scope=scope,
    )


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
    ast, patterns = _checked_tree(query)
    return _ranked(
        spark, list(index_dirs), patterns, ast, k, with_urls,
        local_score=local_score, scope=scope,
    )
