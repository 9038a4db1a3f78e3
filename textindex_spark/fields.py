"""Anchor-text retrieval field (the classic web-ranking signal).

A page is retrievable not only by its own words but by the words
OTHER pages use to link to it — incoming anchor text. The reference
has no link notion (it indexes a file tree); this is the
engine-extension surface that makes the inverted index a web search
engine: build a second index over each page's incoming-anchor digest
and rank with a weighted per-field BM25 sum (the Lucene
"linear-combination multi-field" model; per-field idf/avgdl/N come
from that field's own corpus, as in BM25F's simple form).

Scale shapes:

* the anchor corpus is `links → top_anchors` (two-level skew-safe
  aggregation, `ops/links.py`) joined to the docs table on canonical
  URL — one shuffle join keyed by near-unique page identity, then a
  normal `build_index` over rows that are ~a sentence each;
* `search_fielded` runs each field's scorer over its own index and
  merges with ONE full-outer join on doc_id: exact (every candidate
  keeps its partial scores), no per-field top-k truncation bias.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from textindex_spark import build as B
from textindex_spark import query as Q
from textindex_spark.ops.links import extract_links, top_anchors
from textindex_spark.ops.urls import with_canonical_url


def anchor_documents(
    docs: DataFrame, links: DataFrame, k: int = 8
) -> DataFrame:
    """→ (doc_id, url, text): one row per page with ≥1 incoming
    anchor; ``text`` is the page's top-K incoming anchor strings
    joined with spaces (the bounded digest — a 10⁷-in-link page
    contributes K strings, not 10⁷).

    ``docs`` needs (doc_id, url) — the index's docs table or a
    normalized corpus. ``links`` is `extract_links` output (dst_url
    already canonicalized); the join key is the canonical form of
    the page url, so trivially different spellings of the same page
    collect the same anchors."""
    pages = with_canonical_url(
        docs.select("doc_id", "url"), "url", "_curl"
    )
    digest = top_anchors(links, k=k)
    return (
        pages.join(digest, pages["_curl"] == digest["dst_url"], "inner")
        .select(
            "doc_id",
            "url",
            F.array_join("anchors", " ").alias("text"),
        )
    )


def build_anchor_index(
    spark: SparkSession,
    index_dir: str,
    anchor_dir: str,
    pages: DataFrame | None = None,
    links: DataFrame | None = None,
    k: int = 8,
    **build_kwargs,
) -> dict:
    """Build the anchor-field index for an existing body index.

    Either pass ``links`` (pre-extracted) or ``pages`` (raw crawl
    rows with url+html — links are extracted here). Doc ids are the
    BODY index's ids (joined by canonical url), so a fielded query
    merges scores on doc_id directly. Returns the build stats dict.

    Freshness model: field indexes are DERIVED artifacts — after a
    body append (new crawl batch), refresh by re-running this build
    with the full links table (what `jobs/linkgraph.py
    --anchor-field` and the pipeline stage do each run). A rebuild is
    the right shape, not a concession: new in-links CHANGE existing
    pages' digests, so an incremental path would have to upsert
    existing doc_ids, which the append machinery's id-monotonicity
    invariant forbids — and the anchor corpus (top-K strings per
    linked page) is orders of magnitude smaller than the body corpus,
    so its rebuild rides the cheap side of the pipeline. Pinned by
    `test_anchor_field_refresh_after_body_append`."""
    if links is None:
        if pages is None:
            raise ValueError("build_anchor_index needs pages or links")
        links = extract_links(pages)
    docs = Q._cached_table(spark, index_dir, "docs").select("doc_id", "url")
    adocs = anchor_documents(docs, links, k=k)
    return B.build_index(spark, adocs, anchor_dir, **build_kwargs)


# <title> element: first occurrence, DOTALL; inner markup stripped
# like anchor text
_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title\s*>"


def title_documents(
    docs: DataFrame,
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    max_len: int = 300,
) -> DataFrame:
    """→ (doc_id, url, text): each page's <title> text (de-tagged,
    whitespace-collapsed, length-capped), keyed by the BODY index's
    doc ids via a canonical-URL join — the input of the title
    retrieval field. Pages without a title drop out. The reference
    parser folds title words into the body stream
    (`/root/reference/src/html_parse.rs` emits them as ordinary
    text); a separate title field lets queries WEIGHT them, which is
    the entire point of field-aware ranking."""
    html = F.col(html_col)
    for f in pages.schema.fields:
        if f.name == html_col and f.dataType.simpleString() == "binary":
            html = html.cast("string")
            break
    raw = F.regexp_extract(html, _TITLE_RE, 1)
    no_tags = F.regexp_replace(raw, r"(?s)<[^>]*>", " ")
    title = F.trim(
        F.regexp_replace(F.substring(no_tags, 1, max_len), r"\s+", " ")
    )
    p = pages.select(F.col(url_col).alias("_purl"), title.alias("_title"))
    p = p.where(F.col("_title") != "")
    p = with_canonical_url(p, "_purl", "_pcurl")
    # ONE title per canonical URL (deterministic: lexicographic min) —
    # URL variants / re-crawl snapshots of the same page would
    # otherwise fan out the join and write duplicate doc_id rows into
    # the title corpus (duplicate postings, inflated df/avgdl). The
    # anchor path has no such hazard: top_anchors groups by dst first.
    p = p.groupBy("_pcurl").agg(F.min("_title").alias("_title"))
    d = with_canonical_url(docs.select("doc_id", "url"), "url", "_curl")
    return (
        d.join(p, d["_curl"] == p["_pcurl"], "inner")
        .select("doc_id", "url", F.col("_title").alias("text"))
    )


def build_title_index(
    spark: SparkSession,
    index_dir: str,
    title_dir: str,
    pages: DataFrame,
    **build_kwargs,
) -> dict:
    """Build the title-field index for an existing body index from
    the raw crawl pages (url + html). Doc ids are the body index's.
    Raises ValueError when NO page yields a title (a text-only corpus)
    — an empty field index would silently score nothing."""
    docs = Q._cached_table(spark, index_dir, "docs").select("doc_id", "url")
    tdocs = title_documents(docs, pages)
    if not tdocs.limit(1).count():
        raise ValueError(
            "no <title> text found in any page that matches the index "
            "(text-only corpus?) — refusing to build an empty title field"
        )
    return B.build_index(spark, tdocs, title_dir, **build_kwargs)


def search_fields(
    spark: SparkSession,
    index_dir: str,
    field_specs: list[tuple[str, float]],
    patterns: list[str],
    k: int = 10,
    with_urls: bool = True,
    scope: str | None = None,
) -> DataFrame:
    """N-field BM25 top-k:
    score = bm25_body + Σ_f w_f · bm25_field_f, disjunctive over the
    union of all fields' match sets. ``field_specs`` = [(field index
    dir, weight), ...] — each field index was built with the body's
    doc ids (`build_anchor_index` / `build_title_index`). Exact: every
    scorer returns its full match set (`search(k=None)`) and the
    merge is a chain of full-outer joins on doc_id. Body tombstones
    and the scope apply to the merged frame (see `search_fielded`)."""
    body_scope = scope if scope and scope.startswith("ts:") else None
    merged = Q.search(
        spark, index_dir, patterns, k=None, mode="or", with_urls=False,
        scope=body_scope,
    ).select("doc_id", F.col("score").alias("_s"))
    for i, (fdir, w) in enumerate(field_specs):
        fs = Q.search(
            spark, fdir, patterns, k=None, mode="or", with_urls=False,
        ).select("doc_id", (F.lit(float(w)) * F.col("score")).alias(f"_f{i}"))
        merged = merged.join(fs, "doc_id", "full_outer")
    total = F.coalesce("_s", F.lit(0.0))
    for i in range(len(field_specs)):
        total = total + F.coalesce(f"_f{i}", F.lit(0.0))
    merged = Q.DeadSet(spark, index_dir, scope=scope).drop(
        merged.select("doc_id", total.alias("score"))
    )
    result = merged.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    return Q.finish_ranked(spark, index_dir, result, k, with_urls)


def search_fielded(
    spark: SparkSession,
    index_dir: str,
    anchor_dir: str,
    patterns: list[str],
    k: int = 10,
    w_anchor: float = 1.0,
    with_urls: bool = True,
    scope: str | None = None,
) -> DataFrame:
    """Two-field BM25 top-k → (doc_id, score[, url]):
    score = bm25_body(doc) + w_anchor · bm25_anchor(doc), disjunctive
    over the union of both fields' match sets (a page matched ONLY by
    its incoming anchors still ranks — the web-search property this
    field exists for). Exact by construction: both scorers return
    their full match sets (`search(k=None)`) and merge in one
    full-outer join; ordering (score desc, doc_id asc).

    Conjunctive (mode='and') cross-field semantics are deliberately
    not offered: "every term in some field" has no single accepted
    meaning (per-field AND vs cross-field AND differ); compose
    `search(mode='and')` per field if that is wanted.

    Scope mechanics (shared with `search_fields`): the scope is
    enforced ONCE, on the merged frame — field-only matches must obey
    it too, so a body-side-only filter can never suffice. A ts: scope
    ALSO rides down into the body search for range_ts time pruning
    (the merge-level re-filter is then an idempotent semi-join);
    lang:/site: scopes are not passed down — their only effect is the
    complement filter, and running it per-field would do the (driver
    collect + join) work twice. Body tombstones are re-applied to the
    merge: field indexes are derived artifacts, deletes land on the
    body index, and a deleted doc must not survive via a field-only
    match."""
    return search_fields(
        spark, index_dir, [(anchor_dir, w_anchor)], patterns, k=k,
        with_urls=with_urls, scope=scope,
    )
