"""Hybrid lexical + vector retrieval: reciprocal-rank fusion (RRF) of
the engine's BM25 top-k with a vector-similarity top-k over document
embeddings.

Engine extension beyond the reference (thscharler/textindex has no
vector side; its ranked-retrieval surface is the `find` path,
src/cmds.rs:240-323). The lexical branch here IS that surface —
``query.search`` unchanged, with every scope / exclusion / boost
behavior it already has — so hybrid results degrade to pure BM25 when
no embeddings exist and to pure ANN when the query has no lexical
terms.

RRF (Cormack/Clarke/Buettcher, SIGIR 2009): ``fused(d) = Σ_branch
1/(rrf_k + rank_branch(d))``, missing-branch terms contribute 0.
Ranks — not raw scores — are what RRF consumes, which is exactly why
it fuses incomparable score scales (BM25 sums vs cosines) without
calibration. Ranks are assigned on MICRO-quantized branch scores
(``floor(score·1e6 + 0.5)``, ties broken by ascending id): micro-rank
is reproducible bit-for-bit across engines (the correctness oracle
recomputes both branches in SQL), where raw-double rank could flip on
sub-ppm float drift.

Scale shape: both branches are the already-audited top-k paths (the
zero-job serving / block-max-pruned lexical path; the brute-force /
IVF / PQ vector path). Fusion itself only ever touches ≤ ``depth``
rows per branch — two windowed rank assignments over k-row frames and
one full-outer join on the id — so it adds no corpus-wide work: at
10^12 documents the cost is the branches', fusion stays O(depth).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from textindex_spark import query as Q
from textindex_spark.ops import similarity

# Cormack et al.'s k=60 — deliberately large vs typical depth so the
# tail of each list still contributes; callers can override.
RRF_K = 60


def _micro(col: Column) -> Column:
    return F.floor(col * F.lit(1e6) + F.lit(0.5)).cast("long")


def rrf_fuse(
    branches: list[DataFrame],
    k: int = 10,
    rrf_k: int = RRF_K,
    id_col: str = "doc_id",
    micro_col: str = "score_micro",
) -> DataFrame:
    """Fuse ranked branch frames ``(id_col, micro_col)`` by RRF →
    ``(id_col, rrf_micro)`` ordered (rrf desc, id asc), top ``k``.

    Each branch is ranked independently by (micro desc, id asc) with
    ``row_number`` — branch frames are top-k-sized by contract, so the
    single-partition window is k rows, not corpus rows."""
    if not branches:
        raise ValueError("rrf_fuse needs at least one branch")
    ranked = []
    for i, b in enumerate(branches):
        w = Window.orderBy(F.desc(micro_col), F.asc(id_col))
        ranked.append(
            b.select(id_col, micro_col)
            .withColumn(f"_r{i}", F.row_number().over(w))
            .select(id_col, f"_r{i}")
        )
    fused = ranked[0]
    for r in ranked[1:]:
        fused = fused.join(r, id_col, "full_outer")
    contrib = [
        F.coalesce(
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(f"_r{i}")), F.lit(0.0)
        )
        for i in range(len(ranked))
    ]
    total = contrib[0]
    for c in contrib[1:]:
        total = total + c
    # top-k SELECTION on the exact fused score (IEEE-deterministic:
    # fixed-order sum of 1/(K+rank) terms); the RETURNED ordering uses
    # the quantized score + id so every output surface (with or
    # without the url join, engine or oracle) sorts identically even
    # across sub-micro ties
    return (
        fused.withColumn("_rrf", total)
        .orderBy(F.desc("_rrf"), F.asc(id_col))
        .limit(k)
        .select(id_col, _micro(F.col("_rrf")).alias("rrf_micro"))
        .orderBy(F.desc("rrf_micro"), F.asc(id_col))
    )


def search_hybrid(
    spark: SparkSession,
    index_dir: str,
    patterns: list[str],
    emb: DataFrame | None,
    query_vec: list[float] | None,
    k: int = 10,
    depth: int | None = None,
    rrf_k: int = RRF_K,
    mode: str = "or",
    scope: str | None = None,
    with_urls: bool = False,
    vec_hits: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """BM25 ∪ vector top-``depth`` → RRF top-``k`` →
    ``(doc_id, rrf_micro[, url])`` ordered (rrf desc, doc_id asc).

    ``emb`` rows carry the document id in ``id_col`` (the embedding
    table is keyed by the same id space as the index's docs table).
    Pass ``vec_hits`` — a precomputed ``(id_col, cos_micro)`` top-k
    frame — to fuse an IVF/PQ branch (``similarity.ivf_cosine_topk``
    / ``pq_topk``) instead of the exact brute-force scan; the branch
    contract is just "ranked ids with micro scores".

    ``scope`` applies to BOTH branches (filter-before-rank, like the
    lexical path): the vector branch semi-joins the pushdown-filtered
    allowed-id scan, so vector ranks are assigned WITHIN the scope
    and a vector-only hit can never leak an out-of-scope document —
    including ids absent from the index's docs table, whose metadata
    is unknown and which therefore never match a scope. Caveat: the
    vector candidates are the top-``depth`` BEFORE the filter (the
    branch is a ranked list, not a scan) — raise ``depth`` for highly
    selective scopes.
    """
    depth = depth or max(50, 5 * k)
    lex = Q.search(
        spark, index_dir, patterns, k=depth, mode=mode,
        with_urls=False, scope=scope,
    ).select("doc_id", _micro(F.col("score")).alias("score_micro"))
    if vec_hits is None:
        if emb is None or query_vec is None:
            raise ValueError("need emb + query_vec (or vec_hits)")
        vec_hits = similarity.cosine_topk(
            emb, query_vec, k=depth, id_col=id_col, vec_col=vec_col
        )
    vec = vec_hits.select(
        F.col(id_col).alias("doc_id") if id_col != "doc_id" else F.col(id_col),
        F.col("cos_micro").alias("score_micro"),
    )
    if scope:
        vec = vec.join(
            Q._scope_docs_df(spark, index_dir, scope), "doc_id", "left_semi"
        )
    out = rrf_fuse([lex, vec], k=k, rrf_k=rrf_k)
    return Q.finish_ranked(
        spark, index_dir, out, k, with_urls, score_col="rrf_micro"
    )
