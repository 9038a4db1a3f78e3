"""Driver correctness-gate queries + DuckDB oracle SQL.

Each entry in ``QUERIES`` is a callable ``(spark, sf_dir) →
DataFrame`` running the engine against the driver's testdata tables;
``ORACLE_SQL`` holds the ANSI-SQL equivalent DuckDB executes on the
same parquet files. Column names and value representations are
aligned on both sides (floats are emitted as ``*_micro`` integers =
``floor(x*1e6+0.5)`` so value hashes can't drift on formatting).

The index-engine queries build a real index (via
``textindex_spark.build``) over the ``documents`` table — whose text
is plain lowercase space-separated words, so the reference tokenizer
reduces to whitespace split + stop-word filter, which the SQL mirrors
with ``string_split`` + ``NOT IN (stop list)``.
"""
from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from textindex_spark import build as B
from textindex_spark import query as Q
from textindex_spark.ops import curate, dedup, similarity, textstats, urls
from textindex_spark.ops.dedup import MAX_SHINGLE_DF
from textindex_spark.refimpl.stop_words import STOP_WORD_SET
from textindex_spark.session import local_df

GATE_DIR = os.environ.get("TEXTINDEX_GATE_DIR", "/tmp/textindex_gate")

AND_TERMS = ["spark", "merge"]
BM25_TERMS = ["spark", "vector"]
PHRASE_2 = ["agg", "hash"]
PHRASE_3 = ["spark", "table", "hash"]
WILDCARD = "qu*"
# fuzzy probe: levenshtein("hast", ·) ≤ 1 → {fast, hash}; ≤ 2 adds part
FUZZY_BASE = "hast"
# metadata-scoped retrieval probe (bm25_not 'scoped' variant)
SCOPE_LANG = "de"
# regex probe (wildcard_expand 'regex' variant) — common
# Python/Java/RE2 subset so Spark rlike, pandas fullmatch and DuckDB
# regexp_full_match agree
REGEX_PROBE = "(fa|ha).*"
# more-like-this probe document (bm25_topk 'mlt' variant)
MLT_DOC = 42
# query-time boost probe (bm25_or_topk 'boost' variant)
BOOST_FACTOR = 2.5
# minimum-should-match probe (bm25_or_topk 'msm' variant): 3-pattern
# disjunction, m=2
MSM_TERMS = ["spark", "vector", "quarry"]
# crawl-date probes: the driver documents table has no timestamp
# column, so the gate mints a deterministic warc_ts from doc_id in
# BOTH engines — 2020-01-01T00:00:00Z + 6 h · doc_id (the same
# minted-column pattern as the doc:// urls). The ts window below is
# sized to bite at sf0.001 (100 docs ≈ 25 days) and sf0.01 alike.
TS_EPOCH0 = 1577836800  # 2020-01-01T00:00:00Z
TS_STEP = 21600  # 6 h between consecutive doc_ids
TS_SCOPE = "ts:2020-01-10..2020-03-15"
TS_SCOPE_LO = 1578614400  # epoch of 2020-01-10T00:00:00Z
TS_SCOPE_HI = 1584230400  # epoch of 2020-03-15T00:00:00Z


def _sql_quote(w: str) -> str:
    return "'" + w.replace("'", "''") + "'"


STOP_LIST_SQL = ",".join(_sql_quote(w) for w in sorted(STOP_WORD_SET))

# Shared CTE prefix: tokens / doc lengths / term stats over `documents`
_TOKS_CTE = f"""
toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM documents
),
kept AS (
    SELECT doc_id, term FROM toks
    WHERE term <> '' AND term NOT IN ({STOP_LIST_SQL})
),
tf AS (
    SELECT doc_id, term, count(*)::BIGINT AS tf
    FROM kept GROUP BY doc_id, term
),
dl AS (
    SELECT d.doc_id, coalesce(k.n, 0)::BIGINT AS doc_len
    FROM documents d
    LEFT JOIN (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id) k
      ON d.doc_id = k.doc_id
)
"""


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "warc_ts",
        F.timestamp_seconds(
            F.lit(TS_EPOCH0) + F.col("doc_id") * F.lit(TS_STEP)
        ),
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def tune_session(spark: SparkSession) -> None:
    """Runtime-settable conf hygiene for sessions we didn't create
    (the driver's verify session): disable the ICU case-mapping class
    whose one-time init stalls every executor thread for 60-100s in
    this sandbox (see textindex_spark/session.py), keep shuffle
    parallelism sane for the testdata sizes, and enable AQE."""
    for k, v in {
        "spark.sql.icu.caseMappings.enabled": "false",
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # month-facet gate renders warc_ts as 'yyyy-MM' — pin the
        # render timezone so driver-created sessions match the
        # oracle's naive-UTC arithmetic (engine sessions already
        # pin UTC in session.py)
        "spark.sql.session.timeZone": "UTC",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def ensure_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the engine index over the driver documents table."""
    tune_session(spark)
    key = os.path.basename(os.path.normpath(sf_dir))
    # _v2: docs schema gained warc_ts (ts-scoped gates) — a stale
    # pre-upgrade cached index would serve null timestamps
    out = f"{GATE_DIR}/{key}_v2"
    marker = f"{out}/stats"
    try:
        spark.read.parquet(marker).collect()
        return out
    except Exception:
        pass
    B.build_index(spark, _documents(spark, sf_dir), out, range_bits=10)
    return out


# anchor-field gate (bm25_topk 'anchor' variant): every doc gets two
# minted incoming anchors whose words are pure doc_id arithmetic, so
# the DuckDB oracle reconstructs the anchor corpus without replaying
# link extraction (that pipeline has its own 'link_graph' gate)
ANCHOR_WORDS = ["spark", "vector", "merge", "archive", "quarry", "table"]
W_ANCHOR = 0.5
W_TITLE = 2.0


def _anchor_word(expr):
    return F.element_at(
        F.array(*[F.lit(w) for w in ANCHOR_WORDS]),
        (expr % len(ANCHOR_WORDS) + 1).cast("int"),
    )


def ensure_anchor_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the anchor-field index beside the body index:
    two links per doc (anchors '<w1> link' / '<w2> page', w by doc_id
    arithmetic over ANCHOR_WORDS), digested through the REAL
    top_anchors → anchor_documents → build_index chain."""
    from textindex_spark import fields
    from textindex_spark.ops.urls import with_canonical_url

    idx = ensure_index(spark, sf_dir)
    key = os.path.basename(os.path.normpath(sf_dir))
    out = f"{GATE_DIR}/{key}_anchor_v1"
    marker = f"{out}/stats"
    try:
        spark.read.parquet(marker).collect()
        return out
    except Exception:
        pass
    docs = B.manifest.read_table(spark, idx, "docs").select("doc_id", "url")
    pages = with_canonical_url(docs, "url", "dst_url")
    d = F.col("doc_id")
    a1 = F.concat(_anchor_word(d * 3 + 1), F.lit(" link"))
    a2 = F.concat(_anchor_word(d * 5 + 2), F.lit(" page"))
    links = pages.select(
        F.lit("http://ref.example/a").alias("src_url"),
        "dst_url",
        a1.alias("anchor"),
        F.lit(False).alias("nofollow"),
    ).unionByName(
        pages.select(
            F.lit("http://ref.example/b").alias("src_url"),
            "dst_url",
            a2.alias("anchor"),
            F.lit(False).alias("nofollow"),
        )
    )
    fields.build_anchor_index(spark, idx, out, links=links, range_bits=10)
    return out


def ensure_title_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the title-field index: every doc's page html is
    minted as '<title><w> heading</title>' with w by doc_id arithmetic
    over ANCHOR_WORDS, then run through the REAL title extraction +
    canonical-url join + build chain."""
    from textindex_spark import fields

    idx = ensure_index(spark, sf_dir)
    key = os.path.basename(os.path.normpath(sf_dir))
    out = f"{GATE_DIR}/{key}_title_v1"
    marker = f"{out}/stats"
    try:
        spark.read.parquet(marker).collect()
        return out
    except Exception:
        pass
    docs = B.manifest.read_table(spark, idx, "docs").select("doc_id", "url")
    d = F.col("doc_id")
    html = F.concat(
        F.lit("<html><head><title>"),
        _anchor_word(d * 7 + 4),
        F.lit(" heading</title></head></html>"),
    )
    pages = docs.select("url", html.alias("html"))
    fields.build_title_index(spark, idx, out, pages, range_bits=10)
    return out


# ---------------------------------------------------------------- queries

def q_doc_stats(spark, sf_dir):
    idx = ensure_index(spark, sf_dir)
    return B.manifest.read_table(spark, idx, "docs").select("doc_id", "doc_len")


def q_tokenize_tf(spark, sf_dir):
    idx = ensure_index(spark, sf_dir)
    seg = B.manifest.read_table(spark, idx, "segments")
    return seg.select(
        "doc_id", F.explode(F.arrays_zip("terms", "tfs")).alias("p")
    ).select("doc_id", F.col("p.terms").alias("term"), F.col("p.tfs").cast("long").alias("tf"))


def q_term_stats(spark, sf_dir):
    idx = ensure_index(spark, sf_dir)
    return B.manifest.read_table(spark, idx, "terms").select("term", "df", "cf")


def q_corpus_stats(spark, sf_dir):
    idx = ensure_index(spark, sf_dir)
    return (
        B.manifest.read_table(spark, idx, "stats")
        .select(
            "n_docs",
            "total_tokens",
            "vocab_size",
            F.floor(F.col("avgdl") * 1e6 + F.lit(0.5)).cast("long").alias("avgdl_micro"),
        )
    )


def q_wildcard_expand(spark, sf_dir):
    """Dictionary expansion probes, union-tagged: 'wild' = glob
    (WildMatch) expansion; 'regex' = slash-delimited ``/re/``
    expansion (engine extension — oracle is DuckDB
    regexp_full_match); 'fuzzy1'/'fuzzy2' = Levenshtein-bounded
    fuzzy expansion (``term~d`` syntax, engine extension — oracle is
    DuckDB's levenshtein(), the same classic edit distance); 'sugg' =
    did-you-mean suggestions ranked (distance asc, df desc, term asc)
    top 5. Every row carries (dist, df) so the oracle also
    cross-checks the expansion's document frequencies (dist = -1 for
    glob rows, where no edit distance is defined)."""
    idx = ensure_index(spark, sf_dir)
    rows = []
    for tag, pattern, dmax in (
        ("wild", WILDCARD, None),
        ("regex", f"/{REGEX_PROBE}/", None),
        ("fuzzy1", f"{FUZZY_BASE}~1", 1),
        ("fuzzy2", f"{FUZZY_BASE}~2", 2),
    ):
        expanded = Q.expand_patterns(spark, idx, [pattern])
        rows.extend(
            (
                tag,
                t,
                -1 if dmax is None else Q.fuzzy_distance(FUZZY_BASE, t, dmax),
                int(df),
            )
            for t, df in sorted(zip(expanded["term"], expanded["df"]))
        )
    rows.extend(
        ("sugg", r.term, int(r.dist), int(r.df))
        for r in Q.suggest_terms(spark, idx, FUZZY_BASE).itertuples(index=False)
    )
    return local_df(
        spark, rows, "variant string, term string, dist long, df long"
    )


# percolator probes (search_and 'perc:*' variants): three standing
# queries — conjunction, disjunction, wildcard-with-negation — whose
# match sets the oracle recomputes relationally over the tokens CTE
PERC_QUERIES = [
    ("pa", f"{AND_TERMS[0]} AND {AND_TERMS[1]}"),
    ("po", f"{BM25_TERMS[0]} OR quarry"),
    ("pn", f"{WILDCARD} AND NOT {BM25_TERMS[0]}"),
]


def q_search_and(spark, sf_dir):
    """Union-tagged: 'and' = unranked conjunctive find; 'perc:<id>' =
    the percolator evaluating PERC_QUERIES standing queries over the
    whole documents table (one row per satisfied (query, doc))."""
    from textindex_spark import percolate as P

    idx = ensure_index(spark, sf_dir)
    base = Q.find_unranked(spark, idx, AND_TERMS).select(
        F.lit("and").alias("variant"), "doc_id"
    )
    perc = P.percolate(
        spark, PERC_QUERIES, _documents(spark, sf_dir)
    ).select(
        F.concat(F.lit("perc:"), F.col("query_id")).alias("variant"),
        "doc_id",
    )
    return base.unionByName(perc)


# static-rank blend probes (bm25_topk 'prior' variant): priors minted
# as pure doc_id arithmetic in BOTH engines — the gate proves the
# blend mechanics (url point-lookup join + ln(1+x) formula + re-rank),
# PageRank itself is gated by link_graph 'pr'
PRIOR_W_RANK = 40.0
PRIOR_W_INDEG = 0.35


def _minted_priors(spark, sf_dir):
    d = _documents(spark, sf_dir)
    did = F.col("doc_id")
    return d.select(
        F.concat(
            F.lit("doc://"), F.coalesce(F.col("source"), F.lit("src")),
            F.lit("/"), did.cast("string"), F.lit(".txt"),
        ).alias("url"),
        # every 5th doc's host is "absent from the graph" (NULL rank)
        F.when(did % 5 != 0, ((did % 13) + 1).cast("double") / 1000.0)
        .alias("host_rank"),
        (did % 11).cast("long").alias("n_inlinks"),
        (did % 7).cast("long").alias("n_follow_inlinks"),
    )


def q_bm25_topk(spark, sf_dir):
    """Union-tagged variants: 'topk' = conjunctive BM25 top-10;
    'mlt' = more-like-this (engine extension — query-by-document:
    doc MLT_DOC's terms ranked tf·idf, top 10 fed to disjunctive
    BM25, source doc excluded; the oracle recomputes the whole chain
    including the term selection window); 'prior' = static-rank
    blended retrieval (engine extension — BM25 + link-quality priors,
    minted arithmetically)."""
    idx = ensure_index(spark, sf_dir)
    micro = F.floor(F.col("score") * 1e6 + F.lit(0.5)).cast("long")
    topk = Q.search(
        spark, idx, BM25_TERMS, k=10, mode="and", with_urls=False
    ).select(F.lit("topk").alias("variant"), "doc_id", micro.alias("score_micro"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mlt = Q.more_like_this(spark, idx, docs, MLT_DOC, k=10).select(
        F.lit("mlt").alias("variant"), "doc_id", micro.alias("score_micro")
    )
    from textindex_spark import fields

    aidx = ensure_anchor_index(spark, sf_dir)
    fl = fields.search_fielded(
        spark, idx, aidx, BM25_TERMS, k=10, w_anchor=W_ANCHOR, with_urls=False
    ).select(F.lit("anchor").alias("variant"), "doc_id", micro.alias("score_micro"))
    tidx = ensure_title_index(spark, sf_dir)
    f3 = fields.search_fields(
        spark, idx, [(aidx, W_ANCHOR), (tidx, W_TITLE)], BM25_TERMS,
        k=10, with_urls=False,
    ).select(F.lit("fields").alias("variant"), "doc_id", micro.alias("score_micro"))
    pri = Q.search_with_prior(
        spark, idx, _minted_priors(spark, sf_dir), BM25_TERMS,
        k=10, mode="or", w_rank=PRIOR_W_RANK, w_indeg=PRIOR_W_INDEG,
        depth=50,
    ).select(
        F.lit("prior").alias("variant"), "doc_id", micro.alias("score_micro")
    )
    return (
        topk.unionByName(mlt).unionByName(fl).unionByName(f3)
        .unionByName(pri)
    )


def q_bm25_or_topk(spark, sf_dir):
    """Union-tagged variants: 'or' = disjunctive BM25 top-10 WITH
    block-max pruning (the WAND home case, VERDICT r3 task 4;
    results must stay exact). 'boost' = the same query with a
    ``^BOOST_FACTOR`` suffix on the first term (Lucene query-time
    boost, engine extension) — the boost folds into the idf the θ
    probe and block bounds read, so pruning stays exact under
    boosting too."""
    idx = ensure_index(spark, sf_dir)
    micro = F.floor(F.col("score") * 1e6 + F.lit(0.5)).cast("long")
    res_or = Q.search(
        spark, idx, BM25_TERMS, k=10, mode="or", prune=True, with_urls=False
    ).select(F.lit("or").alias("variant"), "doc_id", micro.alias("score_micro"))
    boosted = [f"{BM25_TERMS[0]}^{BOOST_FACTOR}", *BM25_TERMS[1:]]
    res_boost = Q.search(
        spark, idx, boosted, k=10, mode="or", prune=True, with_urls=False
    ).select(
        F.lit("boost").alias("variant"), "doc_id", micro.alias("score_micro")
    )
    # 'msm' = minimum-should-match (engine extension): 3-pattern
    # disjunction keeping only docs matching ≥ 2 distinct patterns,
    # scores unchanged (plain disjunctive sums)
    res_msm = Q.search(
        spark, idx, MSM_TERMS, k=10, mode="or", with_urls=False,
        min_match=2,
    ).select(
        F.lit("msm").alias("variant"), "doc_id", micro.alias("score_micro")
    )
    return res_or.unionByName(res_boost).unionByName(res_msm)


BOOL_QUERY = "spark AND (vector OR merge) AND NOT qu*"


def q_bool_query(spark, sf_dir):
    """Nested boolean tree (AND / OR / NOT with a wildcard under the
    negation) — the mask-predicate path in boolquery.search_bool."""
    from textindex_spark.boolquery import search_bool

    idx = ensure_index(spark, sf_dir)
    res = search_bool(spark, idx, BOOL_QUERY, k=10, with_urls=False)
    return res.select(
        "doc_id",
        F.floor(F.col("score") * 1e6 + F.lit(0.5)).cast("long").alias("score_micro"),
    )


def ensure_sharded_index(spark: SparkSession, sf_dir: str) -> list[str]:
    """Two shard indexes over a doc_id split of the documents table
    (the federated layout). Built once per sf_dir."""
    tune_session(spark)
    key = os.path.basename(os.path.normpath(sf_dir))
    dirs = [f"{GATE_DIR}/{key}_shard{i}" for i in (0, 1)]
    docs = _documents(spark, sf_dir)
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    halves = [docs.filter(f"doc_id < {mid}"), docs.filter(f"doc_id >= {mid}")]
    for d, half in zip(dirs, halves):
        try:
            spark.read.parquet(f"{d}/stats").collect()
        except Exception:
            B.build_index(spark, half, d, range_bits=10)
    return dirs


def q_bm25_sharded(spark, sf_dir):
    """Federated BM25 over two shards must equal the single-index
    query bit-for-bit (global df/avgdl; the oracle SQL is the same
    one bm25_topk uses over the whole corpus)."""
    dirs = ensure_sharded_index(spark, sf_dir)
    res = Q.search_sharded(spark, dirs, BM25_TERMS, k=10, mode="and", with_urls=False)
    return res.select(
        "doc_id",
        F.floor(F.col("score") * 1e6 + F.lit(0.5)).cast("long").alias("score_micro"),
    )


def q_bool_sharded(spark, sf_dir):
    """Federated boolean tree over two shards must equal the
    single-index bool_query bit-for-bit (global stats; same oracle
    SQL)."""
    from textindex_spark.boolquery import search_bool_sharded

    dirs = ensure_sharded_index(spark, sf_dir)
    res = search_bool_sharded(spark, dirs, BOOL_QUERY, k=10, with_urls=False)
    return res.select(
        "doc_id",
        F.floor(F.col("score") * 1e6 + F.lit(0.5)).cast("long").alias("score_micro"),
    )


NOT_PATTERN = "qu*"


def q_bm25_not(spark, sf_dir):
    """Union-tagged variants: 'not' = disjunctive BM25 top-10 with
    NOT semantics (docs containing any expansion of NOT_PATTERN are
    excluded before top-k; prune=True exercises the θ-probe exclusion
    merge — an excluded doc in the probe must not inflate θ).
    'scoped' = metadata-filtered retrieval (engine extension): the
    same disjunctive query restricted to lang:SCOPE_LANG docs, scores
    unchanged, again with prune=True so the θ probe runs over the
    scope-merged dead set. 'tscoped' = the same query through a
    crawl-date window (``ts:FROM..TO`` over the minted warc_ts —
    inclusive UTC epoch bounds, prune=True)."""
    idx = ensure_index(spark, sf_dir)
    micro = F.floor(F.col("score") * 1e6 + F.lit(0.5)).cast("long")
    res_not = Q.search(
        spark, idx, BM25_TERMS, k=10, mode="or", prune=True,
        with_urls=False, exclude=[NOT_PATTERN],
    ).select(F.lit("not").alias("variant"), "doc_id", micro.alias("score_micro"))
    res_scoped = Q.search(
        spark, idx, BM25_TERMS, k=10, mode="or", prune=True,
        with_urls=False, scope=f"lang:{SCOPE_LANG}",
    ).select(
        F.lit("scoped").alias("variant"), "doc_id", micro.alias("score_micro")
    )
    res_ts = Q.search(
        spark, idx, BM25_TERMS, k=10, mode="or", prune=True,
        with_urls=False, scope=TS_SCOPE,
    ).select(
        F.lit("tscoped").alias("variant"), "doc_id", micro.alias("score_micro")
    )
    return res_not.unionByName(res_scoped).unionByName(res_ts)


def q_facet_lang(spark, sf_dir):
    """Matched-doc counts per language for the AND query — the
    corpus-analytics facet slice."""
    idx = ensure_index(spark, sf_dir)
    return Q.facet_counts(spark, idx, AND_TERMS, by="lang", mode="and")


def q_facet_site(spark, sf_dir):
    """Matched-doc counts per site (url host) for the OR query with a
    NOT exclusion — facet × exclude composition."""
    idx = ensure_index(spark, sf_dir)
    return Q.facet_counts(
        spark, idx, BM25_TERMS, by="site", mode="or", exclude=[NOT_PATTERN]
    )


def q_phrase_match(spark, sf_dir):
    """Exact-phrase containment from the pos_bytes position payload:
    (doc_id, occurrence count) for every doc containing PHRASE_2."""
    idx = ensure_index(spark, sf_dir)
    return Q.phrase_docs(spark, idx, PHRASE_2)


def q_phrase_rank(spark, sf_dir):
    """Exact-phrase top-10 ranked by BM25 over the phrase's terms."""
    idx = ensure_index(spark, sf_dir)
    res = Q.search_phrase(spark, idx, PHRASE_3, k=10, with_urls=False)
    return res.select(
        "doc_id",
        F.floor(F.col("score") * 1e6 + F.lit(0.5)).cast("long").alias("score_micro"),
    )


PHRASE_WILD = ["agg", "ha*"]


def q_phrase_rank_wildcard(spark, sf_dir):
    """Ranked phrase with a wildcard slot (VERDICT r3 task 5): the
    wildcard slot's positions are the union over its expansion; its
    score is the max matched expansion partial."""
    idx = ensure_index(spark, sf_dir)
    res = Q.search_phrase(spark, idx, PHRASE_WILD, k=10, with_urls=False)
    return res.select(
        "doc_id",
        F.floor(F.col("score") * 1e6 + F.lit(0.5)).cast("long").alias("score_micro"),
    )


NEAR_WINDOW = 4


def q_near_match(spark, sf_dir):
    """NEAR/k proximity from the position payload: (doc_id, anchor
    count) for docs where every term of PHRASE_2 occurs within
    NEAR_WINDOW kept tokens of an occurrence of the first term."""
    idx = ensure_index(spark, sf_dir)
    return Q.near_docs(spark, idx, PHRASE_2, window=NEAR_WINDOW)


def q_near_match_wildcard(spark, sf_dir):
    """NEAR with a wildcard slot (r4): the slot's positions are the
    union over its expansion terms."""
    idx = ensure_index(spark, sf_dir)
    return Q.near_docs(spark, idx, PHRASE_WILD, window=NEAR_WINDOW)


def q_near_rank(spark, sf_dir):
    """Ranked NEAR (proximity-gated BM25 top-k, wildcard slot):
    membership by the anchored-window test, rank by the BM25 sum over
    the distinct slot patterns (max matched expansion for the
    wildcard)."""
    idx = ensure_index(spark, sf_dir)
    res = Q.search_near(
        spark, idx, PHRASE_WILD, window=NEAR_WINDOW, k=10, with_urls=False
    )
    return res.select(
        "doc_id",
        F.floor(F.col("score") * 1e6 + F.lit(0.5)).cast("long").alias("score_micro"),
    )


def q_tf_histogram(spark, sf_dir):
    """A2 count inversion (tmp_index.rs:30-38): tf → how many
    (doc, term) cells have that tf."""
    return (
        q_tokenize_tf(spark, sf_dir)
        .groupBy("tf")
        .agg(F.count("*").alias("n_cells"))
    )


def q_rare_terms(spark, sf_dir):
    """A6 rare-word list (tests/test_1.rs:52-114): terms whose df is
    at most 10% of the indexed doc count."""
    idx = ensure_index(spark, sf_dir)
    n_docs = B.manifest.read_table(spark, idx, "stats").collect()[0]["n_docs"]
    return (
        B.manifest.read_table(spark, idx, "terms")
        .filter(F.col("df") * 10 <= F.lit(int(n_docs)))
        .select("term", "df")
    )


FILES_PATTERN = "doc://src1/1*.txt"
LINES_PATTERN = "merg*"


def q_find_files(spark, sf_dir):
    """J6 file-name wildcard search (index2.rs:447-456)."""
    idx = ensure_index(spark, sf_dir)
    return Q.find_files(spark, idx, FILES_PATTERN)


def q_matched_lines(spark, sf_dir):
    """J5 matched-line display (proc3.rs:396-435): for each index hit,
    re-read the raw document and keep lines whose space-split words
    glob-match the query; exploded to (doc_id, line) rows for the
    oracle hash."""
    idx = ensure_index(spark, sf_dir)
    hits = Q.find_unranked(spark, idx, [LINES_PATTERN]).select("doc_id")
    lines = Q.matched_lines(spark, _documents(spark, sf_dir), hits, [LINES_PATTERN])
    return lines.select("doc_id", F.explode("lines").alias("line"))


APPEND_SPLIT = 250
DELETE_GLOB = "doc://src0/*"


def ensure_appended_index(spark, sf_dir) -> str:
    """Index built incrementally (first 250 docs, then append the
    rest) — its queries must equal the full-corpus oracle."""
    tune_session(spark)
    key = os.path.basename(os.path.normpath(sf_dir))
    out = f"{GATE_DIR}/{key}_append"
    if B.manifest.get_prop(spark, out, "last_append_base") is not None:
        return out
    docs = _documents(spark, sf_dir)
    B.build_index(
        spark, docs.filter(F.col("doc_id") < APPEND_SPLIT), out, range_bits=10
    )
    B.append_batch(spark, docs.filter(F.col("doc_id") >= APPEND_SPLIT), out)
    return out


def ensure_deleted_index(spark, sf_dir) -> str:
    """Full index with one url-glob delete applied (tombstones +
    live-stats snapshot commit)."""
    tune_session(spark)
    key = os.path.basename(os.path.normpath(sf_dir))
    out = f"{GATE_DIR}/{key}_delete"
    if B.manifest.get_prop(spark, out, "gate_state") == "deleted":
        return out
    B.build_index(spark, _documents(spark, sf_dir), out, range_bits=10)
    Q.delete_docs(spark, out, DELETE_GLOB)
    B.manifest.commit(spark, out, props={"gate_state": "deleted"})
    return out


def q_bm25_after_append(spark, sf_dir):
    """Incremental build parity: search over build(250)+append(rest)
    must hash-equal the full-corpus BM25 oracle."""
    idx = ensure_appended_index(spark, sf_dir)
    res = Q.search(spark, idx, BM25_TERMS, k=10, mode="and", with_urls=False)
    return res.select(
        "doc_id",
        F.floor(F.col("score") * 1e6 + F.lit(0.5)).cast("long").alias("score_micro"),
    )


def q_bm25_after_delete(spark, sf_dir):
    """Tombstone-delete parity: deleted docs excluded, idf over live
    n_docs with (documented) full-corpus df, tfnorm over live avgdl."""
    idx = ensure_deleted_index(spark, sf_dir)
    res = Q.search(spark, idx, BM25_TERMS, k=10, mode="and", with_urls=False)
    return res.select(
        "doc_id",
        F.floor(F.col("score") * 1e6 + F.lit(0.5)).cast("long").alias("score_micro"),
    )


EMB_NEAR_THRESHOLD = 0.35
# Pinned calibrated banding for the 500-vector gate corpus (both
# sf0.001 and sf0.01 ship 500 embeddings): the oracle SQL is a static
# string, so the gate fixes the params emb_lsh_params would derive at
# that scale instead of counting at runtime.
EMB_GATE_BITS, EMB_GATE_SEGS = similarity.emb_lsh_params(500, EMB_NEAR_THRESHOLD)


def q_emb_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs: sign-random-projection LSH
    candidates (bucketed band join, corpus-calibrated banding) +
    exact cosine verify."""
    return similarity.embedding_near_pairs(
        _embeddings(spark, sf_dir),
        threshold=EMB_NEAR_THRESHOLD,
        n_bits=EMB_GATE_BITS,
        n_segs=EMB_GATE_SEGS,
    )


def q_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup(_documents(spark, sf_dir))


def q_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_documents(spark, sf_dir), n=3, threshold=0.08)


def q_minhash_signatures(spark, sf_dir):
    return dedup.minhash_signatures(_documents(spark, sf_dir))


def q_lsh_pairs(spark, sf_dir):
    return dedup.lsh_candidate_pairs(dedup.minhash_signatures(_documents(spark, sf_dir)))


def q_simhash(spark, sf_dir):
    return dedup.simhash(_documents(spark, sf_dir))


STREAM_DEDUP_SPLIT = 250  # both gate sfs ship doc_ids 0..499


def q_stream_dedup(spark, sf_dir):
    """Two-batch online dedup over the documents table split at
    doc_id 250: exact (first-seen-wins) + LSH/estimator near verdicts
    accumulated through the committed-batch-id state machinery."""
    import shutil

    from textindex_spark.streaming.dedup import dedup_batch, read_verdicts

    state = f"{GATE_DIR}/dedup_state_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(state, ignore_errors=True)
    docs = _documents(spark, sf_dir)
    dedup_batch(spark, docs.filter(F.col("doc_id") < STREAM_DEDUP_SPLIT), state, 0)
    dedup_batch(spark, docs.filter(F.col("doc_id") >= STREAM_DEDUP_SPLIT), state, 1)
    return read_verdicts(spark, state)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup cluster resolution: LSH candidate pairs → connected
    components by distributed min-label propagation → (doc_id,
    cluster_id = component min)."""
    docs = _documents(spark, sf_dir)
    pairs = dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs))
    return dedup.dedup_clusters(pairs)


def q_lang_id(spark, sf_dir):
    return textstats.lang_id(_documents(spark, sf_dir))


def q_quality(spark, sf_dir):
    return textstats.quality_score(
        _documents(spark, sf_dir), tuple(sorted(STOP_WORD_SET))
    )


FILTER_PARAMS = dict(
    langs=("en",), min_quality_micro=500_000, min_tokens=20, max_tokens=5_000
)


def q_corpus_filter(spark, sf_dir):
    """Composed training-pipeline document filter: language allowlist
    + quality floor + token bounds → per-doc keep verdict + reason."""
    return textstats.filter_verdicts(
        _documents(spark, sf_dir), tuple(sorted(STOP_WORD_SET)), **FILTER_PARAMS
    )


def q_pipeline_keep(spark, sf_dir):
    """The composed ingest pipeline's survivor set (filter → LSH
    dedup → keep list): the doc_ids `run_pipeline` would index.
    Exercises the stage COMPOSITION — dedup runs over the filtered
    corpus, so its band statistics (and hot-bucket cuts) differ from
    dedup-over-everything."""
    from textindex_spark.pipeline import dedup_pairs

    docs = _documents(spark, sf_dir)
    verdicts = textstats.filter_verdicts(
        docs, tuple(sorted(STOP_WORD_SET)), **FILTER_PARAMS
    )
    kept = textstats.filter_corpus(docs, verdicts)
    clusters = dedup.dedup_clusters(dedup_pairs(kept, "lsh"))
    return dedup.dedup_keep_list(kept, clusters).select("doc_id")


def q_token_counts(spark, sf_dir):
    return textstats.token_counts(_documents(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    return textstats.doc_fingerprint(_documents(spark, sf_dir))


def q_media_features(spark, sf_dir):
    """Multimodal kernel end-to-end with an arithmetic oracle: build a
    4x4 PPM per document whose 48 interleaved RGB bytes are the doc's
    16 md5(text) bytes tiled 3x (gcd(3, 16) = 1, so every channel
    sees each of the 16 bytes exactly once across the 16 pixels), push
    it through the REAL decode path (``extract_features`` mapInPandas
    with ``deterministic_fake=False`` — only a real PPM decode can set
    ok=True), and recover the integer per-channel byte sum from the
    float32 feature. DuckDB computes the same sum straight from the
    md5 hex — if the Arrow kernel, the PPM codec, or the feature math
    drifts, the sums diverge."""
    from textindex_spark.ops import multimodal

    media = _documents(spark, sf_dir).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.concat(
            F.lit(b"P6\n4 4\n255\n"),
            F.unhex(F.repeat(F.md5(F.col("text")), 3)),
        ).alias("content"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        F.lit(4).alias("width"),
        F.lit(4).alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    feats = multimodal.extract_features(media, deterministic_fake=False)
    # feature[0:3] = channel mean / 255 in float32; x255x16 recovers
    # the exact integer byte sum (max 4080 << 2^24, so float32 is
    # exact through the sum and the /16; the /255 rounding is far
    # below the 0.5 the round() absorbs)
    return feats.select(
        "media_id",
        "n_bytes",
        "ok",
        F.round(F.element_at("feature", 1) * (255 * 16)).cast("long").alias("sum_r"),
        F.round(F.element_at("feature", 2) * (255 * 16)).cast("long").alias("sum_g"),
        F.round(F.element_at("feature", 3) * (255 * 16)).cast("long").alias("sum_b"),
    )


# curation gates (ops/curate.py): every parameter here is mirrored
# verbatim in the oracle SQL below.
DECONTAM_MOD = 17          # benchmark = docs with doc_id % 17 == 0
SAMPLE_RATES = {"en": 300_000, "de": 700_000}
SAMPLE_DEFAULT = 100_000   # zh/es/fr take the default rate
BUDGET_TOKENS = 5_000      # per-lang token budget


def q_decontam(spark, sf_dir):
    """Benchmark decontamination: per-doc n-gram overlap with an
    eval set carved deterministically out of the corpus itself."""
    docs = _documents(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % DECONTAM_MOD == 0)
    return curate.contamination_hits(docs, bench, n=3)


def q_pii_redact(spark, sf_dir):
    """PII scrub over text with deterministically injected email /
    IPv4 / phone values (the raw corpus contains none — injection
    makes the regexes actually fire; the oracle injects identically)."""
    docs = _documents(spark, sf_dir)
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" mail u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.com ip 10.2."),
            F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
            F.lit(".9 tel 555-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(1000)).cast("string"), 3, "0"),
            F.lit("-0199"),
        ).alias("text"),
    )
    return curate.redact_pii(injected)


def q_sample_strat(spark, sf_dir):
    return curate.sample_stratified(
        _documents(spark, sf_dir), SAMPLE_RATES, default_micro=SAMPLE_DEFAULT
    ).select("doc_id", "lang")


def q_budget_select(spark, sf_dir):
    return curate.budget_select(
        _documents(spark, sf_dir), tuple(sorted(STOP_WORD_SET)), BUDGET_TOKENS
    )


def q_top_ngrams(spark, sf_dir):
    return curate.top_ngrams(_documents(spark, sf_dir), n=3, k=20)


CHUNK_TOKENS, CHUNK_STRIDE = 16, 12
PACK_SEQ_LEN, PACK_GROUPS = 200, 8


def q_chunks(spark, sf_dir):
    """Fixed-window document chunking with overlap (stride <
    chunk_tokens) — the context-window split before tokenization."""
    return curate.chunk_documents(
        _documents(spark, sf_dir), chunk_tokens=CHUNK_TOKENS, stride=CHUNK_STRIDE
    )


def q_pack_bins(spark, sf_dir):
    """Deterministic sequence packing: hash pack groups, sequential
    fill into seq_len-token bins (parallel per-group cumsum)."""
    return curate.pack_sequences(
        _documents(spark, sf_dir), seq_len=PACK_SEQ_LEN, n_groups=PACK_GROUPS
    )


def q_repetition(spark, sf_dir):
    """Gopher repetition filters: duplicate-line fractions, top-2/3-
    gram char fractions, duplicated-5-gram coverage, keep verdict."""
    return textstats.repetition_signals(_documents(spark, sf_dir))


DUP_WINDOW_K = 10  # window width for the exact-substring dedup gates


def q_dup_windows(spark, sf_dir):
    """Exact-substring duplication profile (Lee et al. 2021 windowed
    form): per-doc duplicated k-token-window counts + token coverage."""
    return dedup.dup_window_stats(_documents(spark, sf_dir), k=DUP_WINDOW_K)


def q_strip_spans(spark, sf_dir):
    """Exact-substring REMOVAL: text with every corpus-duplicated
    k-token span cut (all occurrences, Lee-et-al. semantics)."""
    return dedup.strip_dup_spans(_documents(spark, sf_dir), k=DUP_WINDOW_K)


def _injected_pages(docs):
    """(doc_id, url, ts) with urls injected deterministically from
    doc_id (the documents table has no url column — same pattern as
    pii_redact's injection, mirrored verbatim in the oracle). Each
    consecutive pair (2k, 2k+1) spells the SAME logical page two ways
    — variant 1 adds uppercase scheme/host, the https default port, a
    utm_ tracking param, shuffled param order, and a fragment — so
    canonicalization must collapse them. ts = doc_id (later variant
    wins snapshot dedup)."""
    base = F.expr("doc_id div 2")
    site = F.pmod(base, F.lit(40)).cast("string")
    b = F.pmod(base, F.lit(3)).cast("string")
    url0 = F.concat(
        F.lit("https://site"), site, F.lit(".example/en/page"),
        base.cast("string"), F.lit(".html?a=1&b="), b,
    )
    url1 = F.concat(
        F.lit("HTTPS://SITE"), site, F.lit(".EXAMPLE:443/en/page"),
        base.cast("string"), F.lit(".html?b="), b,
        F.lit("&utm_source=feed&a=1#sec"),
    )
    return docs.select(
        "doc_id",
        F.when(F.pmod(F.col("doc_id"), F.lit(2)) == 0, url0)
        .otherwise(url1)
        .alias("url"),
        F.col("doc_id").alias("ts"),
    )


MAX_LINE_DF_GATE = 10


def _injected_lines(docs):
    """Documents with injected line structure (the gate corpus is
    single-line): each doc gains a corpus-wide boilerplate footer
    (df = N, dropped), a small-group line (df ≈ N/97, kept at the
    cap), and keeps its body as line one. Mirrored verbatim in SQL."""
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\ncopyright example corp all rights reserved"),
            F.lit("\nvariant line "),
            F.pmod(F.col("doc_id"), F.lit(97)).cast("string"),
        ).alias("text"),
    )


def q_line_dedup(spark, sf_dir):
    """Corpus-level boilerplate line removal (RefinedWeb-style): lines
    in more than max_line_df distinct docs are cut from every doc."""
    return dedup.strip_boilerplate_lines(
        _injected_lines(_documents(spark, sf_dir)), max_line_df=MAX_LINE_DF_GATE
    )


def q_exact_dedup_norm(spark, sf_dir):
    """Normalized exact dedup: case/punctuation/whitespace noise
    collapses — each consecutive doc pair shares a base text, variant
    1 uppercased with punctuation noise."""
    docs = _documents(spark, sf_dir)
    base = docs.select(
        F.col("doc_id").alias("_b"), F.col("text").alias("_bt")
    )
    pages = docs.select(
        "doc_id", (F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(2))).alias("_b")
    ).join(base, "_b").select(
        "doc_id",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(2)) == 0, F.col("_bt")
        ).otherwise(
            # pure case/punctuation/whitespace noise — normalization
            # must fold the variant back onto its base exactly
            F.concat(F.lit("  "), F.upper(F.col("_bt")), F.lit("!!,  .."))
        ).alias("text"),
    )
    return dedup.exact_dedup(pages, normalize=True)


def q_corpus_profile(spark, sf_dir):
    """One-call corpus profile: per-stratum + total volumes, mean doc
    length, unique texts, vocab size, exact discrete percentiles."""
    return textstats.corpus_profile(_documents(spark, sf_dir))


def q_canon_url(spark, sf_dir):
    """URL canonicalization: case / default port / tracking params /
    param order / fragment all collapse to one spelling."""
    pages = _injected_pages(_documents(spark, sf_dir))
    return pages.select(
        "doc_id", urls.canonical_url_col(F.col("url")).alias("canon_url")
    )


def q_url_dedup(spark, sf_dir):
    """Per-canonical-URL snapshot dedup: keep the latest fetch."""
    pages = _injected_pages(_documents(spark, sf_dir))
    return urls.url_snapshot_dedup(pages, ts_col="ts")


def q_unigram_nll(spark, sf_dir):
    return curate.unigram_logprob(_documents(spark, sf_dir))


# hybrid-retrieval probe (ann_cosine 'hybrid' variant): the driver
# embeddings' vec_id space coincides with documents.doc_id (0..499 at
# every sf), so RRF fuses the BM25-OR branch over `documents` with the
# exact-cosine branch over `embeddings` in one shared id namespace.
HYBRID_DEPTH = 50


def q_ann_cosine(spark, sf_dir):
    """Union-tagged: 'cos' = exact brute-force cosine top-10;
    'hybrid' = reciprocal-rank fusion (hybrid.search_hybrid) of the
    disjunctive BM25 top-HYBRID_DEPTH over `documents` with the exact
    cosine top-HYBRID_DEPTH over `embeddings` (vec_id ≡ doc_id). The
    oracle recomputes both branches and the fusion arithmetic."""
    from textindex_spark import hybrid

    emb = _embeddings(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    base = emb.filter(F.col("vec_id") != 0)
    cos = similarity.cosine_topk(base, list(qvec), k=10).select(
        F.lit("cos").alias("variant"), "vec_id",
        F.col("cos_micro").alias("val_micro"),
    )
    idx = ensure_index(spark, sf_dir)
    hyb = hybrid.search_hybrid(
        spark, idx, BM25_TERMS, base, list(qvec),
        k=10, depth=HYBRID_DEPTH, mode="or",
    ).select(
        F.lit("hybrid").alias("variant"),
        F.col("doc_id").alias("vec_id"),
        F.col("rrf_micro").alias("val_micro"),
    )
    return cos.unionByName(hyb)


IVF_K = 16
IVF_N_PROBE = 4


def q_ann_ivf(spark, sf_dir):
    """IVF assignment + probe machinery with FIXED (hash-seeded,
    0-Lloyd-iteration) centroids so DuckDB can reproduce the result
    exactly; the k-means fit itself is pinned by the pytest recall
    gate (test_ivf_kmeans_recall)."""
    emb = _embeddings(spark, sf_dir)
    seeds = similarity.seed_centroids(emb, IVF_K)
    qvec = list(emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0])
    assigned = similarity.assign_buckets(emb.filter(F.col("vec_id") != 0), seeds)
    return similarity.ivf_cosine_topk(
        assigned, [list(c) for c in seeds], qvec, k=10, n_probe=IVF_N_PROBE
    )


def q_ann_pq(spark, sf_dir):
    """Flat-PQ two-stage search with rerank ≥ corpus size: the ADC
    shortlist then contains EVERY row, so the exact rerank equals the
    exact cosine top-10 BY CONSTRUCTION — the gate drives the full
    encode → code-only ADC scan → shortlist collect → isin-rerank
    machinery end-to-end against the exact-cosine oracle. ADC
    shortlist QUALITY at real rerank sizes is pinned by the pytest
    recall gates (driver correctness runs at sf0.01: 500 vectors ≤
    PQ_RERANK_MAX=1024)."""
    emb = _embeddings(spark, sf_dir)
    qvec = list(
        emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    )
    base = emb.filter(F.col("vec_id") != 0)
    cb = similarity.pq_fit(base, m=16, nbits=8)
    enc = similarity.pq_encode(base, cb)
    return similarity.pq_topk(
        enc, cb, qvec, k=10, rerank=similarity.PQ_RERANK_MAX
    )


ANN_FILTER_LABEL = 3
ANN_FILTER_PROBE = 8  # selective predicate → probe more buckets


def q_ann_filtered(spark, sf_dir):
    """Filtered ANN: the q_ann_ivf machinery with a metadata
    predicate (label = 3) applied inside the probed buckets."""
    emb = _embeddings(spark, sf_dir)
    seeds = similarity.seed_centroids(emb, IVF_K)
    qvec = list(emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0])
    assigned = similarity.assign_buckets(emb.filter(F.col("vec_id") != 0), seeds)
    return similarity.ivf_cosine_topk(
        assigned, [list(c) for c in seeds], qvec, k=10,
        n_probe=ANN_FILTER_PROBE, where=F.col("label") == ANN_FILTER_LABEL,
    )


# -------------------------------------------------- r5 gate folds
# The driver verifies the FIRST 50 entries of QUERIES only; r4 had 59
# entries, so nine gates (all four ANN/embedding gates among them)
# never earned a fresh CORRECTNESS row (VERDICT r4 task 1). The folds
# below union BOTH variants' rows into ONE tag-column result — every
# folded semantic stays driver-checked, the registry drops to 49
# entries, and historically-unverified gates lead the dict. The
# original single-variant q_* functions stay callable for pytest use.


def q_ann_ivf_all(spark, sf_dir):
    """ann_ivf + ann_pq folded → (variant, vec_id, cos_micro)."""
    a = q_ann_ivf(spark, sf_dir).select(
        F.lit("ivf").alias("variant"), "vec_id", "cos_micro"
    )
    b = q_ann_pq(spark, sf_dir).select(
        F.lit("pq").alias("variant"), "vec_id", "cos_micro"
    )
    return a.unionByName(b)


def q_facet_month(spark, sf_dir):
    """Crawl-date histogram for the OR query: matched-doc counts per
    'yyyy-MM' bucket of the minted warc_ts (engine extension)."""
    idx = ensure_index(spark, sf_dir)
    return Q.facet_counts(spark, idx, BM25_TERMS, by="month", mode="or")


def q_facets_all(spark, sf_dir):
    """facet_lang + facet_site + facet_month folded
    → (facet, value, n_docs)."""
    a = q_facet_lang(spark, sf_dir).select(
        F.lit("lang").alias("facet"), "value", "n_docs"
    )
    b = q_facet_site(spark, sf_dir).select(
        F.lit("site").alias("facet"), "value", "n_docs"
    )
    c = q_facet_month(spark, sf_dir).select(
        F.lit("month").alias("facet"), "value", "n_docs"
    )
    return a.unionByName(b).unionByName(c)


def q_phrase_ops(spark, sf_dir):
    """phrase_match + phrase_rank + phrase_rank_wildcard folded →
    (variant, doc_id, val)."""
    m = q_phrase_match(spark, sf_dir).select(
        F.lit("match").alias("variant"), "doc_id",
        F.col("n_occ").cast("long").alias("val"),
    )
    r = q_phrase_rank(spark, sf_dir).select(
        F.lit("rank").alias("variant"), "doc_id",
        F.col("score_micro").alias("val"),
    )
    w = q_phrase_rank_wildcard(spark, sf_dir).select(
        F.lit("rank_wild").alias("variant"), "doc_id",
        F.col("score_micro").alias("val"),
    )
    return m.unionByName(r).unionByName(w)


def q_near_ops(spark, sf_dir):
    """near_match + near_match_wildcard + near_rank + ordered
    proximity (Lucene SpanNear inOrder, engine extension) folded."""
    a = q_near_match(spark, sf_dir).select(
        F.lit("match").alias("variant"), "doc_id",
        F.col("n_near").cast("long").alias("val"),
    )
    b = q_near_match_wildcard(spark, sf_dir).select(
        F.lit("match_wild").alias("variant"), "doc_id",
        F.col("n_near").cast("long").alias("val"),
    )
    c = q_near_rank(spark, sf_dir).select(
        F.lit("rank").alias("variant"), "doc_id",
        F.col("score_micro").alias("val"),
    )
    idx = ensure_index(spark, sf_dir)
    d = Q.near_docs(
        spark, idx, PHRASE_WILD, window=NEAR_WINDOW, ordered=True
    ).select(
        F.lit("ord").alias("variant"), "doc_id",
        F.col("n_near").cast("long").alias("val"),
    )
    return a.unionByName(b).unionByName(c).unionByName(d)


def q_term_stats_all(spark, sf_dir):
    """term_stats + tf_histogram folded → (variant, k, a, b)."""
    t = q_term_stats(spark, sf_dir).select(
        F.lit("term").alias("variant"), F.col("term").alias("k"),
        F.col("df").cast("long").alias("a"),
        F.col("cf").cast("long").alias("b"),
    )
    h = q_tf_histogram(spark, sf_dir).select(
        F.lit("tfh").alias("variant"),
        F.col("tf").cast("string").alias("k"),
        F.col("n_cells").cast("long").alias("a"),
        F.lit(0).cast("long").alias("b"),
    )
    return t.unionByName(h)


def q_exact_dedup_all(spark, sf_dir):
    """exact_dedup (raw) + exact_dedup_norm (CCNet-normalized)."""
    a = q_exact_dedup(spark, sf_dir).select(
        F.lit("raw").alias("variant"), "text_md5", "n_docs", "keep_doc_id"
    )
    b = q_exact_dedup_norm(spark, sf_dir).select(
        F.lit("norm").alias("variant"), "text_md5", "n_docs", "keep_doc_id"
    )
    return a.unionByName(b)


def q_url_ops(spark, sf_dir):
    """canon_url + url_dedup folded (ts already rides as a long)."""
    a = q_canon_url(spark, sf_dir).select(
        F.lit("canon").alias("variant"), "canon_url",
        F.lit(0).cast("long").alias("n_snapshots"),
        F.col("doc_id").cast("long").alias("keep_doc_id"),
        F.lit(-1).cast("long").alias("keep_ts"),
    )
    b = q_url_dedup(spark, sf_dir).select(
        F.lit("dedup").alias("variant"), "canon_url",
        F.col("n_snapshots").cast("long").alias("n_snapshots"),
        F.col("keep_doc_id").cast("long").alias("keep_doc_id"),
        F.col("keep_ts").cast("long").alias("keep_ts"),
    )
    return a.unionByName(b)


def q_substring_ops(spark, sf_dir):
    """dup_windows (profile) + strip_spans (removal) folded."""
    w = q_dup_windows(spark, sf_dir).select(
        F.lit("win").alias("variant"), "doc_id",
        F.col("n_tokens").cast("long").alias("a"),
        F.col("n_windows").cast("long").alias("b"),
        F.col("n_dup_windows").cast("long").alias("c"),
        F.col("dup_token_frac_micro").cast("long").alias("d"),
        F.lit("").alias("txt"),
    )
    s = q_strip_spans(spark, sf_dir).select(
        F.lit("strip").alias("variant"), "doc_id",
        F.col("n_kept_tokens").cast("long").alias("a"),
        F.lit(0).cast("long").alias("b"),
        F.lit(0).cast("long").alias("c"),
        F.lit(0).cast("long").alias("d"),
        F.col("clean_text").alias("txt"),
    )
    return w.unionByName(s)


def q_minhash_lsh(spark, sf_dir):
    """minhash_signatures + lsh_pairs folded → (variant, a, b, c)."""
    s = q_minhash_signatures(spark, sf_dir).select(
        F.lit("sig").alias("variant"),
        F.col("doc_id").cast("long").alias("a"),
        F.col("j").cast("long").alias("b"),
        F.col("mh").cast("long").alias("c"),
    )
    p = q_lsh_pairs(spark, sf_dir).select(
        F.lit("pair").alias("variant"),
        F.col("doc_a").cast("long").alias("a"),
        F.col("doc_b").cast("long").alias("b"),
        F.lit(0).cast("long").alias("c"),
    )
    return s.unionByName(p)


def ensure_merged_index(spark: SparkSession, dirs: list[str], md: str) -> str:
    """The physical merge of ``dirs`` at ``md``, built once. A merge
    writes its stats table after every other table, so a directory
    without one is a merge that crashed part-way: it is cleared and
    merged again (`merge_indexes` refuses a directory that already
    holds segments)."""
    if not B.manifest.table_exists(spark, md, "stats"):
        shutil.rmtree(md, ignore_errors=True)
        B.merge_indexes(spark, dirs, md, range_bits=10)
    return md


def q_sharded_ops(spark, sf_dir):
    """bm25_sharded + bool_sharded + PHYSICAL merge folded: the two
    federated paths AND the consolidated single index
    (`build.merge_indexes` over the same two shards — ids preserved,
    fresh-build-equivalent) must all equal the single-index oracle
    bit-for-bit."""
    a = q_bm25_sharded(spark, sf_dir).select(
        F.lit("bm25").alias("variant"), "doc_id", "score_micro"
    )
    b = q_bool_sharded(spark, sf_dir).select(
        F.lit("bool").alias("variant"), "doc_id", "score_micro"
    )
    dirs = ensure_sharded_index(spark, sf_dir)
    key = os.path.basename(os.path.normpath(sf_dir))
    md = ensure_merged_index(spark, dirs, f"{GATE_DIR}/{key}_merged")
    c = Q.search(
        spark, md, BM25_TERMS, k=10, mode="and", with_urls=False
    ).select(
        F.lit("merged").alias("variant"), "doc_id",
        F.floor(F.col("score") * 1e6 + F.lit(0.5)).cast("long").alias(
            "score_micro"
        ),
    )
    return a.unionByName(b).unionByName(c)


def q_link_graph(spark, sf_dir):
    """Link-graph family (`ops/links.py`), union-tagged:

    * 'extract' — both engines mint the SAME html string per document
      (three anchors: an absolute href with uppercase scheme/host,
      default port and a tracking param; a relative ``../`` href with
      unsorted query params and rel=nofollow on even doc_ids; a
      mailto dropped by the scheme filter). The engine runs the real
      extraction pipeline (element regex → href pull → RFC 3986
      resolution → canonicalization); the oracle CONSTRUCTS the
      expected canonical destinations arithmetically from doc_id —
      an independent derivation, not a re-parse.
    * 'deg' — in/out degrees over a minted host edge list
      (two edges per doc on a 97-host ring, self-loops dropped,
      duplicate host pairs pre-aggregated).
    * 'pr' — 4 PageRank iterations over the same host graph
      (weighted shares, dangling mass redistributed uniformly); the
      oracle unrolls the iterations as chained CTEs. rank → micro.
    """
    from textindex_spark.ops import links as LNK

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    ds = d.cast("string")
    html = F.concat(
        F.lit('<p>x</p><a href="HTTP://Site'), (d % 7).cast("string"),
        F.lit(".Example.com:80/p/"), ds,
        F.lit("?utm_x=1&b="), (d % 3).cast("string"),
        F.lit('">go <b>'), ds, F.lit("</b></a>"),
        F.when(d % 2 == 0, F.lit("<a rel=\"nofollow\" href='../d"))
        .otherwise(F.lit("<a href='../d")),
        (d % 5).cast("string"),
        F.lit("/p.html?z=2&a=1'>rel</a>"),
        F.lit('<a href="mailto:x@y.z">m</a>'),
    )
    src = F.concat(
        F.lit("http://host"), (d % 11).cast("string"),
        F.lit(".example/a/b/page"), ds, F.lit(".html"),
    )
    pages = docs.select(d.alias("doc_id"), src.alias("url"), html.alias("html"))
    links = LNK.extract_links(pages, keep_cols=("doc_id",))
    ext = links.select(
        F.lit("extract").alias("variant"),
        F.col("dst_url").alias("k"),
        F.col("doc_id").alias("a"),
        F.col("nofollow").cast("long").alias("b"),
        F.col("anchor").alias("c"),
    )
    h = F.concat(F.lit("h"), (d % 97).cast("string"))
    e = (
        docs.select(
            h.alias("src_host"),
            F.concat(F.lit("h"), ((d * 7 + 3) % 97).cast("string")).alias(
                "dst_host"
            ),
            F.lit(1).cast("long").alias("w"),
        )
        .union(
            docs.select(
                h.alias("src_host"),
                F.concat(F.lit("h"), ((d * 13 + 5) % 97).cast("string")).alias(
                    "dst_host"
                ),
                F.lit(2).cast("long").alias("w"),
            )
        )
        .where(F.col("src_host") != F.col("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.sum("w").alias("n_links"))
    )
    deg = LNK.link_degrees(e).select(
        F.lit("deg").alias("variant"),
        F.col("node").alias("k"),
        F.col("out_deg").alias("a"),
        F.col("in_deg").alias("b"),
        F.lit("").alias("c"),
    )
    pr = LNK.pagerank(e, iters=4).select(
        F.lit("pr").alias("variant"),
        F.col("node").alias("k"),
        F.floor(F.col("rank") * 1e6 + F.lit(0.5)).cast("long").alias("a"),
        F.lit(0).cast("long").alias("b"),
        F.lit("").alias("c"),
    )
    return ext.unionByName(deg).unionByName(pr)


QUERIES = {
    # gates with no (or stale-r3) driver CORRECTNESS rows come first
    "link_graph": q_link_graph,
    "ann_cosine": q_ann_cosine,
    "ann_ivf": q_ann_ivf_all,
    "ann_filtered": q_ann_filtered,
    "emb_near_dup": q_emb_near_dup,
    "url_dedup": q_url_ops,
    "corpus_profile": q_corpus_profile,
    "line_dedup": q_line_dedup,
    "exact_dedup": q_exact_dedup_all,
    "strip_spans": q_substring_ops,
    "lsh_pairs": q_minhash_lsh,
    # build / index foundations
    "doc_stats": q_doc_stats,
    "tokenize_tf": q_tokenize_tf,
    "term_stats": q_term_stats_all,
    "corpus_stats": q_corpus_stats,
    "wildcard_expand": q_wildcard_expand,
    "search_and": q_search_and,
    # ranked retrieval
    "bm25_topk": q_bm25_topk,
    "bm25_or_topk": q_bm25_or_topk,
    "bm25_not": q_bm25_not,
    "bool_query": q_bool_query,
    "bm25_sharded": q_sharded_ops,
    "facet_site": q_facets_all,
    "phrase_rank": q_phrase_ops,
    "near_rank": q_near_ops,
    "rare_terms": q_rare_terms,
    "find_files": q_find_files,
    "matched_lines": q_matched_lines,
    "bm25_after_append": q_bm25_after_append,
    "bm25_after_delete": q_bm25_after_delete,
    # dedup family
    "ngram_jaccard": q_ngram_jaccard,
    "dedup_clusters": q_dedup_clusters,
    "stream_dedup": q_stream_dedup,
    "simhash": q_simhash,
    # text analysis / curation
    "lang_id": q_lang_id,
    "quality": q_quality,
    "corpus_filter": q_corpus_filter,
    "pipeline_keep": q_pipeline_keep,
    "token_counts": q_token_counts,
    "fingerprint": q_fingerprint,
    "decontam": q_decontam,
    "pii_redact": q_pii_redact,
    "sample_strat": q_sample_strat,
    "budget_select": q_budget_select,
    "top_ngrams": q_top_ngrams,
    "unigram_nll": q_unigram_nll,
    "chunks": q_chunks,
    "pack_bins": q_pack_bins,
    "repetition": q_repetition,
    # multimodal (the one family that had no oracle gate before r5)
    "media_features": q_media_features,
}


# ------------------------------------------------------------- oracle SQL

def _minhash_sql(src: str = "documents") -> str:
    params = dedup.minhash_params()
    p = dedup.MINHASH_P
    mins = ",\n        ".join(
        f"min(({a} * h + {b}) % {p}) AS mh{j}" for j, (a, b) in enumerate(params)
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT doc_id, {j} AS j, mh{j} AS mh FROM sigs" for j in range(len(params))
    )
    return f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split(replace(text, chr(10), ' '), ' '),
                       x -> x <> '') AS t
    FROM {src}
),
idx AS (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks
),
sh AS (
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM idx
),
hashed AS (
    SELECT doc_id,
           (('0x' || substring(md5(shingle), 1, 15))::BIGINT) % {p} AS h
    FROM sh
),
sigs AS (
    SELECT doc_id,
        {mins}
    FROM hashed GROUP BY doc_id
)
{unions}
"""


def _lsh_pairs_sql(src: str = "documents") -> str:
    """Mirror of lsh_candidate_pairs WITH the r4 hot-bucket guards:
    signature-identical docs collapse to min-id canonicals (linear
    star pairs), only canonicals enter the band join, and band
    buckets above MAX_BAND_BUCKET canonicals are excluded."""
    base = _minhash_sql(src)
    return f"""
WITH sig_rows AS MATERIALIZED ({base}),
sigkey AS (
    SELECT doc_id, string_agg(mh::VARCHAR, ',' ORDER BY j) AS sk
    FROM sig_rows GROUP BY doc_id
),
grp AS (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY sk) AS canon_id FROM sigkey
),
stars AS (
    SELECT canon_id AS doc_a, doc_id AS doc_b FROM grp WHERE doc_id <> canon_id
),
bands AS MATERIALIZED (
    SELECT doc_id, (j // {dedup.LSH_BAND_SIZE}) AS band,
           string_agg(mh::VARCHAR, ',' ORDER BY j) AS band_key
    FROM sig_rows GROUP BY doc_id, (j // {dedup.LSH_BAND_SIZE})
),
cbands AS MATERIALIZED (
    SELECT b.doc_id, b.band, b.band_key
    FROM bands b JOIN grp g ON g.doc_id = b.doc_id AND g.doc_id = g.canon_id
),
hot AS (
    SELECT band, band_key FROM cbands
    GROUP BY band, band_key HAVING count(*) > {dedup.MAX_BAND_BUCKET}
),
cold AS (
    SELECT c.doc_id, c.band, c.band_key FROM cbands c
    LEFT JOIN hot h ON c.band = h.band AND c.band_key = h.band_key
    WHERE h.band IS NULL
)
SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM cold a JOIN cold b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    UNION ALL
    SELECT doc_a, doc_b FROM stars
)
"""


def _stream_dedup_sql() -> str:
    """Mirror of q_stream_dedup: the two-batch state machine unrolled
    into CTEs. Batch 0 dedups within itself (state empty); its
    survivors form the kept state; batch 1 dedups against state (any
    id order) and within itself (ordered, live docs only). Near
    verdicts need est-Jaccard (agreeing minhash share) ≥ 0.5."""
    split = STREAM_DEDUP_SPLIT
    from textindex_spark.streaming.dedup import EST_THRESHOLD_DEFAULT as THR

    return f"""
WITH sig_rows AS MATERIALIZED ({_minhash_sql()}),
bands AS MATERIALIZED (
    SELECT doc_id, (j // {dedup.LSH_BAND_SIZE}) AS band,
           string_agg(mh::VARCHAR, ',' ORDER BY j) AS band_key
    FROM sig_rows GROUP BY doc_id, (j // {dedup.LSH_BAND_SIZE})
),
b1 AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < {split}),
b2 AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= {split}),
b1canon AS (SELECT h, min(doc_id) AS c FROM b1 GROUP BY h),
ex1 AS (
    SELECT doc_id, c AS dup_of FROM b1 JOIN b1canon USING (h)
    WHERE doc_id <> c
),
live1 AS (SELECT doc_id FROM b1 WHERE doc_id NOT IN (SELECT doc_id FROM ex1)),
lbands1 AS (
    SELECT b.doc_id, b.band, b.band_key
    FROM bands b JOIN live1 l ON l.doc_id = b.doc_id
),
hot1 AS (
    SELECT band, band_key FROM lbands1
    GROUP BY band, band_key HAVING count(*) > {dedup.MAX_BAND_BUCKET}
),
cold1 AS (
    SELECT c.doc_id, c.band, c.band_key FROM lbands1 c
    LEFT JOIN hot1 h ON c.band = h.band AND c.band_key = h.band_key
    WHERE h.band IS NULL
),
cand1 AS (
    SELECT DISTINCT n.doc_id, o.doc_id AS dup_of
    FROM cold1 n JOIN cold1 o ON n.band = o.band AND n.band_key = o.band_key
    WHERE o.doc_id < n.doc_id
),
est1 AS (
    SELECT c.doc_id, c.dup_of,
           sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)::DOUBLE / count(*) AS est
    FROM cand1 c
    JOIN sig_rows sa ON sa.doc_id = c.doc_id
    JOIN sig_rows sb ON sb.doc_id = c.dup_of AND sb.j = sa.j
    GROUP BY c.doc_id, c.dup_of
    HAVING sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)::DOUBLE / count(*) >= {THR}
),
nbest1 AS (
    -- best near target per near-dropped doc: max est, tie -> min id
    SELECT doc_id, re, re_est FROM (
        SELECT doc_id, dup_of AS re, est AS re_est,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY est DESC, dup_of ASC) AS rn
        FROM est1
    ) WHERE rn = 1
),
v1 AS (
    -- exact verdicts whose canonical is near-dropped in the same
    -- batch are re-pointed one hop (mirrors dedup_batch)
    SELECT e.doc_id,
           coalesce(n.re, e.dup_of) AS dup_of,
           CASE WHEN n.re IS NOT NULL THEN 'near' ELSE 'exact' END AS kind,
           coalesce(floor(n.re_est * 1e6 + 0.5)::BIGINT, 1000000::BIGINT)
               AS est_jaccard_micro,
           0::BIGINT AS batch_id
    FROM ex1 e LEFT JOIN nbest1 n ON e.dup_of = n.doc_id
    UNION ALL
    SELECT doc_id, dup_of, 'near', floor(est * 1e6 + 0.5)::BIGINT, 0::BIGINT
    FROM est1
),
kept1 AS (
    SELECT doc_id FROM b1
    WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM v1)
),
statecanon AS (
    SELECT h, min(b1.doc_id) AS c FROM b1 JOIN kept1 USING (doc_id) GROUP BY h
),
b2canon AS (SELECT h, min(doc_id) AS c FROM b2 GROUP BY h),
ex2 AS (
    SELECT doc_id, dup_of FROM (
        SELECT d.doc_id,
               coalesce(s.c, CASE WHEN d.doc_id <> bc.c THEN bc.c END) AS dup_of
        FROM b2 d
        LEFT JOIN statecanon s USING (h)
        JOIN b2canon bc USING (h)
    ) WHERE dup_of IS NOT NULL AND dup_of <> doc_id
),
live2 AS (SELECT doc_id FROM b2 WHERE doc_id NOT IN (SELECT doc_id FROM ex2)),
kbands AS (
    SELECT b.doc_id, b.band, b.band_key
    FROM bands b JOIN kept1 k ON k.doc_id = b.doc_id
),
l2bands AS (
    SELECT b.doc_id, b.band, b.band_key
    FROM bands b JOIN live2 l ON l.doc_id = b.doc_id
),
hot2 AS (
    SELECT band, band_key FROM (
        SELECT band, band_key FROM kbands
        UNION ALL SELECT band, band_key FROM l2bands
    ) GROUP BY band, band_key HAVING count(*) > {dedup.MAX_BAND_BUCKET}
),
kcold AS (
    SELECT c.doc_id, c.band, c.band_key FROM kbands c
    LEFT JOIN hot2 h ON c.band = h.band AND c.band_key = h.band_key
    WHERE h.band IS NULL
),
l2cold AS (
    SELECT c.doc_id, c.band, c.band_key FROM l2bands c
    LEFT JOIN hot2 h ON c.band = h.band AND c.band_key = h.band_key
    WHERE h.band IS NULL
),
cand2 AS (
    SELECT DISTINCT n.doc_id, o.doc_id AS dup_of
    FROM l2cold n JOIN kcold o ON n.band = o.band AND n.band_key = o.band_key
    UNION
    SELECT DISTINCT n.doc_id, o.doc_id AS dup_of
    FROM l2cold n JOIN l2cold o ON n.band = o.band AND n.band_key = o.band_key
    WHERE o.doc_id < n.doc_id
),
est2 AS (
    SELECT c.doc_id, c.dup_of,
           sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)::DOUBLE / count(*) AS est
    FROM cand2 c
    JOIN sig_rows sa ON sa.doc_id = c.doc_id
    JOIN sig_rows sb ON sb.doc_id = c.dup_of AND sb.j = sa.j
    GROUP BY c.doc_id, c.dup_of
    HAVING sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)::DOUBLE / count(*) >= {THR}
),
nbest2 AS (
    SELECT doc_id, re, re_est FROM (
        SELECT doc_id, dup_of AS re, est AS re_est,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY est DESC, dup_of ASC) AS rn
        FROM est2
    ) WHERE rn = 1
),
v2 AS (
    SELECT e.doc_id,
           coalesce(n.re, e.dup_of) AS dup_of,
           CASE WHEN n.re IS NOT NULL THEN 'near' ELSE 'exact' END AS kind,
           coalesce(floor(n.re_est * 1e6 + 0.5)::BIGINT, 1000000::BIGINT)
               AS est_jaccard_micro,
           1::BIGINT AS batch_id
    FROM ex2 e LEFT JOIN nbest2 n ON e.dup_of = n.doc_id
    UNION ALL
    SELECT doc_id, dup_of, 'near', floor(est * 1e6 + 0.5)::BIGINT, 1::BIGINT
    FROM est2
)
SELECT * FROM v1 UNION ALL SELECT * FROM v2
"""


def _dedup_clusters_sql() -> str:
    """Mirror of q_dedup_clusters: transitive closure of the LSH pair
    graph by recursive CTE (tractable at gate scale; the engine side
    is iterative label propagation), cluster_id = min reachable
    doc_id including self."""
    return f"""
WITH RECURSIVE pairs AS ({_lsh_pairs_sql()}),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst))::BIGINT AS cluster_id
FROM reach GROUP BY src
"""


def _pipeline_keep_sql() -> str:
    """Mirror of q_pipeline_keep: corpus_filter keepers → LSH pairs
    over ONLY those docs → recursive-CTE closure → canonical keep
    list."""
    return f"""
WITH RECURSIVE v AS MATERIALIZED ({_corpus_filter_sql()}),
kdocs AS MATERIALIZED (
    SELECT d.doc_id, d.text FROM documents d
    JOIN v ON d.doc_id = v.doc_id WHERE v.keep
),
pairs AS ({_lsh_pairs_sql('kdocs')}),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
dropset AS (
    SELECT src AS doc_id FROM reach
    GROUP BY src HAVING src > least(src, min(dst))
)
SELECT doc_id FROM kdocs
WHERE doc_id NOT IN (SELECT doc_id FROM dropset)
"""


def _quality_sql() -> str:
    return f"""
WITH {_TOKS_CTE},
allt AS (
    SELECT doc_id, term FROM toks WHERE term <> ''
),
agg AS (
    SELECT d.doc_id,
           length(d.text) AS n_chars,
           count(a.term)::INT AS n_tokens,
           coalesce(sum(CASE WHEN lower(a.term) IN ({STOP_LIST_SQL}) THEN 1 ELSE 0 END), 0)
               AS n_stop,
           coalesce(sum(length(a.term)), 0)::DOUBLE AS tok_chars
    FROM documents d LEFT JOIN allt a ON d.doc_id = a.doc_id
    GROUP BY d.doc_id, d.text
)
SELECT doc_id, n_tokens, n_chars,
    floor((n_stop / greatest(n_tokens, 1)) * 1e6 + 0.5)::BIGINT AS stop_ratio_micro,
    floor((tok_chars / greatest(n_tokens, 1)) * 1e6 + 0.5)::BIGINT AS mean_tok_len_micro,
    floor((
        least((n_stop / greatest(n_tokens, 1)) * 5.0, 1.0) * 0.4
        + least(n_tokens / 64.0, 1.0) * 0.3
        + (CASE WHEN (tok_chars / greatest(n_tokens, 1)) BETWEEN 3.0 AND 8.0
                THEN 1.0 ELSE 0.0 END) * 0.3
    ) * 1e6 + 0.5)::BIGINT AS quality_micro
FROM agg
"""


def _corpus_filter_sql() -> str:
    """DuckDB mirror of filter_verdicts at FILTER_PARAMS: the quality
    and lang-id oracle queries composed as subquery CTEs, verdict and
    reason with the same lang > length > quality precedence."""
    p = FILTER_PARAMS
    lang_list = ",".join(_sql_quote(lg) for lg in p["langs"])
    return f"""
WITH q AS ( {_quality_sql()} ),
l AS ( {_lang_id_sql()} ),
j AS (
    SELECT q.doc_id, l.pred_lang, q.quality_micro, q.n_tokens,
           (l.pred_lang IN ({lang_list})) AS lang_ok,
           (q.n_tokens >= {p["min_tokens"]} AND q.n_tokens <= {p["max_tokens"]}) AS len_ok,
           (q.quality_micro >= {p["min_quality_micro"]}) AS qual_ok
    FROM q JOIN l ON q.doc_id = l.doc_id
)
SELECT doc_id, pred_lang, quality_micro, n_tokens,
       (lang_ok AND len_ok AND qual_ok) AS keep,
       CASE WHEN NOT lang_ok THEN 'lang'
            WHEN NOT len_ok THEN 'length'
            WHEN NOT qual_ok THEN 'quality'
            ELSE '' END AS reason
FROM j
"""


def _lang_id_sql() -> str:
    cases = []
    hits = []
    for lang in sorted(textstats.LANG_MARKERS):
        markers = ",".join(_sql_quote(m) for m in textstats.LANG_MARKERS[lang])
        hits.append(
            f"sum(CASE WHEN lower(term) IN ({markers}) THEN 1 ELSE 0 END)::INT AS hits_{lang}"
        )
        cases.append(f"WHEN hits_{lang} = best THEN '{lang}'")
    when_chain = " ".join(cases)
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
scored AS (
    SELECT d.doc_id, {", ".join(hits)}
    FROM documents d LEFT JOIN toks t ON d.doc_id = t.doc_id
    GROUP BY d.doc_id
),
ranked AS (
    SELECT doc_id, hits_de, hits_en, hits_fr,
           greatest(hits_de, hits_en, hits_fr) AS best
    FROM scored
)
SELECT doc_id,
       CASE WHEN best <= 0 THEN 'und' {when_chain} END AS pred_lang,
       best AS best_hits
FROM ranked
"""


def _ann_ivf_sql(n_probe: int = IVF_N_PROBE, where: str = "TRUE") -> str:
    """Mirror of q_ann_ivf: hash-ranked seed centroids, cosine-argmax
    bucket assignment (dots rounded to 6 decimals on BOTH engines so
    last-ulp summation differences can't flip the argmax), probe the
    ``n_probe`` query-nearest buckets, exact top-10 within them.
    ``where``: the filtered-ANN metadata predicate (mirrors
    ``ivf_cosine_topk(where=)``)."""
    cos6 = (
        "round(list_dot_product({a}, {b})"
        " / (greatest(sqrt(list_dot_product({a}, {a})), 1e-12)"
        " * greatest(sqrt(list_dot_product({b}, {b})), 1e-12)), 6)"
    )
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
seedrank AS (
    SELECT vec_id AS sid, embedding::DOUBLE[] AS cvec,
           row_number() OVER (
               ORDER BY ('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT,
                        vec_id
           ) - 1 AS bucket
    FROM embeddings
),
buckets AS (SELECT * FROM seedrank WHERE bucket < {IVF_K}),
assign AS (
    SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
           (SELECT b.bucket FROM buckets b
            ORDER BY {cos6.format(a="e.embedding::DOUBLE[]", b="b.cvec")} DESC,
                     b.bucket ASC
            LIMIT 1) AS bucket
    FROM embeddings e WHERE e.vec_id <> 0 AND ({where})
),
probe AS (
    SELECT b.bucket FROM buckets b, q
    ORDER BY {cos6.format(a="q.qv", b="b.cvec")} DESC, b.bucket ASC
    LIMIT {n_probe}
),
scored AS (
    SELECT a.vec_id,
           list_dot_product(a.v, q.qv)
           / (greatest(sqrt(list_dot_product(a.v, a.v)), 1e-12)
              * sqrt(list_dot_product(q.qv, q.qv))) AS cos
    FROM assign a JOIN probe p ON a.bucket = p.bucket, q
)
SELECT vec_id, floor(cos * 1e6 + 0.5)::BIGINT AS cos_micro
FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10
"""


def _emb_near_dup_sql() -> str:
    """Mirror of q_emb_near_dup: deterministic hyperplanes from the
    md5 hash of 'b_i', sign bits from round(dot, 6), calibrated band
    segments (EMB_GATE_BITS/EMB_GATE_SEGS), bucketed candidate join,
    exact-cosine verify on the integer cos_micro (no float-boundary
    disagreement possible)."""
    n_bits = EMB_GATE_BITS
    n_segs = EMB_GATE_SEGS
    width = n_bits // n_segs
    thr_micro = int(EMB_NEAR_THRESHOLD * 1e6 + 0.5)
    # driver testdata embeddings are 64-dimensional at every sf (the
    # engine side derives d from the data; generate_series can't take
    # a lateral column parameter in DuckDB, so the oracle pins it)
    emb_dim = 64
    return f"""
WITH planes AS (
    SELECT b, list(val ORDER BY i) AS p FROM (
        SELECT t.b, s.i,
               (((('0x' || substring(md5(t.b::VARCHAR || '_' || s.i::VARCHAR), 1, 15))::BIGINT)
                 % 2000001) - 1000000) / 1e6 AS val
        FROM generate_series(0, {n_bits - 1}) AS t(b),
             generate_series(0, {emb_dim - 1}) AS s(i)
    ) GROUP BY b
),
-- r4 exact-duplicate-vector collapse (mirror of the engine's star
-- guard): identical non-zero embeddings reduce to a min-id canonical;
-- members ride as (canon, member, 1e6) stars, only canonicals band
canon AS (
    SELECT embedding, min(vec_id) AS canon_id FROM embeddings
    WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    GROUP BY embedding
),
tagged AS (
    SELECT e.vec_id, e.embedding,
           coalesce(c.canon_id, e.vec_id) AS canon_id
    FROM embeddings e LEFT JOIN canon c ON e.embedding = c.embedding
),
stars AS (
    SELECT canon_id AS vec_a, vec_id AS vec_b, 1000000::BIGINT AS cos_micro
    FROM tagged WHERE vec_id <> canon_id
),
reps AS (
    SELECT vec_id, embedding FROM tagged WHERE vec_id = canon_id
),
bits AS (
    SELECT e.vec_id, p.b,
           CASE WHEN round(list_dot_product(e.embedding::DOUBLE[], p.p), 6) >= 0
                THEN 1::BIGINT ELSE 0::BIGINT END AS bit
    FROM reps e, planes p
),
segs AS (
    SELECT vec_id, (b // {width}) AS seg,
           sum(bit << (b % {width}))::BIGINT AS seg_val
    FROM bits GROUP BY vec_id, (b // {width})
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM segs a JOIN segs b
      ON a.seg = b.seg AND a.seg_val = b.seg_val AND a.vec_id < b.vec_id
),
verified AS (
    SELECT c.vec_a, c.vec_b,
           floor(list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
                 / (greatest(sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])), 1e-12)
                    * greatest(sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[])), 1e-12))
                 * 1e6 + 0.5)::BIGINT AS cos_micro
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.vec_a
    JOIN embeddings eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, cos_micro FROM verified WHERE cos_micro >= {thr_micro}
UNION ALL
SELECT vec_a, vec_b, cos_micro FROM stars WHERE 1000000 >= {thr_micro}
"""



def _slot_cond(w: str) -> str:
    """SQL predicate for one phrase slot: equality for literals, LIKE
    for wildcard patterns (* → %, ? → _; gate patterns contain no
    literal SQL metachars)."""
    if "*" in w or "?" in w:
        return f"term LIKE '{w.replace('*', '%').replace('?', '_')}'"
    return f"term = {_sql_quote(w)}"


def _fielded_sql(with_title: bool = False) -> str:
    """Oracle for the bm25_topk 'anchor' (and, with_title, 'fields')
    variant: body OR-mode BM25 plus W_ANCHOR × anchor-field BM25
    (plus W_TITLE × title-field BM25), full-outer-merged with every
    side coalesced — a doc matched in ANY single field must score.
    The anchor corpus is reconstructed arithmetically (two anchors
    per doc over ANCHOR_WORDS; the digest joins the two distinct
    anchor strings in lexicographic order — exactly `top_anchors`'
    count-desc/anchor-asc order at equal counts); the title corpus
    likewise ('<w> heading'). Each field's BM25 uses its own
    n_docs/avgdl/df, mirroring the engine's per-field stats; the
    per-field CTE chain is emitted by ONE helper so the BM25 formula
    exists once."""

    def aw(expr: str) -> str:
        whens = " ".join(
            f"WHEN {i} THEN '{w}'" for i, w in enumerate(ANCHOR_WORDS)
        )
        return f"(CASE ({expr}) % {len(ANCHOR_WORDS)} {whens} END)"

    bm25_terms = ",".join(_sql_quote(t) for t in BM25_TERMS)

    def field_chain(p: str, corpus: str) -> str:
        """tokens → stop-filter → tf → dl → stats → dfs → hits →
        {p}scored over the CTE named ``corpus`` (doc_id, text)."""
        return f""",
{p}toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {corpus}
),
{p}kept AS (
    SELECT doc_id, term FROM {p}toks
    WHERE term <> '' AND term NOT IN ({STOP_LIST_SQL})
),
{p}tf AS (
    SELECT doc_id, term, count(*)::BIGINT AS tf
    FROM {p}kept GROUP BY doc_id, term
),
{p}dl AS (
    SELECT c.doc_id, coalesce(k.n, 0)::BIGINT AS doc_len
    FROM {corpus} c
    LEFT JOIN (SELECT doc_id, count(*) AS n FROM {p}kept GROUP BY doc_id) k
      ON c.doc_id = k.doc_id
),
{p}stats AS (
    SELECT count(*)::DOUBLE AS n_docs, avg(doc_len)::DOUBLE AS avgdl
    FROM {p}dl
),
{p}dfs AS (
    SELECT term, count(*)::DOUBLE AS df FROM {p}tf
    WHERE term IN ({bm25_terms}) GROUP BY term
),
{p}hits AS (
    SELECT t.doc_id,
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * t.tf * (1.2 + 1.0)
           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.doc_len / s.avgdl)) AS w
    FROM {p}tf t
    JOIN {p}dfs f ON t.term = f.term
    JOIN {p}dl d ON t.doc_id = d.doc_id
    CROSS JOIN {p}stats s
),
{p}scored AS (SELECT doc_id, sum(w) AS score FROM {p}hits GROUP BY doc_id)"""

    anchor_ctes = f""",
amint AS (
    SELECT doc_id,
           {aw("doc_id * 3 + 1")} || ' link' AS s1,
           {aw("doc_id * 5 + 2")} || ' page' AS s2
    FROM documents
),
acorp AS (
    SELECT doc_id,
           CASE WHEN s1 < s2 THEN s1 || ' ' || s2
                ELSE s2 || ' ' || s1 END AS text
    FROM amint
){field_chain("a", "acorp")}"""
    title_ctes = f""",
tcorp AS (
    SELECT doc_id, {aw("doc_id * 7 + 4")} || ' heading' AS text
    FROM documents
){field_chain("t", "tcorp")}"""
    if with_title:
        merge = f"""
fielded AS (
    SELECT coalesce(ba.doc_id, t.doc_id) AS doc_id,
           coalesce(ba.score2, 0.0::DOUBLE)
           + {W_TITLE}::DOUBLE * coalesce(t.score, 0.0::DOUBLE) AS score
    FROM (
        SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
               coalesce(b.score, 0.0::DOUBLE)
               + {W_ANCHOR}::DOUBLE * coalesce(a.score, 0.0::DOUBLE)
                   AS score2
        FROM bscored b FULL JOIN ascored a ON b.doc_id = a.doc_id
    ) ba FULL JOIN tscored t ON ba.doc_id = t.doc_id
)"""
    else:
        merge = f"""
fielded AS (
    SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
           coalesce(b.score, 0.0::DOUBLE)
           + {W_ANCHOR}::DOUBLE * coalesce(a.score, 0.0::DOUBLE) AS score
    FROM bscored b FULL JOIN ascored a ON b.doc_id = a.doc_id
)"""
    return f"""
WITH {_TOKS_CTE},
stats AS (
    SELECT count(*)::DOUBLE AS n_docs, avg(doc_len)::DOUBLE AS avgdl FROM dl
),
dfs AS (
    SELECT term, count(*)::DOUBLE AS df FROM tf
    WHERE term IN ({bm25_terms}) GROUP BY term
),
hits AS (
    SELECT t.doc_id,
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * t.tf * (1.2 + 1.0)
           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.doc_len / s.avgdl)) AS w
    FROM tf t
    JOIN dfs f ON t.term = f.term
    JOIN dl d ON t.doc_id = d.doc_id
    CROSS JOIN stats s
),
bscored AS (SELECT doc_id, sum(w) AS score FROM hits GROUP BY doc_id){anchor_ctes}{title_ctes if with_title else ""},{merge}
SELECT doc_id, floor(score * 1e6 + 0.5)::BIGINT AS score_micro
FROM fielded ORDER BY score DESC, doc_id ASC LIMIT 10
"""


def _link_graph_sql(iters: int = 4, d: float = 0.85) -> str:
    """Oracle for `q_link_graph`. The 'extract' variant derives the
    expected canonical destinations ARITHMETICALLY from doc_id (an
    independent derivation — the engine side runs the real regex →
    resolve → canonicalize pipeline). 'deg'/'pr' replay the minted
    97-host graph; PageRank iterations are unrolled as chained CTEs
    with the same float-op order as `ops.links.pagerank` (micro
    rounding absorbs associativity drift in the sums)."""
    ctes = [
        """e0 AS (
    SELECT 'h' || (doc_id % 97) AS src, 'h' || ((doc_id * 7 + 3) % 97) AS dst,
           1::BIGINT AS w
    FROM documents
    UNION ALL
    SELECT 'h' || (doc_id % 97), 'h' || ((doc_id * 13 + 5) % 97), 2::BIGINT
    FROM documents
)""",
        """e AS (
    SELECT src, dst, sum(w)::BIGINT AS w FROM e0
    WHERE src <> dst GROUP BY src, dst
)""",
        """nodes AS (
    SELECT DISTINCT node
    FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)
)""",
        "nn AS (SELECT count(*)::BIGINT AS cnt FROM nodes)",
        "outw AS (SELECT src, sum(w)::BIGINT AS ow FROM e GROUP BY src)",
        """norm AS (
    SELECT e.src, e.dst, (e.w::DOUBLE) / outw.ow AS share
    FROM e JOIN outw ON e.src = outw.src
)""",
        "dang AS (SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM e))",
        "r0 AS (SELECT node, 1.0::DOUBLE / cnt AS rank FROM nodes, nn)",
    ]
    for i in range(iters):
        ctes.append(
            f"""d{i} AS (
    SELECT coalesce(sum(rank), 0.0::DOUBLE) AS dm FROM r{i}
    WHERE node IN (SELECT node FROM dang)
)"""
        )
        ctes.append(
            f"""c{i} AS (
    SELECT norm.dst AS node, sum(norm.share * r{i}.rank) AS c
    FROM norm JOIN r{i} ON r{i}.node = norm.src GROUP BY norm.dst
)"""
        )
        ctes.append(
            f"""r{i + 1} AS (
    SELECT nodes.node,
           ((1.0::DOUBLE - {d}::DOUBLE) / nn.cnt
            + ({d}::DOUBLE * d{i}.dm) / nn.cnt)
           + {d}::DOUBLE * coalesce(c{i}.c, 0.0::DOUBLE) AS rank
    FROM nodes CROSS JOIN nn CROSS JOIN d{i}
    LEFT JOIN c{i} ON c{i}.node = nodes.node
)"""
        )
    return f"""
WITH {",".join(ctes)}
SELECT 'extract' AS variant,
       'http://site' || (doc_id % 7) || '.example.com/p/' || doc_id
           || '?b=' || (doc_id % 3) AS k,
       doc_id AS a, 0::BIGINT AS b, 'go ' || doc_id AS c
FROM documents
UNION ALL
SELECT 'extract',
       'http://host' || (doc_id % 11) || '.example/a/d' || (doc_id % 5)
           || '/p.html?a=1&z=2',
       doc_id, (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT, 'rel'
FROM documents
UNION ALL
SELECT 'deg', coalesce(o.node, i.node),
       coalesce(o.od, 0)::BIGINT, coalesce(i.idg, 0)::BIGINT, ''
FROM (SELECT src AS node, sum(w) AS od FROM e GROUP BY src) o
FULL JOIN (SELECT dst AS node, sum(w) AS idg FROM e GROUP BY dst) i
    ON o.node = i.node
UNION ALL
SELECT 'pr', node, floor(rank * 1e6 + 0.5)::BIGINT, 0::BIGINT, ''
FROM r{iters}
"""


def _phrase_sql(phrase: list[str], ranked: bool) -> str:
    """DuckDB mirror of phrase_docs / search_phrase: kept-token
    positions (stop words removed, position = rank among kept tokens,
    identical to refimpl.term_positions on the clean testdata text),
    one shifted self-join per phrase slot (wildcard slots take the
    union of their expansion's positions), exact occurrence counts.
    The ranked variant sums BM25 over DISTINCT slot patterns: a
    literal pattern contributes its term's partial, a wildcard
    pattern the MAX partial over expansion terms present in the doc
    (engine semantics, query._phrase_frame)."""
    joins = "\n".join(
        f"    JOIN p{i} USING (doc_id, pos)" for i in range(1, len(phrase))
    )
    pcte = ",\n".join(
        f"p{i} AS (SELECT doc_id, pos - {i} AS pos FROM kept WHERE {_slot_cond(t)})"
        for i, t in enumerate(phrase)
    )
    base = f"""
rawtoks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
widx AS (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM rawtoks),
flat AS (SELECT doc_id, l[i] AS term, i FROM widx WHERE l[i] <> ''),
kept AS (
    SELECT doc_id, term,
           row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS pos
    FROM flat WHERE term NOT IN ({STOP_LIST_SQL})
),
{pcte},
occ AS (
    SELECT p0.doc_id, p0.pos FROM p0
{joins}
),
matches AS (SELECT doc_id, count(*)::INT AS n_occ FROM occ GROUP BY doc_id)
"""
    if not ranked:
        return f"WITH {base} SELECT doc_id, n_occ FROM matches"
    pats = sorted(set(phrase))
    any_cond = " OR ".join(_slot_cond(p) for p in pats)
    wctes = ",\n".join(
        f"w{j} AS (SELECT doc_id, max(w) AS w FROM hits WHERE {_slot_cond(p)} GROUP BY doc_id)"
        for j, p in enumerate(pats)
    )
    wjoins = "\n".join(f"JOIN w{j} USING (doc_id)" for j in range(len(pats)))
    wsum = " + ".join(f"w{j}.w" for j in range(len(pats)))
    return f"""
WITH {base},
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM kept GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*)::BIGINT AS doc_len FROM kept GROUP BY doc_id),
alldl AS (
    SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len
    FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id
),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(doc_len)::DOUBLE AS avgdl FROM alldl),
dfs AS (
    SELECT term, count(*)::DOUBLE AS df FROM tf
    WHERE {any_cond} GROUP BY term
),
hits AS (
    SELECT t.doc_id, t.term,
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * t.tf * (1.2 + 1.0)
           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.doc_len / s.avgdl)) AS w
    FROM tf t
    JOIN dfs f ON t.term = f.term
    JOIN alldl d ON t.doc_id = d.doc_id
    CROSS JOIN stats s
),
{wctes}
SELECT m.doc_id, floor(({wsum}) * 1e6 + 0.5)::BIGINT AS score_micro
FROM matches m
{wjoins}
ORDER BY ({wsum}) DESC, m.doc_id ASC LIMIT 10
"""



def _near_ordered_sql(phrase: list[str], window: int) -> str:
    """DuckDB mirror of query.near_docs(ordered=True): an in-order
    chain of correlated EXISTS — slot i strictly after slot i-1's
    match, at most ``window`` kept tokens later; duplicates keep
    their own chain step."""
    def nest(i: int, prev: str) -> str:
        if i == len(phrase):
            return "TRUE"
        inner = nest(i + 1, f"o{i}.pos")
        return (
            f"EXISTS (SELECT 1 FROM kept o{i} WHERE o{i}.doc_id = a.doc_id"
            f" AND o{i}.{_slot_cond(phrase[i])}"
            f" AND o{i}.pos > {prev} AND o{i}.pos <= {prev} + {window}"
            f" AND {inner})"
        )

    return f"""
WITH
rawtoks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
widx AS (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM rawtoks),
flat AS (SELECT doc_id, l[i] AS term, i FROM widx WHERE l[i] <> ''),
kept AS (
    SELECT doc_id, term,
           row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS pos
    FROM flat WHERE term NOT IN ({STOP_LIST_SQL})
),
anchors AS (
    SELECT a.doc_id, a.pos FROM kept a
    WHERE a.{_slot_cond(phrase[0])}
      AND {nest(1, "a.pos")}
)
SELECT doc_id, count(*)::INT AS n_near FROM anchors GROUP BY doc_id
"""


def _near_sql(phrase: list[str], window: int, ranked: bool = False) -> str:
    """DuckDB mirror of query.near_docs / search_near (anchored-window
    NEAR); wildcard slots match via LIKE (union over the expansion).
    The ranked variant scores like _phrase_sql: BM25 summed over
    DISTINCT slot patterns, wildcard patterns taking the MAX partial
    over expansion terms present in the doc."""
    anchor = phrase[0]
    others = sorted(set(phrase[1:]) - {anchor})
    exists = "\n".join(
        f"      AND EXISTS (SELECT 1 FROM kept o{i} WHERE o{i}.doc_id = a.doc_id"
        f" AND o{i}.{_slot_cond(t)}"
        f" AND o{i}.pos BETWEEN a.pos - {window} AND a.pos + {window})"
        for i, t in enumerate(others)
    )
    base = f"""
rawtoks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
widx AS (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM rawtoks),
flat AS (SELECT doc_id, l[i] AS term, i FROM widx WHERE l[i] <> ''),
kept AS (
    SELECT doc_id, term,
           row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS pos
    FROM flat WHERE term NOT IN ({STOP_LIST_SQL})
),
anchors AS (
    SELECT a.doc_id, a.pos FROM kept a
    WHERE a.{_slot_cond(anchor)}
{exists}
)"""
    if not ranked:
        return f"""
WITH {base}
SELECT doc_id, count(*)::INT AS n_near FROM anchors GROUP BY doc_id
"""
    pats = sorted(set(phrase))
    any_cond = " OR ".join(_slot_cond(p) for p in pats)
    wctes = ",\n".join(
        f"w{j} AS (SELECT doc_id, max(w) AS w FROM hits WHERE {_slot_cond(p)} GROUP BY doc_id)"
        for j, p in enumerate(pats)
    )
    wjoins = "\n".join(f"JOIN w{j} USING (doc_id)" for j in range(len(pats)))
    wsum = " + ".join(f"w{j}.w" for j in range(len(pats)))
    return f"""
WITH {base},
matches AS (SELECT DISTINCT doc_id FROM anchors),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM kept GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*)::BIGINT AS doc_len FROM kept GROUP BY doc_id),
alldl AS (
    SELECT d.doc_id, coalesce(dl.doc_len, 0) AS doc_len
    FROM documents d LEFT JOIN dl ON d.doc_id = dl.doc_id
),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(doc_len)::DOUBLE AS avgdl FROM alldl),
dfs AS (
    SELECT term, count(*)::DOUBLE AS df FROM tf
    WHERE {any_cond} GROUP BY term
),
hits AS (
    SELECT t.doc_id, t.term,
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * t.tf * (1.2 + 1.0)
           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.doc_len / s.avgdl)) AS w
    FROM tf t
    JOIN dfs f ON t.term = f.term
    JOIN alldl d ON t.doc_id = d.doc_id
    CROSS JOIN stats s
),
{wctes}
SELECT m.doc_id, floor(({wsum}) * 1e6 + 0.5)::BIGINT AS score_micro
FROM matches m
{wjoins}
ORDER BY ({wsum}) DESC, m.doc_id ASC LIMIT 10
"""


# Shared CTEs for the repetition / exact-substring gates: whitespace
# token LISTS (positions via generate_series — DuckDB unnest has no
# ordinality), per-doc totals, and per-position token lengths.
_REP_TOKS_CTE = """
toks AS (
    SELECT doc_id,
           list_filter(string_split(replace(text, chr(10), ' '), ' '),
                       x -> x <> '') AS t
    FROM documents
),
tot AS (
    SELECT doc_id, len(t)::BIGINT AS n_tokens,
           coalesce(list_sum(list_transform(t, x -> len(x))), 0)::BIGINT AS total_chars
    FROM toks
),
tpos AS (
    SELECT doc_id, i AS pos, len(t[i])::BIGINT AS tl
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks)
)
""".strip()

# Injected pages + URL canonicalization, mirroring _injected_pages /
# ops.urls.canonical_url_col expression by expression (RE2 patterns
# identical on both engines).
_CANON_CTE = """
pages AS (
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0
                THEN 'https://site' || ((doc_id // 2) % 40)::VARCHAR
                     || '.example/en/page' || (doc_id // 2)::VARCHAR
                     || '.html?a=1&b=' || ((doc_id // 2) % 3)::VARCHAR
                ELSE 'HTTPS://SITE' || ((doc_id // 2) % 40)::VARCHAR
                     || '.EXAMPLE:443/en/page' || (doc_id // 2)::VARCHAR
                     || '.html?b=' || ((doc_id // 2) % 3)::VARCHAR
                     || '&utm_source=feed&a=1#sec'
           END AS url,
           doc_id AS ts
    FROM documents
),
canon AS (
    SELECT doc_id, ts,
           CASE WHEN s = '' THEN url
                ELSE s || '://' || h || p
                     || CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END
           END AS canon_url
    FROM (
        SELECT doc_id, ts, url, s,
               CASE WHEN s = 'http' THEN regexp_replace(hp, ':80$', '')
                    WHEN s = 'https' THEN regexp_replace(hp, ':443$', '')
                    ELSE hp END AS h,
               CASE WHEN p0 = '' THEN '/' ELSE p0 END AS p,
               array_to_string(list_sort(list_filter(string_split(q, '&'),
                   x -> x <> '' AND NOT starts_with(x, 'utm_')
                        AND NOT (list_extract(string_split(x, '='), 1)
                                 IN ('fbclid','gclid','msclkid','mc_eid')))),
                   '&') AS q2
        FROM (
            SELECT doc_id, ts, url,
                   lower(coalesce(regexp_extract(url,
                       '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '')) AS s,
                   lower(coalesce(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '')) AS hp,
                   coalesce(regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '') AS p0,
                   coalesce(regexp_extract(url, '^[^#?]*\\?([^#]*)', 1), '') AS q
            FROM pages
        )
    )
)
""".strip()

# k-token rolling window hashes + the corpus-duplicated subset
# (duplication = the window hash occurs >= 2 times corpus-wide,
# within-doc repeats included). Mirrors dedup.window_hashes /
# dedup._dup_windows with the same 60-bit md5-prefix hash.
_DUP_WINS_CTE = """
wins AS (
    SELECT doc_id, i AS pos,
           ('0x' || substring(md5(array_to_string(t[i:i+{km1}], ' ')), 1, 15))::BIGINT AS wh
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {km1})) AS i FROM toks)
),
dup AS (SELECT wh FROM wins GROUP BY wh HAVING count(*) >= 2),
dwins AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup d ON w.wh = d.wh),
""".format(km1=DUP_WINDOW_K - 1).strip()


def oracle_sql_map() -> dict[str, str]:
    bm25_terms = ",".join(_sql_quote(t) for t in BM25_TERMS)
    and_terms = ",".join(_sql_quote(t) for t in AND_TERMS)
    msm_terms = ",".join(_sql_quote(t) for t in MSM_TERMS)
    out = {
        "link_graph": _link_graph_sql(),
        "doc_stats": f"WITH {_TOKS_CTE} SELECT doc_id, doc_len FROM dl",
        "tokenize_tf": f"WITH {_TOKS_CTE} SELECT doc_id, term, tf FROM tf",
        "term_stats": f"""
WITH {_TOKS_CTE}
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
FROM tf GROUP BY term
""",
        "corpus_stats": f"""
WITH {_TOKS_CTE}
SELECT count(*)::BIGINT AS n_docs,
       sum(doc_len)::BIGINT AS total_tokens,
       (SELECT count(DISTINCT term) FROM tf)::BIGINT AS vocab_size,
       floor(avg(doc_len) * 1e6 + 0.5)::BIGINT AS avgdl_micro
FROM dl
""",
        "wildcard_expand": f"""
WITH {_TOKS_CTE},
vocab AS (
    SELECT term, levenshtein(term, '{FUZZY_BASE}')::BIGINT AS lev,
           count(*)::BIGINT AS df
    FROM tf GROUP BY term
)
SELECT 'wild' AS variant, term, -1::BIGINT AS dist, df FROM vocab
WHERE term LIKE '{WILDCARD.replace("*", "%")}'
UNION ALL
SELECT 'regex' AS variant, term, -1::BIGINT AS dist, df FROM vocab
WHERE regexp_full_match(term, '{REGEX_PROBE}')
UNION ALL
SELECT 'fuzzy1' AS variant, term, lev AS dist, df FROM vocab WHERE lev <= 1
UNION ALL
SELECT 'fuzzy2' AS variant, term, lev AS dist, df FROM vocab WHERE lev <= 2
UNION ALL
SELECT 'sugg' AS variant, term, dist, df FROM (
    SELECT term, lev AS dist, df,
           row_number() OVER (ORDER BY lev ASC, df DESC, term ASC) AS rn
    FROM vocab WHERE lev BETWEEN 1 AND 2
) WHERE rn <= 5
""",
        "search_and": f"""
WITH {_TOKS_CTE}
SELECT 'and' AS variant, doc_id FROM tf WHERE term IN ({and_terms})
GROUP BY doc_id HAVING count(DISTINCT term) = {len(AND_TERMS)}
UNION ALL
SELECT 'perc:pa' AS variant, doc_id FROM tf WHERE term IN ({and_terms})
GROUP BY doc_id HAVING count(DISTINCT term) = {len(AND_TERMS)}
UNION ALL
SELECT 'perc:po' AS variant, doc_id FROM (
    SELECT DISTINCT doc_id FROM kept
    WHERE term IN ('{BM25_TERMS[0]}', 'quarry')
)
UNION ALL
SELECT 'perc:pn' AS variant, doc_id FROM (
    SELECT DISTINCT doc_id FROM kept
    WHERE term LIKE '{WILDCARD.replace("*", "%")}'
      AND doc_id NOT IN (
          SELECT doc_id FROM kept WHERE term = '{BM25_TERMS[0]}'
      )
)
""",
        "bm25_topk": f"""
WITH {_TOKS_CTE},
stats AS (
    SELECT count(*)::DOUBLE AS n_docs, avg(doc_len)::DOUBLE AS avgdl FROM dl
),
dfs AS (
    SELECT term, count(*)::DOUBLE AS df FROM tf
    WHERE term IN ({bm25_terms}) GROUP BY term
),
hits AS (
    SELECT t.doc_id, t.term,
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * t.tf * (1.2 + 1.0)
           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.doc_len / s.avgdl)) AS w
    FROM tf t
    JOIN dfs f ON t.term = f.term
    JOIN dl d ON t.doc_id = d.doc_id
    CROSS JOIN stats s
    WHERE t.term IN ({bm25_terms})
),
scored AS (
    SELECT doc_id, sum(w) AS score, count(DISTINCT term) AS npat
    FROM hits GROUP BY doc_id
)
SELECT doc_id, floor(score * 1e6 + 0.5)::BIGINT AS score_micro
FROM scored WHERE npat = {len(BM25_TERMS)}
ORDER BY score DESC, doc_id ASC LIMIT 10
""",
        "bm25_or_topk": f"""
WITH {_TOKS_CTE},
stats AS (
    SELECT count(*)::DOUBLE AS n_docs, avg(doc_len)::DOUBLE AS avgdl FROM dl
),
dfs AS (
    SELECT term, count(*)::DOUBLE AS df FROM tf
    WHERE term IN ({bm25_terms}) GROUP BY term
),
hits AS (
    SELECT t.doc_id, t.term,
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * t.tf * (1.2 + 1.0)
           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.doc_len / s.avgdl)) AS w
    FROM tf t
    JOIN dfs f ON t.term = f.term
    JOIN dl d ON t.doc_id = d.doc_id
    CROSS JOIN stats s
    WHERE t.term IN ({bm25_terms})
),
or_top AS (
    SELECT 'or' AS variant, doc_id,
           floor(sum(w) * 1e6 + 0.5)::BIGINT AS score_micro
    FROM hits GROUP BY doc_id
    ORDER BY sum(w) DESC, doc_id ASC LIMIT 10
),
boost_top AS (
    SELECT 'boost' AS variant, doc_id,
           floor(sum(w * CASE WHEN term = '{BM25_TERMS[0]}'
                              THEN {BOOST_FACTOR} ELSE 1.0 END)
                 * 1e6 + 0.5)::BIGINT AS score_micro
    FROM hits GROUP BY doc_id
    ORDER BY sum(w * CASE WHEN term = '{BM25_TERMS[0]}'
                          THEN {BOOST_FACTOR} ELSE 1.0 END) DESC,
             doc_id ASC LIMIT 10
),
msm_dfs AS (
    SELECT term, count(*)::DOUBLE AS df FROM tf
    WHERE term IN ({msm_terms}) GROUP BY term
),
msm_hits AS (
    SELECT t.doc_id, t.term,
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * t.tf * (1.2 + 1.0)
           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.doc_len / s.avgdl)) AS w
    FROM tf t
    JOIN msm_dfs f ON t.term = f.term
    JOIN dl d ON t.doc_id = d.doc_id
    CROSS JOIN stats s
    WHERE t.term IN ({msm_terms})
),
msm_top AS (
    SELECT 'msm' AS variant, doc_id,
           floor(sum(w) * 1e6 + 0.5)::BIGINT AS score_micro
    FROM msm_hits GROUP BY doc_id
    HAVING count(DISTINCT term) >= 2
    ORDER BY sum(w) DESC, doc_id ASC LIMIT 10
)
SELECT * FROM or_top UNION ALL SELECT * FROM boost_top
UNION ALL SELECT * FROM msm_top
""",
        "bm25_not": f"""
WITH {_TOKS_CTE},
stats AS (
    SELECT count(*)::DOUBLE AS n_docs, avg(doc_len)::DOUBLE AS avgdl FROM dl
),
dfs AS (
    SELECT term, count(*)::DOUBLE AS df FROM tf
    WHERE term IN ({bm25_terms}) GROUP BY term
),
excluded AS (
    SELECT DISTINCT doc_id FROM tf
    WHERE term LIKE '{NOT_PATTERN.replace("*", "%")}'
),
hits AS (
    SELECT t.doc_id, t.term,
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * t.tf * (1.2 + 1.0)
           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.doc_len / s.avgdl)) AS w
    FROM tf t
    JOIN dfs f ON t.term = f.term
    JOIN dl d ON t.doc_id = d.doc_id
    CROSS JOIN stats s
    WHERE t.term IN ({bm25_terms})
),
scores AS (
    SELECT doc_id, sum(w) AS s,
           floor(sum(w) * 1e6 + 0.5)::BIGINT AS score_micro
    FROM hits GROUP BY doc_id
),
not_top AS (
    SELECT 'not' AS variant, doc_id, score_micro FROM scores
    WHERE doc_id NOT IN (SELECT doc_id FROM excluded)
    ORDER BY s DESC, doc_id ASC LIMIT 10
),
scoped_top AS (
    SELECT 'scoped' AS variant, sc.doc_id, sc.score_micro
    FROM scores sc JOIN documents d ON sc.doc_id = d.doc_id
    WHERE d.lang = '{SCOPE_LANG}'
    ORDER BY sc.s DESC, sc.doc_id ASC LIMIT 10
),
tscoped_top AS (
    SELECT 'tscoped' AS variant, sc.doc_id, sc.score_micro
    FROM scores sc
    WHERE ({TS_EPOCH0} + sc.doc_id * {TS_STEP})
          BETWEEN {TS_SCOPE_LO} AND {TS_SCOPE_HI}
    ORDER BY sc.s DESC, sc.doc_id ASC LIMIT 10
)
SELECT * FROM not_top UNION ALL SELECT * FROM scoped_top
UNION ALL SELECT * FROM tscoped_top
""",
        "facet_lang": f"""
WITH {_TOKS_CTE},
hits AS (
    SELECT doc_id FROM tf WHERE term IN ({and_terms})
    GROUP BY doc_id HAVING count(DISTINCT term) = {len(AND_TERMS)}
)
SELECT d.lang AS value, count(*)::BIGINT AS n_docs
FROM hits h JOIN documents d ON h.doc_id = d.doc_id
GROUP BY d.lang
ORDER BY n_docs DESC, value ASC
""",
        "facet_site": f"""
WITH {_TOKS_CTE},
hits AS (
    SELECT DISTINCT doc_id FROM tf WHERE term IN ({bm25_terms})
),
excluded AS (
    SELECT DISTINCT doc_id FROM tf
    WHERE term LIKE '{NOT_PATTERN.replace("*", "%")}'
)
SELECT coalesce(d.source, 'src') AS value, count(*)::BIGINT AS n_docs
FROM hits h JOIN documents d ON h.doc_id = d.doc_id
WHERE h.doc_id NOT IN (SELECT doc_id FROM excluded)
GROUP BY value
ORDER BY n_docs DESC, value ASC
""",
        "facet_month": f"""
WITH {_TOKS_CTE},
hits AS (
    SELECT DISTINCT doc_id FROM tf WHERE term IN ({bm25_terms})
)
SELECT strftime(TIMESTAMP '2020-01-01 00:00:00'
                + (d.doc_id * {TS_STEP}) * INTERVAL 1 SECOND,
                '%Y-%m') AS value,
       count(*)::BIGINT AS n_docs
FROM hits h JOIN documents d ON h.doc_id = d.doc_id
GROUP BY value
ORDER BY n_docs DESC, value ASC
""",
        "tf_histogram": f"""
WITH {_TOKS_CTE}
SELECT tf, count(*)::BIGINT AS n_cells FROM tf GROUP BY tf
""",
        "find_files": f"""
SELECT doc_id, 'doc://' || source || '/' || doc_id || '.txt' AS url
FROM documents
WHERE 'doc://' || source || '/' || doc_id || '.txt'
      LIKE '{FILES_PATTERN.replace("*", "%")}'
""",
        "matched_lines": f"""
WITH {_TOKS_CTE},
hits AS (
    SELECT DISTINCT doc_id FROM tf
    WHERE term LIKE '{LINES_PATTERN.replace("*", "%")}'
)
SELECT d.doc_id, d.text AS line
FROM documents d JOIN hits h ON d.doc_id = h.doc_id
WHERE len(list_filter(string_split(d.text, ' '),
          w -> w LIKE '{LINES_PATTERN.replace("*", "%")}')) > 0
""",
        "bm25_after_delete": f"""
WITH {_TOKS_CTE},
live AS (
    SELECT doc_id FROM documents
    WHERE NOT ('doc://' || source || '/' || doc_id || '.txt'
               LIKE '{DELETE_GLOB.replace("*", "%")}')
),
stats AS (
    SELECT count(*)::DOUBLE AS n_docs, avg(d.doc_len)::DOUBLE AS avgdl
    FROM dl d JOIN live l ON d.doc_id = l.doc_id
),
dfs AS (
    SELECT term, count(*)::DOUBLE AS df FROM tf
    WHERE term IN ({bm25_terms}) GROUP BY term
),
hits AS (
    SELECT t.doc_id, t.term,
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * t.tf * (1.2 + 1.0)
           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.doc_len / s.avgdl)) AS w
    FROM tf t
    JOIN dfs f ON t.term = f.term
    JOIN dl d ON t.doc_id = d.doc_id
    JOIN live l ON t.doc_id = l.doc_id
    CROSS JOIN stats s
    WHERE t.term IN ({bm25_terms})
),
scored AS (
    SELECT doc_id, sum(w) AS score, count(DISTINCT term) AS npat
    FROM hits GROUP BY doc_id
)
SELECT doc_id, floor(score * 1e6 + 0.5)::BIGINT AS score_micro
FROM scored WHERE npat = {len(BM25_TERMS)}
ORDER BY score DESC, doc_id ASC LIMIT 10
""",
        "rare_terms": f"""
WITH {_TOKS_CTE},
n AS (SELECT count(*)::BIGINT AS n_docs FROM documents)
SELECT term, count(*)::BIGINT AS df
FROM tf GROUP BY term
HAVING count(*) * 10 <= (SELECT n_docs FROM n)
""",
        "exact_dedup": """
SELECT md5(text) AS text_md5, count(*)::BIGINT AS n_docs,
       min(doc_id) AS keep_doc_id
FROM documents GROUP BY md5(text)
""",
        "ngram_jaccard": f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split(replace(text, chr(10), ' '), ' '),
                       x -> x <> '') AS t
    FROM documents
),
idx AS (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks
),
sh AS (
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM idx
),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
cold AS (
    SELECT doc_id, shingle FROM sh
    WHERE shingle NOT IN (
        SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > {MAX_SHINGLE_DF}
    )
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
    FROM cold a JOIN cold b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       floor((inter::DOUBLE / (sa.n_sh + sb.n_sh - inter)) * 1e6 + 0.5)::BIGINT
           AS jaccard_micro
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter::DOUBLE / (sa.n_sh + sb.n_sh - inter) >= 0.08
""",
        "minhash_signatures": _minhash_sql(),
        "lsh_pairs": _lsh_pairs_sql(),
        "dedup_clusters": _dedup_clusters_sql(),
        "stream_dedup": _stream_dedup_sql(),
        "simhash": f"""
WITH toks AS (
    SELECT DISTINCT doc_id,
           unnest(string_split(replace(text, chr(10), ' '), ' ')) AS tok
    FROM documents
),
hashed AS (
    SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
    FROM toks WHERE tok <> ''
),
bits AS (
    SELECT doc_id, b.b AS b,
           sum(((h >> b.b) & 1) * 2 - 1) AS s
    FROM hashed, generate_series(0, {dedup.SIMHASH_BITS - 1}) AS b(b)
    GROUP BY doc_id, b.b
)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id
""",
        "lang_id": _lang_id_sql(),
        "quality": _quality_sql(),
        "corpus_filter": _corpus_filter_sql(),
        "pipeline_keep": _pipeline_keep_sql(),
        "token_counts": r"""
SELECT doc_id,
       len(list_filter(string_split(replace(text, chr(10), ' '), ' '),
           x -> x <> ''))::INT AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r\x0B\f]'))::INT
           AS n_bpe_tokens
FROM documents
""",
        "fingerprint": """
SELECT doc_id,
       ('0x' || substring(md5(array_to_string(
            list_filter(string_split(replace(text, chr(10), ' '), ' '),
                        x -> x <> ''), ' ')), 1, 15))::BIGINT
           AS fp60
FROM documents
""",
        # media_features: the Spark side round-trips a synthesized
        # 4x4 PPM (pixel bytes = md5(text) tiled 3x) through the REAL
        # Arrow decode kernel; the oracle computes the expected
        # channel byte-sum arithmetically from the same md5 hex (each
        # channel sees all 16 bytes once: gcd(3, 16) = 1). n_bytes =
        # 11-byte P6 header + 48 pixel bytes.
        "media_features": """
WITH s AS (
    SELECT doc_id,
           list_sum(list_transform(generate_series(0, 15), j ->
               (strpos('0123456789abcdef', substr(md5(text), 2*j + 1, 1)) - 1) * 16
               + strpos('0123456789abcdef', substr(md5(text), 2*j + 2, 1)) - 1
           ))::BIGINT AS byte_sum
    FROM documents
)
SELECT doc_id AS media_id, 59::BIGINT AS n_bytes, TRUE AS ok,
       byte_sum AS sum_r, byte_sum AS sum_g, byte_sum AS sum_b
FROM s
""",
        # BOOL_QUERY = spark AND (vector OR merge) AND NOT qu*
        # positive vocabulary = {spark, vector, merge}; the NOT leaf
        # (wildcard) gates membership only, never contributes score.
        "bool_query": f"""
WITH {_TOKS_CTE},
stats AS (
    SELECT count(*)::DOUBLE AS n_docs, avg(doc_len)::DOUBLE AS avgdl FROM dl
),
flags AS (
    SELECT doc_id,
           bool_or(term = 'spark') AS l0,
           bool_or(term = 'vector') AS l1,
           bool_or(term = 'merge') AS l2,
           bool_or(term LIKE 'qu%') AS l3
    FROM tf GROUP BY doc_id
),
dfs AS (
    SELECT term, count(*)::DOUBLE AS df FROM tf
    WHERE term IN ('spark','vector','merge') GROUP BY term
),
hits AS (
    SELECT t.doc_id,
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * t.tf * (1.2 + 1.0)
           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.doc_len / s.avgdl)) AS w
    FROM tf t
    JOIN dfs f ON t.term = f.term
    JOIN dl d ON t.doc_id = d.doc_id
    CROSS JOIN stats s
),
scored AS (SELECT doc_id, sum(w) AS score FROM hits GROUP BY doc_id)
SELECT g.doc_id, floor(s.score * 1e6 + 0.5)::BIGINT AS score_micro
FROM flags g JOIN scored s ON g.doc_id = s.doc_id
WHERE g.l0 AND (g.l1 OR g.l2) AND NOT g.l3
ORDER BY s.score DESC, g.doc_id ASC LIMIT 10
""",
        "decontam": f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split(replace(text, chr(10), ' '), ' '),
                       x -> x <> '') AS t
    FROM documents
),
idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
sh AS (
    SELECT DISTINCT doc_id,
        ('0x' || substring(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))::BIGINT AS h
    FROM idx
),
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % {DECONTAM_MOD} = 0),
stats AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM sh GROUP BY doc_id),
hits AS (
    SELECT s.doc_id, count(*)::BIGINT AS n_hits
    FROM sh s JOIN bench b ON s.h = b.h GROUP BY s.doc_id
)
SELECT d.doc_id,
       coalesce(st.n_shingles, 0)::BIGINT AS n_shingles,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       floor(coalesce(h.n_hits, 0)::DOUBLE
             / greatest(coalesce(st.n_shingles, 0), 1) * 1e6 + 0.5)::BIGINT
           AS contam_micro
FROM documents d
LEFT JOIN stats st ON d.doc_id = st.doc_id
LEFT JOIN hits h ON d.doc_id = h.doc_id
""",
        "pii_redact": f"""
WITH injected AS (
    SELECT doc_id,
           text || ' mail u' || doc_id::VARCHAR || '@ex.com ip 10.2.' ||
           (doc_id % 256)::VARCHAR || '.9 tel 555-' ||
           lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-0199' AS text
    FROM documents
),
r1 AS (
    SELECT doc_id,
           len(regexp_extract_all(text, '{curate.PII_EMAIL}'))::BIGINT AS n_emails,
           regexp_replace(text, '{curate.PII_EMAIL}', '<EMAIL>', 'g') AS t1
    FROM injected
),
r2 AS (
    SELECT doc_id, n_emails,
           len(regexp_extract_all(t1, '{curate.PII_IPV4}'))::BIGINT AS n_ipv4,
           regexp_replace(t1, '{curate.PII_IPV4}', '<IP>', 'g') AS t2
    FROM r1
)
SELECT doc_id, n_emails, n_ipv4,
       len(regexp_extract_all(t2, '{curate.PII_PHONE}'))::BIGINT AS n_phones,
       regexp_replace(t2, '{curate.PII_PHONE}', '<PHONE>', 'g') AS clean_text
FROM r2
""",
        "sample_strat": f"""
SELECT doc_id, lang FROM documents
WHERE ('0x' || substring(md5('{curate.SAMPLE_SALT}' || doc_id::VARCHAR), 1, 15))::BIGINT
      % 1000000
      < (CASE coalesce(lang, '') WHEN 'de' THEN {SAMPLE_RATES["de"]}
                   WHEN 'en' THEN {SAMPLE_RATES["en"]}
                   ELSE {SAMPLE_DEFAULT} END)
""",
        "budget_select": f"""
WITH q AS ( {_quality_sql()} ),
j AS (
    SELECT q.doc_id, coalesce(d.lang, '') AS stratum, q.n_tokens, q.quality_micro
    FROM q JOIN documents d ON q.doc_id = d.doc_id
),
w AS (
    SELECT doc_id, stratum, n_tokens,
           sum(n_tokens) OVER (PARTITION BY stratum
                               ORDER BY quality_micro DESC, doc_id ASC
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
    FROM j
)
SELECT doc_id, stratum, n_tokens::INT AS n_tokens, cum_tokens::BIGINT AS cum_tokens
FROM w WHERE cum_tokens <= {BUDGET_TOKENS}
""",
        "top_ngrams": """
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split(replace(text, chr(10), ' '), ' '),
                       x -> x <> '') AS t
    FROM documents
),
idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks),
ng AS (SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS ngram FROM idx)
SELECT ngram, count(*)::BIGINT AS freq FROM ng
GROUP BY ngram ORDER BY freq DESC, ngram ASC LIMIT 20
""",
        "unigram_nll": """
WITH toks AS (
    SELECT doc_id,
           unnest(string_split(replace(text, chr(10), ' '), ' ')) AS tok
    FROM documents
),
tf AS (
    SELECT doc_id, tok, count(*)::BIGINT AS tf FROM toks
    WHERE tok <> '' GROUP BY doc_id, tok
),
counts AS (SELECT tok, sum(tf)::BIGINT AS c FROM tf GROUP BY tok),
tot AS (SELECT sum(c)::BIGINT AS T, count(*)::BIGINT AS V FROM counts),
nll AS (
    SELECT tok,
           floor(-log2((c + 1) / (t.T + t.V)) * 1e6 + 0.5)::BIGINT AS nll_micro
    FROM counts CROSS JOIN tot t
),
scored AS (
    SELECT f.doc_id, sum(f.tf)::BIGINT AS n_tokens,
           sum(f.tf * n.nll_micro)::BIGINT AS sum_nll_micro
    FROM tf f JOIN nll n ON f.tok = n.tok GROUP BY f.doc_id
)
SELECT d.doc_id,
       coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
       coalesce(s.sum_nll_micro, 0)::BIGINT AS sum_nll_micro,
       coalesce(floor(s.sum_nll_micro / s.n_tokens)::BIGINT, 0) AS avg_nll_micro
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
""",
        "repetition": f"""
WITH {_REP_TOKS_CTE},
lines AS (
    SELECT doc_id,
           unnest(list_filter(string_split(text, chr(10)), x -> x <> '')) AS line
    FROM documents
),
lc AS (SELECT doc_id, line, count(*)::BIGINT AS c FROM lines GROUP BY doc_id, line),
lstat AS (
    SELECT doc_id, sum(c)::BIGINT AS n_lines, sum(c - 1)::BIGINT AS dup_lines,
           sum(c * len(line))::BIGINT AS line_chars,
           sum((c - 1) * len(line))::BIGINT AS dup_line_chars
    FROM lc GROUP BY doc_id
),
g2c AS (
    SELECT doc_id, gram, count(*)::BIGINT AS c FROM (
        SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)
    ) GROUP BY doc_id, gram
),
top2 AS (
    SELECT doc_id, c AS top2_c, (len(gram) - 1)::BIGINT AS top2_gchars FROM (
        SELECT doc_id, gram, c,
               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
        FROM g2c
    ) WHERE rn = 1
),
g3c AS (
    SELECT doc_id, gram, count(*)::BIGINT AS c FROM (
        SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toks)
    ) GROUP BY doc_id, gram
),
top3 AS (
    SELECT doc_id, c AS top3_c, (len(gram) - 2)::BIGINT AS top3_gchars FROM (
        SELECT doc_id, gram, c,
               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
        FROM g3c
    ) WHERE rn = 1
),
g5 AS (
    SELECT doc_id, i AS pos,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS gram
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i FROM toks)
),
dup5g AS (SELECT doc_id, gram FROM g5 GROUP BY doc_id, gram HAVING count(*) >= 2),
cov5 AS (
    SELECT DISTINCT doc_id, cp FROM (
        SELECT g.doc_id, unnest(generate_series(g.pos, g.pos + 4)) AS cp
        FROM g5 g JOIN dup5g d ON g.doc_id = d.doc_id AND g.gram = d.gram
    )
),
dup5 AS (
    SELECT c.doc_id, sum(p.tl)::BIGINT AS dup5_chars
    FROM cov5 c JOIN tpos p ON c.doc_id = p.doc_id AND c.cp = p.pos
    GROUP BY c.doc_id
),
sig AS (
    SELECT tot.doc_id,
           coalesce(l.n_lines, 0)::BIGINT AS n_lines,
           tot.n_tokens,
           floor(coalesce(l.dup_lines::DOUBLE / greatest(l.n_lines, 1), 0)
                 * 1e6 + 0.5)::BIGINT AS dup_line_frac_micro,
           floor(coalesce(l.dup_line_chars::DOUBLE / greatest(l.line_chars, 1), 0)
                 * 1e6 + 0.5)::BIGINT AS dup_line_char_frac_micro,
           floor((CASE WHEN coalesce(t2.top2_c, 0) >= 2
                       THEN (t2.top2_c * t2.top2_gchars)::DOUBLE
                            / greatest(tot.total_chars, 1)
                       ELSE 0 END) * 1e6 + 0.5)::BIGINT AS top2_char_frac_micro,
           floor((CASE WHEN coalesce(t3.top3_c, 0) >= 2
                       THEN (t3.top3_c * t3.top3_gchars)::DOUBLE
                            / greatest(tot.total_chars, 1)
                       ELSE 0 END) * 1e6 + 0.5)::BIGINT AS top3_char_frac_micro,
           floor(coalesce(d5.dup5_chars, 0)::DOUBLE / greatest(tot.total_chars, 1)
                 * 1e6 + 0.5)::BIGINT AS dup5_char_frac_micro
    FROM tot
    LEFT JOIN lstat l ON tot.doc_id = l.doc_id
    LEFT JOIN top2 t2 ON tot.doc_id = t2.doc_id
    LEFT JOIN top3 t3 ON tot.doc_id = t3.doc_id
    LEFT JOIN dup5 d5 ON tot.doc_id = d5.doc_id
)
SELECT *,
       (dup_line_frac_micro <= {textstats.GOPHER_MAX_DUP_LINE_FRAC_MICRO}
        AND dup_line_char_frac_micro <= {textstats.GOPHER_MAX_DUP_LINE_CHAR_FRAC_MICRO}
        AND top2_char_frac_micro <= {textstats.GOPHER_MAX_TOP2_CHAR_FRAC_MICRO}
        AND top3_char_frac_micro <= {textstats.GOPHER_MAX_TOP3_CHAR_FRAC_MICRO}
        AND dup5_char_frac_micro <= {textstats.GOPHER_MAX_DUP5_CHAR_FRAC_MICRO}) AS keep
FROM sig
""",
        "dup_windows": f"""
WITH {_REP_TOKS_CTE},
{_DUP_WINS_CTE}
cov AS (
    SELECT doc_id,
           least({DUP_WINDOW_K}, coalesce(
               lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos,
               {DUP_WINDOW_K})) AS cspan
    FROM dwins
),
per_doc AS (
    SELECT doc_id, count(*)::BIGINT AS n_dup_windows, sum(cspan)::BIGINT AS covered
    FROM cov GROUP BY doc_id
)
SELECT tot.doc_id, tot.n_tokens,
       greatest(tot.n_tokens - {DUP_WINDOW_K - 1}, 0)::BIGINT AS n_windows,
       coalesce(p.n_dup_windows, 0)::BIGINT AS n_dup_windows,
       floor(coalesce(p.covered, 0)::DOUBLE / greatest(tot.n_tokens, 1)
             * 1e6 + 0.5)::BIGINT AS dup_token_frac_micro
FROM tot LEFT JOIN per_doc p ON tot.doc_id = p.doc_id
""",
        "strip_spans": f"""
WITH {_REP_TOKS_CTE},
{_DUP_WINS_CTE}
cov AS (
    SELECT DISTINCT doc_id, cp FROM (
        SELECT doc_id, unnest(generate_series(pos, pos + {DUP_WINDOW_K - 1})) AS cp
        FROM dwins
    )
),
kept AS (
    SELECT p.doc_id, p.pos, p.tok
    FROM (SELECT doc_id, i AS pos, t[i] AS tok
          FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks)) p
    LEFT JOIN cov c ON p.doc_id = c.doc_id AND p.pos = c.cp
    WHERE c.doc_id IS NULL
),
agg AS (
    SELECT doc_id, count(*)::BIGINT AS n_kept_tokens,
           string_agg(tok, ' ' ORDER BY pos) AS clean_text
    FROM kept GROUP BY doc_id
)
SELECT d.doc_id, coalesce(a.n_kept_tokens, 0)::BIGINT AS n_kept_tokens,
       coalesce(a.clean_text, '') AS clean_text
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
""",
        "chunks": f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split(replace(text, chr(10), ' '), ' '),
                       x -> x <> '') AS t
    FROM documents
),
st AS (
    SELECT doc_id, t,
           unnest(generate_series(
               1, greatest(1, len(t) - {max(0, CHUNK_TOKENS - CHUNK_STRIDE)}),
               {CHUNK_STRIDE})) AS start
    FROM toks WHERE len(t) > 0
)
SELECT doc_id,
       ((start - 1) // {CHUNK_STRIDE})::BIGINT AS chunk_id,
       least({CHUNK_TOKENS}, len(t) - start + 1)::BIGINT AS n_tokens,
       array_to_string(t[start:start+{CHUNK_TOKENS - 1}], ' ') AS chunk_text
FROM st
""",
        "pack_bins": f"""
WITH base AS (
    SELECT doc_id,
           len(list_filter(string_split(replace(text, chr(10), ' '), ' '),
               x -> x <> ''))::BIGINT AS n_tokens,
           (('0x' || substring(md5('pack:' || doc_id::VARCHAR), 1, 15))::BIGINT
            % {PACK_GROUPS})::INT AS pack_group
    FROM documents
)
SELECT doc_id, pack_group,
       floor(coalesce(sum(n_tokens) OVER (
                 PARTITION BY pack_group ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE
             / {PACK_SEQ_LEN})::BIGINT AS bin_id,
       n_tokens
FROM base
""",
        "line_dedup": f"""
WITH injected AS (
    SELECT doc_id,
           text || chr(10) || 'copyright example corp all rights reserved'
                || chr(10) || 'variant line ' || (doc_id % 97)::VARCHAR AS text
    FROM documents
),
lines AS (
    SELECT doc_id, i AS pos, l[i] AS line
    FROM (
        SELECT doc_id,
               list_filter(string_split(text, chr(10)), x -> x <> '') AS l
        FROM injected
    ), unnest(generate_series(1, len(l))) AS t(i)
),
hot AS (
    SELECT line FROM (SELECT DISTINCT line, doc_id FROM lines)
    GROUP BY line HAVING count(*) > {MAX_LINE_DF_GATE}
),
kept AS (
    SELECT k.doc_id, k.pos, k.line FROM lines k
    LEFT JOIN hot h ON k.line = h.line WHERE h.line IS NULL
),
rebuilt AS (
    SELECT doc_id, count(*)::BIGINT AS n_kept,
           string_agg(line, chr(10) ORDER BY pos) AS clean_text
    FROM kept GROUP BY doc_id
),
totals AS (
    SELECT doc_id,
           len(list_filter(string_split(text, chr(10)), x -> x <> ''))::BIGINT
               AS n_lines
    FROM injected
)
SELECT t.doc_id, t.n_lines,
       (t.n_lines - coalesce(r.n_kept, 0))::BIGINT AS n_dropped_lines,
       coalesce(r.clean_text, '') AS clean_text
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
""",
        "exact_dedup_norm": """
WITH pages AS (
    SELECT a.doc_id,
           CASE WHEN a.doc_id % 2 = 0 THEN b.text
                ELSE '  ' || upper(b.text) || '!!,  ..' END AS text
    FROM documents a
    JOIN documents b ON b.doc_id = a.doc_id - a.doc_id % 2
),
norm AS (
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS text_md5
    FROM pages
)
SELECT text_md5, count(*)::BIGINT AS n_docs, min(doc_id) AS keep_doc_id
FROM norm GROUP BY text_md5
""",
        "corpus_profile": """
WITH base AS (
    SELECT coalesce(lang, '') AS stratum,
           len(list_filter(string_split(replace(text, chr(10), ' '), ' '),
               x -> x <> ''))::BIGINT AS n_toks,
           length(text)::BIGINT AS n_chars,
           md5(text) AS h
    FROM documents
),
per AS (
    SELECT stratum, count(*)::BIGINT AS n_docs,
           sum(n_toks)::BIGINT AS total_tokens,
           sum(n_chars)::BIGINT AS total_chars,
           floor(sum(n_toks)::DOUBLE / count(*) * 1e6 + 0.5)::BIGINT
               AS mean_doc_len_micro,
           count(DISTINCT h)::BIGINT AS n_unique_texts
    FROM base GROUP BY stratum
),
tot AS (
    SELECT '*' AS stratum, count(*)::BIGINT AS n_docs,
           sum(n_toks)::BIGINT AS total_tokens,
           sum(n_chars)::BIGINT AS total_chars,
           floor(sum(n_toks)::DOUBLE / count(*) * 1e6 + 0.5)::BIGINT
               AS mean_doc_len_micro,
           count(DISTINCT h)::BIGINT AS n_unique_texts
    FROM base
),
vsrc AS (SELECT * FROM per UNION ALL SELECT * FROM tot),
vols AS (
    SELECT 'n_docs' AS metric, stratum, n_docs AS value FROM vsrc
    UNION ALL SELECT 'total_tokens', stratum, total_tokens FROM vsrc
    UNION ALL SELECT 'total_chars', stratum, total_chars FROM vsrc
    UNION ALL SELECT 'mean_doc_len_micro', stratum, mean_doc_len_micro FROM vsrc
    UNION ALL SELECT 'n_unique_texts', stratum, n_unique_texts FROM vsrc
),
vocab AS (
    SELECT 'vocab_size' AS metric, '*' AS stratum,
           count(DISTINCT tok)::BIGINT AS value
    FROM (SELECT unnest(list_filter(string_split(replace(text, chr(10), ' '), ' '),
                        x -> x <> '')) AS tok FROM documents)
),
hist AS (SELECT n_toks, count(*)::BIGINT AS c FROM base GROUP BY n_toks),
cum AS (SELECT n_toks, sum(c) OVER (ORDER BY n_toks) AS cum FROM hist),
n AS (SELECT count(*)::BIGINT AS n FROM base),
pvals AS (
    SELECT 'p' || p::VARCHAR || '_doc_len' AS metric, '*' AS stratum,
           coalesce((SELECT min(c2.n_toks) FROM cum c2, n
                     WHERE c2.cum >= (p * n.n + 99) // 100), 0)::BIGINT AS value
    FROM (VALUES (50), (90), (99)) AS t(p)
)
SELECT metric, stratum, value FROM vols
UNION ALL SELECT * FROM vocab
UNION ALL SELECT * FROM pvals
""",
        "canon_url": f"""
WITH {_CANON_CTE}
SELECT doc_id, canon_url FROM canon
""",
        "url_dedup": f"""
WITH {_CANON_CTE}
SELECT canon_url, n_snapshots, doc_id AS keep_doc_id, ts AS keep_ts FROM (
    SELECT canon_url, doc_id, ts,
           count(*) OVER (PARTITION BY canon_url) AS n_snapshots,
           row_number() OVER (PARTITION BY canon_url
                              ORDER BY ts DESC, doc_id DESC) AS rn
    FROM canon
) WHERE rn = 1
""",
        "ann_cosine": """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
    SELECT e.vec_id,
           list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])
           / (greatest(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 1e-12)
              * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) AS cos
    FROM embeddings e, q WHERE e.vec_id <> 0
)
SELECT vec_id, floor(cos * 1e6 + 0.5)::BIGINT AS cos_micro
FROM scored ORDER BY cos DESC, vec_id ASC LIMIT 10
""",
        "ann_ivf": _ann_ivf_sql(),
        "ann_filtered": _ann_ivf_sql(
            n_probe=ANN_FILTER_PROBE, where=f"e.label = {ANN_FILTER_LABEL}"
        ),
        "phrase_match": _phrase_sql(PHRASE_2, ranked=False),
        "phrase_rank": _phrase_sql(PHRASE_3, ranked=True),
        "phrase_rank_wildcard": _phrase_sql(PHRASE_WILD, ranked=True),
        "near_match": _near_sql(PHRASE_2, NEAR_WINDOW),
        "near_match_wildcard": _near_sql(PHRASE_WILD, NEAR_WINDOW),
        "near_rank": _near_sql(PHRASE_WILD, NEAR_WINDOW, ranked=True),
        "emb_near_dup": _emb_near_dup_sql(),
    }
    # incremental build must be indistinguishable from the full build
    out["bm25_after_append"] = out["bm25_topk"]
    # federation is lossless: two shards with global df/avgdl must
    # reproduce the single-corpus BM25 oracle exactly
    out["bm25_sharded"] = out["bm25_topk"]
    out["bool_sharded"] = out["bool_query"]

    # ---- r5 registry folds (mirror of the q_*_all/_ops gates): each
    # fold unions the variants' rows under a tag column so both
    # semantics stay driver-checked in one ≤50-entry registry.
    def _fold(parts: list[tuple[str, str]]) -> str:
        return "\nUNION ALL\n".join(
            f"SELECT {proj} FROM (\n{sql}\n)" for proj, sql in parts
        )

    out["facet_site"] = _fold([
        ("'lang' AS facet, value, n_docs", out["facet_lang"]),
        ("'site' AS facet, value, n_docs", out["facet_site"]),
        ("'month' AS facet, value, n_docs", out["facet_month"]),
    ])
    out["phrase_rank"] = _fold([
        ("'match' AS variant, doc_id, n_occ::BIGINT AS val",
         out["phrase_match"]),
        ("'rank' AS variant, doc_id, score_micro AS val",
         out["phrase_rank"]),
        ("'rank_wild' AS variant, doc_id, score_micro AS val",
         out["phrase_rank_wildcard"]),
    ])
    out["near_rank"] = _fold([
        ("'match' AS variant, doc_id, n_near::BIGINT AS val",
         out["near_match"]),
        ("'match_wild' AS variant, doc_id, n_near::BIGINT AS val",
         out["near_match_wildcard"]),
        ("'rank' AS variant, doc_id, score_micro AS val",
         out["near_rank"]),
        ("'ord' AS variant, doc_id, n_near::BIGINT AS val",
         _near_ordered_sql(PHRASE_WILD, NEAR_WINDOW)),
    ])
    out["term_stats"] = _fold([
        ("'term' AS variant, term AS k, df AS a, cf AS b",
         out["term_stats"]),
        ("'tfh' AS variant, tf::VARCHAR AS k, n_cells AS a, 0::BIGINT AS b",
         out["tf_histogram"]),
    ])
    out["exact_dedup"] = _fold([
        ("'raw' AS variant, text_md5, n_docs, keep_doc_id",
         out["exact_dedup"]),
        ("'norm' AS variant, text_md5, n_docs, keep_doc_id",
         out["exact_dedup_norm"]),
    ])
    out["url_dedup"] = _fold([
        ("'canon' AS variant, canon_url, 0::BIGINT AS n_snapshots,"
         " doc_id::BIGINT AS keep_doc_id, (-1)::BIGINT AS keep_ts",
         out["canon_url"]),
        ("'dedup' AS variant, canon_url, n_snapshots::BIGINT AS n_snapshots,"
         " keep_doc_id::BIGINT AS keep_doc_id, keep_ts::BIGINT AS keep_ts",
         out["url_dedup"]),
    ])
    out["strip_spans"] = _fold([
        ("'win' AS variant, doc_id, n_tokens AS a, n_windows AS b,"
         " n_dup_windows AS c, dup_token_frac_micro AS d, '' AS txt",
         out["dup_windows"]),
        ("'strip' AS variant, doc_id, n_kept_tokens AS a, 0::BIGINT AS b,"
         " 0::BIGINT AS c, 0::BIGINT AS d, clean_text AS txt",
         out["strip_spans"]),
    ])
    out["lsh_pairs"] = _fold([
        ("'sig' AS variant, doc_id::BIGINT AS a, j::BIGINT AS b,"
         " mh::BIGINT AS c",
         out["minhash_signatures"]),
        ("'pair' AS variant, doc_a::BIGINT AS a, doc_b::BIGINT AS b,"
         " 0::BIGINT AS c",
         out["lsh_pairs"]),
    ])
    out["bm25_sharded"] = _fold([
        ("'bm25' AS variant, doc_id, score_micro", out["bm25_sharded"]),
        ("'bool' AS variant, doc_id, score_micro", out["bool_sharded"]),
        # the physically merged index answers the SAME single-corpus
        # BM25 oracle — merge is fresh-build-equivalent by contract
        ("'merged' AS variant, doc_id, score_micro", out["bm25_sharded"]),
    ])
    # the PQ variant's oracle IS the exact cosine top-10: with
    # rerank ≥ corpus size the two-stage result is exact by
    # construction (see q_ann_pq)
    out["ann_ivf"] = _fold([
        ("'ivf' AS variant, vec_id, cos_micro", out["ann_ivf"]),
        ("'pq' AS variant, vec_id, cos_micro", out["ann_cosine"]),
    ])
    # hybrid RRF fold (mirror of q_ann_cosine 'hybrid'): both branches
    # recomputed from scratch — disjunctive BM25 over `documents` and
    # exact cosine over `embeddings` — ranked on the SAME micro
    # quantization + id tiebreak the engine ranks on, fused as
    # 1/(K+rank) sums in the engine's branch order (lex + vec).
    from textindex_spark.hybrid import RRF_K

    hybrid_sql = f"""
WITH {_TOKS_CTE},
stats AS (
    SELECT count(*)::DOUBLE AS n_docs, avg(doc_len)::DOUBLE AS avgdl FROM dl
),
dfs AS (
    SELECT term, count(*)::DOUBLE AS df FROM tf
    WHERE term IN ({bm25_terms}) GROUP BY term
),
hits AS (
    SELECT t.doc_id, t.term,
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * t.tf * (1.2 + 1.0)
           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.doc_len / s.avgdl)) AS w
    FROM tf t
    JOIN dfs f ON t.term = f.term
    JOIN dl d ON t.doc_id = d.doc_id
    CROSS JOIN stats s
    WHERE t.term IN ({bm25_terms})
),
ltop AS (
    SELECT doc_id, floor(sum(w) * 1e6 + 0.5)::BIGINT AS m
    FROM hits GROUP BY doc_id
    ORDER BY sum(w) DESC, doc_id ASC LIMIT {HYBRID_DEPTH}
),
lr AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY m DESC, doc_id ASC) AS rl
    FROM ltop
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
vsc AS (
    SELECT e.vec_id,
           list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])
           / (greatest(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])), 1e-12)
              * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))) AS cos
    FROM embeddings e, q WHERE e.vec_id <> 0
),
vtop AS (
    SELECT vec_id, floor(cos * 1e6 + 0.5)::BIGINT AS m
    FROM vsc ORDER BY cos DESC, vec_id ASC LIMIT {HYBRID_DEPTH}
),
vr AS (
    SELECT vec_id,
           row_number() OVER (ORDER BY m DESC, vec_id ASC) AS rv
    FROM vtop
),
fused AS (
    SELECT coalesce(lr.doc_id, vr.vec_id) AS doc_id,
           coalesce(1.0 / ({RRF_K} + lr.rl), 0.0)
           + coalesce(1.0 / ({RRF_K} + vr.rv), 0.0) AS rrf
    FROM lr FULL OUTER JOIN vr ON lr.doc_id = vr.vec_id
)
SELECT doc_id, floor(rrf * 1e6 + 0.5)::BIGINT AS rrf_micro
FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 10
"""
    out["ann_cosine"] = _fold([
        ("'cos' AS variant, vec_id, cos_micro AS val_micro",
         out["ann_cosine"]),
        ("'hybrid' AS variant, doc_id AS vec_id, rrf_micro AS val_micro",
         hybrid_sql),
    ])
    # more-like-this variant folds into bm25_topk LAST, so the
    # bm25_after_append / bm25_sharded aliases above keep the plain
    # single-variant topk SQL
    mlt_sql = f"""
WITH {_TOKS_CTE},
stats AS (
    SELECT count(*)::DOUBLE AS n_docs, avg(doc_len)::DOUBLE AS avgdl FROM dl
),
alldf AS (
    SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
mlt_sel AS (
    SELECT term FROM (
        SELECT src.term,
               row_number() OVER (
                   ORDER BY src.tf * ln(1.0 + (st.n_docs - a.df + 0.5)
                                        / (a.df + 0.5)) DESC,
                            src.term ASC
               ) AS rn
        FROM tf src
        JOIN alldf a ON src.term = a.term
        CROSS JOIN stats st
        WHERE src.doc_id = {MLT_DOC}
    ) WHERE rn <= 10
),
mlt_hits AS (
    SELECT t.doc_id,
           ln(1.0 + (st.n_docs - a.df + 0.5) / (a.df + 0.5))
           * t.tf * (1.2 + 1.0)
           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.doc_len / st.avgdl)) AS w
    FROM tf t
    JOIN mlt_sel q ON t.term = q.term
    JOIN alldf a ON t.term = a.term
    JOIN dl d ON t.doc_id = d.doc_id
    CROSS JOIN stats st
    WHERE t.doc_id <> {MLT_DOC}
)
SELECT doc_id, floor(sum(w) * 1e6 + 0.5)::BIGINT AS score_micro
FROM mlt_hits GROUP BY doc_id
ORDER BY sum(w) DESC, doc_id ASC LIMIT 10
"""
    prior_sql = f"""
WITH {_TOKS_CTE},
stats AS (
    SELECT count(*)::DOUBLE AS n_docs, avg(doc_len)::DOUBLE AS avgdl FROM dl
),
dfs AS (
    SELECT term, count(*)::DOUBLE AS df FROM tf
    WHERE term IN ({bm25_terms}) GROUP BY term
),
hits AS (
    SELECT t.doc_id, t.term,
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * t.tf * (1.2 + 1.0)
           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.doc_len / s.avgdl)) AS w
    FROM tf t
    JOIN dfs f ON t.term = f.term
    JOIN dl d ON t.doc_id = d.doc_id
    CROSS JOIN stats s
    WHERE t.term IN ({bm25_terms})
),
ltop AS (
    SELECT doc_id, sum(w) AS score FROM hits GROUP BY doc_id
    ORDER BY sum(w) DESC, doc_id ASC LIMIT 50
),
pri AS (
    SELECT doc_id,
           CASE WHEN doc_id % 5 <> 0
                THEN ((doc_id % 13) + 1)::DOUBLE / 1000.0
                ELSE 0.0 END AS host_rank,
           (doc_id % 7)::DOUBLE AS nf
    FROM documents
),
blend AS (
    SELECT l.doc_id,
           l.score + {PRIOR_W_RANK} * ln(1.0 + coalesce(p.host_rank, 0.0))
                   + {PRIOR_W_INDEG} * ln(1.0 + coalesce(p.nf, 0.0)) AS b
    FROM ltop l LEFT JOIN pri p ON l.doc_id = p.doc_id
)
SELECT doc_id, floor(b * 1e6 + 0.5)::BIGINT AS score_micro
FROM blend ORDER BY b DESC, doc_id ASC LIMIT 10
"""
    out["bm25_topk"] = _fold([
        ("'topk' AS variant, doc_id, score_micro", out["bm25_topk"]),
        ("'mlt' AS variant, doc_id, score_micro", mlt_sql),
        ("'anchor' AS variant, doc_id, score_micro", _fielded_sql()),
        ("'fields' AS variant, doc_id, score_micro",
         _fielded_sql(with_title=True)),
        ("'prior' AS variant, doc_id, score_micro", prior_sql),
    ])
    for dead in (
        "facet_lang", "facet_month", "phrase_match", "near_match",
        "near_match_wildcard", "phrase_rank_wildcard",
        "tf_histogram", "exact_dedup_norm", "canon_url", "dup_windows",
        "minhash_signatures", "bool_sharded",
    ):
        del out[dead]
    return out
