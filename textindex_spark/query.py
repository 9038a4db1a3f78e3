"""Query engine: wildcard expansion, BM25 top-k, matched lines.

Spark re-expression of ``Words::find`` (``/root/reference/src/
index2.rs:550-582``) plus the BM25 block-max ranking the north_star
adds on top:

* wildcard term → vocabulary probe (J1): Catalyst filter on the terms
  table (``rlike`` for globs, equality for exact terms) — pushed down
  to the term-sorted parquet/Iceberg scan.
* posting fetch (J2): broadcast semi-join of the (small) expanded
  query-term set against the postings table; term-range row-group
  skipping applies.
* AND intersection (J3): per-doc pattern bitmask aggregation
  (``bit_or``) — one shuffle keyed doc_id, no chained joins.
* ranking (T5): exact BM25 from the self-contained posting blocks
  (tf + doc_len both stored), ``orderBy desc limit k`` →
  TakeOrderedAndProject (per-partition heaps + driver merge).
* block-max pruning (``prune=True``): ranges are scored by their
  summed per-term upper bounds first; a cheap exact pass over the
  best range sets the threshold θ and only ranges with ub ≥ θ are
  decoded — the distributed, Catalyst-expressible form of block-max
  WAND (upper bounds and candidate filtering are plain columnar ops;
  only surviving blocks reach the Python decode kernel).
"""
from __future__ import annotations

import math
import re
import threading
from collections import OrderedDict
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from textindex_spark import manifest
from textindex_spark.build import B, K1, STATS_SCHEMA, read_stats, term_bucket_py
from textindex_spark.codec import decode_batch
from textindex_spark.refimpl.oracle import wildcard_to_regex
from textindex_spark.session import local_df

DECODED_SCHEMA = "term string, doc_id long, tf int, doc_len long, tfnorm double"

# Flat queries pack pattern membership into one int64 bitmask
# (bit i = pattern i matched a term in the doc), so at most 63
# patterns fit; expand_patterns rejects longer lists up front.
MAX_QUERY_PATTERNS = 63
# Exactly the columns each decode kernel consumes — selected explicitly
# before mapInPandas so the parquet scan never reads pos_bytes (the
# largest column) for BM25 work, and reads it ONLY for phrase/NEAR.
_DECODE_COLS = ["term", "range_id", "doc_gaps", "tf_bytes", "dl_bytes"]
_DECODE_POS_COLS = _DECODE_COLS + ["pos_bytes"]

# Vocabularies up to this many terms are cached in query-node memory —
# the Spark analog of the reference keeping its whole WordList BTreeMap
# resident (``/root/reference/src/index2/words.rs:62-120``); wildcard
# probes then cost zero Spark jobs. Larger vocabularies fall back to a
# distributed terms-table scan.
TERMS_CACHE_MAX = 5_000_000
_dict_cache: dict[str, tuple[pd.DataFrame, dict]] = {}

# Analyzed-DataFrame cache per (index_dir, table): re-using the frame
# object across queries skips the per-query manifest read + data-file
# listing + schema resolution (ROADMAP r2 "plan caching" — worth
# ~0.1-0.5 s/query of driver-side overhead on this VM). Correctness:
# every snapshot-changing operation (append/delete/compact/
# consolidate/stream commit) calls ``invalidate_cache``; old data dirs
# are immutable and never deleted by those operations, so a cached
# frame can never read torn state — at worst an EXTERNAL writer's
# commit is unseen until invalidation, the standard serving-node
# trade-off (call invalidate_cache on a refresh schedule there).
# Values carry the owning SparkSession: a frame bound to a restarted
# (dead) session is refreshed instead of served (ADVICE r3).
_frame_cache: dict[tuple[str, str], tuple[SparkSession, DataFrame]] = {}


def canon_dir(index_dir: str) -> str:
    """Canonical cache key for an index dir: file:/ URIs and
    scheme-less local paths collapse to ONE realpath spelling, so two
    spellings of the same directory ('file:/x' vs '/x' vs '/x/')
    cannot dodge invalidate_cache and serve a stale snapshot (ADVICE
    r3). Delegates to ``manifest.canon_path`` — one implementation
    for cache keys, stream identities, and atomic-write paths."""
    return manifest.canon_path(index_dir)


def _cached_table(spark: SparkSession, index_dir: str, name: str) -> DataFrame:
    key = (canon_dir(index_dir), name)
    hit = _frame_cache.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = manifest.read_table(spark, index_dir, name)
    _frame_cache[key] = (spark, df)
    return df


# --- X5: query-node posting-block cache ------------------------------
# The reference keeps hot index blocks resident between commands and
# evicts the rest after each save (`cleanup` retains only the bag-head
# block type, ``/root/reference/src/index2.rs:363-374``; iteration
# additionally `discard`s visited posting blocks,
# ``src/index2/word_map.rs:326-334``). The Spark serving-path analog:
# the query node caches fetched posting-block rows — the varint binary
# columns plus the block-max metadata, never ``pos_bytes`` — at
# (term, range_id) granularity under an LRU byte budget, so a warm
# BM25 query costs ZERO Spark jobs. Bounded: the local serving path
# only engages when the candidate set fits LOCAL_SCORE_MAX_POSTINGS,
# so any single insert is small, and the budget caps the total.
# Invalidation: ``invalidate_cache`` (called by every snapshot
# mutator), so a cached block can never outlive its snapshot.
BLOCK_CACHE_MAX_BYTES = 256 * 1024 * 1024
_BLOCK_COLS = [
    "term", "range_id", "n_docs", "max_tf", "max_tfnorm", "enc_avgdl",
    "doc_gaps", "tf_bytes", "dl_bytes",
]
# (cd, term, range_id) -> (tuple of block-row tuples, nbytes). One key
# can own SEVERAL block rows: ``append_batch`` adds rows next to
# existing ones until compaction folds them (build.py append_batch
# docstring) — the cache must serve ALL of a key's rows or none.
# Budgets are GLOBAL across index dirs (a long-lived driver touching
# many indexes must not accumulate a budget per dir).
_block_cache: "OrderedDict[tuple[str, str, int], tuple[tuple, int]]" = OrderedDict()
_block_bytes = 0

# One lock guards every serving-cache mutation (block/meta puts, LRU
# move_to_end, invalidation). A long-lived query node serves requests
# from multiple driver threads; the unguarded pop/extend/byte-count
# sequences interleave across bytecode boundaries, drifting the byte
# budget and racing the eviction loop's check-then-popitem (review
# r4). Mutations are dict ops + integer math — the lock is never held
# across a Spark job or any IO.
_cache_lock = threading.RLock()

# Block-max metadata resident per term (the skip/impact data a serving
# node keeps in memory — what the prune planner reads). Row-bounded:
# a term's metadata is one row per posting block, so hot vocabularies
# stay cheap while a 10^8-range stop-word entry is simply not retained.
META_CACHE_MAX_ROWS = 2_000_000
META_CACHE_TERM_MAX_ROWS = 262_144
_META_COLS = ["term", "range_id", "n_docs", "max_tf", "max_tfnorm", "enc_avgdl"]
# (cd, term) -> meta frame (one row per block row; range_id can repeat)
_meta_cache: "OrderedDict[tuple[str, str], pd.DataFrame]" = OrderedDict()
_meta_rows = 0

# Result URLs resident per doc_id — the reference prints each hit's
# path straight from memory. A bounded top-k resolves its ≤k urls
# here (`finish_ranked`); misses cost one isin pushdown scan of the
# docs table, and a doc_id with no docs row caches None (the left
# join's answer). Entry-capped LRU, global across index dirs.
URL_CACHE_MAX_ENTRIES = 262_144
# (cd, doc_id) -> url | None
_url_cache: "OrderedDict[tuple[str, int], str | None]" = OrderedDict()


def _block_cache_put(cd: str, term: str, range_id: int, rows: list[tuple]) -> None:
    global _block_bytes
    key = (cd, term, range_id)
    # 3 binary columns + fixed per-row overhead for the scalars/keys
    nb = sum(len(r[6]) + len(r[7]) + len(r[8]) + 64 for r in rows)
    if nb > BLOCK_CACHE_MAX_BYTES:
        return
    with _cache_lock:
        old = _block_cache.pop(key, None)
        if old is not None:
            _block_bytes -= old[1]
        _block_cache[key] = (tuple(rows), nb)
        _block_bytes += nb
        while _block_bytes > BLOCK_CACHE_MAX_BYTES and _block_cache:
            _, (_, ev_nb) = _block_cache.popitem(last=False)
            _block_bytes -= ev_nb


def _meta_cache_put(cd: str, term: str, pdf: pd.DataFrame) -> None:
    global _meta_rows
    if len(pdf) > META_CACHE_TERM_MAX_ROWS:
        return
    key = (cd, term)
    with _cache_lock:
        old = _meta_cache.pop(key, None)
        if old is not None:
            _meta_rows -= len(old)
        _meta_cache[key] = pdf
        _meta_rows += len(pdf)
        while _meta_rows > META_CACHE_MAX_ROWS and _meta_cache:
            _, ev = _meta_cache.popitem(last=False)
            _meta_rows -= len(ev)


def _meta_get(cd: str, term: str) -> pd.DataFrame | None:
    with _cache_lock:
        hit = _meta_cache.get((cd, term))
        if hit is not None:
            _meta_cache.move_to_end((cd, term))
        return hit


def _cache_meta_groups(
    cd: str, fetched: pd.DataFrame, terms: list[str]
) -> dict[str, pd.DataFrame]:
    """Split a fetched frame per term and cache each term's metadata;
    a term with no rows caches an empty frame (negative entry) so
    absent vocabulary stops costing jobs. Shared by the metadata probe
    and the ride-along path of a full-term block fetch."""
    groups = (
        {t: g[_META_COLS].reset_index(drop=True) for t, g in fetched.groupby("term")}
        if len(fetched)
        else {}
    )
    out = {}
    for t in terms:
        pdf = groups.get(t)
        if pdf is None:
            pdf = fetched.iloc[0:0][_META_COLS].reset_index(drop=True)
        out[t] = pdf
        _meta_cache_put(cd, t, pdf)
    return out


def _block_meta(
    spark: SparkSession, index_dir: str, term_list: list[str], stats: dict
) -> pd.DataFrame:
    """Block-max metadata rows for the query terms, served from the
    resident metadata cache; missing terms probed in ONE metadata-only
    scan (binary columns never read). Terms with no blocks cache an
    empty frame so absent vocabulary stops costing jobs."""
    cd = canon_dir(index_dir)
    want = list(dict.fromkeys(term_list))
    frames: dict[str, pd.DataFrame] = {}
    misses = []
    for t in want:
        hit = _meta_get(cd, t)
        if hit is not None:
            frames[t] = hit
        else:
            misses.append(t)
    if misses:
        fetched = (
            _query_blocks(spark, index_dir, None, misses, stats.get("n_term_buckets"))
            .select(*_META_COLS)
            .toPandas()
        )
        frames.update(_cache_meta_groups(cd, fetched, misses))
    got = [frames[t] for t in want if len(frames[t])]
    if not got:
        return pd.DataFrame(columns=_META_COLS)
    return pd.concat(got, ignore_index=True)


def _fetch_blocks(
    spark: SparkSession,
    index_dir: str,
    term_list: list[str],
    stats: dict,
    ranges: list[int] | None = None,
) -> pd.DataFrame:
    """Serving-path posting-block fetch through the block cache.
    ``ranges=None`` → every range of each term; else only those
    range_ids. Cold terms cost one pushdown scan (exactly the
    pre-cache plan) and warm the cache; fully-warm queries cost zero
    Spark jobs. Falls back to an uncached direct scan for expansions
    past ISIN_PUSHDOWN_MAX (the cache is for serving-sized queries)."""
    want = list(dict.fromkeys(term_list))
    range_set = None if ranges is None else set(int(r) for r in ranges)
    if ranges is not None and len(ranges) > ISIN_PUSHDOWN_MAX:
        range_set = None  # matches the pre-cache plan: read everything
    if len(want) == 0 or len(want) > ISIN_PUSHDOWN_MAX:
        fetch = _query_blocks(spark, index_dir, None, want, stats.get("n_term_buckets"))
        if range_set is not None:
            fetch = fetch.filter(F.col("range_id").isin(sorted(range_set)))
        return fetch.select(*_BLOCK_COLS).toPandas()

    cd = canon_dir(index_dir)
    rows: list[tuple] = []
    full_miss: list[str] = []   # no metadata → fetch the whole term
    missing_pairs: set[tuple[str, int]] = set()
    for t in want:
        m = _meta_get(cd, t)
        if m is None:
            full_miss.append(t)
            continue
        # dedupe: a range_id repeats in the metadata when a key owns
        # several block rows (append before compaction) — the cache
        # entry already holds ALL of the key's rows
        needed = list(dict.fromkeys(int(r) for r in m["range_id"]))
        if range_set is not None:
            needed = [r for r in needed if r in range_set]
        for r in needed:
            with _cache_lock:
                hit = _block_cache.get((cd, t, r))
                if hit is not None:
                    _block_cache.move_to_end((cd, t, r))
            if hit is not None:
                rows.extend(hit[0])
            else:
                missing_pairs.add((t, r))
    if full_miss or missing_pairs:
        pair_terms = sorted({t for t, _ in missing_pairs})
        pair_ranges = sorted({r for _, r in missing_pairs})
        if len(pair_ranges) > ISIN_PUSHDOWN_MAX:
            # the DERIVED range in-list must honor the same plan-size
            # invariant as the term list (review r4): a mass block-
            # cache miss across many terms×ranges would otherwise put
            # a 10^4+-literal In() into the plan and stall planning.
            # Dropping the range predicate keeps the scan bounded by
            # the term in-list; the over-delivered ranges are already
            # filtered to exact (term, range) membership driver-side
            # below, and the extras warm the block cache.
            pair_ranges = []
        conds = []
        if full_miss:
            cond = F.col("term").isin(full_miss)
            if range_set is not None:
                # a requested-range fetch must keep the range predicate
                # in the SCAN even for meta-less terms — a θ probe on a
                # term too large for the metadata cache must never pull
                # the term's whole postings driver-side
                cond &= F.col("range_id").isin(sorted(range_set))
            conds.append(cond)
        if missing_pairs:
            # the in-list cross can over-deliver (term, range) combos;
            # exact membership is re-checked driver-side below
            pc = F.col("term").isin(pair_terms)
            if pair_ranges:
                pc &= F.col("range_id").isin(pair_ranges)
            conds.append(pc)
        pred = conds[0] if len(conds) == 1 else conds[0] | conds[1]
        fetched = (
            _bucket_filter(
                _cached_table(spark, index_dir, "postings"),
                full_miss + pair_terms,
                stats.get("n_term_buckets"),
            )
            .filter(pred)
            .select(*_BLOCK_COLS)
            .toPandas()
        )
        full_set = set(full_miss)
        by_key: dict[tuple[str, int], list[tuple]] = {}
        for tup in fetched.itertuples(index=False, name=None):
            by_key.setdefault((tup[0], int(tup[1])), []).append(tup)
        for (t, r), key_rows in by_key.items():
            _block_cache_put(cd, t, r, key_rows)
            if t in full_set:
                if range_set is None or r in range_set:
                    rows.extend(key_rows)
            elif (t, r) in missing_pairs:
                rows.extend(key_rows)
        # metadata rides along free on a full-term fetch. Range-
        # restricted fetches see only a slice of the term, so no
        # metadata is cached for them.
        if full_miss and range_set is None:
            _cache_meta_groups(cd, fetched, full_miss)
    if not rows:
        return pd.DataFrame(columns=_BLOCK_COLS)
    return pd.DataFrame(rows, columns=_BLOCK_COLS)


def invalidate_cache(index_dir: str) -> None:
    """Drop every query-node cache for an index (dictionary, stats,
    analyzed table frames, posting blocks, result urls). Called by all
    snapshot-mutating ops."""
    global _block_bytes, _meta_rows
    cd = canon_dir(index_dir)
    with _cache_lock:
        _dict_cache.pop(cd, None)
        _tomb_exists.pop(cd, None)
        _tomb_ids_cache.pop(cd, None)
        for k in [k for k in _scope_ids_cache if k[0] == cd]:
            _scope_ids_cache.pop(k, None)
        for k in [k for k in _ts_range_cache if k[0] == cd]:
            _ts_range_cache.pop(k, None)
        for k in [k for k in _block_cache if k[0] == cd]:
            _block_bytes -= _block_cache.pop(k)[1]
        for k in [k for k in _meta_cache if k[0] == cd]:
            _meta_rows -= len(_meta_cache.pop(k))
        for k in [k for k in _url_cache if k[0] == cd]:
            _url_cache.pop(k, None)
        for k in [k for k in _frame_cache if k[0] == cd]:
            _frame_cache.pop(k, None)
        for k in [k for k in _shard_cache if k[0] == cd]:
            _shard_cache.pop(k, None)


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _is_wildcard(p: str) -> bool:
    return "*" in p or "?" in p


# --- fuzzy term expansion (Lucene ``term~d`` syntax, engine extension) --
# A fuzzy pattern expands — like a wildcard — to every vocabulary term
# within Levenshtein distance d of its base, then flows through the
# SAME pattern_idx machinery (BM25 AND/OR, boolean trees, exclusions,
# phrase slots). `~` can never appear inside a vocabulary term (the
# tokenizer splits on it), so the suffix is unambiguous. Distance is
# classic character-level Levenshtein (unit-cost ins/del/sub, no
# transposition) — the exact function Spark's F.levenshtein and
# DuckDB's levenshtein() compute, so the resident-dictionary path, the
# distributed probe, and the DuckDB oracle agree by construction.
FUZZY_MAX_DIST = 2
# [0-9]* (not ?): 'term~12' must parse as fuzzy syntax and get the
# loud out-of-range error, not fall through to a silent exact-term
# miss ('~' can never appear in a vocabulary term) — review r5
_FUZZY_RE = re.compile(r"(.+)~([0-9]*)\Z", re.S)


def _parse_fuzzy(p: str) -> tuple[str, int] | None:
    """``base~`` / ``base~1`` / ``base~2`` → (base, dist); None when
    ``p`` is not fuzzy syntax. Wildcard chars inside the base are
    rejected — combined glob+fuzzy expansion is not defined."""
    m = _FUZZY_RE.fullmatch(p)
    if not m:
        return None
    base, raw_d = m.group(1), m.group(2)
    if _is_wildcard(base):
        raise ValueError(f"fuzzy and wildcard cannot combine: {p!r}")
    d = int(raw_d) if raw_d else 1
    if not 1 <= d <= FUZZY_MAX_DIST:
        raise ValueError(
            f"fuzzy distance must be 1..{FUZZY_MAX_DIST}: {p!r}"
        )
    return base, d


def _lev_within(a: str, b: str, d: int) -> bool:
    """True iff levenshtein(a, b) <= d. Row-wise Wagner-Fischer with a
    best-in-row early exit — O(|a|·|b|) worst case but the caller's
    length/pigeonhole prefilters keep candidate sets tiny."""
    la, lb = len(a), len(b)
    if abs(la - lb) > d:
        return False
    if la > lb:
        a, b, la, lb = b, a, lb, la
    prev = list(range(la + 1))
    for j in range(1, lb + 1):
        bj = b[j - 1]
        cur = [j] + [0] * la
        best = j
        for i in range(1, la + 1):
            c = prev[i - 1] + (a[i - 1] != bj)
            up = prev[i] + 1
            left = cur[i - 1] + 1
            if up < c:
                c = up
            if left < c:
                c = left
            cur[i] = c
            if c < best:
                best = c
        if best > d:
            return False
        prev = cur
    return prev[la] <= d


def _fuzzy_mask(series: pd.Series, base: str, d: int) -> pd.Series:
    """Vectorized fuzzy match over a term Series. Two cheap vectorized
    prefilters bound the interpreted-Python DP to a handful of
    candidates even at the 5M-term cache cap: (1) length window
    |len(t) − len(base)| ≤ d; (2) pigeonhole — ≤ d edits touch ≤ d of
    the base's d+1 contiguous chunks, so a true match must contain at
    least one chunk verbatim."""
    if len(series) == 0:
        return pd.Series([], dtype=bool, index=series.index)
    mask = (series.str.len() - len(base)).abs() <= d
    nchunks = d + 1
    if len(base) >= nchunks:
        step = len(base) // nchunks
        chunk_hit = pd.Series(False, index=series.index)
        for i in range(nchunks):
            lo = i * step
            hi = (i + 1) * step if i < nchunks - 1 else len(base)
            chunk_hit |= series.str.contains(base[lo:hi], regex=False)
        mask &= chunk_hit
    cand = series[mask]
    mask = mask.copy()
    if len(cand):
        mask.loc[cand.index] = [_lev_within(base, t, d) for t in cand]
    return mask


# --- query-time boosts (Lucene ``pattern^boost``, engine extension) ---
# A ``^N`` / ``^N.M`` suffix multiplies the idf weight of every
# vocabulary term the pattern covers (flat ranked search; a term
# covered by several patterns takes the MAX boost, matching the
# engine's count-each-term-once overlap semantics). The boost folds
# into term_info's idf BEFORE any scoring or pruning math, so the
# resident, distributed, and block-max paths — whose θ probes and
# per-block upper bounds all read that same idf column — stay
# rank-identical with no extra machinery. ``^`` can never appear in
# a vocabulary term (the tokenizer splits on it), so the suffix is
# unambiguous.
_BOOST_RE = re.compile(r"(.+)\^([0-9]+(?:\.[0-9]+)?)\Z", re.S)


def split_boosts(patterns: list[str]) -> tuple[list[str], list[float]]:
    """→ (base_patterns, per-pattern boosts). Boost must be > 0 — a
    zero-weight clause would still gate AND membership while
    contributing nothing, which is never what a ranking query means.
    Malformed boost syntax (``spark^``, ``spark^x``, ``a^b``) errors
    loudly — a '^' outside a ``/regex/`` can never match a vocabulary
    term, so falling through would be a silent miss. Membership-only
    surfaces (exclusions, unranked find, facets) call this to STRIP
    boosts: a boost cannot change a membership answer, so the base
    pattern is honored and the weight ignored."""
    bases: list[str] = []
    boosts: list[float] = []
    for p in patterns:
        m = _BOOST_RE.fullmatch(p)
        if m:
            base, b = m.group(1), float(m.group(2))
            if b <= 0:
                raise ValueError(f"boost must be > 0: {p!r}")
        else:
            base, b = p, 1.0
        if "^" in base and _parse_regex(base) is None:
            raise ValueError(
                f"malformed boost (expected pattern^NUMBER): {p!r}"
            )
        bases.append(base)
        boosts.append(b)
    return bases, boosts


def _boost_aggs(expanded: pd.DataFrame, aggs: dict) -> dict:
    """Add the max-boost aggregation when the expansion carries one."""
    if "boost" in expanded.columns:
        aggs["boost"] = ("boost", "max")
    return aggs


def _fold_boost_idf(term_info: pd.DataFrame) -> pd.DataFrame:
    """Single definition of boost semantics (see split_boosts): fold
    the aggregated max boost into idf BEFORE any scoring/pruning math
    — every downstream consumer (scoring, θ probes, block upper
    bounds, federation) reads the same pre-multiplied column."""
    if "boost" in term_info.columns:
        term_info["idf"] = term_info["idf"] * term_info["boost"]
        term_info = term_info.drop(columns=["boost"])
    return term_info


# --- regex term expansion (``/pattern/`` syntax, engine extension) ---
# A slash-delimited pattern expands to every vocabulary term the
# regex fully matches, then rides the same pattern_idx machinery as
# globs and fuzzy terms. The resident path evaluates Python re over
# the dictionary (vectorized str.fullmatch); the distributed probe
# compiles the same source into Spark's JVM `rlike`. Keep patterns in
# the common Python/Java/RE2 subset (literals, classes, anchored-free
# alternation, quantifiers) — exotic constructs may diverge between
# the engines, exactly as with any multi-runtime regex surface.


def _parse_regex(p: str) -> re.Pattern[str] | None:
    """``/pattern/`` → compiled regex (DOTALL, full-match semantics);
    None when ``p`` is not slash-delimited. Invalid regex raises
    up front."""
    if len(p) < 3 or not (p.startswith("/") and p.endswith("/")):
        return None
    try:
        return re.compile(p[1:-1], re.DOTALL)
    except re.error as e:
        raise ValueError(f"invalid regex pattern {p!r}: {e}") from None


def _regex_mask(series: pd.Series, rx: re.Pattern[str]) -> pd.Series:
    """Vectorized full-match over a term Series."""
    if len(series) == 0:
        return pd.Series([], dtype=bool, index=series.index)
    return series.str.fullmatch(rx).fillna(False)


def _regex_cond(rx: re.Pattern[str]):
    """Catalyst predicate for the distributed regex probe (JVM-side
    rlike, anchored to full-match like the resident path)."""
    return F.col("term").rlike(f"^(?s:{rx.pattern})$")


def fuzzy_distance(base: str, term: str, max_dist: int) -> int:
    """Minimal Levenshtein distance in 0..max_dist, or max_dist+1
    when the bound is exceeded (banded check per level — candidates
    have already passed the expansion prefilters, so levels are
    cheap)."""
    if term == base:
        return 0
    for d in range(1, max_dist + 1):
        if _lev_within(base, term, d):
            return d
    return max_dist + 1


def suggest_terms(
    spark: SparkSession,
    index_dir: str,
    word: str,
    n: int = 5,
    max_dist: int = FUZZY_MAX_DIST,
) -> pd.DataFrame:
    """Did-you-mean spelling suggestions (engine extension — the
    Lucene SpellChecker surface): vocabulary terms within Levenshtein
    distance ``max_dist`` of the lowercased word, the exact word
    itself excluded, ranked (distance asc, corpus df desc, term asc),
    top ``n``. → pandas (term, dist, df).

    Rides the fuzzy expansion machinery, so the resident-dictionary
    path answers with zero Spark jobs warm and oversize dictionaries
    fall back to the sharded/distributed probe (sargable length
    window + JVM levenshtein); df comes back with the expansion — no
    second lookup."""
    if not 1 <= max_dist <= FUZZY_MAX_DIST:
        raise ValueError(
            f"suggest max_dist must be 1..{FUZZY_MAX_DIST}: {max_dist}"
        )
    if not word or _is_wildcard(word) or "~" in word or "/" in word:
        # a clean error in suggest's own vocabulary — not the fuzzy
        # parser's complaint about syntax the user never typed
        raise ValueError(f"suggest takes a plain word: {word!r}")
    word = word.lower()
    expanded = expand_patterns(spark, index_dir, [f"{word}~{max_dist}"])
    rows = [
        (t, fuzzy_distance(word, t, max_dist), int(df))
        for t, df in zip(expanded["term"], expanded["df"])
        if t != word
    ]
    rows.sort(key=lambda r: (r[1], -r[2], r[0]))
    return pd.DataFrame(rows[:n], columns=["term", "dist", "df"])


def _fuzzy_cond(base: str, d: int):
    """Catalyst predicate for the distributed fuzzy probe: a sargable
    length window narrows the scan before the levenshtein evaluation
    (both are built-in JVM expressions — no Python in the probe)."""
    return (
        (F.length("term") >= len(base) - d)
        & (F.length("term") <= len(base) + d)
        & (F.levenshtein(F.col("term"), F.lit(base)) <= d)
    )


def _wild_mask(series: pd.Series, p: str) -> pd.Series:
    """Vectorized glob match over a term Series (VERDICT r2: the
    per-term interpreted-Python fullmatch loop cost seconds per
    wildcard at the 5M-term cache cap). Pure-prefix globs (``head*``)
    take the C-speed ``str.startswith`` path; everything else the
    vectorized ``str.fullmatch`` on the compiled pattern."""
    if len(series) == 0:
        return pd.Series([], dtype=bool, index=series.index)
    if p.endswith("*") and not _is_wildcard(p[:-1]):
        return series.str.startswith(p[:-1]).astype(bool)
    return series.str.fullmatch(wildcard_to_regex(p)).astype(bool)


def cached_stats(spark: SparkSession, index_dir: str) -> dict:
    if canon_dir(index_dir) not in _dict_cache:
        _load_dictionary(spark, index_dir)
    return _dict_cache[canon_dir(index_dir)][1]


def _load_dictionary(spark: SparkSession, index_dir: str) -> pd.DataFrame | None:
    """Load (term, df, max_tfnorm) into driver memory once per index
    (None when the vocabulary exceeds TERMS_CACHE_MAX)."""
    cd = canon_dir(index_dir)
    if cd in _dict_cache:
        return _dict_cache[cd][0]
    stats = read_stats(spark, index_dir)
    terms = None
    if stats["vocab_size"] <= TERMS_CACHE_MAX:
        terms = (
            manifest.read_table(spark, index_dir, "terms")
            .select("term", "df", "max_tfnorm")
            .toPandas()
        )
    _dict_cache[cd] = (terms, stats)
    return terms


def expand_patterns(
    spark: SparkSession, index_dir: str, patterns: list[str]
) -> pd.DataFrame:
    """→ pandas (pattern_idx, term, df, max_tfnorm). Exact terms probe
    by equality; globs by anchored regex (WildMatch semantics,
    index2.rs:554). Served from the in-memory dictionary when it fits;
    otherwise one combined distributed probe (a single Catalyst filter
    OR-ing every pattern, one job total)."""
    if not patterns:
        return pd.DataFrame(columns=["pattern_idx", "term", "df", "max_tfnorm"])
    if len(patterns) > MAX_QUERY_PATTERNS:
        # every flat-query path packs pattern membership into ONE
        # int64 bitmask (bit i = pattern i matched) — pattern 63+
        # would overflow both numpy's C long and Spark's LongType
        # full-mask literal; reject with a clear error instead of an
        # OverflowError mid-aggregation (review r4)
        raise ValueError(
            f"too many query patterns ({len(patterns)}); the bitmask "
            f"execution paths support at most {MAX_QUERY_PATTERNS}"
        )
    terms = _load_dictionary(spark, index_dir)
    if terms is not None:
        frames = []
        by_term = terms.set_index("term", drop=False)
        for i, p in enumerate(patterns):
            rx = _parse_regex(p)
            fz = None if rx is not None else _parse_fuzzy(p)
            if rx is not None:
                hit = terms[_regex_mask(terms["term"], rx)].copy()
            elif fz is not None:
                hit = terms[_fuzzy_mask(terms["term"], *fz)].copy()
            elif _is_wildcard(p):
                hit = terms[_wild_mask(terms["term"], p)].copy()
            else:
                hit = by_term.loc[[p]].copy() if p in by_term.index else terms.iloc[0:0].copy()
            hit["pattern_idx"] = i
            frames.append(hit)
        out = pd.concat(frames, ignore_index=True)
        return out[["pattern_idx", "term", "df", "max_tfnorm"]]
    # distributed fallback (vocab > TERMS_CACHE_MAX), with a prefix-
    # SHARD cache in front: hot term prefixes are served from driver
    # memory, cold ones cost ONE combined Spark probe (ROADMAP r2 #4)
    return _expand_sharded(spark, index_dir, patterns)


# --- prefix-shard dictionary cache (vocabularies > TERMS_CACHE_MAX) --
# A shard = every vocabulary term starting with the same
# SHARD_PREFIX_LEN-char prefix, fetched with a sargable
# startswith-pushdown scan and kept as a pandas frame. Repeated
# queries over hot prefixes (the realistic query distribution) then
# probe with zero Spark jobs, while cold prefixes pay one combined
# scan. Shards hotter than SHARD_ROWS_MAX rows are served but not
# cached (a 5M-row prefix would evict everything else); total
# residency is bounded by SHARD_CACHE_ROWS with FIFO eviction.
SHARD_PREFIX_LEN = 2
SHARD_ROWS_MAX = 1_000_000
SHARD_CACHE_ROWS = 4_000_000
_shard_cache: dict[tuple[str, str], pd.DataFrame] = {}


def _shard_key(p: str) -> str | None:
    if _parse_regex(p) is not None:
        return None  # a regex has no reliable literal prefix
    if _parse_fuzzy(p) is not None:
        # an edit at position 0/1 changes the prefix — fuzzy matches
        # are NOT confined to the base's prefix shard
        return None
    head = p.split("*", 1)[0].split("?", 1)[0]
    return head[:SHARD_PREFIX_LEN] if len(head) >= SHARD_PREFIX_LEN else None


def _cache_shard(index_dir: str, prefix: str, frame: pd.DataFrame) -> None:
    if len(frame) > SHARD_ROWS_MAX:
        return
    total = sum(len(v) for v in _shard_cache.values()) + len(frame)
    while total > SHARD_CACHE_ROWS and _shard_cache:
        oldest = next(iter(_shard_cache))  # FIFO eviction
        total -= len(_shard_cache.pop(oldest))
    _shard_cache[(canon_dir(index_dir), prefix)] = frame


def _expand_sharded(
    spark: SparkSession, index_dir: str, patterns: list[str]
) -> pd.DataFrame:
    """Distributed probe with shard caching. Shardable patterns (≥
    SHARD_PREFIX_LEN literal head chars) are matched against their
    prefix shard — loaded once via startswith pushdown, then resident.
    Keyless patterns (leading wildcard / 1-char head) go through the
    per-pattern combined predicate, exactly as before. All cold work
    is ONE Spark job."""
    cd = canon_dir(index_dir)
    keys = {p: _shard_key(p) for p in patterns}
    missing = sorted(
        {k for k in keys.values() if k is not None and (cd, k) not in _shard_cache}
    )
    keyless = [p for p in patterns if keys[p] is None]
    loose = pd.DataFrame(columns=["term", "df", "max_tfnorm"])
    if missing or keyless:
        terms_df = _cached_table(spark, index_dir, "terms")
        conds = []
        for k in missing:
            # whole-shard fetch: sargable, term-sorted files prune
            conds.append(F.col("term").startswith(k))
        for p in keyless:
            rx = _parse_regex(p)
            fz = None if rx is not None else _parse_fuzzy(p)
            if rx is not None:
                conds.append(_regex_cond(rx))
            elif fz is not None:
                conds.append(_fuzzy_cond(*fz))
            elif _is_wildcard(p):
                rx_cond = F.col("term").rlike(
                    f"^(?s:{wildcard_to_regex(p).pattern})$"
                )
                # a short (<SHARD_PREFIX_LEN) literal head still
                # deserves the sargable StringStartsWith pushdown the
                # pre-shard code had — rlike alone cannot reach the
                # scan (round-3 review)
                head = p.split("*", 1)[0].split("?", 1)[0]
                if head:
                    rx_cond = F.col("term").startswith(head) & rx_cond
                conds.append(rx_cond)
            else:
                conds.append(F.col("term") == p)
        combined = conds[0]
        for c in conds[1:]:
            combined = combined | c
        got = terms_df.filter(combined).select("term", "df", "max_tfnorm").toPandas()
        for k in missing:
            _cache_shard(index_dir, k, got[got["term"].str.startswith(k)].copy())
        loose = got
    frames = []
    for i, p in enumerate(patterns):
        k = keys[p]
        src = _shard_cache.get((cd, k)) if k is not None else None
        if src is None:
            # keyless pattern, or a too-hot-to-cache shard: match
            # against this probe's result rows
            src = loose
        rx = _parse_regex(p)
        fz = None if rx is not None else _parse_fuzzy(p)
        if rx is not None:
            hit = src[_regex_mask(src["term"], rx)].copy()
        elif fz is not None:
            hit = src[_fuzzy_mask(src["term"], *fz)].copy()
        elif _is_wildcard(p):
            hit = src[_wild_mask(src["term"], p)].copy()
        else:
            hit = src[src["term"] == p].copy()
        hit["pattern_idx"] = i
        frames.append(hit)
    out = pd.concat(frames, ignore_index=True)
    return out[["pattern_idx", "term", "df", "max_tfnorm"]]


def _decode_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if len(pdf) == 0:
            continue
        range_bits = int(pdf["range_bits"].iat[0])
        bases = pdf["range_id"].values.astype(np.int64) << range_bits
        doc_lists, tf_lists, dl_lists = decode_batch(
            list(pdf["doc_gaps"]), bases, [list(pdf["tf_bytes"]), list(pdf["dl_bytes"])]
        )
        counts = np.fromiter((len(d) for d in doc_lists), dtype=np.int64, count=len(doc_lists))
        terms = np.repeat(pdf["term"].values, counts)
        doc_ids = np.concatenate(doc_lists) if len(doc_lists) else np.array([], dtype=np.int64)
        tfs = np.concatenate(tf_lists) if tf_lists else np.array([], dtype=np.int64)
        dls = np.concatenate(dl_lists) if dl_lists else np.array([], dtype=np.int64)
        avgdl = float(pdf["avgdl"].iat[0]) or 1.0
        tfnorm = tfs * (K1 + 1.0) / (tfs + K1 * (1.0 - B + B * dls / avgdl))
        yield pd.DataFrame(
            {
                "term": terms,
                "doc_id": doc_ids,
                "tf": tfs.astype(np.int32),
                "doc_len": dls,
                "tfnorm": tfnorm,
            }
        )


# Above this many expanded terms, the query-vocabulary probe switches
# from an isin() pushdown predicate (parquet row-group skipping) to a
# broadcast semi-join (no 100k-literal filters in the plan).
ISIN_PUSHDOWN_MAX = 1024


def _bucket_filter(postings: DataFrame, term_list: list[str], n_buckets) -> DataFrame:
    """Directory-level pruning: term_bucket is a pure function of the
    term (build.term_bucket_py), so the matching bucket directories are
    known BEFORE any scan — PartitionFilters, no file listing outside
    them. n_buckets falsy (pre-bucketing index) → no-op."""
    if not n_buckets or not term_list:
        return postings
    buckets = sorted({term_bucket_py(t, int(n_buckets)) for t in term_list})
    return postings.filter(F.col("term_bucket").isin(buckets))


def _query_blocks(
    spark: SparkSession,
    index_dir: str,
    qterms: DataFrame,
    term_list: list[str],
    n_buckets=None,
) -> DataFrame:
    """Posting block rows for the query vocabulary. Bucket directories
    are pruned first (exact partition pruning); small expansions then
    become an IN-list predicate that reaches the parquet scan
    (PushedFilters → row-group min/max skipping over the term-sorted
    files); large ones a broadcast semi-join."""
    postings = _bucket_filter(
        _cached_table(spark, index_dir, "postings"), term_list, n_buckets
    )
    if 0 < len(term_list) <= ISIN_PUSHDOWN_MAX:
        return postings.filter(F.col("term").isin(term_list))
    if qterms is None:
        # positional paths pass qterms=None; a wildcard slot expanding
        # past ISIN_PUSHDOWN_MAX must still get a broadcast semi-join
        # (ADVICE r2: this used to dereference None)
        qterms = local_df(spark, [(t,) for t in set(term_list)], "term string")
    return postings.join(F.broadcast(qterms.select("term").distinct()), "term")


def _and_surviving_ranges(
    spark: SparkSession,
    index_dir: str,
    mask_by_term: dict[str, int],
    full: int,
    stats: dict,
    blocks: DataFrame | None = None,
) -> list[int] | None:
    """Candidate-range pre-intersection for conjunctive queries: the
    range_ids where the OR of present terms' pattern-coverage masks
    reaches ``full`` — a doc matching ALL patterns has all its terms'
    blocks in its OWN range (range_id = doc_id >> range_bits), so
    restricting the decode to these ranges is EXACT for any AND
    consumer. Returns None when not applicable/selective (single
    pattern, or more surviving ranges than the isin cap — pruning
    only when it prunes), else the (possibly empty) range list.

    Serving-sized vocabularies aggregate the RESIDENT block-max
    metadata (zero Spark jobs warm, one metadata-only probe cold);
    wider expansions run one distributed (term, range_id) agg over
    ``blocks`` — binary columns never read either way."""
    if full == 0 or (full & (full - 1)) == 0:  # <2 patterns: nothing to intersect
        return None
    terms = sorted(mask_by_term)
    if len(terms) <= ISIN_PUSHDOWN_MAX:
        meta = _block_meta(spark, index_dir, terms, stats)
        if len(meta) == 0:
            return []
        masks = meta["term"].map(mask_by_term).values.astype(np.int64)
        per_range = pd.DataFrame(
            {"range_id": meta["range_id"].values, "m": masks}
        ).groupby("range_id")["m"].agg(
            lambda s: int(np.bitwise_or.reduce(s.values))
        )
        ids = [int(r) for r, v in per_range.items() if v == full]
    else:
        if blocks is None:
            blocks = _query_blocks(
                spark, index_dir, None, terms, stats.get("n_term_buckets")
            )
        mdf = local_df(
            spark, sorted(mask_by_term.items()), "term string, slot_mask long"
        )
        surv = (
            blocks.select("term", "range_id")
            .join(F.broadcast(mdf), "term")
            .groupBy("range_id")
            .agg(F.bit_or("slot_mask").alias("_m"))
            .filter(F.col("_m") == full)
        )
        ids = [r["range_id"] for r in surv.limit(ISIN_PUSHDOWN_MAX + 1).collect()]
    return ids if len(ids) <= ISIN_PUSHDOWN_MAX else None


def _decoded_postings(
    spark: SparkSession,
    index_dir: str,
    qterms: DataFrame,
    stats: dict,
    term_list: list[str],
    and_masks: tuple[dict[str, int], int] | None = None,
    allowed_ranges: list[int] | None = None,
) -> DataFrame:
    """Posting blocks for the query vocabulary, decoded to
    (term, doc_id, tf, doc_len, tfnorm) rows. ``and_masks``
    (mask_by_term, full_mask) enables candidate-range
    pre-intersection for conjunctive consumers — only ranges where
    every pattern is present are decoded (exact; see
    ``_and_surviving_ranges``). ``allowed_ranges`` restricts the
    decode to a caller-proven range set (ts-scope time pruning,
    ``_ts_allowed_ranges``); both restrictions intersect."""
    blocks = _query_blocks(spark, index_dir, qterms, term_list, stats.get("n_term_buckets"))
    ids = allowed_ranges
    if and_masks is not None:
        ids = _intersect_ranges(ids, _and_surviving_ranges(
            spark, index_dir, and_masks[0], and_masks[1], stats, blocks
        ))
    blocks = _restrict_ranges(spark, blocks, ids)
    blocks = blocks.select(*_DECODE_COLS).withColumn(
        "range_bits", F.lit(stats["range_bits"])
    ).withColumn("avgdl", F.lit(stats["avgdl"]))
    return blocks.mapInPandas(_decode_kernel, DECODED_SCHEMA)


# When the matched terms' total df is below this, scoring happens on
# the query node over the pushdown-filtered block fetch (one scan job,
# numpy scoring) instead of a distributed agg — the serving-layer path
# of a real engine, with the cluster acting as block storage. Larger
# candidate sets use the fully distributed plan. The cap is enforced
# even when a caller passes local_score=True explicitly: a stop-word-
# grade wildcard must never toPandas() the whole postings table onto
# the driver.
LOCAL_SCORE_MAX_POSTINGS = 2_000_000

# Largest delete set the serving path will materialize driver-side;
# beyond it, queries fall back to the distributed anti-join
# (apply_tombstones) / unpruned plans.
TOMBSTONE_LOCAL_MAX = 100_000


def search(
    spark: SparkSession,
    index_dir: str,
    patterns: list[str],
    k: int | None = 10,
    mode: str = "and",
    prune: bool = False,
    with_urls: bool = True,
    local_score: bool | None = None,
    exclude: list[str] | None = None,
    scope: str | None = None,
    exclude_ids: list[int] | None = None,
    min_match: int | None = None,
) -> DataFrame:
    """BM25 top-k → DataFrame (doc_id, score[, url]), ordered
    (score desc, doc_id asc). mode='and' keeps reference AND
    semantics across query patterns.

    ``with_urls`` with a bounded k (≤ ISIN_PUSHDOWN_MAX) returns a
    driver-local frame, already evaluated: the top-k urls come from
    the resident url cache (`finish_ranked`). Otherwise the frame is
    lazy.

    ``min_match`` > 1 turns ``prune`` off: the block-max θ probe
    would count docs below the minimum and over-prune. The
    CLI rejects ``--prune`` with ``--min-match`` > 1.

    ``k=None`` returns the FULL scored match set (no limit) — the
    input to cross-field score merging (`fields.search_fielded`,
    which needs every candidate's partial score, not a per-field
    top-k). Forces the distributed unpruned path: the serving path
    and block-max pruning are top-k machinery by construction.

    ``exclude_ids``: drop specific doc_ids before top-k (caller-
    bounded — e.g. more_like_this removing its source document);
    merges into the dead set on every path, so θ probes stay sound.

    ``exclude``: NOT semantics — docs containing ANY expansion of an
    exclude pattern (wildcards allowed) are dropped before top-k;
    surviving scores are unchanged. Implemented as per-query
    tombstoning: when the exclusion postings fit the query node
    (≤ LOCAL_SCORE_MAX_POSTINGS) the ids merge into the ``dead`` set,
    so all three execution paths (local, distributed, block-max
    pruned) stay rank-identical and θ probes remain sound; oversize
    exclusions fall back to a distributed anti-join with pruning
    disabled (an unaccounted exclusion would inflate θ and over-
    prune).

    ``scope`` ("lang:en" / "site:host"): metadata-filtered retrieval
    — only docs matching the predicate reach top-k; scores unchanged
    (global stats). Mechanics mirror ``exclude``: a capped complement
    merges into ``dead`` (resident + θ-sound), an oversize complement
    applies as a left_semi join on the distributed plan with pruning
    disabled."""
    if scope:
        parse_scope(scope)  # validate before any work
    patterns, boosts = split_boosts(patterns)
    if min_match is not None:
        # minimum-should-match (Lucene minNrShouldMatch): a doc
        # qualifies iff it matches ≥ min_match DISTINCT patterns —
        # the continuum between OR (1) and AND (n). Membership-only:
        # surviving scores are the plain disjunctive sums.
        if mode != "or":
            raise ValueError("min_match applies to mode='or' queries")
        if not 1 <= min_match <= len(patterns):
            raise ValueError(
                f"min_match must be in [1, {len(patterns)}], got {min_match}"
            )
        if min_match > 1:
            # the block-max θ probe estimates the k-th best score over
            # ALL matching docs; a non-qualifying doc in the probe
            # would inflate θ and prune ranges holding the true
            # qualifying top-k — same soundness fallback as oversize
            # exclusions/scopes
            prune = False
    stats = cached_stats(spark, index_dir)
    expanded = expand_patterns(spark, index_dir, patterns)
    if any(b != 1.0 for b in boosts) and len(expanded):
        expanded = expanded.copy()
        expanded["boost"] = [boosts[i] for i in expanded["pattern_idx"]]
    n_patterns = len(patterns)
    query_is_empty = len(expanded) == 0 or (
        mode == "and" and expanded["pattern_idx"].nunique() < n_patterns
    ) or (
        min_match is not None
        and expanded["pattern_idx"].nunique() < min_match
    )
    excl_ids: np.ndarray | None = None
    excl_expanded: pd.DataFrame | None = None
    if exclude and not query_is_empty:
        # expand exclusion patterns ONCE (the dictionary wildcard scan
        # is shared by the id fetch and any distributed anti-join);
        # skip entirely when the positive query is provably empty.
        # Boosts cannot change membership: strip, honor the base.
        exclude = split_boosts(exclude)[0]
        excl_expanded = expand_patterns(spark, index_dir, exclude)
        excl_ids = _exclusion_ids(
            spark, index_dir, exclude, stats, expanded=excl_expanded
        )
    scope_ids: np.ndarray | None = None
    ts_ranges: list[int] | None = None
    if scope and not query_is_empty:
        scope_ids = _scope_nonmatch_ids(spark, index_dir, scope)
        # time pruning: posting ranges a ts window can touch (None =
        # unavailable / not a ts scope; [] = the window is empty)
        ts_ranges = _ts_allowed_ranges(spark, index_dir, scope)
    xids: np.ndarray | None = (
        np.array(sorted(set(exclude_ids)), dtype=np.int64)
        if exclude_ids
        else None
    )
    fits_local = (
        len(expanded) > 0
        and expanded.drop_duplicates("term")["df"].sum() <= LOCAL_SCORE_MAX_POSTINGS
    )
    if k is None:
        local_score = False  # full scored set: distributed only
        prune = False
    elif local_score is None:
        local_score = fits_local
    else:
        # explicit local_score=True must not bypass the driver-memory
        # guard — a stop-word-grade wildcard would OOM the query node
        local_score = local_score and fits_local
    if exclude and not query_is_empty and excl_ids is None:
        local_score = False  # exclusion set must stay distributed
    if scope and not query_is_empty and scope_ids is None:
        local_score = False  # oversize complement: semi-join distributed
    if local_score and not query_is_empty:
        dead = _dead_ids_capped(spark, index_dir)
        if dead is not None:  # oversize delete sets go distributed
            if excl_ids is not None and len(excl_ids):
                dead = np.union1d(dead, excl_ids)
            if scope_ids is not None and len(scope_ids):
                dead = np.union1d(dead, scope_ids)
            if xids is not None:
                dead = np.union1d(dead, xids)
            res = _search_local(
                spark, index_dir, expanded, stats, len(patterns), k, mode,
                with_urls, dead, prune=prune, allowed_ranges=ts_ranges,
                min_match=min_match,
            )
            if res is not None:
                return res
    full_mask = (1 << n_patterns) - 1
    if query_is_empty:
        result = []
    else:
        expanded = expanded.copy()
        expanded["idf"] = [idf(stats["n_docs"], int(d)) for d in expanded["df"]]
        # one row per matched vocab term: idf + pattern-coverage mask
        aggs = _boost_aggs(expanded, dict(
            idf=("idf", "first"),
            mask=("pattern_idx", lambda s: int(np.bitwise_or.reduce([1 << i for i in s]))),
        ))
        term_info = _fold_boost_idf(
            expanded.groupby("term").agg(**aggs).reset_index()
        )
        qterms = spark.createDataFrame(term_info[["term", "idf", "mask"]])
        term_list = list(term_info["term"])
        if prune and exclude and excl_ids is None:
            # θ cannot account for an oversize exclusion set: an
            # excluded doc in the θ probe would inflate θ and prune
            # ranges holding the true top-k. Fall back to exact
            # unpruned decode (still one distributed job).
            prune = False
        if prune and scope and scope_ids is None:
            # same soundness argument for an oversize scope complement
            prune = False
        and_masks = None
        if mode == "and" and not prune and n_patterns > 1:
            # candidate-range pre-intersection: decode only ranges
            # where every pattern is present (exact — a matching
            # doc's postings live in one range). The pruned plan does
            # its own per-range AND-mask filtering.
            and_masks = (
                dict(zip(term_info["term"], (int(m) for m in term_info["mask"]))),
                full_mask,
            )
        decoded = _decoded_postings(
            spark, index_dir, qterms, stats, term_list, and_masks=and_masks,
            allowed_ranges=ts_ranges,
        )
        if prune:
            dead_p = None
            extra = [
                a
                for a in (excl_ids, scope_ids, xids)
                if a is not None and len(a)
            ]
            if extra:
                tomb = _dead_ids_capped(spark, index_dir)
                # oversize tombstones leave dead_p=None: _prune_plan
                # then recomputes (None again) and keeps θ=0 — safe
                dead_p = (
                    np.union1d(tomb, np.concatenate(extra))
                    if tomb is not None
                    else None
                )
            decoded = _pruned_decode(
                spark, index_dir, qterms, stats, k, full_mask, term_list,
                term_info, mode=mode, dead=dead_p, allowed_ranges=ts_ranges,
            )
        scored = (
            decoded.join(F.broadcast(qterms), "term")
            .groupBy("doc_id")
            .agg(
                F.sum(F.col("idf") * F.col("tfnorm")).alias("score"),
                F.bit_or("mask").alias("mask"),
            )
        )
        if mode == "and":
            scored = scored.filter(F.col("mask") == full_mask)
        elif min_match is not None and min_match > 1:
            scored = scored.filter(
                F.bit_count(F.col("mask")) >= min_match
            )
        scored = apply_tombstones(spark, index_dir, scored)
        if exclude:
            if excl_ids is not None and len(excl_ids) == 0:
                pass  # no exclude pattern matched anything
            elif excl_ids is not None and len(excl_ids) <= TOMBSTONE_LOCAL_MAX:
                # ids already resident and small: broadcast anti-join,
                # no second decode job
                excl_df = local_df(
                    spark, [(int(i),) for i in excl_ids], "doc_id long"
                )
                scored = scored.join(F.broadcast(excl_df), "doc_id", "left_anti")
            else:
                excl_df = _exclusion_docs_df(
                    spark, index_dir, exclude, stats, expanded=excl_expanded
                )
                if excl_df is not None:
                    scored = scored.join(excl_df, "doc_id", "left_anti")
        if scope:
            scored = _apply_scope(spark, index_dir, scored, scope, scope_ids)
        if xids is not None:
            xdf = local_df(spark, [(int(i),) for i in xids], "doc_id long")
            scored = scored.join(F.broadcast(xdf), "doc_id", "left_anti")
        result = scored.select("doc_id", "score").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        if k is not None:
            result = result.limit(k)
    return finish_ranked(spark, index_dir, result, k, with_urls)


def search_sharded(
    spark: SparkSession,
    index_dirs: list[str],
    patterns: list[str],
    k: int = 10,
    mode: str = "and",
    with_urls: bool = True,
    local_score: bool | None = None,
    exclude: list[str] | None = None,
    scope: str | None = None,
    min_match: int | None = None,
) -> DataFrame:
    """Federated BM25 top-k over MULTIPLE index shards — the layout a
    100 TB corpus actually uses (one index per time window / site
    group / ingest partition). Results are IDENTICAL to one index
    built over the union corpus, because every corpus-dependent
    quantity is computed globally before scoring:

    * global n_docs / avgdl from the shards' stats tables (resident);
    * global df per term = Σ shard df (resident dictionaries — one
      driver-side concat, no jobs when warm);
    * per-shard postings are decoded with the SHARD's layout
      (range_bits) but scored with the GLOBAL idf and avgdl — the
      BM25 partial is recomputed in Catalyst from (tf, doc_len), so
      shard-local encode-time avgdl never leaks into scores.

    A doc lives in exactly one shard, so per-shard AND-mask
    aggregation, candidate-range pre-intersection, and tombstone
    anti-joins all stay shard-local; the merge is one union + global
    top-k (TakeOrderedAndProject — k rows per shard reach the
    driver). doc_ids must be unique across shards (url-hash minting
    or a partitioned id space both guarantee this).

    ``exclude`` (NOT semantics) applies per shard — a doc lives in
    one shard, so shard-local exclusion is global exclusion; the
    serving path merges each shard's exclusion ids into its dead set,
    the distributed plan anti-joins per shard. ``scope`` (metadata-
    filtered retrieval, see `search`) federates the same way: each
    shard's own docs table answers the predicate for its docs.
    Block-max pruning stays a single-index feature (federated scoring
    is already one decode job over all shards). ``with_urls``: each
    url comes from the resident url cache of the doc's own shard
    (see `search`)."""
    if scope:
        parse_scope(scope)
    patterns, boosts = split_boosts(patterns)
    if min_match is not None:
        if mode != "or":
            raise ValueError("min_match applies to mode='or' queries")
        if not 1 <= min_match <= len(patterns):
            raise ValueError(
                f"min_match must be in [1, {len(patterns)}], got {min_match}"
            )
    boosted = any(b != 1.0 for b in boosts)
    stats_list = [cached_stats(spark, d) for d in index_dirs]
    n_docs_g = sum(int(s["n_docs"]) for s in stats_list)
    total_tokens_g = sum(int(s["total_tokens"]) for s in stats_list)
    avgdl_g = (total_tokens_g / n_docs_g) if n_docs_g else 1.0
    n_patterns = len(patterns)
    full_mask = (1 << n_patterns) - 1
    expansions = [expand_patterns(spark, d, patterns) for d in index_dirs]
    if boosted:
        expansions = [
            e.assign(boost=[boosts[i] for i in e["pattern_idx"]])
            if len(e)
            else e
            for e in expansions
        ]
    cat = []
    for i, e in enumerate(expansions):
        if len(e):
            e = e.copy()
            e["shard"] = i
            cat.append(e)
    allx = pd.concat(cat) if cat else None
    covered = allx["pattern_idx"].nunique() if allx is not None else 0
    if allx is None or (mode == "and" and covered < n_patterns) or (
        min_match is not None and covered < min_match
    ):
        result = []
    else:
        df_g = allx.drop_duplicates(["shard", "term"]).groupby("term")["df"].sum()
        aggs = _boost_aggs(allx, dict(
            mask=("pattern_idx", lambda s: int(np.bitwise_or.reduce([1 << i for i in s])))
        ))
        tinfo = allx.groupby("term").agg(**aggs).reset_index()
        tinfo["idf"] = [idf(n_docs_g, int(df_g[t])) for t in tinfo["term"]]
        # global max boost per term folded into the global idf —
        # federation stays rank-identical to the union index
        tinfo = _fold_boost_idf(tinfo).set_index("term")
        local = (
            _sharded_local(
                spark, index_dirs, stats_list, expansions, tinfo, avgdl_g,
                n_patterns, full_mask, k, mode, with_urls, exclude, scope,
                min_match=min_match,
            )
            if local_score is not False
            else None
        )
        if local is not None:
            return local
        scored_frames = []
        for i, d in enumerate(index_dirs):
            e = expansions[i]
            if len(e) == 0:
                continue
            ts_r = _ts_allowed_ranges(spark, d, scope) if scope else None
            if ts_r is not None and len(ts_r) == 0:
                # shard-level time pruning: the shard's crawl period
                # misses the window entirely — contribute nothing and
                # launch nothing (the shard-per-crawl-month federation
                # shape: a 1-month window touches ONE shard of a
                # multi-year federation). Global df/avgdl above still
                # counted this shard — scores are unchanged, exactly
                # as if its empty contribution had been unioned in.
                continue
            terms_s = sorted(set(e["term"]))
            ti = tinfo.loc[terms_s].reset_index()
            qterms = spark.createDataFrame(ti[["term", "idf", "mask"]])
            and_masks = None
            if mode == "and" and n_patterns > 1:
                and_masks = (
                    dict(zip(ti["term"], (int(m) for m in ti["mask"]))),
                    full_mask,
                )
            decoded = _decoded_postings(
                spark, d, qterms, stats_list[i], terms_s, and_masks=and_masks,
                allowed_ranges=ts_r,
            )
            w = (
                F.col("idf")
                * F.col("tf")
                * (K1 + 1.0)
                / (
                    F.col("tf")
                    + K1 * (1.0 - B + B * F.col("doc_len") / F.lit(avgdl_g))
                )
            )
            sc = (
                decoded.join(F.broadcast(qterms), "term")
                .groupBy("doc_id")
                .agg(F.sum(w).alias("score"), F.bit_or("mask").alias("mask"))
            )
            if mode == "and":
                sc = sc.filter(F.col("mask") == full_mask)
            elif min_match is not None and min_match > 1:
                sc = sc.filter(F.bit_count(F.col("mask")) >= min_match)
            sc = apply_tombstones(spark, d, sc)
            if exclude:
                excl_df = _exclusion_docs_df(spark, d, exclude, stats_list[i])
                if excl_df is not None:
                    sc = sc.join(excl_df, "doc_id", "left_anti")
            if scope:
                sc = _apply_scope(
                    spark, d, sc, scope, _scope_nonmatch_ids(spark, d, scope)
                )
            scored_frames.append(
                sc.select("doc_id", "score", F.lit(i).alias("_shard"))
            )
        if not scored_frames:
            # every matching shard was time-pruned away
            return finish_ranked(spark, index_dirs, [], k, with_urls)
        merged = scored_frames[0]
        for f in scored_frames[1:]:
            merged = merged.unionByName(f)
        result = merged.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    return finish_ranked(spark, index_dirs, result, k, with_urls)


def _sharded_local(
    spark: SparkSession,
    index_dirs: list[str],
    stats_list: list[dict],
    expansions: list[pd.DataFrame],
    tinfo: pd.DataFrame,
    avgdl_g: float,
    n_patterns: int,
    full_mask: int,
    k: int,
    mode: str,
    with_urls: bool,
    exclude: list[str] | None = None,
    scope: str | None = None,
    min_match: int | None = None,
) -> DataFrame | None:
    """Query-node serving path for federated search: per-shard
    resident block fetch (range pre-intersected for AND) + numpy BM25
    with the GLOBAL avgdl/idf, merged driver-side — zero Spark jobs
    warm, same zero-job contract as the single-index serving path.
    Returns None when any shard's candidate postings or tombstone set
    exceeds the driver caps (caller runs the distributed plan)."""
    total_df = 0
    for e in expansions:
        if len(e):
            total_df += int(e.drop_duplicates("term")["df"].sum())
    if total_df == 0 or total_df > LOCAL_SCORE_MAX_POSTINGS:
        return None
    deads: list[np.ndarray | None] = []
    for i, d in enumerate(index_dirs):
        if len(expansions[i]) == 0:
            # shard matches no query term: it contributes nothing, so
            # its tombstone/exclusion sizes must not force the whole
            # query off the serving path (review r4)
            deads.append(None)
            continue
        dead = _dead_ids_capped(spark, d)
        if dead is None:
            return None
        if exclude:
            excl = _exclusion_ids(spark, d, exclude, stats_list[i])
            if excl is None:
                return None  # oversize exclusion: distributed plan
            if len(excl):
                dead = np.union1d(dead, excl)
        if scope:
            sids = _scope_nonmatch_ids(spark, d, scope)
            if sids is None:
                return None  # oversize complement: distributed plan
            if len(sids):
                dead = np.union1d(dead, sids)
        deads.append(dead)
    merged: list[tuple[int, float, int]] = []  # (doc_id, score, shard)
    for i, d in enumerate(index_dirs):
        e = expansions[i]
        if len(e) == 0:
            continue
        terms_s = sorted(set(e["term"]))
        ti = tinfo.loc[terms_s].reset_index()
        if len(ti) > ISIN_PUSHDOWN_MAX:
            return None
        stats_s = dict(stats_list[i])
        stats_s["avgdl"] = avgdl_g  # global stats for scoring
        surviving = None
        if mode == "and" and n_patterns > 1:
            surviving = _and_surviving_ranges(
                spark, d,
                dict(zip(ti["term"], (int(m) for m in ti["mask"]))),
                full_mask, stats_s,
            )
            if surviving == []:
                continue
        if scope:
            surviving = _intersect_ranges(
                surviving, _ts_allowed_ranges(spark, d, scope)
            )
            if surviving is not None and len(surviving) == 0:
                continue
        blocks = _fetch_blocks(spark, d, terms_s, stats_s, ranges=surviving)
        uniq, score, mask_acc = _score_blocks_np(blocks, stats_s, ti)
        if mode == "and":
            keep = mask_acc == full_mask
            uniq, score = uniq[keep], score[keep]
        elif min_match is not None and min_match > 1:
            # a doc lives in exactly one shard, so the shard-local
            # mask IS its global pattern coverage
            keep = _popcount64(mask_acc) >= min_match
            uniq, score = uniq[keep], score[keep]
        if len(deads[i]):
            alive = ~np.isin(uniq, deads[i])
            uniq, score = uniq[alive], score[alive]
        order = np.lexsort((uniq, -score))[:k]
        merged.extend((int(uniq[j]), float(score[j]), i) for j in order)
    merged.sort(key=lambda t: (-t[1], t[0]))
    return finish_ranked(spark, index_dirs, merged[:k], k, with_urls)


def _search_local(
    spark: SparkSession,
    index_dir: str,
    expanded: pd.DataFrame,
    stats: dict,
    n_patterns: int,
    k: int,
    mode: str,
    with_urls: bool,
    dead: np.ndarray,
    prune: bool = False,
    allowed_ranges: list[int] | None = None,
    min_match: int | None = None,
) -> DataFrame | None:
    """Query-node scoring: one pushdown-filtered block fetch, then
    numpy decode + BM25 + AND-mask + top-k locally. Rank-identical to
    the distributed path (same formula, same tie-break). ``dead`` is
    the (capped, see TOMBSTONE_LOCAL_MAX) tombstone id array.
    ``allowed_ranges`` (ts-scope time pruning) intersects whatever
    range restriction the plan derives — exact because ``dead``
    already carries the scope complement.

    With ``prune=True`` the fetch is preceded by the block-max prune
    plan (2 light metadata/θ jobs) and reads ONLY surviving ranges —
    3 single-stage pushdown scans total, no distributed agg. Returns
    None when the expansion is too wide for isin pushdown (caller
    falls back to the distributed pruned plan)."""
    full_mask = (1 << n_patterns) - 1
    aggs = _boost_aggs(expanded, dict(
        df=("df", "first"),
        mask=("pattern_idx", lambda s: int(np.bitwise_or.reduce([1 << i for i in s]))),
    ))
    term_info = expanded.groupby("term").agg(**aggs).reset_index()
    term_info["idf"] = [idf(stats["n_docs"], int(d)) for d in term_info["df"]]
    term_info = _fold_boost_idf(term_info)
    if prune and len(term_info) > ISIN_PUSHDOWN_MAX:
        return None
    covered = int(np.bitwise_or.reduce(term_info["mask"].values)) if len(term_info) else 0
    if (mode == "and" and covered != full_mask) or (
        min_match is not None and int(covered).bit_count() < min_match
    ):
        result_rows = []
    else:
        surviving = None
        if prune:
            plan = _prune_plan(
                spark, index_dir, stats, k, full_mask,
                list(term_info["term"]), term_info, dead=dead, mode=mode,
            )
            if plan is None:
                return finish_ranked(spark, index_dir, [], k, with_urls)
            surviving, _ = plan
        elif mode == "and" and n_patterns > 1:
            # unpruned AND still gets candidate-range pre-intersection
            # from the resident metadata (zero jobs warm): only ranges
            # where every pattern is present are fetched
            surviving = _and_surviving_ranges(
                spark,
                index_dir,
                dict(zip(term_info["term"], (int(m) for m in term_info["mask"]))),
                full_mask,
                stats,
            )
            if surviving == []:
                return finish_ranked(spark, index_dir, [], k, with_urls)
            # (_fetch_blocks reads everything for a survivor set wider
            # than the isin cap — still exact)
        surviving = _intersect_ranges(surviving, allowed_ranges)
        if surviving is not None and len(surviving) == 0:
            return finish_ranked(spark, index_dir, [], k, with_urls)
        blocks = _fetch_blocks(
            spark, index_dir, list(term_info["term"]), stats, ranges=surviving
        )
        uniq, score, mask_acc = _score_blocks_np(blocks, stats, term_info)
        if mode == "and":
            keep = mask_acc == full_mask
            uniq, score = uniq[keep], score[keep]
        elif min_match is not None and min_match > 1:
            keep = _popcount64(mask_acc) >= min_match
            uniq, score = uniq[keep], score[keep]
        if len(dead):
            alive = ~np.isin(uniq, dead)
            uniq, score = uniq[alive], score[alive]
        order = np.lexsort((uniq, -score))[:k]
        result_rows = [(int(uniq[i]), float(score[i])) for i in order]
    return finish_ranked(spark, index_dir, result_rows, k, with_urls)


def _popcount64(a: np.ndarray) -> np.ndarray:
    """Vectorized popcount (numpy<2 lacks bitwise_count); query masks
    carry ≤ MAX_QUERY_PATTERNS=63 bits so the shift loop is bounded."""
    a = a.astype(np.uint64, copy=True)
    out = np.zeros(a.shape, dtype=np.int64)
    while a.any():
        out += (a & np.uint64(1)).astype(np.int64)
        a >>= np.uint64(1)
    return out


def finish_ranked(
    spark: SparkSession,
    index_dirs: str | list[str],
    result: DataFrame | list[tuple],
    k: int | None,
    with_urls: bool,
    score_col: str = "score",
) -> DataFrame:
    """A ranked result in the search output shape: (doc_id, score),
    or with ``with_urls`` (doc_id, score, url) in the same order.

    ``result`` is the ranked frame (limited to ``k``) or the ≤k
    ranked rows. With a shard list for ``index_dirs`` each row
    carries its shard's position third (a ``_shard`` column on a
    frame), so a url is looked up in the shard the doc came from.

    URLs of a bounded top-k (k ≤ ISIN_PUSHDOWN_MAX) come from the
    resident url cache (`_lookup_urls`): a frame is collected, and
    the result is a driver-local frame, already evaluated — a warm
    query launches no Spark job for its urls. ``k=None`` or a wider
    k keeps the lazy left join against the docs table(s) plus the
    ranking sort."""
    shards = not isinstance(index_dirs, str)
    dirs = list(index_dirs) if shards else [index_dirs]
    if not with_urls or k is None or k > ISIN_PUSHDOWN_MAX:
        frame = (
            result.drop("_shard")
            if isinstance(result, DataFrame)
            else local_df(
                spark, [r[:2] for r in result], "doc_id long, score double"
            )
        )
        if not with_urls:
            return frame
        docs = None
        for d in dirs:
            t = _cached_table(spark, d, "docs").select("doc_id", "url")
            docs = t if docs is None else docs.unionByName(t)
        return (
            frame.join(docs, "doc_id", "left")
            .select("doc_id", score_col, "url")
            .orderBy(F.desc(score_col), F.asc("doc_id"))
        )
    if isinstance(result, DataFrame):
        dtype = result.schema[score_col].dataType.simpleString()
        rows = [tuple(r) for r in result.collect()]
    else:
        dtype, rows = "double", result
    if not shards:
        rows = [(d, sc, 0) for d, sc in rows]
    ids_by_shard: dict[int, list[int]] = {}
    for d, _, s in rows:
        ids_by_shard.setdefault(s, []).append(int(d))
    urls = {s: _lookup_urls(spark, dirs[s], ids) for s, ids in ids_by_shard.items()}
    return local_df(
        spark,
        [(d, sc, urls[s][int(d)]) for d, sc, s in rows],
        f"doc_id long, {score_col} {dtype}, url string",
    )


def _lookup_urls(
    spark: SparkSession, index_dir: str, ids: list[int]
) -> dict[int, str | None]:
    """doc_id → url through the resident url cache; the misses are
    read in ONE isin pushdown scan of the docs table and cached,
    None for an id with no docs row."""
    cd = canon_dir(index_dir)
    out: dict[int, str | None] = {}
    misses = []
    with _cache_lock:
        for i in ids:
            if (cd, i) in _url_cache:
                _url_cache.move_to_end((cd, i))
                out[i] = _url_cache[(cd, i)]
            else:
                misses.append(i)
    if not misses:
        return out
    found: dict[int, str | None] = dict.fromkeys(misses)
    for r in (
        _cached_table(spark, index_dir, "docs")
        .filter(F.col("doc_id").isin(misses))
        .select("doc_id", "url")
        .collect()
    ):
        found[r["doc_id"]] = r["url"]
    out.update(found)
    with _cache_lock:
        for i, url in found.items():
            _url_cache[(cd, i)] = url
        while len(_url_cache) > URL_CACHE_MAX_ENTRIES:
            _url_cache.popitem(last=False)
    return out


# Resident capped tombstone-id arrays per canon_dir (None = delete
# set over TOMBSTONE_LOCAL_MAX). Snapshots are immutable between
# manifest commits and every mutating op calls invalidate_cache, so
# a warm serving query on a tombstoned index stays zero-job instead
# of re-collecting the delete set per query.
_tomb_ids_cache: dict[str, np.ndarray | None] = {}


def _dead_ids_capped(spark: SparkSession, index_dir: str) -> np.ndarray | None:
    """Tombstoned doc_ids as a driver-side array, or None when the
    delete set exceeds TOMBSTONE_LOCAL_MAX (callers must then either
    anti-join distributed or treat every doc as potentially live).
    Cached per index until the next snapshot mutation."""
    cd = canon_dir(index_dir)
    if cd in _tomb_ids_cache:
        return _tomb_ids_cache[cd]
    dead = _tombstones(spark, index_dir)
    if dead is None:
        out: np.ndarray | None = np.empty(0, dtype=np.int64)
    else:
        # one take(cap+1) answers BOTH the cap verdict and delivers
        # the ids — the old limit().count() + collect() pair ran two
        # jobs on this latency-sensitive cold path (review r4)
        rows = dead.limit(TOMBSTONE_LOCAL_MAX + 1).collect()
        if len(rows) > TOMBSTONE_LOCAL_MAX:
            out = None
        else:
            out = np.array([r["doc_id"] for r in rows], dtype=np.int64)
    _tomb_ids_cache[cd] = out
    return out


# --- metadata-scoped search (filtered retrieval, engine extension) ---
# A scope restricts ranked retrieval to documents matching a metadata
# predicate ("lang:en", "site:host.example") BEFORE top-k; surviving
# scores are unchanged (global n_docs/avgdl/idf — standard
# filtered-search semantics, so a scoped query is exactly the
# unscoped ranking with non-matching docs removed).
SCOPE_FIELDS = ("lang", "site", "ts")
# FIFO-capped like the other driver caches: site:HOST scopes are
# high-cardinality, and each capped complement holds up to
# TOMBSTONE_LOCAL_MAX int64 ids (~800 KB) — review r5
SCOPE_CACHE_MAX = 64
_scope_ids_cache: dict[tuple[str, str], np.ndarray | None] = {}


def parse_scope(scope: str) -> tuple[str, str]:
    """``"lang:en"`` / ``"site:host.example"`` / ``"ts:A..B"``
    → (field, value). ts values are validated eagerly (before any
    work) so a malformed range fails loudly at the call site."""
    field, sep, value = scope.partition(":")
    if not sep or field not in SCOPE_FIELDS or not value:
        raise ValueError(
            f"scope must be 'lang:VALUE', 'site:VALUE' or "
            f"'ts:FROM..TO': {scope!r}"
        )
    if field == "ts":
        parse_ts_range(value)
    return field, value


def parse_ts_range(value: str) -> tuple[float | None, float | None]:
    """``"A..B"`` → (lo_epoch, hi_epoch) in UTC seconds, inclusive
    both ends. A and B are ISO-8601 dates or datetimes (naive = UTC;
    explicit offsets honored); either side may be empty for an
    open-ended range (``ts:2021-01-01..``), but not both. A date-only
    upper bound means that day's midnight — use a datetime for
    end-of-day semantics."""
    from datetime import datetime, timezone

    lo_s, sep, hi_s = value.partition("..")
    if not sep or (not lo_s and not hi_s):
        raise ValueError(
            f"ts scope must be 'ts:FROM..TO' (ISO-8601, one side may "
            f"be empty): 'ts:{value}'"
        )

    def _epoch(s: str) -> float | None:
        if not s:
            return None
        try:
            dt = datetime.fromisoformat(s)
        except ValueError as e:
            raise ValueError(f"bad ISO-8601 in ts scope: {s!r}") from e
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.timestamp()

    lo, hi = _epoch(lo_s), _epoch(hi_s)
    if lo is not None and hi is not None and lo > hi:
        raise ValueError(f"empty ts scope (FROM after TO): 'ts:{value}'")
    return lo, hi


def _scope_col(field: str):
    """Docs-table facet expression — same definitions as
    facet_counts: the lang column, or the url host."""
    return (
        F.col("lang")
        if field == "lang"
        else F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1)
    )


def _scope_match_pred(field: str, value: str) -> Column:
    """Null-safe boolean match predicate over the docs table for a
    parsed scope. ``ts`` compares the warc_ts instant against UTC
    epoch bounds (``timestamp_seconds`` literals are constant-folded,
    so the comparison pushes down to the parquet scan); a null
    warc_ts never matches a ts scope — crawl rows without a fetch
    time are outside every time window."""
    if field != "ts":
        return _scope_col(field).eqNullSafe(value)
    lo, hi = parse_ts_range(value)
    c = F.col("warc_ts")
    pred = c.isNotNull()
    if lo is not None:
        pred = pred & (c >= F.timestamp_seconds(F.lit(lo)))
    if hi is not None:
        pred = pred & (c <= F.timestamp_seconds(F.lit(hi)))
    return pred


# ts-scope range pruning (the time analog of block-max pruning): the
# build records per-range crawl-time bounds (build.range_ts — one row
# per range_id = doc_id >> range_bits), so a ts-scoped query can skip
# every posting range whose [min_ts, max_ts] misses its window BEFORE
# any block is fetched or decoded. On a time-ordered crawl (the
# common ingest order: doc_ids minted in fetch order) a narrow window
# keeps a handful of contiguous ranges out of n_docs >> range_bits.
# Sound by construction: a doc's postings live in exactly ONE range,
# and the scope already removes every out-of-window doc from the
# result — skipping ranges that contain no in-window doc cannot
# change any surviving score or the θ probe (whose dead set already
# carries the scope complement wherever pruning is enabled).
TS_RANGE_LOCAL_MAX = 100_000
_ts_range_cache: dict[tuple[str, str], "np.ndarray | None"] = {}


def _ts_allowed_ranges(
    spark: SparkSession, index_dir: str, scope: str
) -> list[int] | None:
    """Sorted range_ids whose crawl-time bounds intersect the ts
    scope's window, or None when range pruning is unavailable (not a
    ts scope; no range_ts table — pre-upgrade index or timestamp-less
    append base; more survivors than the driver cap — a wide window
    on a huge index, where pruning wouldn't pay anyway). ``[]`` means
    NO range holds an in-window doc: the query is empty. Cached per
    (index, scope) until the next snapshot mutation, as np.int64
    arrays (~800 KB at the cap — the same per-entry budget as
    _scope_ids_cache; the list callers get is a per-call transient);
    a range split across base+append dirs aggregates min/max over
    its rows."""
    field, value = parse_scope(scope)
    if field != "ts":
        return None
    key = (canon_dir(index_dir), scope)
    if key in _ts_range_cache:
        hit = _ts_range_cache[key]
        return None if hit is None else [int(x) for x in hit]
    # table_exists, NOT table_paths: a manifest lacking the range_ts
    # key entirely (pre-upgrade index) falls back to the default dir,
    # which does not exist — paths() would return that phantom path
    # and the read would crash instead of degrading to unpruned
    if not manifest.table_exists(spark, index_dir, "range_ts"):
        out: np.ndarray | None = None
    else:
        lo, hi = parse_ts_range(value)
        bounds = (
            _cached_table(spark, index_dir, "range_ts")
            .groupBy("range_id")
            .agg(F.min("min_ts").alias("lo"), F.max("max_ts").alias("hi"))
        )
        pred = F.col("hi").isNotNull()  # all-null range: never matches
        if lo is not None:
            pred = pred & (F.col("hi") >= F.timestamp_seconds(F.lit(lo)))
        if hi is not None:
            pred = pred & (F.col("lo") <= F.timestamp_seconds(F.lit(hi)))
        rows = (
            bounds.filter(pred)
            .select("range_id")
            .limit(TS_RANGE_LOCAL_MAX + 1)
            .collect()
        )
        if len(rows) > TS_RANGE_LOCAL_MAX:
            out = None
        else:
            out = np.array(
                sorted(int(r["range_id"]) for r in rows), dtype=np.int64
            )
    while len(_ts_range_cache) >= SCOPE_CACHE_MAX:
        _ts_range_cache.pop(next(iter(_ts_range_cache)))
    _ts_range_cache[key] = out
    return None if out is None else [int(x) for x in out]


def _intersect_ranges(
    a: list[int] | None, b: list[int] | None
) -> list[int] | None:
    """Intersection of two optional allowed-range sets (None = no
    restriction)."""
    if a is None:
        return b
    if b is None:
        return a
    return sorted(set(a) & set(b))


def _restrict_ranges(spark: SparkSession, blocks: DataFrame, ids):
    """Apply an allowed-range set to a blocks frame under the
    plan-size invariant shared with _fetch_blocks: None → untouched,
    empty → no rows, ≤ ISIN_PUSHDOWN_MAX → In() pushdown into the
    scan, wider → one broadcast equality join (never a 10^4-literal
    In() in the plan)."""
    if ids is None:
        return blocks
    if not len(ids):
        return blocks.filter(F.lit(False))
    if len(ids) <= ISIN_PUSHDOWN_MAX:
        return blocks.filter(F.col("range_id").isin([int(r) for r in ids]))
    surv_df = local_df(spark, [(int(r),) for r in ids], "range_id long")
    return blocks.join(F.broadcast(surv_df), "range_id")


def _scope_nonmatch_ids(
    spark: SparkSession, index_dir: str, scope: str
) -> np.ndarray | None:
    """doc_ids NOT matching the scope, as a capped driver array: the
    complement merges into the ``dead`` set, so every execution path
    (resident serving, distributed agg, block-max θ probes) stays
    rank-identical with zero new machinery. None when the complement
    exceeds TOMBSTONE_LOCAL_MAX — callers then apply the scope as a
    distributed left_semi join instead (selective scopes on a huge
    corpus have huge complements; the allow side stays a pushdown-
    filtered docs scan). Cached per (index, scope) until the next
    snapshot mutation."""
    field, value = parse_scope(scope)
    key = (canon_dir(index_dir), scope)
    if key in _scope_ids_cache:
        return _scope_ids_cache[key]
    docs = _cached_table(spark, index_dir, "docs")
    rows = (
        docs.filter(~_scope_match_pred(field, value))
        .select("doc_id")
        .limit(TOMBSTONE_LOCAL_MAX + 1)
        .collect()
    )
    if len(rows) > TOMBSTONE_LOCAL_MAX:
        out: np.ndarray | None = None
    else:
        out = np.array(sorted(r["doc_id"] for r in rows), dtype=np.int64)
    while len(_scope_ids_cache) >= SCOPE_CACHE_MAX:
        _scope_ids_cache.pop(next(iter(_scope_ids_cache)))
    _scope_ids_cache[key] = out
    return out


def _scope_docs_df(
    spark: SparkSession, index_dir: str, scope: str
) -> DataFrame:
    """Allowed doc_ids as a DataFrame — the distributed form of the
    scope (one left_semi join; the lang/host predicate prunes the
    docs scan)."""
    field, value = parse_scope(scope)
    docs = _cached_table(spark, index_dir, "docs")
    return docs.filter(_scope_match_pred(field, value)).select("doc_id")


def _apply_scope(
    spark: SparkSession,
    index_dir: str,
    scored: DataFrame,
    scope: str,
    scope_ids: np.ndarray | None,
) -> DataFrame:
    """Distributed scope application on a (doc_id, ...) frame: small
    complement → broadcast anti-join; oversize complement → left_semi
    against the filtered docs scan."""
    if scope_ids is not None and len(scope_ids) == 0:
        return scored  # every live doc matches the scope
    if scope_ids is not None:
        ndf = local_df(
            spark, [(int(i),) for i in scope_ids], "doc_id long"
        )
        return scored.join(F.broadcast(ndf), "doc_id", "left_anti")
    return scored.join(
        _scope_docs_df(spark, index_dir, scope), "doc_id", "left_semi"
    )


def _exclusion_ids(
    spark: SparkSession,
    index_dir: str,
    exclude: list[str],
    stats: dict,
    expanded: pd.DataFrame | None = None,
) -> np.ndarray | None:
    """doc_ids containing ANY expansion of an exclude pattern, as a
    driver-side array — or None when the exclusion postings exceed
    LOCAL_SCORE_MAX_POSTINGS (a stop-word-grade exclusion must never
    be collected onto the query node; callers then anti-join
    distributed and disable θ-based pruning). Exclusion is per-query
    tombstoning: the ids merge into the ``dead`` set downstream, so
    the θ probe and the block-max prune plan stay exact — a θ
    inflated by docs later excluded could prune ranges holding the
    true top-k. ``expanded`` reuses a caller-side expansion of the
    same patterns (one dictionary wildcard scan, not two)."""
    if expanded is None:
        # boosts cannot change membership: strip, honor the base
        expanded = expand_patterns(spark, index_dir, split_boosts(exclude)[0])
    if len(expanded) == 0:
        return np.empty(0, dtype=np.int64)
    uniq = expanded.drop_duplicates("term")
    if uniq["df"].sum() > LOCAL_SCORE_MAX_POSTINGS:
        return None
    blocks = _fetch_blocks(spark, index_dir, list(uniq["term"]), stats)
    if len(blocks) == 0:
        return np.empty(0, dtype=np.int64)
    bases = blocks["range_id"].values.astype(np.int64) << stats["range_bits"]
    (doc_lists,) = decode_batch(list(blocks["doc_gaps"]), bases)
    return np.unique(np.concatenate(doc_lists))


def _exclusion_docs_df(
    spark: SparkSession,
    index_dir: str,
    exclude: list[str],
    stats: dict,
    expanded: pd.DataFrame | None = None,
) -> DataFrame | None:
    """Distinct doc_ids matching any exclude pattern as a DataFrame
    (the distributed anti-join side for exclusion sets too large to
    hold on the query node), or None when no pattern matches.
    ``expanded`` reuses a caller-side expansion."""
    if expanded is None:
        # boosts cannot change membership: strip, honor the base
        expanded = expand_patterns(spark, index_dir, split_boosts(exclude)[0])
    if len(expanded) == 0:
        return None
    terms = sorted(set(expanded["term"]))
    return (
        _decoded_postings(spark, index_dir, None, stats, terms)
        .select("doc_id")
        .distinct()
    )


def _prune_plan(
    spark: SparkSession,
    index_dir: str,
    stats: dict,
    k: int,
    full_mask: int,
    term_list: list[str],
    term_info: pd.DataFrame,
    dead: np.ndarray | None = None,
    mode: str = "and",
) -> tuple[list[int], int] | None:
    """Block-max prune planning — two LIGHT driver round-trips, both
    served from the resident caches when warm (zero Spark jobs):

    1. metadata probe — the block-stats columns for the query terms
       (``_block_meta``: resident metadata cache, or one isin-pushdown
       scan that never reads binary columns; a few rows per term per
       range). Range upper bounds Σ_term idf·ub and AND-coverage masks
       are computed in pandas on the driver.
    2. θ probe — the binary blocks of the single best range
       (``_fetch_blocks``: block cache, or one pushdown scan on
       term AND range_id), scored in numpy on the driver; θ = the k-th
       LIVE score (tombstones excluded — a range full of deleted docs
       must not inflate θ and prune the true top-k away; ADVICE r1).

    Returns (surviving range_ids, Σ n_docs over surviving blocks), or
    None when no range can satisfy the AND mask (empty result).

    Per-row upper bound: the stored block-max (tight) while the
    block's encode-time avgdl is current; after incremental appends
    shift avgdl, the avgdl-free bound (k1+1)·max_tf/(max_tf+k1·(1−b))
    which dominates tfnorm for any doc length.

    ``mode='or'`` is the WAND home case (VERDICT r3 task 4): no
    AND-coverage mask anywhere — a range survives iff the sum of its
    present terms' upper bounds reaches θ, and θ comes from the k-th
    live OR score of the best range. Sound because a doc's postings
    live in exactly ONE range (range_id = doc_id >> range_bits), so
    the per-range ub bounds any doc's TOTAL score in either mode.
    """
    meta = _block_meta(spark, index_dir, term_list, stats)
    if len(meta) == 0:
        return None
    info = term_info.set_index("term")
    idfs = meta["term"].map(info["idf"]).values.astype(np.float64)
    masks = meta["term"].map(info["mask"]).values.astype(np.int64)
    fresh = np.abs(meta["enc_avgdl"].values - float(stats["avgdl"])) < 1e-9
    max_tf = meta["max_tf"].values.astype(np.float64)
    safe_ub = max_tf * (K1 + 1.0) / (max_tf + K1 * (1.0 - B))
    row_ub = np.where(fresh, meta["max_tfnorm"].values, safe_ub)
    per_range = pd.DataFrame(
        {
            "range_id": meta["range_id"].values,
            "w": idfs * row_ub,
            "mask": masks,
            "n_docs": meta["n_docs"].values,
        }
    ).groupby("range_id").agg(
        ub=("w", "sum"),
        mask=("mask", lambda s: int(np.bitwise_or.reduce(s.values))),
        n_docs=("n_docs", "sum"),
    )
    if mode == "and":
        per_range = per_range[per_range["mask"] == full_mask]
    if len(per_range) == 0:
        return None
    best_range = int(per_range["ub"].idxmax())

    if dead is None:
        dead = _dead_ids_capped(spark, index_dir)
    theta = 0.0
    if dead is not None:  # uncapped delete sets force θ=0 (safe: no pruning)
        probe = _fetch_blocks(spark, index_dir, term_list, stats, ranges=[best_range])
        uniq, score, mask_acc = _score_blocks_np(probe, stats, term_info)
        live = ~np.isin(uniq, dead)
        if mode == "and":
            live &= mask_acc == full_mask
        top = np.sort(score[live])[::-1]
        if len(top) >= k:
            theta = float(top[k - 1])

    keep = per_range["ub"].values >= theta
    surviving = [int(r) for r in per_range.index[keep]]
    return surviving, int(per_range["n_docs"].values[keep].sum())


def _pruned_decode(
    spark: SparkSession,
    index_dir: str,
    qterms: DataFrame,
    stats: dict,
    k: int,
    full_mask: int,
    term_list: list[str],
    term_info: pd.DataFrame,
    mode: str = "and",
    dead: np.ndarray | None = None,
    allowed_ranges: list[int] | None = None,
) -> DataFrame:
    """Distributed block-max-pruned decode: prune plan (2 light jobs)
    + ONE mapInPandas decode job over surviving blocks (term+range_id
    pushdown reaches the parquet scan). ``dead`` augments the θ
    probe's live filter (tombstones ∪ per-query exclusions); None →
    the plan fetches tombstones itself. ``allowed_ranges`` (ts-scope
    time pruning) intersects the plan's survivor set — exact, because
    the scope's dead-set/anti-join already removes every doc those
    ranges would have contributed."""
    plan = _prune_plan(
        spark, index_dir, stats, k, full_mask, term_list, term_info,
        mode=mode, dead=dead,
    )
    if plan is None:
        return local_df(spark, [], DECODED_SCHEMA)
    surviving, _ = plan
    surviving = _intersect_ranges(surviving, allowed_ranges)
    if surviving is not None and len(surviving) == 0:
        return local_df(spark, [], DECODED_SCHEMA)
    blocks = _restrict_ranges(
        spark,
        _query_blocks(spark, index_dir, qterms, term_list, stats.get("n_term_buckets")),
        surviving,
    )
    pruned_blocks = blocks.select(*_DECODE_COLS).withColumn(
        "range_bits", F.lit(stats["range_bits"])
    ).withColumn("avgdl", F.lit(stats["avgdl"]))
    return pruned_blocks.mapInPandas(_decode_kernel, DECODED_SCHEMA)


def _score_blocks_np(
    blocks: pd.DataFrame, stats: dict, term_info: pd.DataFrame
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode posting-block rows and BM25-score them in numpy →
    (doc_ids, scores, coverage masks). Shared by the query-node
    serving path and the pruner's θ probe."""
    if len(blocks) == 0:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty.astype(np.float64), empty
    idf_map = dict(zip(term_info["term"], term_info["idf"]))
    mask_map = dict(zip(term_info["term"], term_info["mask"]))
    bases = blocks["range_id"].values.astype(np.int64) << stats["range_bits"]
    doc_lists, tf_lists, dl_lists = decode_batch(
        list(blocks["doc_gaps"]), bases,
        [list(blocks["tf_bytes"]), list(blocks["dl_bytes"])],
    )
    counts = np.fromiter((len(d) for d in doc_lists), dtype=np.int64, count=len(doc_lists))
    docs = np.concatenate(doc_lists)
    tfs = np.concatenate(tf_lists).astype(np.float64)
    dls = np.concatenate(dl_lists).astype(np.float64)
    avgdl = float(stats["avgdl"]) or 1.0
    idfs = np.repeat(blocks["term"].map(idf_map).values.astype(np.float64), counts)
    masks = np.repeat(blocks["term"].map(mask_map).values.astype(np.int64), counts)
    w = idfs * tfs * (K1 + 1.0) / (tfs + K1 * (1.0 - B + B * dls / avgdl))
    uniq, inv = np.unique(docs, return_inverse=True)
    score = np.zeros(len(uniq))
    np.add.at(score, inv, w)
    mask_acc = np.zeros(len(uniq), dtype=np.int64)
    np.bitwise_or.at(mask_acc, inv, masks)
    return uniq, score, mask_acc


def find_unranked(
    spark: SparkSession,
    index_dir: str,
    patterns: list[str],
    exclude: list[str] | None = None,
    scope: str | None = None,
) -> DataFrame:
    """Exact reference `find` semantics (index2.rs:550-582): unranked
    AND-intersection, urls ordered by doc_id. ``exclude`` (an engine
    extension; the reference has no NOT) drops docs matching any
    exclusion pattern via one anti-join. ``scope`` (engine extension)
    keeps only docs matching a lang:/site:/ts: metadata predicate
    (ts scopes additionally prune whole posting ranges via the
    range_ts bounds). Boosts are stripped (membership-only
    surface)."""
    if scope:
        parse_scope(scope)
    patterns = split_boosts(patterns)[0]
    stats = cached_stats(spark, index_dir)
    expanded = expand_patterns(spark, index_dir, patterns)
    n_patterns = len(patterns)
    if len(expanded) == 0 or expanded["pattern_idx"].nunique() < n_patterns:
        return local_df(spark, [], "doc_id long, url string")
    term_info = (
        expanded.groupby("term")
        .agg(mask=("pattern_idx", lambda s: int(np.bitwise_or.reduce([1 << i for i in s]))))
        .reset_index()
    )
    qterms = spark.createDataFrame(term_info[["term", "mask"]]).withColumn(
        "idf", F.lit(0.0)
    )
    full_mask = (1 << n_patterns) - 1
    decoded = _decoded_postings(
        spark, index_dir, qterms, stats, list(term_info["term"]),
        and_masks=(
            dict(zip(term_info["term"], (int(m) for m in term_info["mask"]))),
            full_mask,
        ),
        allowed_ranges=(
            _ts_allowed_ranges(spark, index_dir, scope) if scope else None
        ),
    )
    hits = (
        decoded.join(F.broadcast(qterms.select("term", "mask")), "term")
        .groupBy("doc_id")
        .agg(F.bit_or("mask").alias("mask"))
        .filter(F.col("mask") == full_mask)
        .select("doc_id")
    )
    docs = _cached_table(spark, index_dir, "docs").select("doc_id", "url")
    hits = apply_tombstones(spark, index_dir, hits)
    if exclude:
        excl_df = _exclusion_docs_df(spark, index_dir, exclude, stats)
        if excl_df is not None:
            hits = hits.join(excl_df, "doc_id", "left_anti")
    if scope:
        hits = _apply_scope(
            spark, index_dir, hits, scope,
            _scope_nonmatch_ids(spark, index_dir, scope),
        )
    return hits.join(docs, "doc_id", "left").orderBy("doc_id")


def delete_docs(spark: SparkSession, index_dir: str, url_pattern: str) -> int:
    """Delete documents by url glob — the operation the reference
    stubs out (``Words::remove_file`` is a TODO no-op,
    ``index2.rs:462-464``). Implemented Iceberg-style as row-level
    tombstones: matching doc_ids become a new ``deleted`` table part
    that every query anti-joins; stats are recomputed over live docs.
    Tombstone part + new stats version are STAGED, then published with
    one atomic manifest commit (no rmtree/move; a crash leaves the old
    snapshot intact). ``compact_postings``-style physical purge can
    follow offline."""
    rx = wildcard_to_regex(url_pattern).pattern
    return _delete_where(spark, index_dir, F.col("url").rlike(f"^(?s:{rx})$"))


def delete_before(spark: SparkSession, index_dir: str, cutoff: str) -> int:
    """Retention delete: tombstone every doc whose crawl fetch time is
    STRICTLY BEFORE the ISO-8601 UTC ``cutoff`` ("purge everything
    crawled before 2024") — the data-retention companion of
    ``delete_docs``, same staged tombstones + stats + one atomic
    commit, physically reclaimed by ``purge_deleted``. Docs with a
    null warc_ts are KEPT (an unknown fetch time must not satisfy a
    retention cutoff); the predicate pushes down to the docs scan."""
    lo = parse_ts_range(f"..{cutoff}")[1]  # reuse the scope ISO parse
    return _delete_where(
        spark, index_dir, F.col("warc_ts") < F.timestamp_seconds(F.lit(lo))
    )


def _delete_where(spark: SparkSession, index_dir: str, pred: Column) -> int:
    """Shared tombstone machinery: docs matching ``pred`` (and not
    already dead) become a staged ``deleted`` part + recomputed live
    stats, published atomically."""
    docs = _cached_table(spark, index_dir, "docs")
    old_dead = (
        _tombstones(spark, index_dir) or local_df(spark, [], "doc_id long")
    )
    # the docs table retains tombstoned rows, so a re-delete of an
    # overlapping pattern would re-match them: write (and count) only
    # NEWLY dead ids — duplicate tombstone rows would both inflate the
    # reported count and prematurely trip TOMBSTONE_LOCAL_MAX's
    # row-count cap, disabling the zero-job serving path (review r4)
    victims = (
        docs.filter(pred)
        .select("doc_id")
        .join(old_dead, "doc_id", "left_anti")
    )
    n = victims.count()
    if n:
        man = manifest.current_manifest(spark, index_dir)
        gen = (int(man["version"]) + 1) if man else 1
        dead_dir = f"{index_dir}/deleted_{gen}"
        stats_dir = f"{index_dir}/stats_del_{gen}"
        victims.write.mode("overwrite").parquet(dead_dir)
        all_dead = old_dead.unionByName(spark.read.parquet(dead_dir)).distinct()
        live = docs.join(all_dead, "doc_id", "left_anti")
        srow = live.agg(
            F.count("*").alias("n_docs"),
            F.avg("doc_len").alias("avgdl"),
            F.sum("doc_len").alias("total_tokens"),
        ).collect()[0]
        from textindex_spark.build import read_stats as _rs
        from textindex_spark.build import write_stats_row as _wsr

        stats = _rs(spark, index_dir)
        stats.update(
            n_docs=int(srow["n_docs"] or 0),
            avgdl=float(srow["avgdl"] or 0.0),
            total_tokens=int(srow["total_tokens"] or 0),
        )
        _wsr(spark, stats_dir, stats)
        manifest.commit(
            spark,
            index_dir,
            add_to_tables={"deleted": [manifest.rel(index_dir, dead_dir)]},
            set_tables={"stats": [manifest.rel(index_dir, stats_dir)]},
        )
        invalidate_cache(index_dir)
    return int(n)


POS_DECODED_SCHEMA = DECODED_SCHEMA + ", pos array<int>"


def _decode_pos_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """_decode_kernel + per-posting position arrays (pos_bytes)."""
    from textindex_spark.codec import decode_positions_batch

    for pdf in batches:
        if len(pdf) == 0:
            continue
        range_bits = int(pdf["range_bits"].iat[0])
        bases = pdf["range_id"].values.astype(np.int64) << range_bits
        doc_lists, tf_lists, dl_lists = decode_batch(
            list(pdf["doc_gaps"]), bases, [list(pdf["tf_bytes"]), list(pdf["dl_bytes"])]
        )
        pos_lists = decode_positions_batch(list(pdf["pos_bytes"]), tf_lists)
        counts = np.fromiter((len(d) for d in doc_lists), dtype=np.int64, count=len(doc_lists))
        terms = np.repeat(pdf["term"].values, counts)
        doc_ids = np.concatenate(doc_lists) if len(doc_lists) else np.array([], dtype=np.int64)
        tfs = np.concatenate(tf_lists) if tf_lists else np.array([], dtype=np.int64)
        dls = np.concatenate(dl_lists) if dl_lists else np.array([], dtype=np.int64)
        avgdl = float(pdf["avgdl"].iat[0]) or 1.0
        tfnorm = tfs * (K1 + 1.0) / (tfs + K1 * (1.0 - B + B * dls / avgdl))
        poss = [p.astype(np.int32) for docs in pos_lists for p in docs]
        yield pd.DataFrame(
            {
                "term": terms,
                "doc_id": doc_ids,
                "tf": tfs.astype(np.int32),
                "doc_len": dls,
                "tfnorm": tfnorm,
                "pos": poss,
            }
        )


def _decoded_pos(
    spark: SparkSession,
    index_dir: str,
    slot_term_lists: list[list[str]],
    stats: dict,
    allowed_ranges: list[int] | None = None,
) -> DataFrame:
    """Positional postings for a conjunctive (phrase/NEAR) query, with
    candidate-range pre-intersection (VERDICT r2: the positional path
    decoded every query term's FULL posting + position payload —
    pos_bytes is the largest column, so a phrase containing one hot
    term paid that term's whole payload).

    Phase 1 scans only (term, range_id) for the query vocabulary
    (binary columns never read) and keeps the range_ids where EVERY
    slot has at least one posting block — the same AND-bitmask shape
    as the BM25 scorer, aggregated over ranges instead of docs. Phase
    2 fetches blocks WITH pos_bytes only for surviving ranges, as a
    range_id isin pushdown (row-group skipping; same machinery as the
    block-max pruner). When more than ISIN_PUSHDOWN_MAX ranges survive
    the intersection isn't selective and the pre-pass is dropped —
    pruning only when it prunes.

    ``allowed_ranges`` (ts-scope time pruning) intersects the AND
    pre-pass — positions are the index's heaviest payload, so
    skipping out-of-window ranges before the pos_bytes fetch is where
    range_ts pays most."""
    n_buckets = stats.get("n_term_buckets")
    all_terms = sorted({t for lst in slot_term_lists for t in lst})
    blocks = _query_blocks(spark, index_dir, None, all_terms, n_buckets)
    ids = allowed_ranges
    if len(slot_term_lists) > 1:
        mask_by_term: dict[str, int] = {}
        for i, lst in enumerate(slot_term_lists):
            for t in lst:
                mask_by_term[t] = mask_by_term.get(t, 0) | (1 << i)
        full = (1 << len(slot_term_lists)) - 1
        ids = _intersect_ranges(ids, _and_surviving_ranges(
            spark, index_dir, mask_by_term, full, stats, blocks
        ))
        # AND ids None: unselective — only the time window (if any)
        # restricts the scan
    blocks = _restrict_ranges(spark, blocks, ids)
    blocks = blocks.select(*_DECODE_POS_COLS).withColumn(
        "range_bits", F.lit(stats["range_bits"])
    ).withColumn("avgdl", F.lit(stats["avgdl"]))
    return blocks.mapInPandas(_decode_pos_kernel, POS_DECODED_SCHEMA)


def phrase_terms(words: list[str]) -> list[str]:
    """Normalize a user phrase through the reference token pipeline
    (lowercase, truncation, stop-word removal — in order). Stop words
    vanish, so adjacency is defined over KEPT tokens: "black the cat"
    and "black cat" are the same phrase, the standard semantics for a
    stop-word-removing engine."""
    from textindex_spark.refimpl.txt_tokenize import iter_raw_words, normalize_token

    out = []
    for raw in iter_raw_words(" ".join(words)):
        t = normalize_token(raw)
        if t is not None:
            out.append(t)
    return out


PHRASE_MAX_TERMS = 32


def phrase_slots(words: list[str]) -> list[str]:
    """Phrase slots with wildcard/fuzzy support: a word containing
    * or ? — or carrying a ``~d`` fuzzy suffix — becomes a pattern
    slot verbatim (lowercased — patterns bypass the token pipeline,
    which would split on the metacharacter); every other word runs
    through the reference normalize pipeline (stop words vanish, as
    in phrase_terms)."""
    out: list[str] = []
    for w in words:
        if "^" in w:
            # a boosted phrase word would silently match nothing
            # ('^' never survives tokenization) — boosts are a
            # flat-search feature
            raise ValueError(f"boosts are not supported in phrases: {w!r}")
        if (
            _is_wildcard(w)
            or _parse_regex(w) is not None
            or _parse_fuzzy(w) is not None
        ):
            out.append(w.lower())
        else:
            out.extend(phrase_terms([w]))
    return out


def _slot_occurrences(
    decoded: DataFrame,
    terms: list[str],
    shift: int,
    name: str,
    idf_df: DataFrame | None = None,
    wname: str | None = None,
):
    """→ (doc_id, <name>: array<int>[, <wname>: double]) of slot
    positions shifted by -shift. Single-term slots stay narrow (no
    agg); multi-term (wildcard) slots union positions across the
    expansion with one map-side-combining agg. When ``idf_df``
    (term, _idf) is given the slot also yields its BM25 partial:
    MAX over the expansion terms present in the doc of idf·tfnorm —
    best-match scoring for wildcard slots (VERDICT r3 task 5)."""
    shifted = F.transform("pos", lambda x: x - F.lit(shift))
    if len(terms) == 1 and idf_df is None:
        return decoded.filter(F.col("term") == terms[0]).select(
            "doc_id", shifted.alias(name)
        )
    src = decoded.filter(F.col("term").isin(terms))
    if idf_df is None:
        return (
            src.select("doc_id", shifted.alias("_s"))
            .groupBy("doc_id")
            .agg(F.array_distinct(F.flatten(F.collect_list("_s"))).alias(name))
        )
    return (
        src.join(F.broadcast(idf_df), "term")
        .select(
            "doc_id",
            shifted.alias("_s"),
            (F.col("_idf") * F.col("tfnorm")).alias("_w"),
        )
        .groupBy("doc_id")
        .agg(
            F.array_distinct(F.flatten(F.collect_list("_s"))).alias(name),
            F.max("_w").alias(wname),
        )
    )


def _phrase_frame(
    spark: SparkSession,
    index_dir: str,
    words: list[str],
    with_score: bool = True,
    allowed_ranges: list[int] | None = None,
) -> DataFrame | None:
    """→ (doc_id, n_occ[, score]) for every doc containing the exact
    phrase, or None when a slot matches nothing in the dictionary
    (no doc can match). One bucket-pruned isin-pushdown posting fetch,
    one positions decode, then a JVM-side join chain: the i-th slot's
    positions shifted by -i and intersected across slots
    (n_occ = |intersection|). A slot may be a wildcard pattern
    ("dat*"): its positions are the union over the pattern's expansion
    terms. The BM25 partial of each DISTINCT pattern rides on its
    first occurrence so candidates and scores come from the same
    scan; a wildcard slot scores as the MAX over its expansion terms
    present in the doc of idf·tfnorm — deterministic best-match
    semantics (the strongest matched expansion), the natural analog
    of literal-slot scoring (beyond the reference: it stores no
    positions and has no phrase operator)."""
    slots = phrase_slots(words)
    if not slots:
        raise ValueError("phrase contains no indexable terms")
    if len(slots) > PHRASE_MAX_TERMS:
        raise ValueError(f"phrase too long ({len(slots)} > {PHRASE_MAX_TERMS})")
    stats = cached_stats(spark, index_dir)
    patterns = sorted(set(slots))
    expanded = expand_patterns(spark, index_dir, patterns)
    slot_terms = {
        p: sorted(expanded.loc[expanded["pattern_idx"] == i, "term"].unique())
        for i, p in enumerate(patterns)
    }
    if any(not slot_terms[p] for p in slots):
        return None  # some slot matches nothing → no doc can match
    idf_by_term = {
        t: idf(stats["n_docs"], int(d))
        for t, d in zip(expanded["term"], expanded["df"])
    }
    # conjunction over DISTINCT patterns: a doc matches only if every
    # distinct slot pattern occurs, so ranges missing any slot's terms
    # are pruned before pos_bytes is ever read
    decoded = _decoded_pos(
        spark, index_dir, [slot_terms[p] for p in patterns], stats,
        allowed_ranges=allowed_ranges,
    )
    first_occ: dict[str, int] = {}
    cur = None
    for i, p in enumerate(slots):
        if with_score and p not in first_occ:
            # each DISTINCT pattern's BM25 partial rides on its first
            # occurrence
            first_occ[p] = i
            terms = slot_terms[p]
            if len(terms) == 1:
                # NB: a 2-arg lambda to F.transform would receive the
                # ELEMENT INDEX as its second argument — bind the slot
                # offset via an outer closure instead
                shift_col = (lambda sh: F.transform("pos", lambda x: x - F.lit(sh)))(i)
                occ = decoded.filter(F.col("term") == terms[0]).select(
                    "doc_id",
                    shift_col.alias(f"_p{i}"),
                    (F.lit(idf_by_term[terms[0]]) * F.col("tfnorm")).alias(
                        f"_w{i}"
                    ),
                )
            else:
                # wildcard slot: positions = union over expansion,
                # weight = max matched expansion partial
                idf_df = local_df(
                    spark,
                    [(t, float(idf_by_term[t])) for t in terms],
                    "term string, _idf double",
                )
                occ = _slot_occurrences(
                    decoded, terms, i, f"_p{i}", idf_df=idf_df, wname=f"_w{i}"
                )
        else:
            occ = _slot_occurrences(decoded, slot_terms[p], i, f"_p{i}")
        cur = occ if cur is None else cur.join(occ, "doc_id")
    inter = F.col("_p0")
    for i in range(1, len(slots)):
        inter = F.array_intersect(inter, F.col(f"_p{i}"))
    cols = [F.col("doc_id"), F.size(inter).cast("int").alias("n_occ")]
    if with_score:
        score = None
        for i in first_occ.values():
            score = F.col(f"_w{i}") if score is None else score + F.col(f"_w{i}")
        cols.append(score.alias("score"))
    out = cur.select(*cols).filter(F.col("n_occ") > 0)
    return apply_tombstones(spark, index_dir, out)


def near_docs(
    spark: SparkSession,
    index_dir: str,
    words: list[str],
    window: int = 8,
    exclude: list[str] | None = None,
    with_score: bool = False,
    scope: str | None = None,
    ordered: bool = False,
) -> DataFrame:
    """NEAR/k proximity over the positional payload: → (doc_id,
    n_near[, score]) for live docs where every query slot occurs
    within ``window`` kept-token positions of some occurrence of the
    FIRST slot (anchored-window semantics; n_near = number of such
    anchor positions). Slots may be wildcard patterns ("dat*"): a
    slot's positions are the union over its expansion terms, exactly
    as in phrase_docs (r4). Same single bucket-pruned fetch as
    phrase_docs; the window test is a JVM-side exists() chain — no
    Python in the match.

    ``ordered=True`` (Lucene SpanNearQuery inOrder): the slots must
    occur IN QUERY ORDER (duplicate slot patterns each need their own
    occurrence), every step within ``window`` kept tokens AFTER the
    previous match — n_near counts anchor positions of the FIRST slot
    that start at least one full chain. Compiled to a nested
    JVM ``exists()`` chain (one level per slot), same single scan.

    ``with_score``: BM25 sum over the DISTINCT slot patterns —
    literal slots contribute idf·tfnorm, wildcard slots the MAX
    matched expansion partial, exactly `_phrase_frame`'s scoring
    (candidates and scores from the same scan)."""
    if scope:
        parse_scope(scope)  # validate before any work
    slots = phrase_slots(words)
    if not slots:
        raise ValueError("query contains no indexable terms")
    if len(slots) > PHRASE_MAX_TERMS:
        raise ValueError(f"too many terms ({len(slots)} > {PHRASE_MAX_TERMS})")
    stats = cached_stats(spark, index_dir)
    # anchor = the query's first slot; the remaining DISTINCT slot
    # patterns in stable order (ordered mode keeps first-appearance
    # order — the chain references frames by slot position)
    if ordered:
        uniq = list(dict.fromkeys(slots))
    else:
        uniq = [slots[0]] + sorted(set(slots[1:]) - {slots[0]})
    expanded = expand_patterns(spark, index_dir, uniq)
    slot_terms = {
        p: sorted(expanded.loc[expanded["pattern_idx"] == i, "term"].unique())
        for i, p in enumerate(uniq)
    }
    if any(not slot_terms[p] for p in uniq):
        schema = "doc_id long, n_near int" + (", score double" if with_score else "")
        return local_df(spark, [], schema)
    decoded = _decoded_pos(
        spark, index_dir, [slot_terms[p] for p in uniq], stats,
        allowed_ranges=(
            _ts_allowed_ranges(spark, index_dir, scope) if scope else None
        ),
    )
    if with_score:
        idf_by_term = {
            t: idf(stats["n_docs"], int(d))
            for t, d in zip(expanded["term"], expanded["df"])
        }
    cur = None
    for i, p in enumerate(uniq):
        if with_score:
            # uniq is already the DISTINCT patterns: every slot
            # carries its BM25 partial (wildcards: max over matched
            # expansions — same semantics as _phrase_frame)
            idf_df = local_df(
                spark,
                [(t, float(idf_by_term[t])) for t in slot_terms[p]],
                "term string, _idf double",
            )
            occ = _slot_occurrences(
                decoded, slot_terms[p], 0, f"_p{i}", idf_df=idf_df, wname=f"_w{i}"
            )
        else:
            occ = _slot_occurrences(decoded, slot_terms[p], 0, f"_p{i}")
        cur = occ if cur is None else cur.join(occ, "doc_id")
    w = int(window)

    def _anchor_ok(x):
        cond = None
        for i in range(1, len(uniq)):
            c = F.exists(
                F.col(f"_p{i}"),
                lambda y: (y >= x - F.lit(w)) & (y <= x + F.lit(w)),
            )
            cond = c if cond is None else cond & c
        return cond if cond is not None else F.lit(True)

    cols = ["doc_id", "n_near"]
    if ordered:
        # in-order chain: slot i's match strictly after slot i-1's,
        # at most `window` tokens later; duplicate patterns reuse
        # their pattern's occurrence column but still need their own
        # strictly-later position in the chain
        col_of = [f"_p{uniq.index(p)}" for p in slots]

        def _chain(i: int, prev):
            if i == len(slots):
                return F.lit(True)
            return F.exists(
                F.col(col_of[i]),
                lambda y: (y > prev)
                & (y <= prev + F.lit(w))
                & _chain(i + 1, y),
            )

        cur = cur.withColumn(
            "n_near",
            F.size(
                F.filter(F.col(col_of[0]), lambda x: _chain(1, x))
            ).cast("int"),
        )
    else:
        cur = cur.withColumn(
            "n_near", F.size(F.filter(F.col("_p0"), _anchor_ok)).cast("int")
        )
    if with_score:
        score = None
        for i in range(len(uniq)):
            score = F.col(f"_w{i}") if score is None else score + F.col(f"_w{i}")
        cur = cur.withColumn("score", score)
        cols.append("score")
    out = cur.filter(F.col("n_near") > 0).select(*cols)
    if exclude:
        excl_df = _exclusion_docs_df(spark, index_dir, exclude, stats)
        if excl_df is not None:
            out = out.join(excl_df, "doc_id", "left_anti")
    if scope:
        out = _apply_scope(
            spark, index_dir, out, scope,
            _scope_nonmatch_ids(spark, index_dir, scope),
        )
    return apply_tombstones(spark, index_dir, out)


def search_near(
    spark: SparkSession,
    index_dir: str,
    words: list[str],
    window: int = 8,
    k: int = 10,
    with_urls: bool = True,
    exclude: list[str] | None = None,
    scope: str | None = None,
    ordered: bool = False,
) -> DataFrame:
    """Ranked NEAR/k: proximity-gated BM25 top-k → (doc_id,
    score[, url]), ordered (score desc, doc_id asc) — membership by
    the anchored-window test (`near_docs`; ``ordered=True`` = the
    in-order chain), rank by the BM25 sum over the distinct slot
    patterns (`search_phrase` semantics applied to proximity).
    ``scope``: metadata-filtered (see `search`)."""
    frame = near_docs(
        spark, index_dir, words, window=window, exclude=exclude,
        with_score=True, scope=scope, ordered=ordered,
    )
    result = (
        frame.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    return finish_ranked(spark, index_dir, result, k, with_urls)


def phrase_docs(
    spark: SparkSession, index_dir: str, words: list[str]
) -> DataFrame:
    """→ (doc_id, n_occ): every live doc containing the exact phrase,
    with its occurrence count. Slots may be wildcard patterns:
    phrase_docs(spark, idx, ["big", "dat*"])."""
    frame = _phrase_frame(spark, index_dir, words, with_score=False)
    if frame is None:
        return local_df(spark, [], "doc_id long, n_occ int")
    return frame.select("doc_id", "n_occ")


def search_phrase(
    spark: SparkSession,
    index_dir: str,
    words: list[str],
    k: int = 10,
    with_urls: bool = True,
    exclude: list[str] | None = None,
    scope: str | None = None,
) -> DataFrame:
    """Exact-phrase top-k, ranked by BM25 over the phrase's distinct
    terms (same formula, same doc_id tie-break as ``search``).
    ``exclude``: NOT semantics, one anti-join before top-k.
    ``scope``: metadata-filtered retrieval (see `search`); a ts
    scope additionally time-prunes the positional fetch (range_ts
    bounds — pos_bytes is the heaviest payload). ``with_urls``: as
    in `search`, a bounded k gives a driver-local, evaluated frame."""
    if scope:
        parse_scope(scope)
    frame = _phrase_frame(
        spark, index_dir, words,
        allowed_ranges=(
            _ts_allowed_ranges(spark, index_dir, scope) if scope else None
        ),
    )
    if frame is not None and exclude:
        excl_df = _exclusion_docs_df(
            spark, index_dir, exclude, cached_stats(spark, index_dir)
        )
        if excl_df is not None:
            frame = frame.join(excl_df, "doc_id", "left_anti")
    if frame is not None and scope:
        frame = _apply_scope(
            spark, index_dir, frame, scope,
            _scope_nonmatch_ids(spark, index_dir, scope),
        )
    if frame is None:
        return finish_ranked(spark, index_dir, [], k, with_urls)
    result = (
        frame.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    return finish_ranked(spark, index_dir, result, k, with_urls)


_tomb_exists: dict[str, bool] = {}


def _tombstones(spark: SparkSession, index_dir: str):
    """Tombstone frame or None. The EXISTENCE answer is cached too —
    ``table_exists`` walks the manifest (an FS listing) and this runs
    on every query; deletes go through ``invalidate_cache`` which
    clears both caches."""
    cd = canon_dir(index_dir)
    if cd not in _tomb_exists:
        _tomb_exists[cd] = manifest.table_exists(spark, index_dir, "deleted")
    if _tomb_exists[cd]:
        return _cached_table(spark, index_dir, "deleted")
    return None


def apply_tombstones(spark: SparkSession, index_dir: str, result: DataFrame) -> DataFrame:
    dead = _tombstones(spark, index_dir)
    if dead is None:
        return result
    return result.join(F.broadcast(dead), "doc_id", "left_anti")


class SearchSession:
    """T2 pagination parity (``Found`` + first/next, main.rs:233-276):
    a client-side cursor over a collected result set."""

    def __init__(self, spark: SparkSession, index_dir: str, patterns: list[str],
                 k: int = 1000, mode: str = "and", page_size: int = 20):
        self.rows = search(spark, index_dir, patterns, k=k, mode=mode).collect()
        self.page_size = page_size
        self.pos = 0

    def first(self) -> list:
        self.pos = 0
        return self.next()

    def next(self) -> list:
        page = self.rows[self.pos : self.pos + self.page_size]
        self.pos += len(page)
        return page


def facet_counts(
    spark: SparkSession,
    index_dir: str,
    patterns: list[str],
    by: str = "lang",
    mode: str = "and",
    exclude: list[str] | None = None,
    scope: str | None = None,
) -> DataFrame:
    """→ (value, n_docs): matched-document counts per facet — the
    corpus-analytics slice a training-data pipeline runs over a query
    ("how many matching docs per language / site / crawl month").
    ``by``:

    * ``lang`` — the docs table's language column
    * ``site`` — the url host (``regexp_extract``, codegen'd)
    * ``year`` / ``month`` / ``day`` — warc_ts truncated to 'yyyy' /
      'yyyy-MM' / 'yyyy-MM-dd' (date histogram over the crawl fetch
      time; null fetch time → null bucket)

    Match semantics are exactly ``find_unranked``'s (AND/OR over
    wildcard-expanded patterns, tombstones and ``exclude`` applied).
    Scale shape: decoded postings → one distinct+mask agg keyed on
    doc_id → equality join with the docs table on doc_id → one
    groupBy(value) count. No collect; the facet agg is map-side
    partial (few distinct values), and the doc_id join broadcasts
    whenever the match set is small."""
    if by not in ("lang", "site", "year", "month", "day"):
        raise ValueError(
            "facet by must be 'lang', 'site', 'year', 'month' or 'day'"
        )
    patterns = split_boosts(patterns)[0]  # membership-only: strip
    stats = cached_stats(spark, index_dir)
    expanded = expand_patterns(spark, index_dir, patterns)
    n_patterns = len(patterns)
    empty = local_df(spark, [], "value string, n_docs long")
    if len(expanded) == 0 or (
        mode == "and" and expanded["pattern_idx"].nunique() < n_patterns
    ):
        return empty
    term_info = (
        expanded.groupby("term")
        .agg(mask=("pattern_idx", lambda s: int(np.bitwise_or.reduce([1 << i for i in s]))))
        .reset_index()
    )
    qterms = spark.createDataFrame(term_info[["term", "mask"]])
    and_masks = None
    if mode == "and" and n_patterns > 1:
        and_masks = (
            dict(zip(term_info["term"], (int(m) for m in term_info["mask"]))),
            (1 << n_patterns) - 1,
        )
    decoded = _decoded_postings(
        spark, index_dir, qterms.withColumn("idf", F.lit(0.0)),
        stats, list(term_info["term"]), and_masks=and_masks,
        allowed_ranges=(
            _ts_allowed_ranges(spark, index_dir, scope) if scope else None
        ),
    )
    hits = (
        decoded.join(F.broadcast(qterms), "term")
        .groupBy("doc_id")
        .agg(F.bit_or("mask").alias("mask"))
    )
    if mode == "and":
        hits = hits.filter(F.col("mask") == (1 << n_patterns) - 1)
    hits = apply_tombstones(spark, index_dir, hits.select("doc_id"))
    if exclude:
        excl_df = _exclusion_docs_df(spark, index_dir, exclude, stats)
        if excl_df is not None:
            hits = hits.join(excl_df, "doc_id", "left_anti")
    if scope:
        hits = _apply_scope(
            spark, index_dir, hits, scope,
            _scope_nonmatch_ids(spark, index_dir, scope),
        )
    docs = _cached_table(spark, index_dir, "docs")
    if by == "lang":
        facet = F.col("lang")
    elif by == "site":
        facet = F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1)
    else:
        # crawl-date histogram at year/month/day granularity,
        # rendered in the session tz (engine sessions pin UTC —
        # session.py); docs without a fetch time land in a null
        # bucket
        fmt = {"year": "yyyy", "month": "yyyy-MM", "day": "yyyy-MM-dd"}[by]
        facet = F.date_format("warc_ts", fmt)
    return (
        hits.join(docs.select("doc_id", facet.alias("value")), "doc_id")
        .groupBy("value")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("value"))
    )


# candidate depth is driver-resident (isin-pushdown point lookups on
# the priors table, the matched_lines pattern) — keep it under the
# pushdown cap
PRIOR_DEPTH_MAX = 1024


def search_with_prior(
    spark: SparkSession,
    index_dir: str,
    priors: DataFrame,
    patterns: list[str],
    k: int = 10,
    mode: str = "or",
    w_rank: float = 0.0,
    w_indeg: float = 0.0,
    depth: int | None = None,
    scope: str | None = None,
    min_match: int | None = None,
    exclude: list[str] | None = None,
) -> DataFrame:
    """Static-rank blended retrieval (the classic web-search quality
    blend): BM25 top-``depth`` candidates re-ranked by

        blended = score + w_rank·ln(1 + host_rank)
                        + w_indeg·ln(1 + n_follow_inlinks)

    over the link-graph ``doc_priors`` table (`ops.links
    .build_link_graph`: url, host_rank, n_inlinks, n_follow_inlinks)
    → (doc_id, score, url) ordered (blended desc, doc_id asc), where
    ``score`` IS the blended value. A NULL host_rank (host absent
    from the graph) and a missing priors row both contribute 0 —
    unknown quality is neutral, never a penalty.

    host_rank is a PageRank share (Σ=1 over hosts, so values are
    ~1/n_hosts): pick ``w_rank`` on that scale (e.g. n_hosts·c), or
    lean on the in-degree term whose ln(1+count) is scale-free.

    Execution: the ranked search produces ≤ depth candidates (every
    scope/boost/min_match behavior applies unchanged); their urls
    drive an isin-pushdown point lookup on the priors scan (never a
    corpus-wide join — the `matched_lines` pattern), the blend is a
    Catalyst expression over the ≤ depth-row frame, and the re-rank
    is a k-row sort. Depth contract: a doc outside the BM25
    top-``depth`` cannot be promoted into the result — raise
    ``depth`` when priors should reach further down the ranking."""
    if w_rank == 0.0 and w_indeg == 0.0:
        raise ValueError("need w_rank and/or w_indeg != 0")
    depth = depth or max(50, 5 * k)
    if depth > PRIOR_DEPTH_MAX:
        raise ValueError(
            f"depth {depth} exceeds PRIOR_DEPTH_MAX={PRIOR_DEPTH_MAX}"
        )
    cand = search(
        spark, index_dir, patterns, k=depth, mode=mode,
        with_urls=True, scope=scope, min_match=min_match,
        exclude=exclude,
    ).collect()
    if not cand:
        return local_df(spark, [], "doc_id long, score double, url string")
    cdf = local_df(
        spark,
        [(r["doc_id"], float(r["score"]), r["url"]) for r in cand],
        "doc_id long, score double, url string",
    )
    urls = [r["url"] for r in cand if r["url"] is not None]
    # a multi-fetch corpus indexed without url-dedup can carry several
    # priors rows per url (build_link_graph writes one per input page;
    # the values are url-derived and identical) — dedup so the left
    # join cannot multiply candidates into duplicate doc_ids
    pr = (
        priors.filter(F.col("url").isin(urls))
        .select("url", "host_rank", "n_follow_inlinks")
        .dropDuplicates(["url"])
    )
    # ln(1 + x) spelled literally (not log1p) so the DuckDB oracle
    # evaluates the IDENTICAL expression — the same ln-agreement the
    # BM25 idf gates already rely on
    blended = (
        F.col("score")
        + F.lit(float(w_rank))
        * F.log(F.lit(1.0) + F.coalesce(F.col("host_rank"), F.lit(0.0)))
        + F.lit(float(w_indeg))
        * F.log(
            F.lit(1.0)
            + F.coalesce(F.col("n_follow_inlinks"), F.lit(0)).cast("double")
        )
    )
    return (
        cdf.join(F.broadcast(pr), "url", "left")
        .select("doc_id", blended.alias("score"), "url")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def find_files(spark: SparkSession, index_dir: str, pattern: str) -> DataFrame:
    """File-name wildcard search (index2.rs:447-456)."""
    rx = wildcard_to_regex(pattern).pattern
    return (
        _cached_table(spark, index_dir, "docs")
        .filter(F.col("url").rlike(f"^(?s:{rx})$"))
        .select("doc_id", "url")
        .orderBy("doc_id")
    )


MLT_MAX_TERMS = 10


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    documents: DataFrame,
    doc_id: int,
    k: int = 10,
    max_terms: int = MLT_MAX_TERMS,
    min_df: int = 1,
    with_urls: bool = False,
    scope: str | None = None,
) -> DataFrame:
    """Query-by-document (engine extension — the Lucene MoreLikeThis
    surface): rank documents similar to ``doc_id``. → (doc_id, score
    [, url]) like `search`. ``scope`` restricts the similar-document
    ranking to a lang:/site:/ts: slice ("similar pages from this
    site", "similar pages crawled that month") — term selection still
    reads the UNSCOPED source document; only the ranked candidates
    are filtered, scores unchanged.

    Plan: (1) the source document is re-read from the raw corpus with
    a pushdown point lookup (`doc_id =` prunes the parquet scan — the
    same one-doc pattern `matched_lines` uses) and extracted +
    tokenized with the reference pipeline; (2) its distinct terms are
    ranked by tf·idf — idf from the resident dictionary (one
    broadcast-probe job when the vocabulary exceeds the cache),
    tie-break term asc — and terms with dictionary df < ``min_df``
    drop; (3) the top ``max_terms`` run disjunctive BM25 through
    `search` with the source doc merged into the dead set
    (``exclude_ids``), so the similar-document ranking never contains
    the probe itself. The expensive machinery (postings decode,
    serving caches, pruning) is all reused — MLT adds one point
    lookup and a driver-side tf computation."""
    from textindex_spark.build import normalize_input
    from textindex_spark.refimpl import filters
    from textindex_spark.refimpl.oracle import classify_and_extract
    from textindex_spark.refimpl.txt_tokenize import term_frequencies

    if scope:
        parse_scope(scope)  # validate before the point lookup
    rows = (
        normalize_input(documents)
        .filter(F.col("doc_id") == int(doc_id))
        .select("url", "html", "text")
        .limit(1)
        .collect()
    )
    if not rows:
        raise ValueError(f"doc_id {doc_id} not found in documents")
    r = rows[0]
    kind, text, _ = classify_and_extract(
        r["url"], r["html"] or b"", r["text"] or ""
    )
    empty = finish_ranked(spark, index_dir, [], k, with_urls)
    if kind == filters.IGNORE:
        return empty
    tf, _dl = term_frequencies(text)
    if not tf:
        return empty
    stats = cached_stats(spark, index_dir)
    dfs = _term_dfs(spark, index_dir, sorted(tf))
    ranked = sorted(
        (
            (t, tf[t] * idf(stats["n_docs"], dfs[t]))
            for t in tf
            if dfs.get(t, 0) >= max(min_df, 1)
        ),
        key=lambda kv: (-kv[1], kv[0]),
    )
    terms = [t for t, _ in ranked[:max_terms]]
    if not terms:
        return empty
    return search(
        spark, index_dir, terms, k=k, mode="or", with_urls=with_urls,
        exclude_ids=[int(doc_id)], scope=scope,
    )


def _term_dfs(
    spark: SparkSession, index_dir: str, terms_list: list[str]
) -> dict[str, int]:
    """Dictionary df lookup for a (possibly >MAX_QUERY_PATTERNS) term
    list: resident dictionary when cached, else ONE broadcast-probe
    join against the terms table (no isin — the list can exceed the
    pushdown cap)."""
    terms = _load_dictionary(spark, index_dir)
    if terms is not None:
        sub = terms[terms["term"].isin(terms_list)]
        return dict(zip(sub["term"], (int(x) for x in sub["df"])))
    probe = local_df(spark, [(t,) for t in terms_list], "term string")
    rows = (
        _cached_table(spark, index_dir, "terms")
        .select("term", "df")
        .join(F.broadcast(probe), "term")
        .collect()
    )
    return {r["term"]: int(r["df"]) for r in rows}


def matched_lines(
    spark: SparkSession,
    documents: DataFrame,
    hits: DataFrame,
    patterns: list[str],
) -> DataFrame:
    """J5 (proc3.rs:396-435): for each hit, re-read the RAW document
    (lossy-decoded, NOT the extracted text — the reference reads the
    file bytes), split into lines, keep lines where any space-split
    word glob-matches any query term."""
    from textindex_spark.build import normalize_input
    from textindex_spark.refimpl.html_extract import decode_lossy

    matchers = []
    for p in patterns:
        prx = _parse_regex(p)
        if prx is not None:
            matchers.append(
                lambda w, rx=prx: rx.fullmatch(w) is not None
            )
            continue
        fz = _parse_fuzzy(p)
        if fz is not None:
            # fuzzy display parity: a line matches when any raw word
            # is within the pattern's edit-distance bound
            matchers.append(
                lambda w, base=fz[0], d=fz[1]: _lev_within(base, w, d)
            )
        else:
            matchers.append(
                lambda w, rx=wildcard_to_regex(p): rx.fullmatch(w) is not None
            )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_url, out_lines = [], [], []
            for i in range(len(pdf)):
                raw = pdf["html"].iat[i]
                txt = decode_lossy(raw) if raw else (pdf["text"].iat[i] or "")
                lines = [
                    line
                    for line in txt.split("\n")
                    if any(
                        m(word)
                        for word in line.split(" ")
                        for m in matchers
                    )
                ]
                out_doc.append(pdf["doc_id"].iat[i])
                out_url.append(pdf["url"].iat[i])
                out_lines.append(lines)
            yield pd.DataFrame(
                {"doc_id": out_doc, "url": out_url, "lines": out_lines}
            )

    joined = normalize_input(documents).join(
        F.broadcast(hits.select("doc_id")), "doc_id"
    )
    return joined.mapInPandas(kernel, "doc_id long, url string, lines array<string>")
