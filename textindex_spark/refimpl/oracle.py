"""Single-node oracle: classify → extract → tokenize → index → BM25.

This is the semantics ground truth the Spark engine must match
(SURVEY.md §5): per-url byte-identical extracted text, and
rank-identical (doc_id, score) top-k on the query set.

Indexing model (generalizing the reference pipeline,
``/root/reference/src/proc3/threads.rs:63-168``):

1. ``name_filter`` on the url (proc3.rs:203-299) — Ignore drops the row.
2. ``content_filter`` on the first 256 bytes (proc3.rs:301-336).
3. lossy UTF-8 decode (proc3.rs:136), extraction for Html
   (indexer.rs:97-173), tokenization (txt_parse.rs:74-105),
   lowercase + stop words (indexer.rs:50-61), 20-byte vocabulary
   truncation (index2.rs:598-619).
4. postings: term → {doc_id: tf}; doc_len = count of indexed tokens.

BM25 (new work per BASELINE.json north_star — the reference ranks
nothing): k1 = 1.2, b = 0.75,

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    w(t, d)     = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    score(q, d) = Σ_{v ∈ vocab matching any query term} w(v, d)

Query semantics follow ``Words::find`` (index2.rs:550-582): each query
term is a ``WildMatch`` glob (``*``/``?``, index2.rs:554) expanded
over the vocabulary; a doc qualifies iff EVERY query term has at least
one matching vocab term present in the doc (AND across query terms,
union within one term's expansion). Ranking is (score desc, doc_id
asc); N counts all indexed docs (Text/Html after filters), avgdl is
their mean doc_len.
"""
from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

from textindex_spark.refimpl import filters
from textindex_spark.refimpl.html_extract import decode_lossy, extract_text_full
from textindex_spark.refimpl.txt_tokenize import term_frequencies

K1 = 1.2
B = 0.75


def wildcard_to_regex(pattern: str) -> re.Pattern[str]:
    """WildMatch glob semantics (``*`` any run incl. empty, ``?``
    exactly one char), whole-term match (index2.rs:554)."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return re.compile("".join(out), re.DOTALL)


def _is_pattern(w: str) -> bool:
    """A query word that expands over the vocabulary rather than
    matching literally: a WildMatch glob, the engine's fuzzy
    ``base~d`` suffix, or a slash-delimited ``/regex/``."""
    if "*" in w or "?" in w:
        return True
    if len(w) >= 3 and w.startswith("/") and w.endswith("/"):
        return True
    return bool(re.fullmatch(r"(.+)~([0-9]?)\Z", w, re.S))


def _utc_epoch(ts) -> float:
    """datetime/pandas-Timestamp → UTC epoch seconds; naive values
    are read AS UTC (matching the engine's UTC session timezone)."""
    from datetime import timezone

    if getattr(ts, "tzinfo", None) is None:
        ts = ts.replace(tzinfo=timezone.utc)
    return ts.timestamp()


def _parse_ts_range(value: str) -> tuple[float | None, float | None]:
    """Independent recomputation of the engine's ``ts:A..B`` window
    parse (ISO-8601, naive = UTC, inclusive, open ends allowed)."""
    from datetime import datetime, timezone

    lo_s, _, hi_s = value.partition("..")

    def _epoch(s: str):
        if not s:
            return None
        dt = datetime.fromisoformat(s)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.timestamp()

    return _epoch(lo_s), _epoch(hi_s)


def _edit_distance(a: str, b: str) -> int:
    """Classic character-level Levenshtein (unit-cost ins/del/sub),
    full Wagner-Fischer matrix — deliberately the naive textbook form
    so the engine's banded/prefiltered kernel is checked against an
    independent implementation."""
    la, lb = len(a), len(b)
    dp = list(range(lb + 1))
    for i in range(1, la + 1):
        prev_diag, dp[0] = dp[0], i
        for j in range(1, lb + 1):
            cur = min(
                dp[j] + 1,
                dp[j - 1] + 1,
                prev_diag + (a[i - 1] != b[j - 1]),
            )
            prev_diag, dp[j] = dp[j], cur
    return dp[lb]


def classify_and_extract(url: str, html: bytes, text: str) -> tuple[str, str, bool]:
    """→ (filter, extracted_text, truncated). filter ∈ {ignore, text,
    html}. Rows with empty html use the ``text`` column as a Text doc
    (text/plain rows per FIXTURES.md §1)."""
    if not filters.name_filter_keep(url):
        return filters.IGNORE, "", False
    if not html:
        return (filters.TEXT, text, False) if text else (filters.IGNORE, "", False)
    kind = filters.content_filter(html[: filters.SNIFF_BYTES])
    if kind == filters.IGNORE:
        return filters.IGNORE, "", False
    decoded = decode_lossy(html)
    if kind == filters.HTML:
        extracted, truncated = extract_text_full(decoded)
        return filters.HTML, extracted, truncated
    return filters.TEXT, decoded, False


@dataclass
class OracleIndex:
    docs: dict[int, dict] = field(default_factory=dict)  # doc_id → {url, dl, ...}
    postings: dict[str, dict[int, int]] = field(default_factory=dict)  # term → {doc: tf}
    n_docs: int = 0
    avgdl: float = 0.0

    @classmethod
    def build(cls, rows: list[dict]) -> "OracleIndex":
        idx = cls()
        total_len = 0
        for row in rows:
            kind, text, truncated = classify_and_extract(
                row["url"], row.get("html") or b"", row.get("text") or ""
            )
            if kind == filters.IGNORE:
                continue
            doc_id = row["doc_id"]
            tf, dl = term_frequencies(text)
            idx.docs[doc_id] = {
                "url": row["url"],
                "lang": row.get("lang") or "",
                "warc_ts": row.get("warc_ts"),
                "doc_len": dl,
                "filter": kind,
                "truncated": truncated,
                "text": text,
            }
            total_len += dl
            for term, n in tf.items():
                idx.postings.setdefault(term, {})[doc_id] = n
        idx.n_docs = len(idx.docs)
        idx.avgdl = (total_len / idx.n_docs) if idx.n_docs else 0.0
        return idx

    def df(self, term: str) -> int:
        return len(self.postings.get(term, ()))

    def idf(self, term: str) -> float:
        d = self.df(term)
        return math.log(1.0 + (self.n_docs - d + 0.5) / (d + 0.5))

    def expand(self, pattern: str) -> list[str]:
        if (
            len(pattern) >= 3
            and pattern.startswith("/")
            and pattern.endswith("/")
        ):
            # engine extension: slash-delimited regex, full-match
            # over the vocabulary (DOTALL, like the engine)
            rx = re.compile(pattern[1:-1], re.DOTALL)
            return [t for t in self.postings if rx.fullmatch(t)]
        fz = re.fullmatch(r"(.+)~([0-9]?)\Z", pattern, re.S)
        if fz and "*" not in fz.group(1) and "?" not in fz.group(1):
            # engine extension: fuzzy ``base~d`` — every vocabulary
            # term within classic Levenshtein distance d (full-matrix
            # DP here, independent of the engine's banded kernel)
            base, d = fz.group(1), int(fz.group(2) or 1)
            return [t for t in self.postings if _edit_distance(base, t) <= d]
        if "*" not in pattern and "?" not in pattern:
            return [pattern] if pattern in self.postings else []
        rx = wildcard_to_regex(pattern)
        return [t for t in self.postings if rx.fullmatch(t)]

    def weight(self, term: str, doc_id: int, tf: int) -> float:
        dl = self.docs[doc_id]["doc_len"]
        norm = tf + K1 * (1.0 - B + B * dl / self.avgdl)
        return self.idf(term) * tf * (K1 + 1.0) / norm

    def more_like_this(
        self,
        doc_id: int,
        k: int = 10,
        max_terms: int = 10,
        min_df: int = 1,
        scope: str | None = None,
    ) -> list[tuple[int, float]]:
        """Query-by-document (engine extension): the source doc's
        terms ranked by tf·idf (tie-break term asc), top max_terms →
        disjunctive BM25 with the source excluded. Independent
        recomputation: tf from the postings scan, not from re-
        tokenizing."""
        tf = {
            t: plist[doc_id]
            for t, plist in self.postings.items()
            if doc_id in plist
        }
        ranked = sorted(
            (
                (t, n_occ * self.idf(t))
                for t, n_occ in tf.items()
                if self.df(t) >= max(min_df, 1)
            ),
            key=lambda kv: (-kv[1], kv[0]),
        )
        terms = [t for t, _ in ranked[:max_terms]]
        if not terms:
            return []
        full = self.search(terms, k + 1, mode="or", scope=scope)
        return [(d, s) for d, s in full if d != doc_id][:k]

    def suggest(self, word: str, n: int = 5, max_dist: int = 2):
        """Did-you-mean (engine extension): vocabulary terms within
        Levenshtein distance max_dist of the lowercased word (the
        exact word excluded), ranked (distance asc, df desc, term
        asc), top n → [(term, dist, df)]. Full-matrix DP — an
        independent check on the engine's banded kernel."""
        word = word.lower()
        rows = []
        for t, plist in self.postings.items():
            if t == word:
                continue
            d = _edit_distance(word, t)
            if d <= max_dist:
                rows.append((t, d, len(plist)))
        rows.sort(key=lambda r: (r[1], -r[2], r[0]))
        return rows[:n]

    def scope_ok(self, doc_id: int, scope: str) -> bool:
        """Metadata predicate for scoped search (engine extension):
        ``"lang:VALUE"`` matches the doc's lang column, ``"site:
        VALUE"`` the url host, ``"ts:A..B"`` the crawl fetch time
        against an inclusive UTC window (null fetch time never
        matches) — same definitions as the engine's facet_counts /
        _scope_match_pred."""
        field, _, value = scope.partition(":")
        d = self.docs[doc_id]
        if field == "lang":
            return d.get("lang", "") == value
        if field == "ts":
            ts = d.get("warc_ts")
            if ts is None:
                return False
            epoch = _utc_epoch(ts)
            lo, hi = _parse_ts_range(value)
            return (lo is None or epoch >= lo) and (hi is None or epoch <= hi)
        m = re.match(r"^[a-z]+://([^/]+)", d["url"])
        return (m.group(1) if m else "") == value

    def search(
        self,
        terms: list[str],
        k: int = 10,
        mode: str = "and",
        exclude: list[str] | None = None,
        scope: str | None = None,
        min_match: int | None = None,
    ) -> list[tuple[int, float]]:
        """Top-k (doc_id, score). mode='and' is reference find
        semantics; 'or' is pure disjunctive BM25. ``exclude`` drops
        any doc containing any expansion of an exclude pattern
        (NOT semantics); surviving docs' scores are unchanged.
        ``scope`` keeps only docs matching the metadata predicate
        (scores unchanged — global stats). A ``pattern^boost`` suffix
        multiplies the idf weight of the pattern's expansion terms
        (max over covering patterns — engine semantics)."""
        base: list[str] = []
        boosts: list[float] = []
        for t in terms:
            m = re.fullmatch(r"(.+)\^([0-9]+(?:\.[0-9]+)?)\Z", t, re.S)
            if m:
                base.append(m.group(1))
                boosts.append(float(m.group(2)))
            else:
                base.append(t)
                boosts.append(1.0)
        terms = base
        expansions = [self.expand(t) for t in terms]
        tboost: dict[str, float] = {}
        for exp, b in zip(expansions, boosts):
            for v in exp:
                tboost[v] = max(tboost.get(v, 0.0), b)
        if mode == "and":
            cand: set[int] | None = None
            for exp in expansions:
                files: set[int] = set()
                for v in exp:
                    files.update(self.postings[v])
                cand = files if cand is None else (cand & files)
            candidates = cand or set()
        else:
            candidates = set()
            for exp in expansions:
                for v in exp:
                    candidates.update(self.postings[v])
        for p in exclude or []:
            for v in self.expand(p):
                candidates -= set(self.postings[v])
        if scope:
            candidates = {d for d in candidates if self.scope_ok(d, scope)}
        if min_match is not None and min_match > 1:
            # minimum-should-match: keep docs matching >= min_match
            # DISTINCT query patterns (engine extension)
            candidates = {
                d for d in candidates
                if sum(
                    any(d in self.postings[v] for v in exp)
                    for exp in expansions
                ) >= min_match
            }
        vocab_terms = sorted({v for exp in expansions for v in exp})
        scores: dict[int, float] = {}
        for v in vocab_terms:
            plist = self.postings[v]
            for doc_id in candidates:
                tf = plist.get(doc_id)
                if tf:
                    scores[doc_id] = scores.get(doc_id, 0.0) + self.weight(
                        v, doc_id, tf
                    ) * tboost.get(v, 1.0)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k]

    def phrase_occurrences(self, words: list[str]) -> dict[int, int]:
        """doc_id → exact-phrase occurrence count, recomputed from the
        kept-token position sequence (ground truth for search_phrase /
        phrase_docs). Wildcard slots supported: a slot's positions are
        the union over its expansion terms."""
        from textindex_spark.refimpl.txt_tokenize import (
            iter_raw_words,
            normalize_token,
            term_positions,
        )

        slots: list[list[str]] = []
        for w in words:
            if _is_pattern(w):
                slots.append(self.expand(w.lower()))
            else:
                for raw in iter_raw_words(w):
                    t = normalize_token(raw)
                    if t is not None:
                        slots.append([t])
        out: dict[int, int] = {}
        for doc_id, doc in self.docs.items():
            pos, _ = term_positions(doc["text"])
            plists = []
            for terms in slots:
                union: set[int] = set()
                for t in terms:
                    union.update(pos.get(t, ()))
                plists.append(union)
            if any(not p for p in plists):
                continue
            starts = set(plists[0])
            for i, p in enumerate(plists[1:], start=1):
                starts &= {x - i for x in p}
            if starts:
                out[doc_id] = len(starts)
        return out

    def near_occurrences(
        self, words: list[str], window: int = 8, ordered: bool = False
    ) -> dict[int, int]:
        """doc_id → count of anchor positions (occurrences of the
        FIRST slot) that have every other slot within ``window`` kept
        token positions (ground truth for query.near_docs). Wildcard
        slots supported: a slot's positions are the union over its
        expansion terms, as in phrase_occurrences.

        ``ordered=True``: the in-order chain — each slot (duplicates
        included) matches strictly after the previous slot's match,
        at most ``window`` tokens later; anchors counted are first-
        slot positions starting at least one full chain."""
        from textindex_spark.refimpl.txt_tokenize import (
            iter_raw_words,
            normalize_token,
            term_positions,
        )

        slots: list[str] = []
        expansions: dict[str, list[str]] = {}
        for w in words:
            if _is_pattern(w):
                p = w.lower()
                slots.append(p)
                expansions[p] = self.expand(p)
            else:
                for raw in iter_raw_words(w):
                    t = normalize_token(raw)
                    if t is not None:
                        slots.append(t)
                        expansions[t] = [t]
        others = sorted(set(slots[1:]) - {slots[0]})
        out: dict[int, int] = {}
        for doc_id, doc in self.docs.items():
            pos, _ = term_positions(doc["text"])

            def union(p):
                u: set[int] = set()
                for t in expansions[p]:
                    u.update(pos.get(t, ()))
                return u

            anchors = union(slots[0])
            if not anchors:
                continue
            if ordered:
                seq = [sorted(union(p)) for p in slots]
                if any(not s for s in seq):
                    continue

                def chain(i: int, prev: int) -> bool:
                    if i == len(seq):
                        return True
                    return any(
                        prev < y <= prev + window and chain(i + 1, y)
                        for y in seq[i]
                    )

                n = sum(1 for a in seq[0] if chain(1, a))
                if n:
                    out[doc_id] = n
                continue
            plists = [union(p) for p in others]
            if any(not p for p in plists):
                continue
            n = sum(
                1
                for a in anchors
                if all(any(abs(y - a) <= window for y in p) for p in plists)
            )
            if n:
                out[doc_id] = n
        return out

    def search_phrase(self, words: list[str], k: int = 10) -> list[tuple[int, float]]:
        """Top-k exact-phrase (doc_id, score): BM25 summed over the
        phrase's DISTINCT slot patterns — a literal slot adds its
        term's partial, a wildcard slot adds the MAX partial over its
        expansion terms present in the doc (engine semantics,
        query._positional_kernel)."""
        occ = self.phrase_occurrences(words)
        from textindex_spark.refimpl.txt_tokenize import iter_raw_words, normalize_token

        patterns: list[str] = []
        for w in words:
            if _is_pattern(w):
                patterns.append(w.lower())
            else:
                for raw in iter_raw_words(w):
                    t = normalize_token(raw)
                    if t is not None:
                        patterns.append(t)
        scores: dict[int, float] = {}
        for d in occ:
            s = 0.0
            for p in sorted(set(patterns)):
                if _is_pattern(p):
                    ws = [
                        self.weight(t, d, self.postings[t][d])
                        for t in self.expand(p)
                        if d in self.postings[t]
                    ]
                    s += max(ws) if ws else 0.0
                else:
                    s += self.weight(p, d, self.postings[p][d])
            scores[d] = s
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    def find_unranked(self, terms: list[str]) -> list[str]:
        """Exact ``Words::find`` result: AND-intersected file names
        (sorted by doc_id, as the BTreeSet iteration order)."""
        expansions = [self.expand(t) for t in terms]
        cand: set[int] | None = None
        for exp in expansions:
            files: set[int] = set()
            for v in exp:
                files.update(self.postings[v])
            cand = files if cand is None else (cand & files)
        return [self.docs[d]["url"] for d in sorted(cand or set())]
