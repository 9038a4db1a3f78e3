"""Seeded benchmark inputs and their oracle answers.

Run as a child process before the Spark session starts::

    python3 perfbench/inputs.py --docs 1500 --held 150 --seed 7 --out DIR --root .

It writes, under ``DIR``:

* ``base.parquet``: ``synth_corpus`` rows ``0..docs-1`` in the input_hint
  shape (url, warc_ts, html, text, lang) with no ``doc_id``, sorted by url
  and split into several row groups so the scan has several splits;
* ``held.parquet``: rows ``docs..docs+held-1``, url-disjoint from the base;
* ``queries.json``: the serve query set, each query with the top-k that
  ``refimpl.oracle.OracleIndex`` gives on the base rows (and, for the
  post-append check, on base + held), as ``[url, score]`` pairs;
* ``meta.json``: oracle doc count and vocabulary size, input byte count.

The oracle lives only in this child, so the benchmark process's peak RSS
holds the engine's caches and nothing of the reference implementation.
"""
from __future__ import annotations

import argparse
import copy
import json
import os
import random
import sys

K = 10
FAMILIES = ("and", "or", "wildcard", "fuzzy", "exclude", "scope", "bool", "phrase")
PER_FAMILY = 3
INPUTS_VERSION = 3


def _words(vocab, rng, lo=0, hi=200):
    return vocab[rng.randrange(lo, min(hi, len(vocab)))]


def _fuzz(word: str, rng: random.Random) -> str:
    i = rng.randrange(len(word))
    c = "xq"[rng.randrange(2)] if word[i] not in "xq" else "z"
    return word[:i] + c + word[i + 1:] + "~1"


def make_queries(seed: int, oracle) -> list[dict]:
    """PER_FAMILY distinct queries per family, all drawn from ``seed``.
    Each entry: {"family", "kind": search|bool|phrase, "args": {...}}."""
    from textindex_spark.corpus import HOT_TERMS, N_SITES, make_vocab, site_topic_word
    from textindex_spark.refimpl.txt_tokenize import term_positions

    vocab = make_vocab(seed)
    rng = random.Random(seed * 1_000_003 + 17)
    hot = lambda: rng.choice(HOT_TERMS)  # noqa: E731
    topic = lambda: site_topic_word(rng.randrange(N_SITES))  # noqa: E731
    out: list[dict] = []

    def search(family, **args):
        out.append({"family": family, "kind": "search", "args": args})

    for j in range(PER_FAMILY):
        a, b = rng.sample(HOT_TERMS, 2)
        search("and", patterns=[a, _words(vocab, rng)] if j % 2 else [topic(), a])
        search(
            "or",
            patterns=[a, _words(vocab, rng), _words(vocab, rng)],
            mode="or", prune=bool(j % 2),
        )
        search("wildcard", patterns=[_words(vocab, rng)[:3] + "*"])
        search("fuzzy", patterns=[_fuzz(_words(vocab, rng), rng), hot()], mode="or")
        search("exclude", patterns=[a, b], mode="or", exclude=[_words(vocab, rng, 0, 50)])
        scope = (
            f"lang:{rng.choice(['de', 'en', 'fr'])}" if j % 2
            else f"site:site{rng.randrange(N_SITES)}.example"
        )
        search("scope", patterns=[a, _words(vocab, rng)], mode="or", scope=scope)
        out.append({
            "family": "bool", "kind": "bool",
            "args": {"query": f"{a} AND ({_words(vocab, rng)} OR {topic()}) AND NOT {b}"},
        })
    # phrases: two adjacent indexed tokens of a random indexed doc
    docs = sorted(oracle.docs)
    while sum(q["family"] == "phrase" for q in out) < PER_FAMILY:
        pos, _ = term_positions(oracle.docs[docs[rng.randrange(len(docs))]]["text"])
        by_pos = {p: t for t, ps in pos.items() for p in ps}
        starts = [p for p in sorted(by_pos) if p + 1 in by_pos]
        if starts:
            p = starts[rng.randrange(len(starts))]
            out.append({
                "family": "phrase", "kind": "phrase",
                "args": {"words": [by_pos[p], by_pos[p + 1]]},
            })
    order = {f: i for i, f in enumerate(FAMILIES)}
    return sorted(out, key=lambda q: order[q["family"]])


def bool_topk(oracle, query: str, k: int = K) -> list[tuple[int, float]]:
    """Brute-force boolean evaluation: a doc matches when the tree is
    true over its per-leaf membership; its score is the BM25 sum over
    the distinct vocabulary of leaves under an even number of NOTs."""
    from textindex_spark.boolquery import parse_bool

    ast, patterns = parse_bool(query)
    expansions = [oracle.expand(p) for p in patterns]

    def ev(node, truth):
        if node[0] == "leaf":
            return truth[node[1]]
        if node[0] == "not":
            return not ev(node[1], truth)
        vals = [ev(c, truth) for c in node[1]]
        return all(vals) if node[0] == "and" else any(vals)

    def positive(node, neg=False):
        if node[0] == "leaf":
            return set() if neg else {node[1]}
        if node[0] == "not":
            return positive(node[1], not neg)
        return set().union(*(positive(c, neg) for c in node[1]))

    vocab = sorted({v for i in positive(ast) for v in expansions[i]})
    cand = {d for exp in expansions for v in exp for d in oracle.postings[v]}
    scored = []
    for d in sorted(cand):
        truth = [any(d in oracle.postings[v] for v in exp) for exp in expansions]
        if ev(ast, truth):
            s = sum(
                oracle.weight(v, d, oracle.postings[v][d])
                for v in vocab if d in oracle.postings[v]
            )
            scored.append((d, s))
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k]


def oracle_topk(oracle, q: dict) -> list[list]:
    """The oracle's top-k for one query, as [url, score] pairs."""
    a = q["args"]
    if q["kind"] == "bool":
        hits = bool_topk(oracle, a["query"])
    elif q["kind"] == "phrase":
        # the oracle re-tokenizes every doc it holds: hand it a view
        # holding only the docs that contain every phrase word (the
        # words are index terms already, so no normalization is lost)
        view = copy.copy(oracle)
        cand = set.intersection(*(set(oracle.postings.get(w, ())) for w in a["words"]))
        view.docs = {d: oracle.docs[d] for d in cand}
        hits = view.search_phrase(a["words"], K)
    else:
        hits = oracle.search(
            a["patterns"], K, mode=a.get("mode", "and"),
            exclude=a.get("exclude"), scope=a.get("scope"),
        )
    return [[oracle.docs[d]["url"], s] for d, s in hits]


def _write_parquet(rows: list[dict], path: str, row_groups: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = sorted(rows, key=lambda r: r["url"])
    table = pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array(
            [r["warc_ts"].replace(tzinfo=None) for r in rows], pa.timestamp("us")
        ),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })
    pq.write_table(table, path, row_group_size=max(1, -(-len(rows) // row_groups)))


def _with_url_rank_ids(rows: list[dict], base: int) -> list[dict]:
    """Oracle doc ids in url order, the order the engine mints them in."""
    return [
        dict(r, doc_id=base + i)
        for i, r in enumerate(sorted(rows, key=lambda r: r["url"]))
    ]


def _merged(a, b):
    """One oracle over the docs of two (id-disjoint) oracles."""
    out = type(a)()
    out.docs = {**a.docs, **b.docs}
    for src in (a, b):
        for term, plist in src.postings.items():
            out.postings.setdefault(term, {}).update(plist)
    out.n_docs = len(out.docs)
    out.avgdl = sum(d["doc_len"] for d in out.docs.values()) / out.n_docs
    return out


def materialize(docs: int, held: int, seed: int, out: str) -> None:
    from textindex_spark.corpus import synth_corpus
    from textindex_spark.refimpl.oracle import OracleIndex

    rows = synth_corpus(docs + held, seed=seed)
    base, extra = rows[:docs], rows[docs:]
    os.makedirs(out, exist_ok=True)
    _write_parquet(base, os.path.join(out, "base.parquet"), row_groups=8)
    _write_parquet(extra, os.path.join(out, "held.parquet"), row_groups=2)
    base_ids = _with_url_rank_ids(base, 0)
    oracle = OracleIndex.build(base_ids)
    queries = make_queries(seed, oracle)
    for q in queries:
        q["expected"] = oracle_topk(oracle, q)
    after = _merged(oracle, OracleIndex.build(_with_url_rank_ids(extra, docs)))
    for q in queries:
        # the first query of each family is re-checked after an append
        if q is next(x for x in queries if x["family"] == q["family"]):
            q["expected_after_append"] = oracle_topk(after, q)
    meta = {
        "version": INPUTS_VERSION,
        "docs": docs,
        "held": held,
        "seed": seed,
        "oracle_n_docs": oracle.n_docs,
        "oracle_vocab_size": len(oracle.postings),
        "input_bytes": sum(
            len(r["html"] or b"") + len((r["text"] or "").encode("utf-8"))
            for r in base
        ),
    }
    with open(os.path.join(out, "queries.json"), "w") as f:
        json.dump(queries, f)
    # written last: its presence marks a complete input set
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--held", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--root", required=True, help="repository root")
    args = ap.parse_args()
    sys.path.insert(0, args.root)
    materialize(args.docs, args.held, args.seed, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
