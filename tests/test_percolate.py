"""Percolator (`textindex_spark/percolate.py`): standing-query
matching pinned against an independent per-document python
evaluation (reference tokenizer + inline formula recursion), error
contracts, and the streaming surface."""
from __future__ import annotations

import re

import pytest

from tests.spark_fixtures import corpus_df, spark  # noqa: F401
from textindex_spark import percolate as P
from textindex_spark.boolquery import parse_bool
from textindex_spark.refimpl.oracle import wildcard_to_regex
from textindex_spark.refimpl.txt_tokenize import term_frequencies

WORDS = ["spark", "vector", "merge", "archive", "table", "quarry",
         "hash", "fast"]
N_DOCS = 40

QUERIES = [
    ("alert_and", "spark AND merge"),
    ("alert_or", "vector OR quarry OR fast"),
    ("alert_wild", "qu* AND table"),
    ("alert_not", "archive AND NOT (spark OR vector)"),
    ("alert_fuzzy", "hast~1 AND merge"),
]


def _rows():
    rows = []
    for i in range(N_DOCS):
        text = " ".join(
            WORDS[(i * 3 + j * 5) % len(WORDS)] for j in range(2 + i % 5)
        )
        rows.append(
            {
                "doc_id": i,
                "url": f"http://s{i % 5}.example/p{i}.html",
                "warc_ts": None,
                "html": None,
                "text": text,
                "lang": "en",
            }
        )
    return rows


def _leaf_matches(pattern: str, terms: set[str]) -> bool:
    fz = re.fullmatch(r"(.+)~([0-9]?)\Z", pattern)
    if pattern.startswith("/") and pattern.endswith("/") and len(pattern) > 2:
        rx = re.compile(pattern[1:-1], re.DOTALL)
        return any(rx.fullmatch(t) for t in terms)
    if fz and "*" not in fz.group(1):
        base, d = fz.group(1), int(fz.group(2) or 1)

        def lev(a, b):
            if abs(len(a) - len(b)) > d:
                return d + 1
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a):
                cur = [i + 1]
                for j, cb in enumerate(b):
                    cur.append(min(prev[j + 1] + 1, cur[j] + 1,
                                   prev[j] + (ca != cb)))
                prev = cur
            return prev[-1]

        return any(lev(base, t) <= d for t in terms)
    if "*" in pattern or "?" in pattern:
        rx = wildcard_to_regex(pattern)
        return any(rx.fullmatch(t) for t in terms)
    return pattern in terms


def _eval(node, leaves, terms):
    if node[0] == "leaf":
        return _leaf_matches(leaves[node[1]], terms)
    if node[0] == "not":
        return not _eval(node[1], leaves, terms)
    vals = [_eval(c, leaves, terms) for c in node[1]]
    return all(vals) if node[0] == "and" else any(vals)


def _expected(rows, queries):
    out = set()
    for qid, expr in queries:
        ast, leaves = parse_bool(expr)
        for r in rows:
            terms = set(term_frequencies(r["text"])[0].keys())
            if _eval(ast, leaves, terms):
                out.add((qid, r["doc_id"]))
    return out


def test_percolate_matches_python_eval(spark):
    rows = _rows()
    got = P.percolate(spark, QUERIES, corpus_df(spark, rows)).collect()
    got_set = {(r["query_id"], r["doc_id"]) for r in got}
    assert len(got) == len(got_set)  # no duplicate pairs
    assert got_set == _expected(rows, QUERIES)
    # sanity: the set is non-trivial (some queries hit, none match all)
    by_q = {}
    for q, d in got_set:
        by_q.setdefault(q, set()).add(d)
    assert len(by_q) >= 3
    assert all(len(v) < N_DOCS for v in by_q.values())


def test_percolate_single_flight_persist(spark):
    """The tokenized-segments frame is persisted (the kernel runs once
    for the tokens explode AND the vocabulary probe) and released at
    the next call — exactly one registered frame at any time."""
    docs = corpus_df(spark, _rows()[:10])
    P.percolate(spark, QUERIES, docs).collect()
    assert len(P._perc_persists) == 1 and P._perc_persists[0].is_cached
    P.percolate(spark, QUERIES[:1], docs).collect()
    assert len(P._perc_persists) == 1


def test_percolate_with_urls(spark):
    rows = _rows()
    got = P.percolate(
        spark, QUERIES[:2], corpus_df(spark, rows), with_urls=True
    ).collect()
    for r in got:
        assert r["url"] == f"http://s{r['doc_id'] % 5}.example/p{r['doc_id']}.html"


def test_percolate_rejects_bad_queries(spark):
    docs = corpus_df(spark, _rows()[:3])
    with pytest.raises(ValueError, match="complement|none of its terms"):
        P.percolate(spark, [("q", "NOT spark")], docs)
    with pytest.raises(ValueError, match="complement|none of its terms"):
        P.percolate(spark, [("q", "spark OR NOT merge")], docs)
    with pytest.raises(ValueError, match="duplicate"):
        P.percolate(spark, [("q", "spark"), ("q", "merge")], docs)
    big = " AND ".join(WORDS * 3)  # 24 leaves > cap
    with pytest.raises(ValueError, match="leaves"):
        P.percolate(spark, [("q", big)], docs)
    with pytest.raises(ValueError, match="no queries"):
        P.percolate(spark, [], docs)


def test_stream_percolate_matches_batch(spark, tmp_path):
    rows = _rows()
    src = tmp_path / "incoming"
    src.mkdir()
    out = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")
    corpus_df(spark, rows[:25]).coalesce(1).write.parquet(str(src / "b1"))
    P.stream_percolate(spark, QUERIES, str(src / "*"), out, ckpt)
    got1 = {
        (r["query_id"], r["doc_id"])
        for r in spark.read.parquet(f"{out}/batch_*").collect()
    }
    assert got1 == _expected(rows[:25], QUERIES)
    # late arrivals: a second availableNow pass percolates ONLY the
    # new file; the union of batch outputs covers the whole corpus
    corpus_df(spark, rows[25:]).coalesce(1).write.parquet(str(src / "b2"))
    P.stream_percolate(spark, QUERIES, str(src / "*"), out, ckpt)
    got2 = {
        (r["query_id"], r["doc_id"])
        for r in spark.read.parquet(f"{out}/batch_*").collect()
    }
    assert got2 == _expected(rows, QUERIES)
    # replay with nothing new: no change (idempotent batch dirs)
    P.stream_percolate(spark, QUERIES, str(src / "*"), out, ckpt)
    got3 = {
        (r["query_id"], r["doc_id"])
        for r in spark.read.parquet(f"{out}/batch_*").collect()
    }
    assert got3 == got2


def test_sat_table_matches_independent_eval():
    """Property check (no Spark): for random boolean formulas, the
    driver-enumerated SAT table contains EXACTLY the leaf-truth masks
    an independent recursive evaluator accepts — the broadcast
    semi-join's correctness rests on this enumeration."""
    import random

    rng = random.Random(20260821)
    leaves_pool = ["alpha", "beta", "gamma", "delta", "eps"]

    def rand_expr(depth=0):
        r = rng.random()
        if depth >= 3 or r < 0.4:
            return rng.choice(leaves_pool)
        if r < 0.55:
            return f"NOT {rand_expr(depth + 1)}"
        op = rng.choice(["AND", "OR"])
        return f"({rand_expr(depth + 1)} {op} {rand_expr(depth + 1)})"

    def indep_eval(node, leaves, truth):
        # independent of boolquery._eval_py's implementation shape
        kind = node[0]
        if kind == "leaf":
            return truth[node[1]]
        if kind == "not":
            return not indep_eval(node[1], leaves, truth)
        vals = [indep_eval(c, leaves, truth) for c in node[1]]
        return all(vals) if kind == "and" else any(vals)

    n_checked = 0
    for _ in range(60):
        expr = rand_expr()
        ast, leaves = parse_bool(expr)
        n = len(leaves)
        if n > P.PERCOLATE_MAX_LEAVES:
            continue
        try:
            leaf_rows, sat_rows = P.compile_queries([("q", expr)])
        except ValueError:
            # all-false-satisfiable: the independent evaluator must
            # agree that the empty assignment satisfies it
            assert indep_eval(ast, leaves, [False] * n), expr
            continue
        sat = {m for _, m in sat_rows}
        for mask in range(1 << n):
            want = indep_eval(
                ast, leaves, [(mask >> i) & 1 == 1 for i in range(n)]
            )
            if mask == 0:
                assert not want, expr  # else compile would have raised
            else:
                assert (mask in sat) == want, (expr, mask)
        # leaf rows carry one distinct bit per leaf occurrence
        bits = [b for _, b, _ in leaf_rows]
        assert sorted(bits) == [1 << i for i in range(n)]
        n_checked += 1
    assert n_checked >= 30


def test_load_queries_tsv_contract(tmp_path):
    """percolate.load_queries (the query file of jobs/percolate.py and
    jobs/pipeline.py --percolate): comments/blank lines skipped,
    whitespace trimmed, tabs inside the expression preserved,
    missing-tab lines rejected with the line number."""
    from textindex_spark.percolate import load_queries

    p = tmp_path / "q.tsv"
    p.write_text(
        "# alerting rules\n"
        "\n"
        "a1\tspark AND merge\n"
        "  a2  \t qu* AND NOT spark \n"
        "a3\tx\tAND y\n",
        encoding="utf-8",
    )
    got = load_queries(str(p))
    assert got == [
        ("a1", "spark AND merge"),
        ("a2", "qu* AND NOT spark"),
        ("a3", "x\tAND y"),
    ]
    bad = tmp_path / "bad.tsv"
    bad.write_text("a1 spark AND merge\n", encoding="utf-8")
    with pytest.raises(SystemExit, match="bad.tsv:1"):
        load_queries(str(bad))
