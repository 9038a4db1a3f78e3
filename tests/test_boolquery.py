"""Boolean query trees (boolquery.py) vs a brute-force oracle over
the pure-Python reference index."""
import pytest

from textindex_spark.boolquery import (
    _eval_py,
    parse_bool,
    positive_leaves,
    search_bool,
)
from textindex_spark.build import build_index
from textindex_spark.corpus import synth_corpus
from textindex_spark.query import search
from textindex_spark.refimpl.oracle import OracleIndex

from tests.spark_fixtures import corpus_df, spark  # noqa: F401


@pytest.fixture(scope="module")
def rows():
    return synth_corpus(300)


@pytest.fixture(scope="module")
def oracle(rows):
    return OracleIndex.build(rows)


@pytest.fixture(scope="module")
def index_dir(spark, rows, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("boolidx"))
    build_index(spark, corpus_df(spark, rows), out, range_bits=6)
    return out


def oracle_bool(oracle, query, k=10):
    """Brute-force evaluation: truth per leaf per candidate doc,
    score = BM25 sum over the distinct positive-leaf vocabulary."""
    ast, patterns = parse_bool(query)
    expansions = [oracle.expand(p) for p in patterns]
    pos = positive_leaves(ast)
    pos_vocab = sorted({v for i in pos for v in expansions[i]})
    cand = set()
    for exp in expansions:
        for v in exp:
            cand.update(oracle.postings[v])
    out = []
    for d in sorted(cand):
        truth = [any(d in oracle.postings[v] for v in exp) for exp in expansions]
        if _eval_py(ast, truth):
            score = sum(
                oracle.weight(v, d, oracle.postings[v][d])
                for v in pos_vocab
                if d in oracle.postings[v]
            )
            out.append((d, score))
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:k]


def test_parse_shapes():
    ast, leaves = parse_bool("spark AND (vector OR merge) AND NOT qu*")
    assert leaves == ["spark", "vector", "merge", "qu*"]
    assert ast[0] == "and" and len(ast[1]) == 3
    assert positive_leaves(ast) == {0, 1, 2}
    # implicit AND between adjacent atoms
    ast2, leaves2 = parse_bool("spark merge")
    assert ast2[0] == "and" and leaves2 == ["spark", "merge"]
    # double negation restores positivity
    ast3, _ = parse_bool("NOT NOT spark")
    assert positive_leaves(ast3) == {0}
    # keywords are case-insensitive; parens bind
    ast4, leaves4 = parse_bool("a or (b and not c)")
    assert ast4[0] == "or" and leaves4 == ["a", "b", "c"]


@pytest.mark.parametrize(
    "bad",
    ["", "AND spark", "spark AND", "spark OR", "(spark", "spark)", "NOT", "a AND OR b"],
)
def test_parse_rejects_malformed(bad):
    with pytest.raises(ValueError):
        parse_bool(bad)


def test_pure_negation_rejected(spark, index_dir):
    for q in ("NOT spark", "spark OR NOT merge", "NOT (spark AND merge)"):
        with pytest.raises(ValueError, match="positive term"):
            search_bool(spark, index_dir, q)


QUERIES = [
    "spark AND (vector OR merge) AND NOT qu*",
    "spark AND vector",                       # flat AND
    "spark OR vector OR merge",               # flat OR
    "(spark OR vector) AND (merge OR table)",  # CNF
    "spark AND NOT (merge AND vector)",       # nested negation
    "qu* AND NOT quer*",                      # overlapping wildcards
    "spark AND (merge OR NOT vector)",        # mixed-polarity branch
    "spark AND zz_absent_term",               # unsatisfiable leaf
    "spark OR zz_absent_term",                # absent leaf in OR
    "NOT NOT spark",                          # double negation
    "querry~2 AND spark",                     # fuzzy positive leaf
    "spark AND NOT indx~2",                   # fuzzy under NOT
    "wimsor~1 OR topiqzurwi~1",               # two fuzzy expansions
    "/quer.*/ AND spark",                     # regex leaf (paren-free)
]


@pytest.mark.parametrize("q", QUERIES)
def test_search_bool_matches_bruteforce(spark, index_dir, oracle, q):
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in search_bool(spark, index_dir, q, k=10, with_urls=False).collect()
    ]
    exp = [(d, round(s, 9)) for d, s in oracle_bool(oracle, q, k=10)]
    assert got == exp, q


def test_flat_forms_agree_with_search(spark, index_dir):
    """search_bool on flat expressions reproduces query.search."""
    flat_and = [
        (r["doc_id"], round(r["score"], 9))
        for r in search(
            spark, index_dir, ["spark", "merge"], k=10, mode="and", with_urls=False
        ).collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in search_bool(
            spark, index_dir, "spark AND merge", k=10, with_urls=False
        ).collect()
    ]
    assert got == flat_and
    flat_not = [
        (r["doc_id"], round(r["score"], 9))
        for r in search(
            spark, index_dir, ["spark"], k=10, mode="and",
            exclude=["merge"], with_urls=False,
        ).collect()
    ]
    got_not = [
        (r["doc_id"], round(r["score"], 9))
        for r in search_bool(
            spark, index_dir, "spark AND NOT merge", k=10, with_urls=False
        ).collect()
    ]
    assert got_not == flat_not


def test_required_leaves():
    ast, _ = parse_bool("a AND (b OR c) AND NOT d")
    from textindex_spark.boolquery import required_leaves

    assert required_leaves(ast) == {0}
    ast2, _ = parse_bool("(a AND b) OR (a AND c)")  # 'a' is leaf 0 and 2
    assert required_leaves(ast2) == set()  # distinct leaf occurrences
    ast3, _ = parse_bool("a AND b AND (c OR d)")
    assert required_leaves(ast3) == {0, 1}
    ast4, _ = parse_bool("(a OR a) AND b")
    assert required_leaves(ast4) == {2}


@pytest.mark.parametrize(
    "q",
    [
        "spark AND merge AND (vector OR table)",
        "spark AND qu* AND NOT merge",
        "spark AND (vector OR merge) AND table",
    ],
)
def test_pre_intersection_is_exact(spark, index_dir, q):
    """Range pre-intersection on the certain conjuncts never changes
    the result (docs, scores, order)."""
    a = [
        (r["doc_id"], round(r["score"], 9))
        for r in search_bool(
            spark, index_dir, q, k=50, with_urls=False, pre_intersect=True
        ).collect()
    ]
    b = [
        (r["doc_id"], round(r["score"], 9))
        for r in search_bool(
            spark, index_dir, q, k=50, with_urls=False, pre_intersect=False
        ).collect()
    ]
    assert a == b, q


@pytest.mark.parametrize("q", QUERIES)
def test_distributed_path_matches_local(spark, index_dir, oracle, q):
    """Both execution paths are rank-identical to the brute force
    (the default path on this corpus is the local serving one; force
    the distributed plan explicitly)."""
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in search_bool(
            spark, index_dir, q, k=10, with_urls=False, local_score=False
        ).collect()
    ]
    exp = [(d, round(s, 9)) for d, s in oracle_bool(oracle, q, k=10)]
    assert got == exp, q


def test_scoped_bool_matches_bruteforce(spark, index_dir, oracle):
    """Metadata scope on boolean trees: filter-then-top-k, scores
    unchanged — both execution paths equal the brute force filtered
    by the oracle's metadata predicate."""
    q = "qu* AND (spark OR vector)"
    for scope in (
        "lang:de",
        "site:site3.example",
        # crawl-date window (corpus: 2025-01-01Z + 13 s * doc_id);
        # rides the same funnel + range_ts time pruning
        "ts:2025-01-01T00:05:00..2025-01-01T00:35:00",
    ):
        full = oracle_bool(oracle, q, k=10**9)
        want = [
            (d, round(s, 9)) for d, s in full if oracle.scope_ok(d, scope)
        ][:10]
        assert want != [(d, round(s, 9)) for d, s in full[:10]]  # scope bites
        for local in (None, False):
            got = [
                (r["doc_id"], round(r["score"], 9))
                for r in search_bool(
                    spark, index_dir, q, k=10, with_urls=False,
                    local_score=local, scope=scope,
                ).collect()
            ]
            assert got == want, (scope, local)


def test_ts_scoped_bool_decodes_only_allowed_ranges(
    spark, index_dir, oracle, monkeypatch
):
    """A ts-scoped boolean tree time-prunes like a flat query: on this
    time-ordered corpus (warc_ts monotone in doc_id, range_bits=6 —
    the shape test_ts_range_pruning uses) the serving path fetches and
    the distributed path decodes ONLY ranges the window can touch
    (`_ts_allowed_ranges`), and both stay equal to the brute force.
    The required leaf set here is {spark} alone, so no AND
    pre-intersection restricts the ranges: only the ts window can."""
    import textindex_spark.query as Qm

    q = "spark AND (index OR vector)"
    scope = "ts:2025-01-01T00:10:00..2025-01-01T00:20:00"
    allowed = set(Qm._ts_allowed_ranges(spark, index_dir, scope))
    n_ranges = spark.read.parquet(f"{index_dir}/range_ts").count()
    assert 0 < len(allowed) < n_ranges
    full = oracle_bool(oracle, q, k=10**9)
    want = [(d, round(s, 9)) for d, s in full if oracle.scope_ok(d, scope)][:10]
    assert want

    calls = []
    fetch, decode = Qm._fetch_blocks, Qm._decoded_postings

    def spy_fetch(*a, ranges=None, **kw):
        calls.append(("fetch", ranges))
        return fetch(*a, ranges=ranges, **kw)

    def spy_decode(*a, allowed_ranges=None, **kw):
        calls.append(("decode", allowed_ranges))
        return decode(*a, allowed_ranges=allowed_ranges, **kw)

    monkeypatch.setattr(Qm, "_fetch_blocks", spy_fetch)
    monkeypatch.setattr(Qm, "_decoded_postings", spy_decode)
    for local, kind in ((None, "fetch"), (False, "decode")):
        calls.clear()
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in search_bool(
                spark, index_dir, q, k=10, with_urls=False,
                local_score=local, scope=scope,
            ).collect()
        ]
        assert got == want, local
        seen = [r for c, r in calls if c == kind]
        assert seen, (kind, calls)
        for r in seen:
            assert r is not None and set(r) <= allowed, (kind, r, allowed)


def test_random_bool_tree_differential(spark, index_dir, oracle):
    """Seeded random boolean-tree fuzz: 25 generated ASTs (depth ≤ 3,
    AND/OR/NOT over term/glob/fuzzy leaves, guaranteed one positive
    anchor) must match the brute-force oracle on BOTH execution
    paths. The curated QUERIES list pins known shapes; this pins
    arbitrary nesting nobody curated."""
    import random

    rng = random.Random(20260820)
    vocab = sorted(oracle.postings)

    def leaf():
        t = rng.choice(vocab)
        r = rng.random()
        if r < 0.25 and len(t) > 3:
            return t[: rng.randint(2, len(t) - 1)] + "*"
        if r < 0.4 and len(t) > 3:
            i = rng.randrange(len(t))
            return f"{t[:i]}{rng.choice('abcdef')}{t[i + 1:]}~{rng.choice([1, 2])}"
        return t

    def expr(depth):
        if depth == 0 or rng.random() < 0.35:
            return leaf()
        op = rng.choice(["AND", "OR"])
        parts = [expr(depth - 1) for _ in range(rng.randint(2, 3))]
        if rng.random() < 0.3:
            i = rng.randrange(len(parts))
            parts[i] = f"NOT ({parts[i]})"
        return "(" + f" {op} ".join(parts) + ")"

    checked = nonempty = 0
    while checked < 25:
        q = f"{leaf()} AND {expr(2)}"  # anchored: never pure-negation
        try:
            want = [(d, round(s, 9)) for d, s in oracle_bool(oracle, q, k=10)]
        except ValueError:
            continue  # degenerate generation (shouldn't happen)
        checked += 1
        nonempty += bool(want)
        for local in (None, False):
            got = [
                (r["doc_id"], round(r["score"], 9))
                for r in search_bool(
                    spark, index_dir, q, k=10, with_urls=False,
                    local_score=local,
                ).collect()
            ]
            assert got == want, (q, local, got[:3], want[:3])
    assert nonempty >= 10  # the generator must produce real matches


def test_leaf_count_cap():
    q = " OR ".join(f"t{i}" for i in range(64))
    with pytest.raises(ValueError, match="63"):
        parse_bool(q)
    parse_bool(" OR ".join(f"t{i}" for i in range(63)))  # at the cap: fine


def test_search_bool_sharded_matches_single_index(spark, rows, tmp_path_factory):
    """Federated boolean trees: two shards with global stats are
    rank- and score-identical to search_bool on one union-corpus
    index, serving AND distributed paths, including formulas whose
    leaves expand in only one shard."""
    import math

    from textindex_spark.boolquery import search_bool_sharded
    from tests.spark_fixtures import corpus_df

    base = tmp_path_factory.mktemp("boolshards")
    d1, d2 = str(base / "s0"), str(base / "s1")
    build_index(spark, corpus_df(spark, rows[:160]), d1, range_bits=6)
    build_index(spark, corpus_df(spark, rows[160:]), d2, range_bits=6)
    single = tmp_path_factory.mktemp("boolunion")
    du = str(single / "u")
    build_index(spark, corpus_df(spark, rows), du, range_bits=6)
    queries = [
        "spark AND (vector OR merge) AND NOT qu*",
        "spark AND vector",
        "spark OR vector OR merge",
        "spark AND NOT (merge AND vector)",
        "qu* AND NOT quer*",
        "spark AND zanzibar*",  # unsatisfiable required leaf
    ]
    # scoped federation: a metadata scope, and a ts window spanning
    # the shard boundary (row 160 = 2025-01-01T00:34:40)
    scopes = [None, "lang:fr", "ts:2025-01-01T00:25:00..2025-01-01T00:45:00"]
    for q in queries:
        for scope in scopes:
            want = [
                (r["doc_id"], r["score"])
                for r in search_bool(
                    spark, du, q, k=10, with_urls=False, scope=scope
                ).collect()
            ]
            for local in (None, False):
                got = [
                    (r["doc_id"], r["score"])
                    for r in search_bool_sharded(
                        spark, [d1, d2], q, k=10, with_urls=False,
                        local_score=local, scope=scope,
                    ).collect()
                ]
                assert [d for d, _ in got] == [d for d, _ in want], (q, scope, local)
                for (gd, gs), (wd, ws) in zip(got, want):
                    assert math.isclose(gs, ws, rel_tol=1e-9), (q, scope, gd, local)
