"""The array expansion core (`query._Dictionary`, `query._match`,
`query._Expansion`) against brute force over the same vocabulary:
exact terms by equality, globs by ``wildcard_to_regex`` full match,
regexes by ``re.fullmatch`` and fuzzy terms by ``fuzzy_distance``.
Pure numpy, no Spark session.
"""
from __future__ import annotations

import random
import re

import numpy as np
import pytest

from textindex_spark import query as Q
from textindex_spark.refimpl.oracle import wildcard_to_regex

ALPHABET = "abcdeéß日"


def _vocab(rng: random.Random) -> list[str]:
    words = {"".join(rng.choices(ALPHABET, k=rng.randint(1, 7))) for _ in range(400)}
    # terms that are prefixes of other terms, down to one char
    words |= {w[:i] for w in list(words)[:60] for i in range(1, len(w))}
    return sorted(words)


def _brute(vocab: list[str], p: str) -> list[str]:
    rx = Q._parse_regex(p)
    fz = None if rx is not None else Q._parse_fuzzy(p)
    if rx is not None:
        return [t for t in vocab if re.fullmatch(rx, t)]
    if fz is not None:
        base, d = fz
        return [t for t in vocab if Q.fuzzy_distance(base, t, d) <= d]
    if Q._is_wildcard(p):
        glob = wildcard_to_regex(p)
        return [t for t in vocab if glob.fullmatch(t)]
    return [t for t in vocab if t == p]


def _patterns(rng: random.Random, vocab: list[str]) -> list[str]:
    def word() -> str:
        return rng.choice(vocab)

    def absent() -> str:
        return word() + "zq"

    def prefix() -> str:
        w = word()
        return w[: rng.randint(1, len(w))] + "*"

    def infix() -> str:
        w = word()
        i = rng.randint(0, len(w))
        return w[:i] + "*" + w[i:][-1:] if rng.random() < 0.5 else "*" + w[-2:] + "*"

    def one_char() -> str:
        w = word()
        i = rng.randrange(len(w))
        return w[:i] + "?" + w[i + 1:]

    def regex() -> str:
        a, b = rng.sample(ALPHABET, 2)
        return rng.choice([f"/{a}.*{b}/", f"/({a}|{b})+/", f"/.{a}?[{b}c]*/"])

    def fuzzy() -> str:
        return f"{word()}~{rng.choice([1, 2])}"

    kinds = [word, absent, prefix, infix, one_char, regex, fuzzy]
    pats = [rng.choice(kinds)() for _ in range(rng.randint(1, 6))]
    return pats + pats[:1]  # a duplicate pattern expands twice


@pytest.mark.parametrize("seed", range(40))
def test_expansion_matches_brute_force(seed):
    rng = random.Random(seed)
    vocab = _vocab(rng)
    # the dictionary sorts its input: load it shuffled
    shuffled = vocab[:]
    rng.shuffle(shuffled)
    dfs = {t: rng.randint(1, 99) for t in vocab}
    dic = Q._Dictionary.of(shuffled, [dfs[t] for t in shuffled], [0.5] * len(vocab))
    assert dic.terms.tolist() == vocab
    assert dic.lens.tolist() == [len(t) for t in vocab]
    pats = _patterns(rng, vocab)
    got = Q._Expansion.of([(dic, Q._match(dic, p)) for p in pats])
    want = [(i, t) for i, p in enumerate(pats) for t in _brute(vocab, p)]
    assert list(zip(got.pattern_idx.tolist(), got.term.tolist())) == want, pats
    assert got.df.tolist() == [dfs[t] for _, t in want]
    assert got.covered() == sum(1 << i for i in {i for i, _ in want})


def test_prefix_range_edges():
    terms = np.array(sorted(["a", "ab", "abc", "abd", "b", "\U0010ffff", "\U0010ffffa"]), dtype=object)
    assert Q._prefix_range(terms, "ab") == (1, 4)
    assert Q._prefix_range(terms, "") == (0, len(terms))
    assert Q._prefix_range(terms, "zz") == (5, 5)
    assert Q._prefix_range(terms, "\U0010ffff") == (5, 7)
    empty = Q._Dictionary.of([], [], [])
    for p in ["x", "x*", "*", "/x/", "xy~1"]:
        assert Q._match(empty, p).tolist() == []
