"""Distributed BPE training (functions/bpe.py) against a pure-Python
reference implementation of Sennrich et al. 2016 — same greedy leftmost
non-overlapping merge application, same (count desc, a, b) tiebreak."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from onetable_spark.functions.bpe import (
    apply_merge,
    learn_merges,
    pair_stats,
    word_frequencies,
)


def _ref_bpe(corpus: list[str], n_merges: int) -> list[tuple[str, str]]:
    vocab = Counter()
    for line in corpus:
        for w in line.split(" "):
            if w:
                vocab[w] += 1
    syms = {w: list(w) for w in vocab}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, f in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += f
        if not pairs:
            break
        # (count desc, a, b) — identical tiebreak to the Spark path
        (a, b), _ = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((a, b))
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


CORPUS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "wider wider wider new new",
]


def test_learn_merges_matches_reference(spark):
    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    got = learn_merges(docs, n_merges=8)
    want = _ref_bpe(CORPUS, 8)
    assert got == want
    # sanity: 'ew' dominates (lower 2 + newest 8 + new 2 occurrences)
    assert len(got) == 8 and got[0] == ("e", "w")


def test_apply_merge_greedy_leftmost_nonoverlapping(spark):
    # 'aaa' under merge (a, a) -> [aa, a], never [a, aa] or [aa, aa]
    vocab = spark.createDataFrame([("aaa", 1)], "word string, freq long").withColumn(
        "syms", F.split("word", "")
    )
    out = apply_merge(vocab, "a", "a").first()["syms"]
    assert out == ["aa", "a"]


def test_encode_matches_sequential_merge_replay(spark):
    """Rank-priority encoding (encode_words) must equal replaying the
    learned merges in order — the classic BPE equivalence — and the
    tokens must reassemble the word exactly."""
    from onetable_spark.functions.bpe import encode_words

    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    merges = learn_merges(docs, n_merges=6)

    def replay(w: str) -> list[str]:
        syms = list(w)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    vocab = word_frequencies(docs)
    got = {r["word"]: r["tokens"] for r in encode_words(vocab, merges).collect()}
    for word, tokens in got.items():
        assert tokens == replay(word), word
        assert "".join(tokens) == word


def test_pair_stats_weighted_by_word_frequency(spark):
    docs = spark.createDataFrame([("ab ab ab cd",)], "text string")
    vocab = word_frequencies(docs).withColumn("syms", F.split("word", ""))
    stats = {(r["a"], r["b"]): r["cnt"] for r in pair_stats(vocab).collect()}
    assert stats == {("a", "b"): 3, ("c", "d"): 1}


# Batched learning (r10): one iteration applies a provably-safe PREFIX of
# the top pairs (see bpe._select_batch's exactness argument). These corpora
# are chosen to stress every guard: self-pairs ('aaaa'), merged-string
# collisions (words already containing the concatenation of a later merge),
# count ties (the strict-bound truncation), and heavy symbol sharing (the
# disjointness stop).
ADVERSARIAL_CORPORA = [
    ["aaaa aaa aa a", "aaaa aaaa", "aa aa aa"],                      # self-pair ladder
    ["ab ab ab", "xaby xaby", "a b a b", "abab abab abab"],          # 'ab' collision
    ["ab cd ab cd", "ef gh ef gh", "ij kl ij kl"],                   # all-tied counts
    CORPUS,                                                          # natural text
    ["the cat sat on the mat", "the bat and the rat", "that cat"],   # shared letters
    ["ee ee eee eeee", "ed ed de de", "deed deed exceed"],           # e-dominated ties
]


@pytest.mark.parametrize("corpus", ADVERSARIAL_CORPORA)
@pytest.mark.parametrize("top_n", [2, 64])
def test_batched_learning_exactly_matches_reference(spark, corpus, top_n):
    """Batched == per-merge Sennrich, merge for merge, at a batch budget
    that forces many tiny batches (2) and one that allows wide ones (64)."""
    docs = spark.createDataFrame([(t,) for t in corpus], "text string")
    stats: dict = {}
    got = learn_merges(docs, n_merges=30, batch_top_n=top_n, stats=stats)
    want = _ref_bpe(corpus, 30)
    assert got == want
    assert stats["merges"] == len(got)
    assert stats["iterations"] <= len(got) or not got


def test_batching_reduces_driver_roundtrips(spark):
    """The scaling fix itself: wide batches must learn the same merges in
    strictly fewer Spark iterations than one-per-merge."""
    docs = spark.createDataFrame([(t,) for t in CORPUS * 4], "text string")
    wide: dict = {}
    got = learn_merges(docs, n_merges=12, batch_top_n=64, stats=wide)
    assert got == _ref_bpe(CORPUS * 4, 12)
    assert wide["iterations"] < wide["merges"]  # actually batched


# property test: each hypothesis example spins Spark jobs — a dozen covers the shapes
WORD = st.text(alphabet="abc", min_size=0, max_size=12)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(WORD, min_size=1, max_size=8), st.sampled_from(["ab", "aa", "bc", "ca"]))
def test_apply_merge_fold_matches_reference(spark, words, pair):
    a, b = pair[0], pair[1]

    def ref(w: str) -> list[str]:
        syms, out, i = list(w), [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    vocab = spark.createDataFrame(
        [(w, 1) for w in words], "word string, freq long"
    ).withColumn("syms", F.split("word", ""))
    # split('', '') yields [''] for the empty word; the fold must pass it through
    got = {r["word"]: r["syms"] for r in apply_merge(vocab, a, b).collect()}
    for w in words:
        want = ref(w) if w else [""]
        assert got[w] == want, (w, pair)
