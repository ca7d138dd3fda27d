"""BPE tokenizer training (operators/bpe.py) vs a pure-Python classic
implementation (Sennrich et al. reference algorithm: counter over
adjacent pairs, arg-max with (count, x, y) tie-break, re.sub-style
greedy leftmost non-overlapping merge)."""

from __future__ import annotations

from collections import Counter

import pytest

from flinkecuserbehavioranalysis_spark.operators.bpe import (
    bpe_train_curve,
    word_frequencies,
)


def _classic_bpe(word_freqs: dict[str, int], rounds: int):
    """Reference implementation: dict of symbol tuples, driver loops."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for r in range(1, rounds + 1):
        pairs: Counter = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        # arg-max, tie-break (count DESC, x ASC, y ASC)
        (x, y), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, x, y, cnt))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges, vocab


def _train_dict(spark, word_freqs: dict[str, int], rounds: int):
    words = spark.createDataFrame(
        list(word_freqs.items()), "word string, freq long"
    )
    merges, final, _ = bpe_train_curve(words, rounds, track_curve=False)
    segs = {r["word"]: tuple(r["s"]) for r in final.collect()}
    return merges, segs


CORPORA = [
    # classic low/lower/newest/widest example
    {"low": 5, "lower": 2, "newest": 6, "widest": 3},
    # x == y overlap: "aaaa" must merge to (aa, aa), "aaa" to (aa, a)
    {"aaaa": 3, "aaa": 2, "ab": 1},
    # tie-break determinism: all pairs count 1 -> lexicographic winner
    {"ab": 1, "cd": 1, "ef": 1},
    # unicode, multi-byte codepoints
    {"héllo": 2, "héro": 3, "日本語": 4, "日本": 1},
]


@pytest.mark.soak
@pytest.mark.parametrize("word_freqs", CORPORA)
def test_bpe_matches_classic(spark, word_freqs):
    rounds = 5
    exp_merges, exp_vocab = _classic_bpe(word_freqs, rounds)
    got_merges, got_segs = _train_dict(spark, word_freqs, rounds)
    assert got_merges == exp_merges
    # reference vocab keys are segmentations; ours are per source word —
    # re-derive the expected per-word segmentation by replaying merges
    for w in word_freqs:
        exp = {tuple(w): 1}
        for _, x, y, _ in exp_merges:
            syms = next(iter(exp))
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            exp = {tuple(out): 1}
        assert got_segs[w] == next(iter(exp)), w


def test_bpe_early_stop_when_exhausted(spark):
    # single-char words: zero adjacent pairs -> no merges, arrays intact
    merges, segs = _train_dict(spark, {"a": 4, "b": 2}, rounds=3)
    assert merges == []
    assert segs == {"a": ("a",), "b": ("b",)}
    # two-char vocab exhausts after 1 round despite rounds=4
    merges, segs = _train_dict(spark, {"ab": 7}, rounds=4)
    assert merges == [(1, "a", "b", 7)]
    assert segs == {"ab": ("ab",)}


def test_word_frequencies_skips_null_and_empty(spark):
    docs = spark.createDataFrame(
        [("a b  a",), (None,), ("",), ("b",)], "text string"
    )
    got = {r["word"]: r["freq"] for r in word_frequencies(docs).collect()}
    assert got == {"a": 2, "b": 2}


def test_apply_merges_reproduces_training_segmentation(spark):
    """ENCODE consistency: replaying the learned merge list in rank
    order over the raw vocabulary must reproduce the training fold's
    final symbol arrays exactly."""
    from flinkecuserbehavioranalysis_spark.io import load_table
    from flinkecuserbehavioranalysis_spark.operators.bpe import apply_merges

    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    merges, final, _ = bpe_train_curve(word_frequencies(docs), 6, track_curve=False)
    trained = {r["word"]: r["s"] for r in final.collect()}
    encoded = {
        r["word"]: r["s"]
        for r in apply_merges(
            final.select("word"), [(x, y) for _, x, y, _ in merges]
        ).collect()
    }
    assert len(trained) > 0 and encoded == trained


from hypothesis import given, settings, strategies as st  # noqa: E402

# small alphabet forces pair collisions, repeated letters exercise the
# x == y overlap-run path; freq ties exercise the (count, x, y) tie-break
_WORD = st.text(alphabet="abc", min_size=1, max_size=5)


@given(
    st.dictionaries(_WORD, st.integers(min_value=1, max_value=5),
                    min_size=1, max_size=6),
    st.integers(min_value=1, max_value=4),
)
@pytest.mark.soak
@settings(max_examples=8, deadline=None)
def test_bpe_fuzz_matches_classic(spark, word_freqs, rounds):
    exp_merges, _ = _classic_bpe(word_freqs, rounds)
    got_merges, got_segs = _train_dict(spark, word_freqs, rounds)
    assert got_merges == exp_merges
    # independently: the encode path must agree with the training fold
    from flinkecuserbehavioranalysis_spark.operators.bpe import apply_merges

    words = spark.createDataFrame([(w,) for w in word_freqs], "word string")
    enc = {
        r["word"]: tuple(r["s"])
        for r in apply_merges(words, [(x, y) for _, x, y, _ in got_merges]).collect()
    }
    assert enc == got_segs


def test_bpe_training_curve_properties(spark):
    from flinkecuserbehavioranalysis_spark.operators.bpe import bpe_train_curve

    wf = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    words = spark.createDataFrame(list(wf.items()), "word string, freq long")
    merges, final, curve = bpe_train_curve(words, rounds=4)
    # round 0 = character tokenization
    assert curve[0] == (0, sum(len(w) * f for w, f in wf.items()))
    # every merge round removes exactly cnt tokens (one per merge made)
    for (r, _, _, cnt), (pr, pt), (cr, ct) in zip(merges, curve, curve[1:]):
        assert (cr, pr) == (r, r - 1) and pt - ct == cnt
    # exhaustion carries the last total forward to the requested length
    merges2, _, curve2 = bpe_train_curve(
        spark.createDataFrame([("ab", 7)], "word string, freq long"), rounds=4
    )
    assert len(merges2) == 1 and len(curve2) == 5
    assert [t for _, t in curve2] == [14, 7, 7, 7, 7]
