"""Engine kernels vs independent re-derivations (no Spark needed).

The winnow/BPE expected-parquet fixtures are generated from the
INDEPENDENT implementations (scripts/gen_expected.py); these tests
prove the engine kernels agree with them on every document of the
fixture corpora (sf0.001 + sf0.01) plus adversarial micro-cases, so
the driver's oracle check is no longer self-referential for these two
algorithmic kernels.
"""

import os

import pyarrow.parquet as pq
import pytest

from independent_kernels import (
    independent_build_vocab,
    independent_encode_word,
    independent_learn_merges,
    independent_winnow,
)

SF_DIRS = [d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01")
           if os.path.isdir(d)]


def _texts(sf_dir):
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    return [str(x or "") for x in t.column("text").to_pylist()]


# ---------------------------------------------------------------------------
# winnowing
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_winnow_engine_equals_independent_on_corpus(sf_dir):
    from operator_zoo.functions.text import _winnow

    for text in _texts(sf_dir):
        toks = text.split()
        assert _winnow(toks) == independent_winnow(toks), text[:80]


def test_winnow_micro_cases():
    from operator_zoo.functions.text import _winnow

    cases = [
        [],                                # empty
        ["a"],                             # shorter than k
        ["a", "b", "c", "d"],              # k-1 tokens
        ["a", "b", "c", "d", "e"],         # exactly one k-gram
        ["a"] * 8,                         # all-identical (dup minima)
        ["a", "b"] * 10,                   # periodic
        list("abcdefghijklmnop"),          # generic
        ["x", "y", "z"] * 5 + ["q"],       # periodic + tail
    ]
    for toks in cases:
        assert _winnow(toks) == independent_winnow(toks), toks


# ---------------------------------------------------------------------------
# BPE: learning, vocab, encoding
# ---------------------------------------------------------------------------


def _corpus_word_freq(sf_dir):
    from operator_zoo.functions.bpe import (
        MAX_TRAIN_WORDS,
        _PRETOKEN_RE,
    )

    wf: dict[str, int] = {}
    for text in _texts(sf_dir):
        for m in _PRETOKEN_RE.findall(text):
            if m.strip() != "":
                wf[m] = wf.get(m, 0) + 1
    return sorted(wf.items(), key=lambda kv: (-kv[1], kv[0]))[:MAX_TRAIN_WORDS]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_bpe_learning_and_encoding_equal_on_corpus(sf_dir):
    from operator_zoo.functions.bpe import (
        N_MERGES,
        _PRETOKEN_RE,
        build_vocab,
        encode_word,
        learn_merges_from_freqs,
    )

    top = _corpus_word_freq(sf_dir)
    merges_engine = learn_merges_from_freqs(top, N_MERGES)
    merges_indep = independent_learn_merges(top, N_MERGES)
    assert merges_engine == merges_indep

    assert build_vocab(top, merges_engine) == independent_build_vocab(
        top, merges_engine
    )

    ranks = {p: i for i, p in enumerate(merges_engine)}
    # every distinct pretoken in the corpus encodes identically
    seen = set()
    for text in _texts(sf_dir):
        for m in _PRETOKEN_RE.findall(text):
            if m.strip() == "" or m in seen:
                continue
            seen.add(m)
            assert encode_word(m, ranks) == independent_encode_word(m, ranks), m


def test_bpe_learning_micro_tie_breaks():
    from operator_zoo.functions.bpe import (
        encode_word,
        learn_merges_from_freqs,
    )

    cases = [
        [("aaaa", 3)],                       # overlapping pair occurrences
        [("abab", 2), ("ab", 5)],
        [("ab", 2), ("ba", 2), ("aa", 2)],   # count ties -> lexicographic
        [("hello", 4), ("help", 3), ("hell", 2)],
        [("xy", 1)],                         # all counts < 2 -> no merges
    ]
    for wf in cases:
        m_e = learn_merges_from_freqs(wf, 10)
        m_i = independent_learn_merges(wf, 10)
        assert m_e == m_i, wf
        ranks = {p: i for i, p in enumerate(m_e)}
        for w, _ in wf:
            assert encode_word(w, ranks) == independent_encode_word(w, ranks)
