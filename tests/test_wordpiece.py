"""Wordpiece vocabulary builder tests (reference
wordpiece-builder.cc:37-185 BPE induction)."""

from __future__ import annotations

from sling_spark.functions.wordpiece import (
    build_wordpiece_vocab,
    distributed_merge_rounds,
    word_frequencies,
)


def test_builder_reference_semantics_hand_checked():
    """'abab' x3: unigrams a(lead)=3, a(trail)=3, b(trail)=6; the three
    bigrams all have freq 3 → tie broken lexicographically ('ab' < 'ba')
    then leading-before-trailing → first merge is leading 'ab'; after
    the merge the neighbor adjustment kills (b,a) and creates (ab,a)=3,
    so the next tie {trailing 'ab'=3, leading 'aba'=3} goes to the
    LONGER text (the reference code's comparison — its comment says
    shorter, the code prefers longer)."""
    vocab = build_wordpiece_vocab([("abab", 3)], max_size=8)
    pieces = [p for p, _f in vocab]
    assert pieces[0] == "[UNK]"
    assert pieces[1:4] == ["a", "##b", "##a"]  # encounter order
    assert pieces[4] == "ab"        # leading merge wins the 3-way tie
    assert pieces[5] == "aba"       # longer beats trailing '##ab'
    freqs = dict(vocab)
    assert freqs["##b"] == 6 and freqs["a"] == 3 and freqs["ab"] == 3


def test_builder_structural_twins_kept_separate():
    """Two merge paths rendering the same text stay separate symbols
    with separate counts (reference symbols are distinct heap objects):
    here leading 'ab' and trailing '##ab' coexist."""
    vocab = build_wordpiece_vocab([("abab", 3), ("ab", 2)], max_size=10)
    pieces = [p for p, _f in vocab]
    assert "ab" in pieces and "##ab" in pieces


def test_max_size_caps_output():
    vocab = build_wordpiece_vocab([("abcdef", 5)], max_size=7)
    assert len(vocab) == 7  # [UNK] + 6 unigrams, no room for merges


def test_distributed_rounds_match_inmemory(spark):
    """The DataFrame-iterative induction must select the SAME merges in
    the SAME order as the in-memory reference-exact builder."""
    words = [
        ("spark", 30), ("sparse", 12), ("parser", 18), ("parquet", 9),
        ("shuffle", 21), ("shard", 14), ("share", 7), ("spar", 4),
    ]
    full = build_wordpiece_vocab(words, max_size=1000)
    n_unigrams = len({(ch, i > 0) for w, _ in words for i, ch in enumerate(w)})
    expected_merges = full[1 + n_unigrams:]

    wf = spark.createDataFrame(words, "word string, freq long")
    got = distributed_merge_rounds(wf, n_merges=6, checkpoint_every=3)
    assert got == expected_merges[:6]


def test_distributed_rounds_stop_at_exhaustion(spark):
    """At merge exhaustion the paths diverge BY DESIGN: the in-memory
    builder (like the reference, which has no freq>0 guard) emits stale
    zero-frequency bigrams, while the distributed path — whose pair
    counts are recomputed from current encodings — stops at the last
    real merge. The agreement contract is: identical up to exhaustion."""
    full = build_wordpiece_vocab([("abc", 1)], max_size=100)
    # reference behavior: the tail piece is the merged-away (##b,##c)
    # bigram at frequency zero
    assert full[-1] == ("##bc", 0)
    wf = spark.createDataFrame([("abc", 1)], "word string, freq long")
    got = distributed_merge_rounds(wf, n_merges=10, checkpoint_every=4)
    real_merges = [p for p in full[4:] if p[1] > 0]  # [UNK] + 3 unigrams
    assert got == real_merges == [("ab", 1), ("abc", 1)]


def test_induced_vocab_round_trips_the_corpus(spark):
    """The induced lexicon feeds the SubwordTokenizer with FULL
    coverage: every corpus word re-tokenizes without OOV and the
    marker-stripped pieces rejoin to the word."""
    from sling_spark.functions.subword import SubwordTokenizer
    from sling_spark.kg.documents import build_documents
    from sling_spark.sources.corpus import corpus_df

    docs = build_documents(corpus_df(spark, 10, partitions=2))
    wf = sorted((r["word"], r["freq"]) for r in word_frequencies(docs).collect())
    vocab = [p for p, _f in build_wordpiece_vocab(wf, max_size=200)]
    tok = SubwordTokenizer(vocab, split_on_punctuation=False)
    for word, _freq in wf:
        num, ids = tok.tokenize(word)
        assert num != -1, f"OOV on corpus word {word!r}"
        rejoined = "".join(vocab[i].removeprefix("##") for i in ids)
        assert rejoined == word


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(codec="utf-8", categories=("L", "N")),
                min_size=1, max_size=10,
            ),
            st.integers(1, 50),
        ),
        min_size=1, max_size=20,
    ),
    st.integers(5, 300),
)
def test_builder_fuzz_roundtrip(words, max_size):
    """Any vocabulary, any size cap: the builder terminates, respects
    max_size, keeps [UNK] first, and — whenever the cap admits all
    unigrams — the induced lexicon re-tokenizes every input word with
    full coverage and marker-stripped pieces rejoin to the word."""
    from sling_spark.functions.subword import SubwordTokenizer

    freqs = {}
    for w, f in words:
        freqs[w] = freqs.get(w, 0) + f
    vocab = build_wordpiece_vocab(sorted(freqs.items()), max_size=max_size)
    pieces = [p for p, _f in vocab]
    assert pieces[0] == "[UNK]"
    assert len(vocab) <= max(
        max_size, 1 + len({(c, i > 0) for w in freqs for i, c in enumerate(w)})
    )
    n_unigrams = len({(c, i > 0) for w in freqs for i, c in enumerate(w)})
    if 1 + n_unigrams <= max_size:
        tok = SubwordTokenizer(pieces, split_on_punctuation=False)
        for w in freqs:
            num, ids = tok.tokenize(w)
            assert num != -1
            assert "".join(pieces[i].removeprefix("##") for i in ids) == w


def test_distributed_rounds_handle_hash_characters(spark):
    """Words containing literal '#' must not collide with any internal
    trailing-piece marker (review regression: the id encoding carries
    an explicit role byte)."""
    words = [("#tag", 9), ("tag", 6), ("##x", 4)]
    full = build_wordpiece_vocab(words, max_size=1000)
    n_unigrams = len({(ch, i > 0) for w, _ in words for i, ch in enumerate(w)})
    expected = full[1 + n_unigrams:]
    wf = spark.createDataFrame(words, "word string, freq long")
    got = distributed_merge_rounds(wf, n_merges=3, checkpoint_every=2)
    assert got == expected[:3]
