"""Property-based fuzzing of the offset tokenizer and the dictionary
matcher: the regex fast path against the per-character loop, the matcher
against a plain word-by-word scan, and (when the reference checkout is
present) the tokenizer against the reference implementation (SURVEY.md
§5 pyramid (a): "compare on random unicode strings")."""

from __future__ import annotations

import importlib.util
import os

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from ner_linking_demo_spark.functions.matcher import DictionaryMatcher
from ner_linking_demo_spark.functions.tokenization import (
    _words_loop,
    split_words,
    uncase,
    words_with_offsets,
)

REF_PREPROCESS = "/root/reference/server/ner/src/utils/ner/pre_process.py"

# characters at the edges of the fast path: DROP class (NUL, controls,
# U+FFFD, format chars, private use, unassigned), astral WORD and CJK,
# line/paragraph separators (WORD, not space), Zs spaces, and casefold
# edge cases (ß, dotted capital I, final sigma, the Kelvin sign, the
# combining ypogegrammeni)
EDGE_CHARS = (
    "\x00\x01\x1f\x7f\x85\ufffd\u200b\u00ad\u0378\ue000"
    "\U0001f600\U00020000\U0001d400"
    "\u2028\u2029\u00a0\u3000\u2009\t\n\r "
    "\u00df\u1e9e\u0130\u0131\u03a3\u03c3\u03c2\u212a\u0345\u01c5"
    ".,;:-_\u00ab\u00bb\u00bf\u00a1()\u6f22\u5b57"
)

full_text = st.text(
    alphabet=st.one_of(
        # full unicode incl. control chars, CJK, combining marks, spaces
        st.characters(codec="utf-8"),
        st.sampled_from(EDGE_CHARS),
    ),
    max_size=300,
)
# text the fast path covers: BMP only, no DROP-class character
fast_text = st.text(
    alphabet=st.characters(
        max_codepoint=0xFFFF,
        exclude_categories=("Cc", "Cf", "Cs", "Co", "Cn"),
        exclude_characters="\ufffd",
    ),
    max_size=300,
)


@settings(max_examples=400, deadline=None)
@given(
    text=st.one_of(full_text, fast_text),
    cased=st.booleans(),
    start_i=st.integers(0, 50),
)
def test_words_with_offsets_matches_per_character_loop(text, cased, start_i):
    loop = _words_loop(text if cased else uncase(text), start_i)
    assert words_with_offsets(text, start_i=start_i, cased=cased) == loop


@settings(max_examples=200, deadline=None)
@given(text=fast_text, start_i=st.integers(0, 50))
def test_fast_path_covers_bmp_text_without_drop_chars(text, start_i):
    parts = split_words(text)
    assert parts is not None and "".join(parts) == text
    assert words_with_offsets(text, start_i=start_i) == _words_loop(text, start_i)


@settings(max_examples=200, deadline=None)
@given(text=full_text)
def test_offsets_are_sorted_and_disjoint_per_word(text):
    words = words_with_offsets(text)
    prev_end = -1
    for w, s, e in words:
        assert s < e
        assert s >= prev_end or len(w) == 1  # punct may touch prev word
        assert e <= len(text)
        prev_end = max(prev_end, s)


# -- matcher ---------------------------------------------------------------
# terms whose casefolded tokens collide across spellings: ß/SS/ẞ,
# İ (folds to i + combining dot) vs i, final/medial sigma, Kelvin sign;
# U+2028 is a WORD character, so "fiebre\u2028alta" is one token
TERMS = [
    "straße", "STRASSE", "GroẞE", "İstanbul", "istanbul", "ıi",
    "ΣΟΦΟΣ", "σοφος", "σοφοσ", "\u212aelvin", "kelvin scale",
    "dolor de cabeza", "dolor", "de cabeza", "cabeza", "a-b", "b",
    "x y z", "x y", "y z",
    "漢字", "fiebre alta", "fiebre\u2028alta",
]
SEPARATORS = [
    " ", "  ", "\n", "\u00a0", "\u3000", ", ", ".", "-", "", "\x00", "\U0001f600",
]


def _plain_scan(terms_by_label, text):
    """Word-by-word longest-match scan over the per-character tokenizer:
    the matching rule of functions/matcher.py with no gating."""
    words = _words_loop(text, 0)
    lowered = [w.casefold() for w, _, _ in words]
    out = []
    for label in sorted(terms_by_label):
        keys = {
            tuple(w.casefold() for w, _, _ in _words_loop(t, 0))
            for t in terms_by_label[label]
        } - {()}
        max_n = max(map(len, keys), default=0)
        i = 0
        while i < len(words):
            for n in range(min(max_n, len(words) - i), 0, -1):
                if tuple(lowered[i : i + n]) in keys:
                    s, e = words[i][1], words[i + n - 1][2]
                    out.append((label, s, e, text[s:e]))
                    i += n
                    break
            else:
                i += 1
    out.sort(key=lambda m: (m[1], m[2], m[0]))
    return out


@settings(max_examples=300, deadline=None)
@given(
    disease=st.lists(st.sampled_from(TERMS), max_size=6),
    procedure=st.lists(st.sampled_from(TERMS), max_size=6),
    pieces=st.lists(
        st.tuples(
            st.one_of(st.sampled_from(TERMS), st.text(max_size=6)),
            st.sampled_from(SEPARATORS),
            st.sampled_from(["upper", "lower", "casefold", "keep"]),
        ),
        max_size=25,
    ),
)
# a longer match hides the shorter terms inside it (non-overlap per label)
@example(
    disease=["dolor de cabeza", "cabeza"],
    procedure=["de cabeza"],
    pieces=[("DOLOR DE CABEZA", " ", "keep")],
)
def test_find_mentions_matches_plain_scan(disease, procedure, pieces):
    text = "".join(
        (w if case == "keep" else getattr(w, case)()) + sep
        for w, sep, case in pieces
    )
    terms = {"disease": disease, "procedure": procedure}
    assert DictionaryMatcher(terms).find_mentions(text) == _plain_scan(
        terms, text
    )


# -- reference parity ------------------------------------------------------
@pytest.fixture(scope="module")
def ref_word_start_end():
    if not os.path.exists(REF_PREPROCESS):
        pytest.skip("reference checkout not available")
    spec = importlib.util.spec_from_file_location("ref_pre_hyp", REF_PREPROCESS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.word_start_end


@settings(max_examples=300, deadline=None)
@given(text=full_text, cased=st.booleans(), start_i=st.integers(0, 50))
def test_tokenizer_matches_reference(ref_word_start_end, text, cased, start_i):
    ours = words_with_offsets(text, start_i=start_i, cased=cased)
    ref_words, ref_offsets = ref_word_start_end(
        text, start_i=start_i, cased=cased
    )
    assert [w for w, _, _ in ours] == ref_words
    assert [(s, e) for _, s, e in ours] == ref_offsets
