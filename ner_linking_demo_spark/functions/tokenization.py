"""Offset-preserving word tokenization (reference semantics F1).

Reimplements — from its observable behavior, not its code — the
whitespace/punctuation pre-tokenization of the reference
(`/root/reference/server/ner/src/utils/ner/pre_process.py:23-103`,
``word_start_end``), which itself follows BERT-style pre-tokenization:

- every punctuation character (ASCII punct ranges or Unicode category ``P*``)
  and every CJK ideograph is a standalone one-character word;
- whitespace (space/tab/CR/LF or Unicode ``Zs``) separates words and is
  never part of a word;
- NUL, U+FFFD and control characters (Unicode ``C*``) are *dropped from the
  word text but still advance the character offset* — so a word may span a
  control char and its ``text[start:end]`` slice then contains it;
- char offsets are Python code-point offsets into the (possibly
  NFD-uncased-transformed) input; ``end`` is exclusive.

This function is the single source of truth for offsets in the whole
engine: the NER stage, the dictionary-matcher surrogate model, and the
pandas oracle all import it, so offset fidelity (the byte-identical-text
invariant's sibling) is structural. It is pure Python by design: it runs
only *inside* Arrow-batched pandas UDFs at per-document granularity — the
same granularity at which the reference runs it — never per-row from the
driver.

Two implementations, one semantic: a text with no DROP-class and no
astral character (any script, any punctuation: nearly all web text) is
tokenized by one C-level ``re.split`` over character classes derived from
``_classify``; any other text takes the per-character loop
``_words_loop``, which the fast path is property-tested against.

Invariant (mirrors the reference's internal assert at
``pre_process.py:92-93``): the total number of word characters equals the
number of non-dropped, non-space characters consumed.
"""

from __future__ import annotations

import re
import unicodedata
from itertools import accumulate, groupby

_ASCII_PUNCT = frozenset(
    [c for c in range(33, 48)]
    + [c for c in range(58, 65)]
    + [c for c in range(91, 97)]
    + [c for c in range(123, 127)]
)

_CJK_RANGES = (
    (0x4E00, 0x9FFF),
    (0x3400, 0x4DBF),
    (0x20000, 0x2A6DF),
    (0x2A700, 0x2B73F),
    (0x2B740, 0x2B81F),
    (0x2B820, 0x2CEAF),
    (0xF900, 0xFAFF),
    (0x2F800, 0x2FA1F),
)

_SPACE_CHARS = frozenset(" \n\r\t")


def is_punctuation(ch: str) -> bool:
    return ord(ch) in _ASCII_PUNCT or unicodedata.category(ch).startswith("P")


def is_cjk(ch: str) -> bool:
    cp = ord(ch)
    return any(lo <= cp <= hi for lo, hi in _CJK_RANGES)


def is_space(ch: str) -> bool:
    return ch in _SPACE_CHARS or unicodedata.category(ch) == "Zs"


def is_control(ch: str) -> bool:
    return unicodedata.category(ch).startswith("C")


# Character classes: WORD / PUNCT / SPACE / DROP. ``_BMP_CLASS`` holds the
# class of every Basic Multilingual Plane code point, computed once from
# the predicates above (~0.1 s at import); astral code points are
# classified on demand and memoized in ``_ASTRAL_CACHE``.
_WORD, _PUNCT, _SPACE, _DROP = 0, 1, 2, 3


def _classify(ch: str) -> int:
    if is_punctuation(ch) or is_cjk(ch):
        return _PUNCT
    if is_space(ch):
        return _SPACE
    if ord(ch) == 0 or ord(ch) == 0xFFFD or is_control(ch):
        return _DROP
    return _WORD


_BMP_CLASS = bytes(_classify(chr(cp)) for cp in range(0x10000))
_ASTRAL_CACHE: dict[str, int] = {}


def _char_class(cls: int) -> str:
    """Regex character-class body (no brackets) matching exactly the BMP
    code points of class ``cls``."""
    ranges, lo = [], 0
    for c, run in groupby(_BMP_CLASS):
        hi = lo + sum(1 for _ in run) - 1
        if c == cls:
            ranges.append(f"\\u{lo:04x}-\\u{hi:04x}")
        lo = hi + 1
    return "".join(ranges)


# Fast path: in a text with no DROP-class and no astral character every
# character is WORD, PUNCT or SPACE, so tokenization is "runs of WORD
# characters, and every PUNCT character on its own" — one C-level
# ``re.split`` instead of the per-character loop. The capturing split
# returns ``[sep0, word0, sep1, word1, ..., sepN]``, and the words'
# offsets are the cumulative lengths of those parts. Any other text takes
# ``_words_loop``, which is also the reference the fast path is tested
# against (tests/test_tokenization_hypothesis.py).
_PUNCT_CLASS = _char_class(_PUNCT)
_SPACE_CLASS = _char_class(_SPACE)
_NEEDS_LOOP_RE = re.compile(
    f"[{_char_class(_DROP)}\\U00010000-\\U0010ffff]"
)
_WORD_SPLIT_RE = re.compile(
    f"([^{_PUNCT_CLASS}{_SPACE_CLASS}]+|[{_PUNCT_CLASS}])"
)


def split_words(text: str) -> list[str] | None:
    """``[sep0, word0, sep1, word1, ..., sepN]`` for a text the fast path
    covers (words at the odd indexes, the separators between them — runs
    of SPACE characters, possibly empty — at the even ones), or ``None``
    when ``text`` holds a DROP-class or astral character and must go
    through the per-character loop."""
    if _NEEDS_LOOP_RE.search(text) is not None:
        return None
    return _WORD_SPLIT_RE.split(text)


def uncase(text: str) -> str:
    """NFD-normalize, strip combining marks, lowercase (reference
    ``cased=False`` path, ``pre_process.py:74-77``). Note this changes
    string length, so offsets refer to the transformed text."""
    decomposed = unicodedata.normalize("NFD", text)
    stripped = "".join(
        ch for ch in decomposed if unicodedata.category(ch) != "Mn"
    )
    return stripped.lower()


def words_with_offsets(
    text: str, start_i: int = 0, cased: bool = True
) -> list[tuple[str, int, int]]:
    """Tokenize ``text`` into ``(word, start, end)`` triples.

    ``start``/``end`` are code-point offsets (end exclusive) relative to
    ``start_i``. Semantics match the reference ``word_start_end`` exactly
    (verified by tests/test_tokenization.py and the property tests in
    tests/test_tokenization_hypothesis.py). Texts without DROP-class or
    astral characters take the regex fast path (:func:`split_words`); the
    rest take the per-character loop.
    """
    if not cased:
        text = uncase(text)
    parts = split_words(text)
    if parts is None:
        return _words_loop(text, start_i)
    bounds = list(accumulate(map(len, parts), initial=start_i))
    return list(zip(parts[1::2], bounds[1::2], bounds[2::2]))


def _words_loop(text: str, start_i: int) -> list[tuple[str, int, int]]:
    """Per-character tokenizer: the semantics of :func:`words_with_offsets`
    for any text, DROP-class and astral characters included."""
    out: list[tuple[str, int, int]] = []
    buf: list[str] = []
    buf_start = -1
    buf_last = -1
    pos = start_i

    def flush() -> None:
        nonlocal buf, buf_start, buf_last
        if buf:
            out.append(("".join(buf), buf_start, buf_last + 1))
            buf = []
            buf_start = -1
            buf_last = -1

    bmp = _BMP_CLASS
    astral = _ASTRAL_CACHE
    for ch in text:
        cp = ord(ch)
        if cp < 0x10000:
            cls = bmp[cp]
        else:
            cls = astral.get(ch)
            if cls is None:
                cls = astral[ch] = _classify(ch)
        if cls == _WORD:
            if not buf:
                buf_start = pos
            buf.append(ch)
            buf_last = pos
        elif cls == _SPACE:
            flush()
        elif cls == _PUNCT:
            flush()
            out.append((ch, pos, pos + 1))
        # else _DROP: NUL / U+FFFD / control — offset still advances and
        # the current word is NOT broken.
        pos += 1
    flush()
    return out
