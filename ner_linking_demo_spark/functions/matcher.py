"""Deterministic surrogate NER: gazetteer dictionary matcher.

The reference's NER is a TF RoBERTa token classifier whose weights are
missing from the repo (`/root/reference/server/ner/models/model_checkpoints/
README.md:1`), so tests define NER against a deterministic surrogate
(SURVEY.md §2.9 note). This matcher reproduces everything *around* the
model exactly — the offset tokenization (functions/tokenization.py), the
continuous-span/char-offset output contract of the IOB decode
(`post_process.py:449-490`), and the ``span == text[start:end]`` slice
invariant (`post_process.py:887-894`) — replacing only the classifier with
longest-match dictionary lookup over the gazetteer surface forms.

Matching rule (deterministic, shared by engine and oracle):
- tokenize the document with ``words_with_offsets`` (cased=True, the demo
  path: `mentions_detection.py` uses cased models);
- a gazetteer term matches words[i:i+n] when the term's own token sequence
  equals the document's token sequence case-insensitively (casefold);
- longest match wins; scanning is left-to-right, non-overlapping *within*
  an entity type; entity types are matched independently (the reference
  runs one model per entity type: `mentions_detection.py:216-241`), so
  cross-type overlaps are allowed;
- emitted mention: (label, start=words[i].start, end=words[i+n-1].end,
  span=text[start:end]) — the span is sliced from the ORIGINAL text, so it
  may contain the original whitespace/control bytes between words.

The matcher state is a small dict built once from the gazetteer dimension
table and broadcast; matching runs inside Arrow-batched pandas UDFs at
per-document granularity. Per document, the tokenizer's regex fast path
(``tokenization.split_words``) yields the words and, from the cumulative
part lengths, their offsets; the words are casefolded one by one (never
the text, since casefold is not length-preserving), the positions whose
word starts some term are found once for all labels, and only those are
scanned — the output is that of the word-by-word scan described above.
"""

from __future__ import annotations

from itertools import accumulate, compress, count

from .tokenization import split_words, words_with_offsets

Mention = tuple[str, int, int, str]  # (label, start, end, span)


def term_key(term: str) -> tuple[str, ...]:
    """Canonical match key for a surface form: its casefolded token tuple."""
    return tuple(w.casefold() for w, _, _ in words_with_offsets(term))


class DictionaryMatcher:
    """label -> {token-tuple} matcher with longest-match-first scanning."""

    def __init__(self, terms_by_label: dict[str, list[str]]):
        self.tries: dict[str, dict[tuple[str, ...], bool]] = {}
        self.max_len: dict[str, int] = {}
        # first-token gate: only positions whose word starts some term
        # are scanned at all (the overwhelmingly common case is none)
        self.first_tokens: dict[str, set[str]] = {}
        for label, terms in terms_by_label.items():
            keys = {term_key(t) for t in terms}
            keys.discard(())
            self.tries[label] = dict.fromkeys(keys, True)
            self.max_len[label] = max((len(k) for k in keys), default=0)
            self.first_tokens[label] = {k[0] for k in keys}
        self.labels = sorted(self.tries)
        self.any_first = set().union(*self.first_tokens.values())

    def find_mentions(self, text: str) -> list[Mention]:
        parts = split_words(text)
        if parts is None:
            words = words_with_offsets(text)
            lowered = [w.casefold() for w, _, _ in words]
        else:
            lowered = list(map(str.casefold, parts[1::2]))
        # candidate first-token positions, found once for every label
        cands = list(
            compress(count(), map(self.any_first.__contains__, lowered))
        )
        if not cands:
            return []
        if parts is None:
            _, starts, ends = zip(*words)
        else:
            bounds = list(accumulate(map(len, parts), initial=0))
            starts, ends = bounds[1::2], bounds[2::2]
        n_words = len(lowered)
        out: list[Mention] = []
        for label in self.labels:
            table = self.tries[label]
            max_n = self.max_len[label]
            firsts = self.first_tokens[label]
            nxt = 0  # matches are non-overlapping within a label
            for i in cands:
                if i < nxt or lowered[i] not in firsts:
                    continue
                for n in range(min(max_n, n_words - i), 0, -1):
                    if tuple(lowered[i : i + n]) in table:
                        start, end = starts[i], ends[i + n - 1]
                        out.append((label, start, end, text[start:end]))
                        nxt = i + n
                        break
        # Reference output ordering: sort by (start, end, label)
        # (`mentions_detection.py:283-285`); uniqueness on the triple is
        # asserted there (:286) and is structural here (non-overlap per label).
        out.sort(key=lambda m: (m[1], m[2], m[0]))
        return out
