"""A4 validator coverage diff (SURVEY.md §2.6 A4).

Re-expresses lib/validator.js:21-58 (`unparsedText`): subtract every parsed
leaf value plus the predefined static labels from the cleaned ``_fulltext``;
whatever text remains was seen by no extractor. The per-doc
``unparsed_chars / fulltext_chars`` ratio is the reference team's main QA
metric for extractor coverage.

Deviation from the reference (documented): leaf strings are struck as
literal substrings — the reference interpolates them raw into a RegExp
(lib/validator.js:50), which crashes on leaves containing metacharacters;
after cleanText only ``* + ? [ ] { } | ^ $ \\ /`` could survive, none of
which occur in value position in the corpus, so literal-vs-raw is
behavior-identical on real data and strictly safer. Neither strike runs a
regex: see ``unparsed_text`` for the hot-path notes.
"""

from __future__ import annotations

from .textops import clean_text

# lib/validator.js:22-36
PREDEFINED = [
    "Status",
    "Tätigkeitsgebiet/Gründung",
    "Gründung",
    "e-mail",
    "Telefon",
    "Management",
    "Aufsichtsrat",
    "Stammaktien",
    "Nennwert",
    "Internetseite",
    "Telefax",
    "ISIN",
    "Wertpapier-Kenn.Nr",
]
_PREDEFINED_CLEAN = [clean_text(p) for p in PREDEFINED]


def leaf_nodes(value) -> list:
    """F14 (lib/utils.js:58-67): every scalar leaf of a nested structure."""
    if isinstance(value, dict):
        out = []
        for v in value.values():
            out.extend(leaf_nodes(v))
        return out
    if isinstance(value, (list, tuple)):
        out = []
        for v in value:
            out.extend(leaf_nodes(v))
        return out
    if value is None:
        return []
    return [value]


def _is_word(ch: str) -> bool:
    """Python ``re``'s ``\\w`` for str patterns (sre's SRE_UNI_IS_WORD:
    alphanumeric in the unicode sense, or ``_``) — so ``²`` and umlauts are
    word characters, ``*`` and ``/`` are not."""
    return ch.isalnum() or ch == "_"


# Every cleaned label starts and ends with a word character, so the
# reference's ``\blabel\b`` reduces to "the neighbouring characters are
# not word characters", which ``_strike_labels`` tests without a regex.
if not all(_is_word(s[0]) and _is_word(s[-1]) for s in _PREDEFINED_CLEAN):
    raise ValueError("a predefined label must start and end with a word "
                     "character for _strike_labels to equal \\b...\\b")


def _strike_labels(text: str, fill: str) -> str:
    """Replace every whole-word occurrence of each predefined label, left to
    right and non-overlapping, label by label in ``PREDEFINED`` order —
    byte-equal to ``re.sub(r"\\b" + re.escape(label) + r"\\b", ...)`` per
    label, without the regex: a ``str.find`` loop plus the boundary test,
    and one ``in`` test for a label the text does not contain.

    No ``\\s*`` around the label (the reference has it): over the
    space-filler runs the leaf strike leaves behind, a leading ``\\s*``
    backtracks quadratically; adjacent whitespace is invisible to the
    coverage stats either way."""
    for label in _PREDEFINED_CLEAN:
        if label not in text:
            continue
        n = len(label)
        parts, done = [], 0
        at = text.find(label)
        while at >= 0:
            end = at + n
            if ((at == 0 or not _is_word(text[at - 1]))
                    and (end == len(text) or not _is_word(text[end]))):
                parts.append(text[done:at])
                parts.append(fill * n)
                done = end
                at = text.find(label, end)
            else:
                at = text.find(label, at + 1)
        if parts:
            parts.append(text[done:])
            text = "".join(parts)
    return text


def _strike(cleaned: str, record: dict, replace_values: str,
            replace_predefined: str) -> str:
    """The strikes of ``unparsed_text`` over an already-cleaned fulltext."""
    remaining = cleaned
    for key, value in record.items():
        if key.startswith("_fulltext"):
            continue
        for leaf in leaf_nodes(value):
            s = clean_text(str(leaf))
            if not s or s.isspace():
                continue
            at = remaining.find(s)
            if at >= 0:
                remaining = (remaining[:at] + replace_values * len(s)
                             + remaining[at + len(s):])
    return _strike_labels(remaining, replace_predefined)


def unparsed_text(record: dict, replace_values: str = " ",
                  replace_predefined: str = "*") -> str:
    """lib/validator.js:44-58: strike each parsed leaf (first occurrence)
    and each predefined label (all occurrences) out of the fulltext.

    Hot path (runs per document inside the extraction operator), so no
    regex is built or run per strike:
    * the leaf strike is a plain substring find + slice-splice, the first
      occurrence in the already-struck text, in record-key order and
      ``leaf_nodes`` order. Unlike the reference's ``\\s*leaf\\s*``
      pattern this leaves adjacent whitespace in place, which is invisible
      to the coverage stats (they never count whitespace);
    * the label strike is ``_strike_labels``' find loop."""
    return _strike(clean_text(record.get("_fulltext") or ""), record,
                   replace_values, replace_predefined)


def coverage_stats(record: dict) -> tuple[int, int]:
    """(unparsed_chars, fulltext_chars): non-filler characters left after the
    subtraction vs total non-space characters of the cleaned fulltext,
    which is cleaned once for both. Counting via str.count (C speed) — the
    strikes only ever substitute ' '/'*' for other characters, so
    len - count(' ') - count('*') equals a per-char count exactly."""
    full = clean_text(record.get("_fulltext") or "")
    remaining = _strike(full, record, " ", "*")
    unparsed = len(remaining) - remaining.count(" ") - remaining.count("*")
    total = len(full) - full.count(" ")
    return unparsed, total
