"""A4 validator coverage diff (ref lib/validator.js:21-58) unit tests."""

import random
import re

from akf_cdparser_spark import fixtures
from akf_cdparser_spark.kernel import coverage, parse_document
from akf_cdparser_spark.kernel.textops import clean_text


def test_leaf_nodes_recursive():
    # lib/utils.js:58-67 semantics: every scalar leaf, depth-first
    data = {"a": 1, "b": {"c": ["x", {"d": "y"}]}, "e": None}
    assert coverage.leaf_nodes(data) == [1, "x", "y"]


def test_unparsed_subtracts_leaves_and_predefined():
    rec = {
        "_fulltext": "Status aktiv Telefon 0711 12 Unerkannter Resttext",
        "status": "aktiv",
        "nested": {"phone": "0711 12"},
    }
    remaining = coverage.unparsed_text(rec)
    assert "aktiv" not in remaining
    assert "0711 12" not in remaining
    # predefined labels struck with '*' filler
    assert "status" not in remaining and "telefon" not in remaining
    assert "unerkannter resttext" in remaining
    unparsed, total = coverage.coverage_stats(rec)
    assert unparsed == len("unerkannterresttext")
    assert total == len("statusaktivtelefon071112unerkannterresttext")


def test_synthetic_corpus_mostly_parsed():
    # every extractor fires on its variant -> the bulk of each doc's text is
    # consumed; the remainder is markup/labels, bounded well below half
    for i in (0, 2, 5, 7, 9, 13):
        rec, _, _ = parse_document(fixtures.synth_html(i, 40))
        unparsed, total = coverage.coverage_stats(rec)
        assert total > 0
        assert unparsed / total < 0.5, (i, unparsed, total)


def test_coverage_deterministic():
    rec, _, _ = parse_document(fixtures.synth_html(3, 40))
    assert coverage.coverage_stats(rec) == coverage.coverage_stats(rec)


# ---------------------------------------------------------------------------
# differential: the find-based strikes against the regex implementation
# they replaced (kept here as the oracle)
# ---------------------------------------------------------------------------

_ORACLE_RES = [(re.compile(r"\b" + re.escape(s) + r"\b"), s)
               for s in coverage._PREDEFINED_CLEAN]


def _oracle_strike_labels(text, fill="*"):
    for rx, s in _ORACLE_RES:
        text = rx.sub(fill * len(s), text)
    return text


def _oracle_unparsed_text(record, replace_values=" ", replace_predefined="*"):
    remaining = clean_text(record.get("_fulltext") or "")
    for key, value in record.items():
        if key.startswith("_fulltext"):
            continue
        for leaf in coverage.leaf_nodes(value):
            s = clean_text(str(leaf))
            if not s or s.isspace():
                continue
            at = remaining.find(s)
            if at >= 0:
                remaining = (remaining[:at] + replace_values * len(s)
                             + remaining[at + len(s):])
    return _oracle_strike_labels(remaining, replace_predefined)


def _oracle_coverage_stats(record):
    full = clean_text(record.get("_fulltext") or "")
    remaining = _oracle_unparsed_text(record)
    return (sum(1 for c in remaining if c not in " *"),
            sum(1 for c in full if c != " "))


def _assert_same(rec):
    assert coverage.unparsed_text(rec) == _oracle_unparsed_text(rec)
    assert coverage.coverage_stats(rec) == _oracle_coverage_stats(rec)


def test_coverage_equals_regex_oracle_on_corpus():
    """Strings and stats equal on 2400 synthetic pages, drawn from both the
    4000- and the 20000-page index spaces, plus truncated pages (records
    that carry ``_errors``)."""
    rng = random.Random(5)
    n = 0
    for space, k in ((4000, 1200), (20000, 1200)):
        for i in rng.sample(range(space), k):
            html = fixtures.synth_html(i, space)
            if n % 20 == 0:
                html = html[: len(html) * 3 // 10]
            rec, _, _ = parse_document(html)
            _assert_same(rec)
            n += 1
    assert n >= 2000


_PIECES = list(coverage._PREDEFINED_CLEAN) + [
    "_", "0", "7", "²", "ä", "ö", "ü", "ß", "x", "Ü", "*", "**", " ", "   ",
    "/", "-", "status", "gründung", "tätigkeitsgebiet/", "e", "mail", "isin",
    "kenn"]


def test_label_strike_boundary_cases():
    cases = [
        "status", "status gründung", "gründung status",
        "statusstatus", "status status", "_status", "status_",
        "status2", "2status", "status²", "²status", "äisin", "isinä",
        "tätigkeitsgebiet/gründung gründung",
        "tätigkeitsgebiet/gründung/gründung", "gründung/gründung",
        "***status***", "  status  ", "*  *status*  *", "e mail e  mail",
        "wertpapier kenn nr", "wertpapier kenn nr2", "", "*", " ",
        "managementmanagement management",
    ]
    for text in cases:
        assert coverage._strike_labels(text, "*") \
            == _oracle_strike_labels(text), text
        _assert_same({"_fulltext": text})


def test_label_and_leaf_strike_fuzz_equals_regex_oracle():
    """20,000 strings assembled from labels, word characters the regex
    counts (``_``, digits, ``²``, umlauts) and non-word runs (``*``,
    spaces, ``/``): the label strike alone on the raw string, and the full
    coverage on a record whose leaves are pieces of it."""
    rng = random.Random(11)
    for _ in range(20000):
        parts = rng.choices(_PIECES, k=rng.randint(0, 12))
        text = "".join(parts)
        assert coverage._strike_labels(text, "*") \
            == _oracle_strike_labels(text), text
        leaves = rng.sample(parts, min(len(parts), rng.randint(0, 3)))
        _assert_same({"_fulltext": text, "status": leaves})
