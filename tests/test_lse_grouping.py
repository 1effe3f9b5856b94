"""Golden-lock of the LSE streak-grouping port against the reference.

scripts/lse_golden.js runs the VERBATIM ``doGrouping``/``elementStreak``
source extracted from /root/reference/lib/lineSegmentAnalyzer.js in a Node
vm; the Python port must reproduce it exactly — including plateau walks,
second-rise streak breaks, last-sector maxima and the group-removal repeat
loop — over randomized and adversarial histograms."""

import json
import random
import shutil
import subprocess
import os

import pytest

from akf_cdparser_spark.analytics.lse_grouping import streak_grouping
from akf_cdparser_spark.kernel.dicts import _REFERENCE_DICTDIR

_JS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "scripts", "lse_golden.js")

node = shutil.which("node")

# the reference checkout's lib/ — the sources the Node harnesses cut from
_LIB = os.path.join(os.path.dirname(_REFERENCE_DICTDIR), "lib")


def _needs_reference(*sources):
    """Skip unless node and every reference source the harness reads exist."""
    missing = [f for f in sources if not os.path.exists(os.path.join(_LIB, f))]
    return pytest.mark.skipif(
        node is None or bool(missing),
        reason="node not available" if node is None
        else f"reference {', '.join(missing)} not available")


_needs_lsa = _needs_reference("lineSegmentAnalyzer.js")


def _reference(cases):
    out = subprocess.run([node, _JS], input=json.dumps(cases).encode(),
                         capture_output=True, check=True)
    return json.loads(out.stdout)


def _norm(rows):
    return sorted((k, s, c, g) for k, s, c, g in rows)


ADVERSARIAL = [
    # plateau: equal run, no strict maximum
    {"w": {0: 5, 1: 5, 2: 5, 3: 5}},
    # plateau then rise then fall (tie handling + late maximum)
    {"w": {0: 3, 1: 3, 2: 7, 3: 2}},
    # two maxima: second rise after a found maximum splits streaks
    {"w": {0: 1, 1: 9, 2: 1, 3: 8, 4: 1}},
    # maximum in the last sector (stop-index force-extend quirk)
    {"w": {6: 1, 7: 2, 8: 3, 9: 9}},
    # descending from the start (strict-> keeps maxCtr at the start value)
    {"w": {0: 9, 1: 4, 2: 2, 3: 1}},
    # gaps break streaks
    {"w": {0: 2, 1: 3, 4: 5, 5: 6, 6: 1, 9: 4}},
    # single elements stay ungrouped
    {"w": {0: 1, 5: 2, 9: 3}},
    # wide mountain: repeat-grouping path (group span > 1 after removal)
    {"w": {0: 1, 1: 2, 2: 3, 3: 4, 4: 5, 5: 4, 6: 3, 7: 2, 8: 1, 9: 1}},
    # several classes at once (independent keys, shared walk)
    {"a": {0: 2, 1: 4, 2: 2}, "b": {1: 1, 2: 1, 3: 1}, "c": {5: 9}},
]


@_needs_lsa
def test_port_matches_reference_adversarial():
    golden = _reference(ADVERSARIAL)
    for case, expect in zip(ADVERSARIAL, golden):
        got = streak_grouping(
            {k: {int(s): c for s, c in v.items()} for k, v in case.items()})
        assert _norm(got) == _norm([tuple(r) for r in expect]), case


@_needs_lsa
def test_port_matches_reference_randomized():
    rng = random.Random(42)
    cases = []
    for _ in range(300):
        case = {}
        for key in ("x", "y")[: rng.randint(1, 2)]:
            sectors = rng.sample(range(10), rng.randint(1, 10))
            case[key] = {s: rng.randint(1, 9) for s in sectors}
        cases.append(case)
    golden = _reference(cases)
    for case, expect in zip(cases, golden):
        got = streak_grouping(case)
        assert _norm(got) == _norm([tuple(r) for r in expect]), case


def test_totals_preserved():
    rng = random.Random(7)
    for _ in range(50):
        hist = {"k": {s: rng.randint(1, 20)
                      for s in rng.sample(range(10), rng.randint(1, 10))}}
        rows = streak_grouping(hist)
        assert sum(c for _, _, c, _ in rows) == sum(hist["k"].values())


# cases where the COUPLED walk (all classes through one shared holder,
# reproducing the reference's cross-class nextElement leak) provably
# diverges from independent per-class walks — found by differential search
CROSS_COUPLED = [
    {"a": {9: 5, 8: 5, 6: 4, 0: 7}, "z": {0: 1, 3: 4, 7: 5, 4: 4, 9: 3}},
    {"a": {2: 9, 4: 3, 9: 3}, "z": {2: 5, 9: 4, 8: 6, 0: 6}},
    {"a": {9: 9, 6: 7, 8: 1}, "z": {2: 5, 6: 7, 9: 7, 0: 2}},
    {"a": {9: 1, 7: 9, 1: 5, 2: 9}, "z": {3: 4, 9: 7, 8: 6}},
    {"a": {1: 8, 3: 9, 9: 5, 8: 9, 4: 1}, "z": {7: 6, 9: 3}},
]


def test_coupled_walk_differs_from_per_class():
    """The cross-class leak is REAL: these cases produce different rows
    when classes share one walk vs walking independently."""
    for case in CROSS_COUPLED:
        coupled = _norm(streak_grouping({k: case[k] for k in sorted(case)}))
        per = []
        for k in sorted(case):
            per.extend(streak_grouping({k: case[k]}))
        assert coupled != _norm(per), case


@_needs_lsa
def test_coupled_walk_matches_reference():
    """The coupled walk is golden-locked against the verbatim reference
    source on exactly the cases where cross-class coupling bites (the Node
    harness threads all keys through ONE sectorsHolder — the reference's
    only mode)."""
    ordered = [{k: case[k] for k in sorted(case)} for case in CROSS_COUPLED]
    golden = _reference(ordered)
    for case, expect in zip(ordered, golden):
        got = streak_grouping(case)
        assert _norm(got) == _norm([tuple(r) for r in expect]), case


@_needs_lsa
def test_coupled_walk_matches_reference_randomized_3class():
    rng = random.Random(99)
    cases = []
    for _ in range(200):
        case = {}
        for key in ("a", "m", "z")[: rng.randint(2, 3)]:
            sectors = rng.sample(range(10), rng.randint(1, 10))
            case[key] = {s: rng.randint(1, 9) for s in sectors}
        cases.append(case)
    golden = _reference(cases)
    for case, expect in zip(cases, golden):
        got = streak_grouping(case)
        assert _norm(got) == _norm([tuple(r) for r in expect]), case


# a pinned histogram where per-sector insertion ORDER alone changes the
# result (found by differential search over shuffled entry orders): the
# walk order flips whether b's sector-9 singleton gets wrapped by the
# stale-nextElement leak
ORDER_SENSITIVE_ENTRIES = [
    ("a", 3, 4), ("a", 7, 8), ("a", 8, 4), ("a", 9, 2),
    ("b", 0, 4), ("b", 3, 6), ("b", 7, 8), ("b", 9, 1),
]
ORDER_A = [("b", 0), ("a", 7), ("b", 3), ("a", 8),
           ("a", 3), ("a", 9), ("b", 9), ("b", 7)]
ORDER_B = [("a", 9), ("b", 7), ("a", 7), ("b", 3),
           ("b", 9), ("a", 3), ("b", 0), ("a", 8)]


def _hist_and_rank(order):
    ctr = {(k, s): c for k, s, c in ORDER_SENSITIVE_ENTRIES}
    hist: dict = {}
    for k, s, c in ORDER_SENSITIVE_ENTRIES:
        hist.setdefault(k, {})[s] = c
    return hist, {ks: i for i, ks in enumerate(order)}, \
        [[k, s, ctr[(k, s)]] for k, s in order]


def test_insertion_order_is_load_bearing():
    """Two insertion orders of the SAME histogram produce different rows —
    the order the coupled walk derives from the corpus scan is not a
    cosmetic choice."""
    hist, rank_a, _ = _hist_and_rank(ORDER_A)
    _, rank_b, _ = _hist_and_rank(ORDER_B)
    out_a = _norm(streak_grouping(hist, insertion_rank=rank_a))
    out_b = _norm(streak_grouping(hist, insertion_rank=rank_b))
    assert out_a != out_b


@_needs_lsa
def test_insertion_order_matches_reference_pinned():
    """Both orders of the load-bearing case match the verbatim reference
    run with the SAME explicit holder insertion order."""
    cases, ranks = [], []
    for order in (ORDER_A, ORDER_B):
        hist, rank, entries = _hist_and_rank(order)
        cases.append({"__entries__": entries})
        ranks.append((hist, rank))
    golden = _reference(cases)
    for (hist, rank), expect in zip(ranks, golden):
        got = streak_grouping(hist, insertion_rank=rank)
        assert _norm(got) == _norm([tuple(r) for r in expect])


@_needs_lsa
def test_insertion_order_matches_reference_randomized():
    """Randomized entry ORDERS (not just histograms): the port under
    insertion_rank must track the reference under the identical explicit
    holder insertion sequence."""
    rng = random.Random(77)
    cases, sides = [], []
    for _ in range(120):
        entries = []
        for cls in ("a", "b", "c")[: rng.randint(2, 3)]:
            for s in range(10):
                if rng.random() < 0.45:
                    entries.append([cls, s, rng.randint(1, 9)])
        if not entries:
            entries = [["a", 0, 1]]
        rng.shuffle(entries)
        hist: dict = {}
        rank: dict = {}
        for i, (k, s, c) in enumerate(entries):
            hist.setdefault(k, {})[s] = c
            rank[(k, s)] = i
        cases.append({"__entries__": entries})
        sides.append((hist, rank))
    golden = _reference(cases)
    for (hist, rank), expect in zip(sides, golden):
        got = streak_grouping(hist, insertion_rank=rank)
        assert _norm(got) == _norm([tuple(r) for r in expect])


# -- zumsteinVector mode golden lock ----------------------------------------

_ZJS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "scripts", "lse_zumstein_golden.js")

ZUMSTEIN_RE = "[^a-zA-Z0-9üÜäÄöÖßé_.¦]+"


def _py_zumstein(line: str):
    """Sequential twin of the engine's lse_zumstein_vector column expr."""
    import re

    runs = re.findall(ZUMSTEIN_RE, line)
    if not line or not runs:
        return None  # dropped (reference throws on no-match lines)
    return "".join(re.sub(r"^\s+|\s+$", "", r) for r in runs)


@_needs_reference("lineSegmentAnalyzer.js", "regexLib.js", "utils.js")
def test_zumstein_vector_matches_reference():
    """zumsteinVector mode (USE_ZUMSTEIN_VECTOR) locked against the
    verbatim createLocalDataset/sectorizeLineElements run in a Node vm:
    per-line element content, type and sector must match; lines the
    reference CRASHES on (no special-character match -> null.length) are
    the lines the engine drops — the documented total-behavior deviation."""
    rng = random.Random(5)
    words = ["Fabrikstr.", "45", "Plochingen", "Tel", "GmbH", "Aktien",
             "über", "straße", "x_y", "12,5%", "(07153)", "a-b", ";", "—"]
    cases = []
    for _ in range(120):
        n = rng.randint(1, 6)
        sep = rng.choice([" ", "  ", "\t", ", ", ":", " - "])
        cases.append([sep.join(rng.choice(words) for _ in range(n))])
    cases += [["  spaces  only  "], ["a,b;c:d (x) 12,5%"], ["abc"], [""]]

    out = subprocess.run([node, _ZJS],
                         input=json.dumps(cases).encode(),
                         capture_output=True, check=True)
    golden = json.loads(out.stdout)
    for case, res in zip(cases, golden):
        line = case[0]
        mine = _py_zumstein(line)
        if "error" in res:
            assert mine is None, (line, res)
            continue
        if not res["elements"]:  # empty line skipped by the reference
            assert line == "" and mine is None
            continue
        ((idx, typ, content, sector),) = res["elements"]
        assert typ == "zumsteinVector" and sector == 0
        assert mine == content, (line, mine, content)


def test_zumstein_throw_audit_marks_exactly_the_crash_lines(spark):
    """q66 channel: would_throw == true exactly on non-empty lines with no
    special-character match (where the reference TypeErrors), and those are
    exactly the lines lse_zumstein_vector drops."""
    from akf_cdparser_spark.analytics import text as T

    rows = [("d0", "abc"),            # pure word chars -> reference throws
            ("d1", "a b"),            # whitespace run -> fine
            ("d2", ""),               # empty -> skipped, NOT a throw
            ("d3", "Wort123._"),      # all in the allowed set -> throws
            ("d4", ";;;")]            # pure special -> fine
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    audit = {r.doc_id: r.would_throw
             for r in T.lse_zumstein_throw_audit(docs).collect()}
    assert audit == {"d0": True, "d1": False, "d2": False,
                     "d3": True, "d4": False}
    kept = {r.doc_id for r in T.lse_zumstein_vector(docs).collect()}
    dropped_nonempty = {d for d, t in rows if t} - kept
    assert dropped_nonempty == {d for d, would in audit.items() if would}
