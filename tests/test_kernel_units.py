"""Unit tests for the scalar kernels (SURVEY §2.5) and the extractor paths
the golden fixture doesn't reach (E10, E13, E18, E19, E25), plus
property-based checks with hypothesis."""

from hypothesis import given, settings
from hypothesis import strategies as st

from akf_cdparser_spark.kernel import dicts, holdings, organbezuege, persons, textops
from akf_cdparser_spark.kernel.document import DocumentParser


# ---------------------------------------------------------------------------
# textops (F1-F15)
# ---------------------------------------------------------------------------

def test_regex_kernels():
    assert textops.match_percentage("a 7,33% b 100% (12.5 %)") == \
        ["7,33%", "100%", "12.5 %"]
    assert textops.match_year("1999 was") == "1999"
    assert textops.match_year("in 1999") is None
    assert textops.match_number("EUR 6 000 000,00") == ["6", "000", "000,00"]
    assert textops.strip_tags("<b>x</b><br") == "x"
    assert textops.html_text("<td>a &amp; b</td>") == "a & b"
    assert textops.clean_text("A,B;(C):D.-E") == "a b c d e"


def test_comma_and_bracket_protection():
    assert textops.replace_comma_in_number("5,5% und 7,1") == "5.5% und 7.1"
    assert textops.replace_comma_in_number("58.33%") == "58.33%"
    assert textops.replace_semicolon_and_comma_in_brackets(
        "a (b;c,d); e (f)") == "a (b c d); e (f)"


def test_paren_scanner_balanced_and_fill():
    assert textops.get_parenthesis_content("x (a (b) c) y (d)") == \
        ["(a (b) c)", "(d)"]
    assert textops.get_parenthesis_content("x (open", fill_parenthesis=True) == \
        ["(open)"]
    assert textops.get_parenthesis_content("none") == []


def test_match_from_to():
    got = textops.match_from_to("Tel.: (08241) 5 03-2 58, Fax: 1", r"Tel\..*:", ",")
    assert got[1] == "(08241) 5 03-2 58"
    assert textops.match_from_to("no match here", "Tel:", ",") is None


def test_split_at_first_quirk():
    assert textops.split_at_first("a:b:c", ":") == ("a", "b:c")
    # reference quirk: missing separator -> empty head (lib/parser.js:50-53)
    assert textops.split_at_first("abc", ":")[0] == ""


def test_stueckelung_stimmrecht():
    assert textops.get_stueckelung("Stückelung: 6 000 000 Stückaktien o.N. ") \
        == "6 000 000 Stückaktien o.N."
    assert textops.get_stimmrecht("Stimmrecht: Je Stückaktie = 1 Stimme").strip() \
        == "Je Stückaktie = 1 Stimme"
    assert textops.get_stueckelung("nothing here") is None


# ---------------------------------------------------------------------------
# dictionaries (F16/F17)
# ---------------------------------------------------------------------------

def test_dict_longest_first_and_letter_guard():
    entries = tuple(sorted(["Dr.", "Dr. jur.", "WP"], key=len, reverse=True))
    hit = dicts.check_dict_content("Dr. jur. Maier", entries)
    assert hit.is_hit and "Dr. jur." in hit["found"]
    # 'Dr' inside 'Dreikirchen' must not match (letter-follow guard)
    guard = dicts.check_dict_content("Dreikirchen", ("Dr",))
    assert not guard.is_hit


def test_matching_mode_config_misspelled_corpus(tmp_path, monkeypatch,
                                                request):
    """The ldist config surface (persons.set_matching_mode /
    AKF_DICT_MATCHING): a misspelled title ('Porf. Dr.') is missed by exact
    matching but classified under the fuzzy mode; exact stays the default
    (reference parity, lib/parser_persons.js:52-53). The title table is
    the embedded one plus the entry the misspelling is close to, supplied
    through ``AKF_DICTFILES``, so the test does not depend on which
    dictionary files the host has."""
    import json

    from akf_cdparser_spark.kernel import persons

    titles = [*dicts._FALLBACK_TITLES,
              "Generaldirektor-Stellvertreter Dipl.-Ing."]
    (tmp_path / "dict_titles.json").write_text(
        json.dumps({"rows": [[t] for t in titles]}), encoding="utf-8")
    monkeypatch.setenv("AKF_DICTFILES", str(tmp_path))
    dicts.load_dictionaries.cache_clear()
    # the next test loads the host's tables again
    request.addfinalizer(dicts.load_dictionaries.cache_clear)

    line = "Generaldirektor-Stellvertretre Dipl.-Ing. Klaus Maier, Stuttgart"
    assert persons.MATCHING_MODE == "normal"
    exact = persons.check_person_line(line)
    # exact longest-match only salvages the clean fragment and swallows the
    # misspelled role into the first name
    assert exact["title"] == "Dipl.-Ing."
    assert exact["firstName"] == "Generaldirektor-Stellvertretre"
    persons.set_matching_mode("ldist")
    try:
        fuzzy = persons.check_person_line(line)
        assert fuzzy["title"].startswith("Generaldirektor-Stellvertretre")
        assert (fuzzy["firstName"], fuzzy["lastName"]) == ("Klaus", "Maier")
    finally:
        persons.set_matching_mode("normal")
    import pytest
    with pytest.raises(ValueError):
        persons.set_matching_mode("bogus")


def test_dict_ldist_path():
    entries = ("Professor",)
    hit = dicts.check_dict_content("Professur Maier", entries, matching="ldist")
    assert hit.is_hit  # 1 edit over 9 chars -> norm ~11+2.2 ... below? verify behavior
    miss = dicts.check_dict_content("zzzzzzzzz", entries, matching="ldist")
    assert not miss.is_hit


# ---------------------------------------------------------------------------
# persons / holdings / organbezuege edge paths
# ---------------------------------------------------------------------------

def test_person_with_common_funct():
    m = persons.check_person_line("Hans Meier *), Berlin", True,
                                  "Arbeitnehmervertreter")
    assert m["lastName"] == "Meier"
    assert m["funct"] == "Arbeitnehmervertreter"
    assert m["cityAcc"] == "Berlin"


def test_person_pers_haftend_bemerkung():
    m = persons.check_person_line("Karl Weber (persönlich haftend), Bonn")
    assert m["bemerkung"] == "(persönlich haftend)"
    assert m["lastName"] == "Weber"


def test_parse_leiter_contacts():
    out = persons.parse_leiter(
        ["Anna Schmidt Telefon: 030-1; Fax: 030-2; Email: a@b.de<br>"])
    item = out["leiter"][0]
    assert item["phone"].startswith("030-1")
    # separator residue after contact removal is reference parity
    # (lib/parser_persons.js:488-503 leaves the orphaned ';' in the name)
    assert item["lastname"].startswith("Schmidt")
    assert item["email"] == "a@b.de"


def test_anteilseigner_percentage_in_vs_out_of_parens():
    rows = holdings.parse_anteils_eigner(
        ["Muster Holding, 75%", "Beta AG (zusammen 30%)"])
    assert rows[0] == {"eigner": "Muster Holding", "anteil": "75%"}
    assert rows[1]["bemerkung"] == "zusammen 30%"
    assert "anteil" not in rows[1]


def test_beteiligungen_positional_schema():
    one = holdings.beteiligungen_parse_line("Solo GmbH")
    assert one == {"beteiliger": "Solo GmbH"}
    four = holdings.beteiligungen_parse_line("A, B, C, D-Stadt, 58,33%")
    assert four["ort"] == "D-Stadt"
    assert four["anteil"] == "58,33%"
    assert four["beteiliger"] == "A, B, C"
    kdt = holdings.beteiligungen_parse_line("X AG, Kiel, 10% Kdt.")
    assert kdt["bemerkung"] == "Kdt."
    heading = holdings.beteiligungen_parse_line("Konsolidierungskreis:")
    assert heading == ""


def test_beteiligungen_special_ort_tags():
    row = holdings.beteiligungen_parse_line("Y AG, Kiel (StA), 10%")
    assert row["bemerkung"] == "StA"
    assert row["ort"] == "Kiel"


def test_organbezuege_multi_year_and_bemerkung():
    rows = organbezuege.parse_organbezuege(
        "Vorstand 1996: TDM 500; Aufsichtsrat 1997: keine Angaben")
    by_organ = {r.get("organ"): r for r in rows if r.get("organ")}
    assert by_organ["Vorstand"]["jahr"] == "1996"
    assert by_organ["Vorstand"]["bezuege"] == "TDM 500"
    bem = [r for r in rows if r.get("bemerkung")]
    assert bem and "keine Angaben" in bem[0]["bemerkung"]


# ---------------------------------------------------------------------------
# document-level edge categories (E13, E18, E19, E25)
# ---------------------------------------------------------------------------

def _doc(lines):
    # a minimal well-formed profile: the head matcher (AKF_PARSER_START)
    # consumes until a Sitz/Tätigkeitsgebiet boundary, exactly like the
    # reference — so every test doc needs that boundary before its category
    return "\n".join(
        ["<html>", "<head>", "</head>", "<body>", "", "x",
         '<td align="center"><b>Tätigkeitsgebiet/Gründung</b></td>',
         "Aktivität<br>",
         "<br><center></center>"]
        + lines + ["</body>", "</html>"])


def test_e13_anteilseigner_category():
    rec = DocumentParser().parse(_doc([
        "<b>Anteilseigner:</b>",
        "Alpha Holding, 60%<br>Beta GmbH, 40%<br>",
        "und noch eine Zeile",
        "sowie eine letzte",
        "<br>",
    ]))
    eig = {e["eigner"]: e for e in rec["anteilsEigner"]}
    assert eig["Alpha Holding"]["anteil"] == "60%"


def test_e18_wesentliche_beteiligungen_tables():
    rec = DocumentParser().parse(_doc([
        "<b>Wesentliche Beteiligungen</b>",
        "Inland:",
        "<table>",
        "<tr><td>Gamma GmbH, Kiel, 80%</td></tr>",
        "<tr><td>Delta AG, Bonn, 20%</td></tr>",
        "</table>",
        "b>Kapital</b>",
    ]))
    elems = rec["beteiligungen"]["elemente"]
    rows = elems[0]["zeilen"]
    assert {"beteiliger": "Gamma GmbH", "ort": "Kiel", "anteil": "80%"} in rows


def test_e19_unternehmensvertraege_raw_lines():
    rec = DocumentParser().parse(_doc([
        "<b>Unternehmensverträge:</b>",
        "Beherrschungsvertrag mit X AG<br>Gewinnabführungsvertrag mit Y KG",
        "<br><center><h5><table><tr>",
    ]))
    assert rec["unternehmensVertraege"] == [
        "Beherrschungsvertrag mit X AG", "Gewinnabführungsvertrag mit Y KG"]


def test_e25_ergebnisabfuehrung_table():
    rec = DocumentParser().parse(_doc([
        "<b>Ergebnisabführung</b>",
        "<table>",
        "<tr><td>2001</td><td>TEUR 5</td></tr>",
        "<tr><td>2002</td><td>TEUR 7</td></tr>",
        "</table>",
        "<br><center>",
    ]))
    eaf = rec["boersenbewertung"]["boersenbewertung1"]["ergebnisabfuehrung"]
    assert {"jahr": "2001", "betrag": "TEUR 5"} in eaf


# ---------------------------------------------------------------------------
# property-based robustness: the parser never crashes, stays deterministic
# ---------------------------------------------------------------------------

@settings(max_examples=60, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8",
                                      exclude_categories=("Cs",)),
               max_size=400))
def test_parser_total_on_arbitrary_text(text):
    parser = DocumentParser()
    rec = parser.parse(text)
    assert "_fulltext" in rec
    rec2 = DocumentParser().parse(text)
    assert rec.keys() == rec2.keys()


@settings(max_examples=60, deadline=None)
@given(st.text(max_size=120))
def test_paren_scanner_total(s):
    groups = textops.get_parenthesis_content(s, fill_parenthesis=True)
    for g in groups:
        assert g.startswith("(") and g.endswith(")")


# ---------------------------------------------------------------------------
# E2 Sitz edge branches (Postfach, large-customer PLZ, typed seats)
# ---------------------------------------------------------------------------

def test_sitz_postfach_and_plz():
    # the PLZ branch discards every address part BEFORE the PLZ line
    # (reference parity: lib/parser.js:288 slices past it), so the
    # large-customer line leads and street/Postfach follow it
    rec = DocumentParser().parse("\n".join([
        "<html>", "<head>", "</head>", "<body>", "",
        "<br><center><h5><table><tr>",
        '<td align="center"><b>Sitz</b></td></tr></table></h5></center>',
        "Großkunden-PLZ 68161 Mannheim<br>",
        "Industriestr. 7, 68163 Mannheim<br>",
        "Postfach 10 02 55, 68002 Mannheim<br>",
        "Telefon:",
        "(0621) 1-0<br>",
        "<br><center><h5><table><tr>",
        "</body>", "</html>"]))
    sitz = rec["Sitz"][0]
    assert sitz["lcustomerzip"] == "68161"
    assert sitz["lcustomercity"] == "Mannheim"
    assert sitz["zip"] == "68163"
    assert sitz["city"] == "Mannheim"
    assert sitz["POBox"] == "10 02 55"
    assert sitz["zipPOBox"] == "68002"
    assert sitz["phone"] == "(0621) 1-0"


def test_sitz_city_only_block():
    rec = DocumentParser().parse("\n".join([
        "<html>", "<head>", "</head>", "<body>", "",
        "<br><center><h5><table><tr>",
        '<td align="center"><b>Sitz</b></td></tr></table></h5></center>',
        "Heidelberg<br>",
        "<br><center><h5><table><tr>",
        "</body>", "</html>"]))
    assert rec["Sitz"][0]["city"] == "Heidelberg"
    assert "street" not in rec["Sitz"][0]


def _dict_reference_scan(data, entries):
    """Verbatim reference semantics (lib/dictionaryHandler.js:183-206):
    full entry loop, no candidate pruning — differential oracle for the
    2-gram fast path."""
    import re
    fh = re.compile(r"\((FH)\)")
    accu, remaining = "", data
    for entry in entries:
        filtered = fh.sub("", remaining)
        if entry in filtered:
            cand = remaining.replace(entry, "¦", 1).replace("()", "")
            if not textops.char_followed_by_letter(cand):
                accu = accu + " " + entry
                remaining = cand.replace("¦", "", 1)
    return accu, remaining


def test_dict_fast_path_equals_reference():
    titles, functs = dicts.load_dictionaries()
    samples = [
        "Dr. Dietmar Kubis (Vors.)", "WP Klaus Langer", "Dreikirchen",
        "Prof. Dr. jur. Dr. rer. pol. Anna Weber", "Vertrieb  Finanzen",
        "Dipl.-Ing. (FH) Max Muster", " Jena-Wogau", "", "a(FH)b",
        "Siegfried Eichinger (Vertrieb  Finanzen  allg. Verwaltung)",
        "stellv. Vors. und Vorsitzender", "Marketing und Vertrieb, Ulm",
    ]
    for entries in (titles, functs):
        for s in samples:
            exp_accu, exp_rem = _dict_reference_scan(s, entries)
            got = dicts.check_dict_content(s, entries)
            assert got["found"] == exp_accu, (s, got["found"], exp_accu)
            if exp_accu:  # data_without is only set on a hit (reference too)
                assert got["data_without"] == exp_rem.strip(), s


@settings(max_examples=80, deadline=None)
@given(st.text(alphabet="ABD abcdeforsVv.()-ü", max_size=60))
def test_dict_fast_path_equals_reference_fuzz(s):
    titles, _ = dicts.load_dictionaries()
    exp_accu, _exp_rem = _dict_reference_scan(s, titles)
    got = dicts.check_dict_content(s, titles)
    assert got["found"] == exp_accu
