"""Deterministic synthetic fixtures: interleaved text+media docs (spans
table) and the crawl-tier URL graph (seeds / frontier / robots).

Per FIXTURES.md §1 and BASELINE.json:15 (input_hint), the primary input is

    docs(doc_id string,
         spans array<struct<kind string, text string, media_ref string,
                            offset int>>)

Synthesis rule (FIXTURES.md): split an HTML document on '\\n' — exactly the
reference's line model (/root/reference/lib/parser.js:1880); each line is a
``text`` span at its line index; each ``<img src="X">`` occurrence
additionally yields a ``media`` span with ``media_ref=X`` at that offset
(the golden fixture's chart refs, e.g. 0003.html.utf8.html:132).

Everything here is seed-free-deterministic: doc content derives from the
doc index through fixed arithmetic, so any two runs (and any two
parallelism levels) synthesize byte-identical corpora. No external data.
"""

from __future__ import annotations

import re

_COMPANY_STEMS = [
    "Adler", "Bergwerk", "Colonia", "Donau", "Elbe", "Falken", "Greif",
    "Hansa", "Isar", "Jade", "Kondor", "Luchs", "Main", "Neckar", "Oder",
    "Phoenix", "Quell", "Rhein", "Spree", "Taunus", "Union", "Vulkan",
    "Weser", "Xaver", "Ypsilon", "Zugspitz",
]
_CITIES = [
    "Plochingen", "Mannheim", "Stuttgart", "Frankfurt", "Hamburg",
    "München", "Köln", "Dresden", "Leipzig", "Bremen", "Essen", "Jena",
]
_ACTIVITIES = [
    "Herstellung und Vertrieb von Elektronikprodukten",
    "Planung und Organisation von Verkaufsaktionen",
    "Verwaltung eigener Beteiligungen",
    "Produktion von Maschinen und Anlagen",
]
_TITLES = ["Dr.", "Prof. Dr.", "WP", ""]
_FIRST = ["Dietmar", "Klaus", "Günther", "Anna", "Maria", "Karl", "Heinz", "Petra"]
_LAST = ["Kubis", "Langer", "Speiser", "Schmidt", "Weber", "Maier", "Vogel", "Brandt"]


def company_name(i: int) -> str:
    """Unique per doc index (the numeral makes the CD page index bijective,
    so the cross-reference graph spans the whole corpus)."""
    stem = _COMPANY_STEMS[i % len(_COMPANY_STEMS)]
    return f"{stem} {i:04d} {'International ' if i % 3 == 0 else ''}AG"


def doc_id_for(i: int) -> str:
    year = 1999 + (i % 7)
    return f"{year}/{i:04d}"


def _person(i: int, k: int) -> str:
    t = _TITLES[(i + k) % len(_TITLES)]
    fn = _FIRST[(i * 3 + k) % len(_FIRST)]
    ln = _LAST[(i * 5 + k * 2) % len(_LAST)]
    city = _CITIES[(i + k * 3) % len(_CITIES)]
    funct = " (Vors.)" if k == 0 else (" (stellv. Vors.)" if k == 1 else "")
    return f"{(t + ' ') if t else ''}{fn} {ln}{funct}, {city}"


def beteiligung_targets(i: int, n_docs: int) -> list[int]:
    """Deterministic cross-references: company i 'holds' these doc indices.
    This IS the crawl graph's out-link function."""
    if n_docs <= 1:
        return []
    return [((i * 7 + j * 13 + 1) % n_docs) for j in range(2 + i % 3) if
            ((i * 7 + j * 13 + 1) % n_docs) != i]


def synth_html(i: int, n_docs: int) -> str:
    """One golden-shaped company profile, deterministically varied:
    category subsets, multi-year price bands, media refs."""
    name = company_name(i)
    wkn = 500000 + i * 37 % 400000
    isin_core = f"{wkn:06d}"
    city = _CITIES[i % len(_CITIES)]
    year0 = 1999 + (i % 7)
    established = 1870 + (i * 11) % 130
    lines: list[str] = [
        "<html>",
        "<head>",
        '<meta HTTP-EQUIV="Content-Type" CONTENT="text/html; charset=iso-8859-1">',
        "</head>",
        '<body bgcolor="#FFFFFF" text="#000000">',
        "",
        "<br><center><h1><table><tr>",
        f'<td align="center"><b>{name}</b></td></tr></table></h1></center>',
        f"<center><b>Wertpapier-Kenn-Nr.: </b>{wkn}",
        "(Inhaber-Stammaktien)</center><br>",
        f"<center><b><b>ISIN: </b>DE000{isin_core}5",
        "(Inhaber-Stammaktien)</center><br>",
        "<br><center><h5><table><tr>",
        '<td align="center"><b>Sitz</b></td></tr></table></h5></center>',
        f"Hauptstr. {1 + i % 99}, {70000 + i % 9999} {city}<br>",
        "Telefon:",
        f"(07{i % 900:03d}) {i % 90}-0<br>",
        "e-mail:",
        f"info@firma{i}.de<br>",
        "<!-- weitere Sitze -->",
    ]
    if i % 9 == 4:
        # multi-Sitz: a second typed seat block (ref lib/parser.js:262-381)
        lines += [
            "<br>",
            "<b>Zweigniederlassung</b><br>",
            f"Nebenstr. {1 + (i * 3) % 50}, {60000 + (i * 7) % 9000} "
            f"{_CITIES[(i + 5) % len(_CITIES)]}<br>",
        ]
    lines += [
        "<br><center><h5><table><tr>",
        '<td align="center"><b>Tätigkeitsgebiet/Gründung</b></td></tr></table></h5></center>',
        f"{_ACTIVITIES[i % len(_ACTIVITIES)]}.<br>",
        f"<br><b>Gründung: </b>{established}<br>",
        f"<b>Status: </b>{'Insolvenz' if i % 17 == 0 else 'aktiv'}",
        "<br>",
        "<br><center><h5><table><tr>",
        '<td align="center"><b>Management</b></td></tr></table></h5></center>',
        "<b>Aufsichtsrat:</b><br>",
        f"{_person(i, 0)}; {_person(i, 1)}; {_person(i, 2)}<br>",
        "<b>Vorstand:</b><br>",
        f"{_person(i, 3)}; {_person(i, 4)}<br>",
        "",
        f"<br><b>Organbezüge:\xa0</b>{year0}: Vorstand TEUR {100 + i % 900}; "
        f"Aufsichtsrat TEUR {10 + i % 90}<br>",
    ]
    if i % 11 == 5:
        # standalone Anteilseigner category (ref lib/parser.js:1046-1089).
        # Leading <br> line: the Organbezüge handler's resume index skips
        # the line directly after it (reference cursor parity).
        lines += [
            "<br>",
            "<b>Anteilseigner:</b>",
            f"Bund, {30 + i % 40}%<br>Land Bayern, {15 + i % 30}%",
            "<br>",
        ]
    if i % 8 == 5:
        # Public Relations block (ref lib/parser.js:895-943); leading <br>
        # for the same cursor-skip reason as Anteilseigner above
        lines += [
            "<br>",
            "<b>Public Relations:</b>",
            f"{_FIRST[(i + 2) % 8]} {_LAST[(i + 3) % 8]};  "
            f"Telefon: (071{i % 90:02d}) 22-0",
            "<br>",
        ]
    if i % 8 == 3:
        lines += [
            "<br><center><h5><table><tr>",
            '<td align="center"><b>Leitung Kommunikation</b></td></tr></table></h5></center>',
            f"{_FIRST[(i + 1) % 8]} {_LAST[(i + 2) % 8]} Telefon: 0{i % 97}-11<br>",
        ]
    # shareholders
    lines += [
        "<br><center><h5><table><tr>",
        '<td align="center"><b>Gesellschafter</b></td></tr></table></h5></center>',
        f"<b>Aktionär(e):</b><br>Familie {_LAST[i % len(_LAST)]}, {city}, "
        f"{10 + i % 40},{i % 100:02d}%<br>Streubesitz, {50 + i % 40},"
        f"{(100 - i) % 100:02d}%<br>",
    ]
    # participations -> crawl out-links
    targets = beteiligung_targets(i, n_docs)
    if targets:
        bet_lines = "<br>".join(
            f"{company_name(t)}, {_CITIES[t % len(_CITIES)]} ({50 + t % 50}%)"
            for t in targets)
        lines += [
            "<br><center><h5><table><tr>",
            '<td align="center"><b>Mehrheitsbeteiligungen</b></td></tr></table></h5></center>',
            f"<b>Beteiligung(en)</b><br><b>Wesentliche Unternehmensbeteiligungen:</b> "
            f"<br>{bet_lines}<br><br></td></tr></table>",
        ]
    # capital table
    lines += [
        "<br><center><h5><table><tr>",
        '<td align="center"><b>Kapitalentwicklung seit 1990</b></td></tr></table></h5></center>',
        '<table cellspacing="0" cellpadding="0" width="100%" border="0">',
        "<tr>",
        f'<td width="10%" align="LEFT" valign="TOP"><b>{year0}</b></td>',
        '<td width="60%" align="LEFT" valign="TOP"><b>Gründungskapital</b></td>',
        f'<td width="30%" align="RIGHT" valign="TOP"><b>DM {1 + i % 9} 000 000,00</b></td>',
        "</tr>",
        "<tr>",
        "<td></td>",
        '<td align="LEFT" valign="TOP" colspan="2">der AG</td></tr>',
        "</table>",
        '<table width="100%" cellpadding="0" cellspacing="0" border="0">',
        "<tr>",
        '<td width="50%" align="LEFT" valign="TOP"><b>Derzeitiges Grundkapital</b></td>',
        f'<td width="50%" align="RIGHT" valign="TOP"><b>EUR {2 + i % 8} 000 000,00</b></td>',
        "</tr>",
        "<tr>",
        '<td align="LEFT" valign="TOP" colspan="2">Inhaber-Stammaktien '
        f"<br>Stückelung: {2 + i % 8} 000 000 Stückaktien o.N. "
        "<br>Stimmrecht: Je Stückaktie = 1 Stimme</td></tr>",
        "</table>",
    ]
    if i % 6 == 1:
        lines += [
            '<table width="100%" cellpadding="0" cellspacing="0" border="0">',
            "<tr>",
            '<td width="50%" align="LEFT" valign="TOP"><b>Genehmigtes Kapital</b></td>',
            f'<td width="50%" align="RIGHT" valign="TOP"><b>EUR {1 + i % 5} 000 000,00</b></td>',
            "</tr>",
            "<tr>",
            f'<td align="LEFT" valign="TOP" colspan="2">Gem. HV vom {1 + i % 27}.0{1 + i % 9}.{2000 + i % 6} '
            "<br>gegen Bar- oder Sacheinlagen</td></tr>",
            "</table>",
        ]
    if i % 6 == 3:
        # bedingtes Kapital (ref lib/parser_tables.js:361-480)
        lines += [
            '<table width="100%" cellpadding="0" cellspacing="0" border="0">',
            "<tr>",
            '<td width="50%" align="LEFT" valign="TOP"><b>Bedingtes Kapital</b></td>',
            f'<td width="50%" align="RIGHT" valign="TOP"><b>EUR {1 + i % 4} 500 000,00</b></td>',
            "</tr>",
            "<tr>",
            '<td align="LEFT" valign="TOP" colspan="2">Wandelschuldverschreibungen '
            f"gem. HV vom {1 + i % 27}.0{1 + i % 9}.{2000 + i % 6}</td></tr>",
            "</table>",
        ]
    if i % 12 == 7:
        # besondere Bezugsrechte (ref lib/parser_tables.js:493-602)
        lines += [
            '<table width="100%" cellpadding="0" cellspacing="0" border="0">',
            "<tr>",
            '<td width="30%" align="LEFT" valign="TOP"><b>Besondere Bezugsrechte</b></td>',
            "<td></td>",
            "</tr>",
            "<tr>",
            f'<td align="LEFT" valign="TOP">{2000 + i % 6}</td>',
            '<td align="LEFT" valign="TOP">Belegschaftsaktien zum Vorzugskurs</td></tr>',
            "</table>",
        ]
    if i % 12 == 11:
        # Ermächtigung Aktienerwerb (ref lib/parser_tables.js:614-690)
        lines += [
            '<table width="100%" cellpadding="0" cellspacing="0" border="0">',
            "<tr>",
            '<td width="100%" align="LEFT" valign="TOP"><b>Ermächtigung Aktienerwerb</b></td>',
            "</tr>",
            "<tr>",
            f'<td align="LEFT" valign="TOP">Die HV vom {1 + i % 27}.0{1 + i % 9}.'
            f"{2000 + i % 6} ermächtigt zum Erwerb eigener Aktien</td></tr>",
            "</table>",
        ]
    if i % 15 == 8:
        # Entwicklung des Genußkapitals (ref lib/parser_tables.js:113-148)
        lines += [
            '<table width="100%" cellpadding="0" cellspacing="0" border="0">',
            "<tr>",
            '<td width="30%" align="LEFT" valign="TOP"><b>Entwicklung des Genußkapitals</b></td>',
            "<td></td>",
            "</tr>",
            "<tr>",
            f'<td align="LEFT" valign="TOP">{year0}</td>',
            f'<td align="LEFT" valign="TOP">Ausgabe von Genußscheinen über DM {1 + i % 3} 000 000</td></tr>',
            "</table>",
        ]
    if i % 15 == 4:
        # genehmigtes Genußkapital (ref lib/parser_tables.js:262-349 via the
        # genu-classified index)
        lines += [
            '<table width="100%" cellpadding="0" cellspacing="0" border="0">',
            "<tr>",
            '<td width="50%" align="LEFT" valign="TOP"><b>Genehmigtes Genußkapital</b></td>',
            f'<td width="50%" align="RIGHT" valign="TOP"><b>DM {1 + i % 6} 500 000,00</b></td>',
            "</tr>",
            "<tr>",
            f'<td align="LEFT" valign="TOP" colspan="2">Gem. HV vom {1 + i % 27}.0{1 + i % 9}.{2000 + i % 6}</td></tr>',
            "</table>",
        ]
    if i % 15 == 11:
        # derzeitiges Genußkapital (ref lib/parser_tables.js:702-823 with
        # the 'genu' headline)
        lines += [
            '<table width="100%" cellpadding="0" cellspacing="0" border="0">',
            "<tr>",
            '<td width="50%" align="LEFT" valign="TOP"><b>Derzeitiges Genußkapital</b></td>',
            f'<td width="50%" align="RIGHT" valign="TOP"><b>DM {2 + i % 5} 250 000,00</b></td>',
            "</tr>",
            "<tr>",
            '<td align="LEFT" valign="TOP" colspan="2">Genußscheine auf den Inhaber</td></tr>',
            "</table>",
        ]
    if i % 12 == 6:
        # own Kapitalangaben section -> ausgegebenes Kapital
        # (ref lib/parser_tables.js:982-1080)
        lines += [
            "<br><center><h5><table><tr>",
            '<td align="center"><b>Kapitalangaben</b></td></tr></table></h5></center>',
            '<table width="100%" cellpadding="0" cellspacing="0" border="0">',
            "<tr>",
            '<td width="50%" align="LEFT" valign="TOP"><b>Ausgegebenes Kapital</b></td>',
            f'<td width="50%" align="RIGHT" valign="TOP">EUR {3 + i % 6} 200 000,00</td>',
            "</tr>",
            "<tr>",
            f'<td align="LEFT" valign="TOP" colspan="2">Stückelung: {3 + i % 6} 200 000 '
            "Stückaktien o.N.</td></tr>",
            "</table>",
        ]
    # market section with media span + price table (two bands for i%2==0)
    lines += [
        "<br><center><h5><table><tr>",
        '<td align="center"><b>Börsenbewertung</b></td></tr></table></h5></center>',
        f'<img src="{70000 + i}.bmp"><br><br>',
        f"ISIN: DE000{isin_core}5, Inhaber-Stammaktien<br>",
        f"Wertpapier-Kenn-Nr.: {wkn}, Inhaber-Stammaktien<br>",
        "<b>Notiert:</b>",
        "Geregelter Markt Frankfurt; Freiverkehr Stuttgart",
        "<br>",
        f"Notiert seit 28.8.{year0}<br><b>Bereinigte Kurse</b> (Frankfurt in EUR)<br>",
        '<table cellspacing="0" cellpadding="0" width="100%" border="0">',
        "<tr>",
        "<td></td>",
        f'<td align="RIGHT" valign="TOP" width="15%"><b>{year0}</b></td>',
        f'<td align="RIGHT" valign="TOP" width="15%"><b>{year0 + 1}</b></td></tr>',
        "<tr>",
        '<td align="LEFT" valign="TOP">Höchst</td>',
        f'<td align="RIGHT" valign="TOP">{10 + i % 80},{i % 100:02d}</td>',
        f'<td align="RIGHT" valign="TOP">{5 + i % 40},{(i * 3) % 100:02d}</td></tr>',
        "<tr>",
        '<td align="LEFT" valign="TOP">Tiefst</td>',
        f'<td align="RIGHT" valign="TOP">{1 + i % 9},{i % 100:02d}</td>',
        f'<td align="RIGHT" valign="TOP">{1 + i % 5},{(i * 7) % 100:02d}</td></tr>',
        "<tr>",
        '<td align="LEFT" valign="TOP">Ultimo</td>',
        f'<td align="RIGHT" valign="TOP">{2 + i % 9},{i % 100:02d}</td>',
        f'<td align="RIGHT" valign="TOP">{2 + i % 5},{(i * 9) % 100:02d}</td></tr>',
        "</table>",
    ]
    if i % 5 == 0:
        # second exchange listing (multi-exchange docs -> boersenbewertung2);
        # placed directly after the price table so the E22 occurrence counter
        # actually fires a second time (lib/callCounter.js:52-54)
        lines += [
            f"ISIN: DE000{isin_core}5, Vorzugsaktien<br>",
            f"Wertpapier-Kenn-Nr.: {wkn + 1}, Vorzugsaktien<br>",
            "<b>Notiert:</b>",
            "Freiverkehr Hamburg",
            "<br>",
        ]
    # category-subset variants (FIXTURES.md: the corpus mixes multi-exchange
    # blocks, dividend tables, dynamic-pivot tables across docs)
    if i % 2 == 0:
        lines += [
            "<b>Dividenden/Ausschüttung</b><br>",
            '<table cellpadding="0" cellspacing="0" border="0" width="100%">',
            "<tr>",
            "<td></td>",
            f'<td align="RIGHT" width="15%"><b>{year0}</b></td>',
            f'<td align="RIGHT" width="15%"><b>{year0 + 1}</b></td></tr>',
            "<tr>",
            "<td>Dividende</td>",
            f'<td align="RIGHT">EUR {i % 4}</td>',
            f'<td align="RIGHT">EUR {(i + 1) % 4}</td></tr>',
            "<tr>",
            "<td>Bonus</td>",
            '<td align="RIGHT">-</td>',
            '<td align="RIGHT">-</td></tr>',
            "</table>",
        ]
        if i % 8 == 2:
            # Ergebnisabführung with MISSING table-start repair path: the
            # headline sits inside the already-open table, forcing the
            # backward scan (ref lib/parser_additions.js:37-110)
            lines += [
                '<table width="100%" cellpadding="0" cellspacing="0" border="0">',
                "<tr>",
                '<td width="40%" align="LEFT"><b>Ergebnisabführung</b></td>',
                f'<td align="RIGHT">{year0}</td>',
                f'<td align="RIGHT">{year0 + 1}</td></tr>',
                "<tr>",
                "<td></td>",
                f'<td align="RIGHT">TEUR {300 + i}</td>',
                f'<td align="RIGHT">TEUR {310 + i}</td></tr>',
                "</table>",
            ]
        else:
            # Ergebnisabführung, regular shape (ref lib/parser_tables.js:1298-1356)
            lines += [
                "<b>Ergebnisabführung</b><br>",
                '<table width="100%" cellpadding="0" cellspacing="0" border="0">',
                "<tr>",
                f'<td width="40%" align="LEFT">{year0}</td>',
                f'<td align="RIGHT">TEUR {300 + i}</td></tr>',
                "<tr>",
                f'<td width="40%" align="LEFT">{year0 + 1}</td>',
                f'<td align="RIGHT">TEUR {310 + i}</td></tr>',
                "</table>",
            ]
    if i % 3 == 0:
        lines += [
            "<center><b>Kennzahlen</b></center><br>",
            '<table width="100%">',
            "  <tr>",
            "<td><b>Konzern</b></td>",
            f'  <td align="right" width="15%"><b>{year0}</b></td>',
            f'  <td align="right" width="15%"><b>{year0 + 1}</b></td>',
            "  </tr>",
            "  <tr>",
            "<td>Investitionen (Mio EUR)</td>",
            f'  <td align="right" width="15%">{i % 9},{i % 10}</td>',
            f'  <td align="right" width="15%">{(i + 3) % 9},{i % 10}</td>',
            "  </tr>",
            "  <tr>",
            "<td>Eigenkapitalquote (%)</td>",
            f'  <td align="right" width="15%">{20 + i % 60},{i % 10}</td>',
            f'  <td align="right" width="15%">{20 + (i + 7) % 60},{i % 10}</td>',
            "  </tr>",
            "</table>",
            "i) gemäß IAS<br>",
        ]
    if i % 4 == 0:
        lines += [
            "<br><center><b>Aus den Bilanzen (in TEUR)</b></center><br>",
            '<table width="100%"><tr>  <td width="40%"><b></b></td>  '
            f'<td align="RIGHT" width="15%"><b>{year0}</b></td>  '
            f'<td align="RIGHT" width="15%"><b>{year0 + 1}</b></td></tr></table>',
            '<table width="100%">',
            '  <tr>  <td width="40%"><b>Aktiva</b></td>  '
            '<td align="RIGHT" width="15%"><b></b></td>  '
            '<td align="RIGHT" width="15%"><b></b></td>  </tr>',
            f'  <tr>  <td width="40%">Anlagevermögen</td>  '
            f'<td align="RIGHT" width="15%">{1000 + i}</td>  '
            f'<td align="RIGHT" width="15%">{1100 + i}</td>  </tr>',
            f'  <tr>  <td width="40%">Vorräte</td>  '
            f'<td align="RIGHT" width="15%">{500 + i}</td>  '
            f'<td align="RIGHT" width="15%">{600 + i}</td>  </tr>',
            "</table>",
        ]
    if i % 4 == 2:
        # P&L pivot (E28, ref lib/parser_tables.js:2319-2566)
        lines += [
            "<br><center><b>Aus den Gewinn- und Verlustrechnungen (in TEUR)</b></center><br>",
            '<table width="100%">',
            '  <tr>  <td width="40%"><b></b></td>  '
            f'<td align="RIGHT" width="15%"><b>{year0}</b></td>  '
            f'<td align="RIGHT" width="15%"><b>{year0 + 1}</b></td>  </tr>',
            f'  <tr>  <td width="40%">Umsatzerlöse</td>  '
            f'<td align="RIGHT" width="15%">{5000 + i}</td>  '
            f'<td align="RIGHT" width="15%">{5100 + i}</td>  </tr>',
            f'  <tr>  <td width="40%">Jahresergebnis</td>  '
            f'<td align="RIGHT" width="15%">{200 + i}</td>  '
            f'<td align="RIGHT" width="15%">{220 + i}</td>  </tr>',
            "</table>",
        ]
    lines += [
        "<br><center><h5><table><tr>",
        '<td align="center"><b>Sonstige Angaben</b></td></tr></table></h5></center>',
        f"<b>Geschäftsjahr: </b>Kalenderjahr<br>",
        "<br>",
        "</body>",
        "</html>",
    ]
    return "\n".join(lines)


_RE_IMG = re.compile(r'<img\s+src="([^"]+)"', re.I)


def html_to_spans(html: str) -> list[dict]:
    """FIXTURES.md §1 synthesis rule: one text span per line (offset = line
    index); one extra media span per ``<img src=...>`` at that offset."""
    spans: list[dict] = []
    for offset, line in enumerate(html.split("\n")):
        spans.append({"kind": "text", "text": line, "media_ref": "",
                      "offset": offset})
        for ref in _RE_IMG.findall(line):
            spans.append({"kind": "media", "text": "", "media_ref": ref,
                          "offset": offset})
    return spans


def spans_to_text(spans: list[dict]) -> str:
    """Inverse of html_to_spans for the extraction path: text spans joined in
    offset order (media spans carry no text). Stable sort keeps the
    text-before-media ordering of equal offsets."""
    text_spans = sorted((s for s in spans if s["kind"] == "text"),
                        key=lambda s: s["offset"])
    return "\n".join(s["text"] for s in text_spans)


# ---------------------------------------------------------------------------
# crawl-tier graph (FIXTURES.md §5)
# ---------------------------------------------------------------------------

URL_PREFIX = "akf://cd"


def url_for(i: int) -> str:
    year = 1999 + (i % 7)
    return f"{URL_PREFIX}{year}/{i:04d}.html"


def doc_index_from_url(url: str) -> int | None:
    m = re.search(r"/(\d+)\.html$", url)
    return int(m.group(1)) if m else None


def seed_urls(n_seeds: int, n_docs: int) -> list[dict]:
    """Deterministic seed list: every (n_docs // n_seeds)-th doc."""
    step = max(1, n_docs // max(1, n_seeds))
    return [{"url": url_for(i), "seq": k}
            for k, i in enumerate(range(0, n_docs, step))][:n_seeds]


def robots_rules(n_docs: int) -> list[dict]:
    """Deterministic robots table: hosts 'akf://cd{year}' with one
    disallowed path-prefix per even year."""
    rules = []
    for year in range(1999, 2006):
        host = f"{URL_PREFIX}{year}"
        rules.append({"host": host, "rule": "/", "allow": True})
        if year % 2 == 0:
            # disallow a narrow slice of doc ids deterministically
            rules.append({"host": host, "rule": f"/09", "allow": False})
    return rules
