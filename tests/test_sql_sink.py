"""S8 golden lock: the Spark json2sql twin vs the reference converter
itself (lib/converter.js — dependency-free, runs directly under Node) on
the kernel's records for the REAL golden document and synthetic variants,
including the quote-escape and missing-field (NULL) paths."""

import json
import os
import shutil
import subprocess

import pytest

from akf_cdparser_spark import fixtures
from akf_cdparser_spark.kernel import parse_document
from akf_cdparser_spark.kernel.dicts import _REFERENCE_DICTDIR
from akf_cdparser_spark.operators import extract as X
from akf_cdparser_spark.operators import sql_sink

node = shutil.which("node")

_CONVERTER = os.path.join(os.path.dirname(_REFERENCE_DICTDIR), "lib",
                          "converter.js")

pytestmark = pytest.mark.skipif(
    node is None or not os.path.exists(_CONVERTER),
    reason="node or the reference converter not available")

_JS = f"""
const AkfConverter = require({json.dumps(_CONVERTER)});
const profils = JSON.parse(require('fs').readFileSync(0, 'utf8'));
const conv = new AkfConverter();
process.stdout.write(JSON.stringify(profils.map(p => conv.json2sql(p))));
"""


def _reference_sql(profils: list[dict]) -> list[str]:
    out = subprocess.run([node, "-e", _JS],
                         input=json.dumps(profils).encode(),
                         capture_output=True, check=True)
    return json.loads(out.stdout)


def _clean(rec: dict) -> dict:
    return {k: v for k, v in rec.items() if not k.startswith("_")}


def test_json2sql_matches_reference_on_golden_and_corpus(spark):
    n = 12
    docs = X.docs_dataframe(spark, n)
    records = X.extract_records(docs)
    got = {r["doc_id"]: r["sql"]
           for r in sql_sink.json2sql(records).collect()}

    profils, doc_ids = [], []
    for i in range(n):
        rec, _, _ = parse_document(fixtures.synth_html(i, n))
        profils.append(_clean(rec))
        doc_ids.append(fixtures.doc_id_for(i))
    expected = _reference_sql(profils)
    assert set(got) == set(doc_ids)
    for doc_id, exp in zip(doc_ids, expected):
        assert got[doc_id] == exp, doc_id


def test_json2sql_quote_and_null_quirks():
    profils = [
        # first quote escaped, second left alone (JS String.replace quirk)
        {"wkn": "52'00'0", "aufsichtsrat": [
            {"lastName": "O'Brien'x", "firstName": "Pat"}]},
        # absent wkn/title -> NULL; no aufsichtsrat -> empty string
        {"aufsichtsrat": [{"lastName": "Solo"}]},
        {"name": "no board"},
    ]
    expected = _reference_sql(profils)
    assert expected[0] == (
        'INSERT INTO "Aufsichtsrat" VALUES(\'52\\\'00\'0\', '
        "'O\\'Brien'x', 'Pat', NULL, NULL, NULL, '---', 0);\n")
    assert expected[1] == ('INSERT INTO "Aufsichtsrat" VALUES('
                           "NULL, 'Solo', NULL, NULL, NULL, NULL, '---', 0);\n")
    assert expected[2] == ""
