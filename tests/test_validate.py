"""Ajv-validator twin (lib/validator.js:38-65 / schema.yml): the golden
reference fixture validates true; deleting the wkn flips it to false —
mirrors test/parser.test.js:19-21."""

import json
import os

import pytest
from pyspark.sql import functions as F

from akf_cdparser_spark.kernel import parse_document
from akf_cdparser_spark.operators import extract as X
from akf_cdparser_spark.operators.validate import (validate_profiles,
                                                   validation_errors)

FIXTURE = "/root/reference/test/fixtures/html/2005/0003.html.utf8.html"


def _records_df(spark, rec_variants):
    rows = [(f"doc/{i}", json.dumps(rec, ensure_ascii=False))
            for i, rec in enumerate(rec_variants)]
    return spark.createDataFrame(rows, "doc_id string, record_json string")


@pytest.fixture(scope="module")
def golden_record():
    if not os.path.exists(FIXTURE):
        pytest.skip("reference fixture not available")
    with open(FIXTURE, encoding="utf-8") as fh:
        rec, _lineage, _counts = parse_document(fh.read())
    return rec


def test_golden_doc_is_valid(spark, golden_record):
    out = validate_profiles(_records_df(spark, [golden_record])).head()
    assert out.errors == [], out.errors
    assert out.valid is True


def test_wkn_deleted_is_invalid(spark, golden_record):
    # mirrors `delete profile.wkn` in test/parser.test.js:19-21 — the
    # kombined record carries wkn inside all_wkn_entry
    broken = {k: v for k, v in golden_record.items() if k != "all_wkn_entry"}
    out = validate_profiles(_records_df(spark, [broken])).head()
    assert out.valid is False
    assert "required: wkn" in out.errors


def test_rule_violations_each_flagged(spark, golden_record):
    import copy

    bad = copy.deepcopy(golden_record)
    bad["all_wkn_entry"][0]["wkn"] = "54x780"          # wkn not a number
    bad["aufsichtsrat"][0]["funct"] = "Mitglied"       # funct pattern
    bad["aufsichtsrat"][1].pop("lastName")             # Manager required
    bad["Sitz"][0]["zip"] = "7320"                     # zip pattern
    bad["Sitz"][0]["phone"] = "call me"                # phone pattern
    bad["status"] = "aktiv"                            # status pattern
    out = validate_profiles(_records_df(spark, [bad])).head()
    assert out.valid is False
    errs = "\n".join(out.errors)
    assert "required: wkn" in errs          # the only wkn is non-numeric
    assert "wkn: not a number" in errs
    assert "aufsichtsrat[0]: funct pattern" in errs
    assert "aufsichtsrat[1]: required lastName" in errs
    assert "Sitz[0]: zip pattern" in errs
    assert "Sitz[0]: phone pattern" in errs
    assert "status pattern" in errs


def test_errors_channel_and_corpus(spark):
    # schema.yml's `status: pattern: 'Insolvenz'` literally only admits
    # statuses containing "Insolvenz" (Ajv-faithful; the golden fixture IS
    # insolvent). Synthetic docs rotate other statuses, so exactly those
    # docs fail, with status-pattern as the ONLY violation — every other
    # rule is clean across the corpus, and the errors channel carries one
    # row per violation.
    recs = X.extract_records(X.docs_dataframe(spark, 12))
    validated = validate_profiles(recs).cache()
    assert validated.count() == 12
    bad = validated.filter(~F.col("valid"))
    errs = validation_errors(validated).cache()
    assert errs.count() == bad.count()
    assert {r.error for r in errs.collect()} <= {"status pattern"}
    errs.unpersist()
    validated.unpersist()
