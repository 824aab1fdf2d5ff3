"""Evaluation job (results vs golden)."""

import pytest
from pyspark.sql import functions as F

from _intelligent_document_ai_for_field_extraction_from_invoices_spark import datagen
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
    evaluate as ev,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.extract import (
    extract_pages,
)


@pytest.fixture(scope="module")
def results(spark, documents):
    pages = datagen.pages_from_documents(documents)
    return extract_pages(pages).cache()


@pytest.fixture(scope="module")
def golden_table(spark, documents):
    """Golden values recomputed from the mirrored doc_id arithmetic."""
    rows = documents.select("doc_id", "text").collect()
    out = []
    for r in rows:
        flavor = datagen.flavor_for(r.doc_id)
        if flavor == "empty":
            continue
        byline = (datagen.ml_author_for(r.doc_id) if flavor == "ml"
                  else datagen.author_for(r.doc_id))
        out.append((
            datagen.url_for(r.doc_id),
            datagen.title_for(r.doc_id, r.text.split()),
            byline,
            datagen.date_for(r.doc_id),
            datagen.expected_body(r.doc_id, r.text),
        ))
    return spark.createDataFrame(
        out, "url string, title string, byline string, pub_date string, "
             "body_text string")


def test_eval_pipeline_is_perfect_on_golden(spark, results, golden_table):
    ok = results.filter(F.col("status") == "success")
    joined = ev.joined_eval(ok, golden_table)
    prf = {r.field: r for r in ev.field_prf(joined).collect()}
    for f in ("title", "byline", "pub_date"):
        assert prf[f].precision == 1.0, f
        assert prf[f].recall == 1.0, f
        assert prf[f].f1 == 1.0, f
    acc = ev.document_accuracy(joined).first()
    assert acc.doc_accuracy == 1.0
    assert acc.body_byte_match_rate == 1.0  # the 100%-byte-match gate


def test_eval_detects_corruption(spark, results, golden_table):
    ok = results.filter(F.col("status") == "success")
    corrupted = ok.withColumn(
        "title", F.when(F.col("url").endswith("0"), F.lit("Wrong Title XYZ"))
        .otherwise(F.col("title"))
    ).withColumn(
        "body_text", F.concat(F.col("body_text"), F.lit("TAMPER"))
    )
    joined = ev.joined_eval(corrupted, golden_table)
    prf = {r.field: r for r in ev.field_prf(joined).collect()}
    assert prf["title"].precision < 1.0
    acc = ev.document_accuracy(joined).first()
    assert acc.body_byte_match_rate == 0.0
    assert acc.doc_accuracy == 0.0


def test_confidence_distribution_and_errors(spark, results):
    dist = ev.confidence_distribution(
        results.filter(F.col("status") == "success")).first()
    assert 0.3 <= dist.mean <= 0.98
    assert dist.n_high + dist.n_medium + dist.n_low > 0
    errs = {r.category: r.n for r in ev.error_breakdown(results).collect()}
    assert errs.get("empty_input", 0) > 0
    assert errs["none"] > 0
