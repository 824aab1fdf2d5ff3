"""End-to-end distributed byte-identity — THE correctness gate.

BASELINE.json: "byte-identical extracted text per url" vs golden outputs,
verified under `python -m pytest -x -q`. The golden side is a sequential
driver-side loop over the same pure functions; the Spark side runs the full
distributed plan (salted shuffle + Arrow-batched extraction)."""

import pytest

from _intelligent_document_ai_for_field_extraction_from_invoices_spark import (
    datagen,
    golden,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.extract import (
    extract_pages,
)


@pytest.fixture(scope="module")
def golden_results(documents):
    rows = documents.select("doc_id", "text", "lang").collect()
    out = {}
    for r in rows:
        url = datagen.url_for(r.doc_id)
        out[url] = golden.extract_page(url, datagen.render_page(r.doc_id, r.text, r.lang))
    return out


def _spark_results(spark, documents, num_partitions):
    pages = datagen.pages_from_documents(documents)
    res = extract_pages(pages, num_partitions=num_partitions)
    return {r["url"]: r.asDict() for r in res.collect()}


def test_byte_identity_distributed(spark, documents, golden_results):
    got = _spark_results(spark, documents, num_partitions=8)
    assert set(got) == set(golden_results)
    n_bytes = 0
    for url, exp in golden_results.items():
        g = got[url]
        # the 100%-byte-match gate
        assert g["body_text"] == exp["body_text"], url
        for f in ("title", "byline", "pub_date", "status", "error_message",
                  "overall_confidence", "n_blocks_kept", "n_blocks_dropped",
                  "body_span_start", "body_span_len"):
            assert g[f] == exp[f], (url, f)
        n_bytes += len((g["body_text"] or "").encode())
    assert n_bytes > 0


def test_determinism_across_partitionings(spark, documents):
    """Same input at different partition counts -> identical outputs
    (guards argmax tie-breaks A1 and assembly W2 under redistribution)."""
    a = _spark_results(spark, documents, num_partitions=3)
    b = _spark_results(spark, documents, num_partitions=16)
    assert set(a) == set(b)
    for url in a:
        da, db = a[url], b[url]
        da.pop("part_id"), db.pop("part_id")
        assert da == db, url


def test_failed_rows_contained(spark, documents):
    got = _spark_results(spark, documents, num_partitions=4)
    failed = [g for g in got.values() if g["status"] == "failed"]
    # doc_id % 97 == 96 rows are empty payloads -> failed, never exceptions
    assert all(g["error_message"] == "empty" for g in failed)
    assert any(g["status"] == "success" for g in got.values())


def test_arrow_udf_null_and_empty_html_with_passthrough(spark):
    """Edges of the Arrow UDF: a NULL and an empty html payload, with
    passthrough columns and timings on. The result schema is the declared
    one, both rows are contained failures, and passthrough values (NULLs
    included) come back unchanged."""
    from pyspark.sql.types import StructType

    ok = datagen.render_page(1, "plain words " * 20, "en")
    pages = spark.createDataFrame(
        [("u-null", None, 3, "2025-01-02"),
         ("u-empty", bytearray(b""), None, "día-İ"),
         ("u-ok", bytearray(ok), -7, None)],
        "url string, html binary, ckpt_part int, warc_day string")
    res = extract_pages(pages, num_partitions=2, with_timings=True,
                        passthrough=[("ckpt_part", "int"),
                                     ("warc_day", "string")])
    assert res.schema == StructType.fromDDL(
        "url string, title string, byline string, pub_date string, "
        "body_text string, title_conf double, byline_conf double, "
        "date_conf double, body_conf double, overall_confidence double, "
        "status string, error_message string, n_nodes int, n_blocks_kept int, "
        "n_blocks_dropped int, parse_failures int, body_span_start long, "
        "body_span_len long, n_html_bytes long, part_id int, wall_ms double, "
        "ckpt_part int, warc_day string")
    got = {r.url: r.asDict() for r in res.collect()}
    for u in ("u-null", "u-empty"):
        assert got[u]["n_html_bytes"] == 0
        assert (got[u]["status"], got[u]["error_message"]) == ("failed", "empty")
    assert got["u-ok"]["status"] == "success"
    assert got["u-ok"]["n_html_bytes"] == len(ok)
    assert {u: (g["ckpt_part"], g["warc_day"]) for u, g in got.items()} == {
        "u-null": (3, "2025-01-02"), "u-empty": (None, "día-İ"),
        "u-ok": (-7, None)}
    exp = golden.extract_page("u-ok", ok)
    assert {k: got["u-ok"][k] for k in exp} == exp
    assert all(g["wall_ms"] >= 0.0 for g in got.values())
