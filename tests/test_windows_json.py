"""Currency flag (F8), JSON shaping roundtrip (F13/F14), cost model (A9)."""

from pyspark.sql import functions as F

from _intelligent_document_ai_for_field_extraction_from_invoices_spark.functions import text as tf


def test_currency_flag(spark):
    df = spark.createDataFrame(
        [("price ₹500",), ("USD 30",), ("no money here",)], "t string")
    got = [r.c for r in df.select(tf.has_currency(F.col("t")).alias("c")).collect()]
    assert got == [True, True, False]


def test_json_roundtrip(spark):
    res = spark.createDataFrame(
        [("u1", "T", "B", "2024-01-01", 0.95, 0.9, 0.85, 0.91, "success")],
        "url string, title string, byline string, pub_date string, "
        "title_conf double, byline_conf double, date_conf double, "
        "overall_confidence double, status string")
    js = tf.results_to_json(res)
    row = tf.parse_json_results(js).select("parsed.*").first()
    assert row.title.value == "T" and row.title.confidence == 0.95
    assert row.pub_date.value == "2024-01-01"
    assert row.status == "success"


def test_cost_metrics(spark):
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (
        evaluate as ev,
    )

    lin = spark.createDataFrame(
        [(0, 100, 2_000_000), (1, 50, 4_000_000)],
        "part_id int, n_rows long, bytes_out long")
    got = {r.part_id: r for r in ev.cost_metrics(lin).collect()}
    assert got[0].est_cost_usd > 0
    assert got[1].est_cost_usd == 2 * got[0].est_cost_usd
    assert got[0].cost_per_row_usd > 0
