"""Column-statistics data skipping (round 6): every commit records
footer-derived per-file min/max/null-count (Iceberg's
write.metadata.metrics analogue), and `stats_where=` predicates skip
manifests and files with TYPED comparison — the data-skipping tier under
partition pruning. Soundness bar: a stats-pruned read returns EXACTLY the
rows a full-scan filter would, on every value type and null shape."""

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources import tables
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources.tables import (
    Catalog,
    _build_stats_summary,
    _upper_bound_str,
)

LONG_TAIL = "/" + "x" * 200  # forces string-bound truncation


@pytest.fixture()
def cat(spark, tmp_path):
    c = Catalog(str(tmp_path))
    df = (
        spark.range(0, 2000)
        .withColumn("url", F.concat(
            F.lit("https://example.org/page/"),
            F.lpad(F.col("id"), 8, "0"), F.lit(LONG_TAIL)))
        .withColumn("ts", F.timestamp_seconds(
            F.lit(1735689600) + F.col("id") * 60))
        .withColumn("lang", F.when(F.col("id") % 5 == 0, None)
                    .otherwise(F.concat(F.lit("l"), F.col("id") % 3)))
    )
    # range-disjoint files so bounds actually discriminate
    c.append("t", df.repartitionByRange(8, "id"))
    return c


def _ids(df):
    return {r.id for r in df.select("id").collect()}


class TestExactness:
    """Every stats_where read == the same filter over a full scan."""

    def test_int_range_typed_not_lexicographic(self, spark, cat):
        # 999 vs 1000 orders wrongly as strings — typed compare must win
        full = _ids(cat.read(spark, "t").filter(F.col("id") >= 999))
        got = _ids(cat.read(spark, "t", stats_where={"id": (">=", 999)}))
        assert got == full and len(got) == 1001

    def test_between_prunes_and_is_exact(self, spark, cat):
        got = cat.read(spark, "t",
                       stats_where={"id": ("between", 100, 260)})
        assert _ids(got) == set(range(100, 261))
        st = cat.last_scan_stats
        assert st["files_skipped_by_stats"] > 0
        assert st["files_selected"] < 8

    def test_timestamp_instant_compare(self, spark, cat):
        cut = datetime.datetime(2025, 1, 1, 2, 0, 0)
        got = cat.read(spark, "t", stats_where={"ts": ("<", cut)})
        assert _ids(got) == set(range(120))
        assert cat.last_scan_stats["files_selected"] == 1

    def test_truncated_string_bounds_stay_sound(self, spark, cat):
        # url bounds truncate at STATS_STR_BOUND chars; pruning must keep
        # every file that can hold a match and the residual stays exact
        pred = {"url": (">=", "https://example.org/page/00001500")}
        got = cat.read(spark, "t", stats_where=pred)
        assert _ids(got) == set(range(1500, 2000))
        assert cat.last_scan_stats["files_selected"] < 8

    def test_equality_and_in(self, spark, cat):
        got = cat.read(spark, "t", stats_where={"id": 1234})
        assert _ids(got) == {1234}
        assert cat.last_scan_stats["files_selected"] == 1
        got = cat.read(spark, "t", stats_where={"id": ("in", [3, 1999])})
        assert _ids(got) == {3, 1999}
        assert cat.last_scan_stats["files_selected"] == 2

    def test_null_semantics(self, spark, cat):
        # "= None" is IS NULL; ranges never match null rows
        got = cat.read(spark, "t", stats_where={"lang": None})
        assert _ids(got) == set(range(0, 2000, 5))
        got = cat.read(spark, "t",
                       stats_where={"lang": ("in", ["l1", None])})
        full = _ids(cat.read(spark, "t").filter(
            F.col("lang").isNull() | (F.col("lang") == "l1")))
        assert _ids(got) == full

    def test_combined_with_partition_where(self, spark, tmp_path):
        c = Catalog(str(tmp_path / "p"))
        df = spark.createDataFrame(
            [(i, ["a", "b"][i % 2], i * 10) for i in range(100)],
            "doc_id long, part string, score long")
        c.append("p", df.repartitionByRange(4, "doc_id"),
                 partition_by=["part"])
        got = c.read(spark, "p", where={"part": "a"},
                     stats_where={"score": ("<", 200)})
        assert {r.doc_id for r in got.collect()} == set(range(0, 20, 2))


class TestPruningMechanics:
    def test_manifest_level_skip_without_open(self, spark, tmp_path):
        c = Catalog(str(tmp_path / "m"))
        # two commits = two manifests with disjoint id ranges
        c.append("t", spark.range(0, 100).repartition(2))
        c.append("t", spark.range(1000, 1100).repartition(2))
        c.scan_files("t", stats_where={"id": ("<", 50)})
        st = c.last_scan_stats
        assert st["manifests_total"] == 2
        assert st["manifests_opened"] == 1  # other pruned via summary

    def test_merged_manifests_keep_stats(self, spark, tmp_path):
        # MERGE_MIN small appends fold into one manifest; the merged
        # entry's rebuilt stats summary (and per-file stats) must survive
        c = Catalog(str(tmp_path / "g"))
        for i in range(tables.MERGE_MIN + 1):
            c.append("t", spark.range(i * 10, i * 10 + 10).coalesce(1))
        snap = c._read_current("t")
        assert len(snap["manifests"]) < tables.MERGE_MIN
        got = c.read(spark, "t", stats_where={"id": ("<", 10)})
        assert _ids(got) == set(range(10))
        assert c.last_scan_stats["files_selected"] == 1

    def test_compact_recollects_stats(self, spark, tmp_path):
        c = Catalog(str(tmp_path / "c"))
        for i in range(4):
            c.append("t", spark.range(i * 100, i * 100 + 100)
                     .repartitionByRange(2, "id"))
        c.compact(spark, "t", target_file_bytes=512)
        got = c.read(spark, "t", stats_where={"id": ("<", 100)})
        assert _ids(got) == set(range(100))
        assert (c.last_scan_stats["files_selected"]
                < len(c.scan_files("t")))

    def test_distributed_collection_path(self, spark, tmp_path):
        # past STATS_DISTRIBUTE_MIN files the footer pass runs as a Spark
        # job; same stats, same pruning
        c = Catalog(str(tmp_path / "d"))
        n = tables.STATS_DISTRIBUTE_MIN + 6
        c.append("t", spark.range(0, n * 10).repartitionByRange(n, "id"))
        snap = c._read_current("t")
        rows = [r for e in snap["manifests"]
                for r in c._read_manifest(e)]
        assert len(rows) >= n and all(r.get("stats") for r in rows)
        got = c.read(spark, "t", stats_where={"id": ("<", 10)})
        assert _ids(got) == set(range(10))
        assert c.last_scan_stats["files_selected"] <= 2

    def test_collect_stats_off_still_exact(self, spark, tmp_path):
        """Manifest rows without `stats` (a snapshot written before
        stats existed): the rewrite strips them from the manifest files
        and the manifest-list summaries, and reads stay exact with zero
        skipping."""
        c = Catalog(str(tmp_path / "o"))
        c.append("t", spark.range(0, 100).repartitionByRange(4, "id"))
        c.read(spark, "t", stats_where={"id": ("<", 10)})
        assert c.last_scan_stats["files_skipped_by_stats"] > 0  # has stats
        meta = os.path.join(str(tmp_path / "o"), "t", "_meta")
        for fn in os.listdir(meta):
            path = os.path.join(meta, fn)
            if fn.startswith("m-"):
                with open(path) as f:
                    man = json.load(f)
                for r in man["files"]:
                    del r["stats"]
            elif fn.startswith("v") and fn.endswith(".json"):
                with open(path) as f:
                    man = json.load(f)
                for e in man["manifests"]:
                    e["stats_summary"] = {}
            else:
                continue
            with open(path, "w") as f:
                json.dump(man, f)
        got = c.read(spark, "t", stats_where={"id": ("<", 10)})
        assert _ids(got) == set(range(10))  # residual-only, zero skipping
        assert c.last_scan_stats["files_skipped_by_stats"] == 0


class TestGuards:
    def test_type_mismatch_raises(self, spark, cat):
        with pytest.raises(ValueError, match="does not compare"):
            cat.scan_files("t", stats_where={"id": (">=", "nine")})

    def test_range_over_none_rejected(self, cat):
        with pytest.raises(ValueError, match="over None"):
            cat.scan_files("t", stats_where={"id": (">=", None)})

    def test_upper_bound_str(self):
        assert _upper_bound_str("short") == "short"
        long = "a" * (tables.STATS_STR_BOUND + 5)
        ub = _upper_bound_str(long)
        assert len(ub) <= tables.STATS_STR_BOUND and ub > long
        # all max-codepoint prefix: no finite bound exists
        assert _upper_bound_str(chr(0x10FFFF) * 100) is None

    def test_summary_type_clash_drops_column(self):
        rows = [{"stats": {"c": {"nulls": 0, "min": 1, "max": 2}}},
                {"stats": {"c": {"nulls": 0, "min": "a", "max": "b"}}}]
        assert "c" not in _build_stats_summary(rows)
