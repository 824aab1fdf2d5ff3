"""The benchmark workloads.

Each workload generates its inputs from the seed, hands only those inputs to
the package's public functions, and checks every pass against a reference
that does not come from the code under test:

- extract_pages: ~1.4 KB pages extracted in memory into one small
  aggregate. `golden` and the per-row Arrow crossing do nearly all the work
  and nothing is written. Its traced run also runs the ingest probe, which
  measures `plans.lineage` and `sources.tables` on the extraction path.
- curate: the CLI curate chain (six stages, each an overwrite commit plus a
  read-back) over documents with planted duplicates. `golden` does no work
  here, so an extraction change should leave it unchanged.

A pass is the unit the window times. `run_pass` takes an optional tracer; with
one it opens spans around its layer calls, without one it runs the bare calls.
Per-layer metrics a workload does not exercise are reported as 0.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import os
import re
import shutil
import statistics
from dataclasses import dataclass, field
from time import perf_counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import corpus
from _intelligent_document_ai_for_field_extraction_from_invoices_spark import (
    golden,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.__main__ import (  # noqa: E501
    cmd_curate,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (  # noqa: E501
    dedup,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.extract import (  # noqa: E501
    extract_pages,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.plans import (  # noqa: E501
    lineage,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.sources.tables import (  # noqa: E501
    Catalog,
)
from tracing import Span, Tracer, instrument


# ---------------------------------------------------------------------------
# Order-independent checksum of (url, body_text)
# ---------------------------------------------------------------------------

def _row_hash_col(url: str, body: str):
    """First 60 bits of md5(url \\x01 body) as an exact decimal, so a sum
    over any partitioning is the same number."""
    digest = F.md5(F.concat_ws("\x01", F.col(url),
                               F.coalesce(F.col(body), F.lit(""))))
    return F.conv(F.substring(digest, 1, 15), 16, 10).cast("decimal(38,0)")


def _row_hash(url: str, body: str) -> int:
    return int(hashlib.md5(f"{url}\x01{body}".encode()).hexdigest()[:15], 16)


@dataclass(frozen=True)
class Digest:
    rows: int
    checksum: int
    text_bytes: int

    @staticmethod
    def of(urls: list[str], bodies: list[str]) -> Digest:
        return Digest(len(urls),
                      sum(_row_hash(u, b) for u, b in zip(urls, bodies)),
                      sum(len(b.encode()) for b in bodies))

    def __add__(self, o: Digest) -> Digest:
        return Digest(self.rows + o.rows, self.checksum + o.checksum,
                      self.text_bytes + o.text_bytes)


ZERO = Digest(0, 0, 0)


def _digest_aggs():
    return [F.count("*").alias("rows"),
            F.sum(_row_hash_col("url", "body_text")).alias("checksum"),
            F.sum(F.octet_length("body_text")).alias("text_bytes")]


def _digest(row) -> Digest:
    return Digest(int(row["rows"]), int(row["checksum"] or 0),
                  int(row["text_bytes"] or 0))


def _mismatched_urls(results: DataFrame, urls: list[str],
                     bodies: list[str]) -> int:
    """Untimed fallback after a checksum mismatch: count urls whose
    extracted body differs from the golden one, or that are missing or
    extra."""
    got = {r["url"]: r["h"] for r in results.select(
        "url", _row_hash_col("url", "body_text").alias("h")).collect()}
    want = {u: _row_hash(u, b) for u, b in zip(urls, bodies)}
    return sum(got.get(u) != h for u, h in want.items()) + \
        len(got.keys() - want.keys())


def _check_pages(out: PassOut, ref: Digest, pages: DataFrame,
                 urls: list[str], bodies: list[str]) -> tuple[int, int]:
    """(outputs checked, outputs wrong) for one extraction pass."""
    if out.digest == ref:
        return ref.rows, 0
    return ref.rows, max(1, _mismatched_urls(extract_pages(pages), urls,
                                             bodies))


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


# ---------------------------------------------------------------------------
# golden: the per-page kernel, timed stage by stage on the driver
# ---------------------------------------------------------------------------

def _staged(url: str, h: bytes, acc: dict) -> tuple[int, int, int]:
    """The stage functions `extract_page` calls, timed one by one. Returns
    (nodes, blocks kept, blocks dropped) for html pages, zeros otherwise."""
    if not h:
        return 0, 0, 0
    if h[:5] == b"%PDF-":
        t0 = perf_counter()
        golden.extract_pdf(url, h)
        acc["pdf_s"] += perf_counter() - t0
        return 0, 0, 0
    t0 = perf_counter()
    doc = golden.decode_html(h)
    t1 = perf_counter()
    parsed = golden.tokenize_html(doc)
    t2 = perf_counter()
    for c in golden.extract_candidates(parsed).values():
        golden.pick_best(c)
    t3 = perf_counter()
    body = golden.assemble_body(parsed.nodes)
    t4 = perf_counter()
    acc["decode_s"] += t1 - t0
    acc["tokenize_s"] += t2 - t1
    acc["candidates_s"] += t3 - t2
    acc["assemble_s"] += t4 - t3
    return len(parsed.nodes), body[4], body[5]


def golden_stages(urls: list[str], htmls: list[bytes], reps: int = 3) -> dict:
    """Single-threaded `golden` figures over a fixed page sample. Each page
    runs once through the timed stage functions and once through
    `extract_page`, in alternating order, so both totals see the same host
    conditions; the stage times should add up to `extract_page_s`. Medians
    over `reps` repetitions."""
    keys = ("decode_s", "tokenize_s", "candidates_s", "assemble_s", "pdf_s",
            "extract_page_s")
    runs = {k: [] for k in keys}
    for _ in range(reps):
        acc = dict.fromkeys(keys, 0.0)
        nodes = kept = scored = html_pages = 0
        for i, (url, h) in enumerate(zip(urls, htmls)):
            if i % 2:
                counts = _staged(url, h, acc)
            t0 = perf_counter()
            golden.extract_page(url, h)
            acc["extract_page_s"] += perf_counter() - t0
            if not i % 2:
                counts = _staged(url, h, acc)
            if counts[0]:
                html_pages += 1
                nodes += counts[0]
                kept += counts[1]
                scored += counts[1] + counts[2]
        for k in keys:
            runs[k].append(acc[k])
    out = {f"golden.{k}": statistics.median(v) for k, v in runs.items()}
    out["golden.ns_per_html_byte"] = (
        out["golden.extract_page_s"] * 1e9 / max(1, sum(map(len, htmls))))
    out["golden.nodes_per_page"] = nodes / max(1, html_pages)
    out["golden.blocks_kept_frac"] = kept / max(1, scored)
    return out


GOLDEN_ZERO = {f"golden.{k}": 0.0 for k in (
    "decode_s", "tokenize_s", "candidates_s", "assemble_s", "pdf_s",
    "extract_page_s", "ns_per_html_byte", "nodes_per_page",
    "blocks_kept_frac")}


def extraction_layers(tracer: Tracer, span: Span, kernel_s: float,
                      part_rows: list[int]) -> dict:
    """operators.extract and plans.skew figures from the Spark jobs the
    extraction span itself submitted (not its child spans)."""
    jobs = tracer.jobs([span])
    stages = tracer.stages(jobs)
    task_s = sum(s.run_s for s in stages)
    straggler = 0.0
    if stages:
        tasks = tracer.task_seconds(max(stages, key=lambda s: s.run_s))
        med = statistics.median(tasks) if tasks else 0.0
        straggler = max(tasks) / med if med > 0 else 0.0
    mean_rows = sum(part_rows) / len(part_rows) if part_rows else 0.0
    return {
        "extract.task_s": task_s,
        "extract.cpu_s": sum(s.cpu_s for s in stages),
        "extract.gc_s": sum(s.gc_s for s in stages),
        "extract.kernel_s": kernel_s,
        "extract.crossing_s": task_s - kernel_s,
        "extract.straggler_ratio": straggler,
        "skew.shuffle_write_bytes": sum(s.shuffle_write_bytes
                                        for s in stages),
        "skew.fetch_wait_s": sum(s.fetch_wait_s for s in stages),
        "skew.part_rows_max_over_mean": (max(part_rows) / mean_rows
                                         if mean_rows else 0.0),
    }


EXTRACTION_ZERO = dict.fromkeys(
    ["extract.task_s", "extract.cpu_s", "extract.gc_s", "extract.kernel_s",
     "extract.crossing_s", "extract.straggler_ratio",
     "skew.shuffle_write_bytes", "skew.fetch_wait_s",
     "skew.part_rows_max_over_mean"], 0.0)


def table_layers(tracer: Tracer, root: Span, catalog_dir: str,
                 output_bytes: int) -> dict:
    """sources.tables figures from the Catalog spans of one pass and the
    catalog directory it left behind."""
    spans = tracer.subtree(root)

    def total(name):
        return sum(s.seconds for s in spans if s.name == name)

    data_files = meta_files = disk_bytes = 0
    for d, _, files in os.walk(catalog_dir):
        for f in files:
            disk_bytes += os.path.getsize(os.path.join(d, f))
            if f.endswith(".parquet"):
                data_files += 1
            else:
                meta_files += 1
    return {
        "tables.append_s": total("tables.append"),
        "tables.overwrite_s": total("tables.overwrite"),
        "tables.read_s": total("tables.read"),
        "tables.commits": sum(s.name in ("tables.append", "tables.overwrite")
                              for s in spans),
        "tables.data_files": data_files,
        "tables.meta_files": meta_files,
        "tables.bytes_per_output_byte": disk_bytes / max(1, output_bytes),
    }


CURATE_STAGES = ["host_sample", "exact", "neardup", "substrdup",
                 "decontaminate", "quality"]
CURATE_ZERO = {
    **{f"curate.{s}_{k}": 0.0 for s in CURATE_STAGES
       for k in ("s", "survivor_frac")},
    "curate.jobs": 0,
    "dedup.cc_iterations": 0,
}


@dataclass
class PassOut:
    digest: Digest = ZERO
    extra: dict = field(default_factory=dict)


class Workload:
    """One benchmark workload. `layers` returns the per-layer metrics of a
    traced pass plus the probes only the traced run makes, as (metrics,
    outputs checked, outputs wrong)."""

    name = ""
    docs = 0          # documents one pass processes
    out_bytes = 0     # text bytes one correct pass delivers

    def __init__(self, spark, seed: int, scale: float, work_dir: str,
                 cores: int):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.work_dir = work_dir
        self.cores = cores

    def sized(self, n: int, floor: int) -> int:
        return max(floor, int(n * self.scale))

    def before_pass(self) -> None:
        """Untimed reset between passes."""


# ---------------------------------------------------------------------------
# extract_pages
# ---------------------------------------------------------------------------

class ExtractPages(Workload):
    name = "extract_pages"
    PAGES = 12_000
    GOLDEN_SAMPLE = 400

    def generate(self) -> None:
        self.pages = corpus.page_corpus(self.seed, self.sized(self.PAGES, 40))
        self.docs = len(self.pages["url"])
        self.df = self.quarter = None

    def _load(self, urls, htmls, old: DataFrame | None) -> DataFrame:
        if old is not None:
            old.unpersist(blocking=True)
        df = self.spark.createDataFrame(
            pd.DataFrame({"url": urls, "html": htmls}),
            "url string, html binary").cache()
        df.count()
        return df

    def load(self) -> None:
        self.df = self._load(self.pages["url"], self.pages["html"], self.df)

    def reference(self) -> None:
        self.ref = Digest.of(self.pages["url"], self.pages["expected"])
        self.out_bytes = self.ref.text_bytes

    def warm_up(self) -> None:
        self.run_pass()

    def _extract(self, df: DataFrame, tracer: Tracer | None = None,
                 num_partitions: int | None = None) -> PassOut:
        timed = tracer is not None
        aggs = _digest_aggs()
        if timed:
            aggs.append(F.sum("wall_ms").alias("wall_ms"))
        with _span(tracer, "operators.extract") as span:
            rows = (extract_pages(df, num_partitions=num_partitions,
                                  with_timings=timed)
                    .groupBy("part_id").agg(*aggs).collect())
        out = PassOut(sum((_digest(r) for r in rows), ZERO))
        out.extra["part_rows"] = [int(r["rows"]) for r in rows]
        if timed:
            out.extra["span"] = span
            out.extra["kernel_s"] = sum(r["wall_ms"] or 0.0
                                        for r in rows) / 1000.0
        return out

    def run_pass(self, tracer: Tracer | None = None) -> PassOut:
        return self._extract(self.df, tracer)

    def check(self, out: PassOut) -> tuple[int, int]:
        return _check_pages(out, self.ref, self.df, self.pages["url"],
                            self.pages["expected"])

    def scaling(self, full_wall_s: float) -> tuple[float, int, int]:
        """Throughput at `cores` partitions over all pages divided by
        `cores` x throughput at one partition over 1/cores of the pages
        (= one-partition time / full time). Returns (efficiency, outputs
        checked, outputs wrong)."""
        k = max(1, self.docs // self.cores)
        urls, bodies = self.pages["url"][:k], self.pages["expected"][:k]
        self.quarter = self._load(urls, self.pages["html"][:k], self.quarter)
        ref = Digest.of(urls, bodies)
        walls, att, bad = [], 0, 0
        for _ in range(2):
            t0 = perf_counter()
            out = self._extract(self.quarter, num_partitions=1)
            walls.append(perf_counter() - t0)
            a, b = _check_pages(out, ref, self.quarter, urls, bodies)
            att, bad = att + a, bad + b
        self.quarter.unpersist(blocking=True)
        return statistics.median(walls) / full_wall_s, att, bad

    def layers(self, tracer: Tracer, root: Span, out: PassOut,
               bare_wall_s: float) -> tuple[dict, int, int]:
        k = self.sized(self.GOLDEN_SAMPLE, 8)
        eff, att, bad = self.scaling(bare_wall_s)
        ingest = IngestProbe(self.spark, self.seed, self.scale,
                             self.work_dir, self.cores)
        ingest_m, a, b = ingest.measure(tracer)
        return {
            **golden_stages(self.pages["url"][:k], self.pages["html"][:k]),
            **extraction_layers(tracer, out.extra["span"],
                                out.extra["kernel_s"],
                                out.extra["part_rows"]),
            **ingest_m,
            **CURATE_ZERO,
            "scaling_eff": eff,
        }, att + a, bad + b


# ---------------------------------------------------------------------------
# The ingest probe: plans.lineage and sources.tables on the extraction path
# ---------------------------------------------------------------------------

class IngestProbe(Workload):
    """~15 KB article pages through `lineage.run_extraction` into a fresh
    warc_day-partitioned `Catalog`, then one pruned read per crawl day:
    large rows, commits and parquet writes. Run only in the traced run of
    extract_pages (one untraced warm-up pass, then one traced pass); see
    BASELINE.md for why it is not a timed workload of its own."""

    ARTICLES = 400
    DOCS_PER_ARTICLE = 37   # ~15 KB of html per page
    ID_STRIDE = 29          # coprime to the datagen moduli; ~8 crawl days
    PARTITIONS = 16         # the CLI's `extract --partitions` default

    def generate(self) -> None:
        self.pages = corpus.page_corpus(
            self.seed, self.sized(self.ARTICLES, 24),
            article_docs=self.DOCS_PER_ARTICLE, id_stride=self.ID_STRIDE)
        self.docs = len(self.pages["url"])
        self.days = sorted({t.date().isoformat()
                            for t in self.pages["warc_ts"]})
        self.catalog_dir = os.path.join(self.work_dir, "ingest_catalog")
        self.passes = 0

    def load(self) -> None:
        p = self.pages
        self.df = self.spark.createDataFrame(
            pd.DataFrame({"url": p["url"], "warc_ts": p["warc_ts"],
                          "html": p["html"]}),
            "url string, warc_ts timestamp, html binary").cache()
        self.df.count()

    def reference(self) -> None:
        self.ref = Digest.of(self.pages["url"], self.pages["expected"])
        self.out_bytes = self.ref.text_bytes
        self.parts = {r["part_id"] for r in lineage.stamp_part_id(
            self.df, self.PARTITIONS).select("part_id").distinct().collect()}

    def before_pass(self) -> None:
        shutil.rmtree(self.catalog_dir, ignore_errors=True)

    def run_pass(self, tracer: Tracer | None = None) -> PassOut:
        self.passes += 1
        cat = Catalog(self.catalog_dir)
        with _span(tracer, "plans.lineage.run_extraction") as span:
            stats = lineage.run_extraction(
                self.spark, self.df, cat, f"bench-{self.passes}",
                num_partitions=self.PARTITIONS)
        t0 = perf_counter()
        total, scanned = ZERO, []
        with _span(tracer, "day_reads"):
            for day in self.days:
                rows = cat.read(self.spark, lineage.RESULTS_TABLE,
                                where={lineage.WARC_DAY_COL: day}) \
                    .agg(*_digest_aggs()).collect()
                scanned.append(cat.last_scan_stats["files_selected"])
                total = total + _digest(rows[0])
        day_read_s = (perf_counter() - t0) / len(self.days)
        return PassOut(total, {
            "stats": stats, "day_read_s": day_read_s, "scanned": scanned,
            "catalog": cat, "span": span})

    def check(self, out: PassOut) -> tuple[int, int]:
        """Day reads must add up to the golden digest, every page must be
        committed once, and the checkpoint must cover every partition the
        pages hash to."""
        cat = out.extra["catalog"]
        ckpt = {r["part_id"] for r in cat.read(
            self.spark, lineage.CHECKPOINT_TABLE)
            .select("part_id").distinct().collect()}
        missing_parts = len(self.parts - ckpt)
        if out.digest == self.ref and \
                out.extra["stats"]["rows_written"] == self.docs:
            return self.ref.rows, missing_parts
        bad = _mismatched_urls(cat.read(self.spark, lineage.RESULTS_TABLE),
                               self.pages["url"], self.pages["expected"])
        return self.ref.rows, max(1, bad) + missing_parts

    def measure(self, tracer: Tracer) -> tuple[dict, int, int]:
        self.generate()
        self.load()
        self.reference()
        self.before_pass()
        att, bad = self.check(self.run_pass())
        self.before_pass()
        with instrument(tracer), tracer.span("ingest_probe") as root:
            out = self.run_pass(tracer)
        a, b = self.check(out)
        cat = out.extra["catalog"]
        total_files = len(cat.scan_files(lineage.RESULTS_TABLE))
        m = {
            "lineage.jobs": len(tracer.jobs(
                tracer.subtree(out.extra["span"]))),
            "tables.files_scanned_frac": (
                statistics.mean(out.extra["scanned"]) / total_files),
            "day_read_s": out.extra["day_read_s"],
            **table_layers(tracer, root, self.catalog_dir, self.out_bytes),
        }
        self.df.unpersist(blocking=True)
        return m, att + a, bad + b


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

def oracle_survivors(docs_dir: str, threads: int) -> set[int]:
    """`q_curate_survivors` from `__spark_entry__.oracle_sql()`, the
    package's DuckDB oracles, over the generated parquet. Every CTE is forced MATERIALIZED: DuckDB inlines
    a CTE at each reference, which re-runs the recursive component closure
    once per reference (170 s instead of 3 s on 5,000 documents). Forcing
    materialization cannot change the result; the check below makes sure
    the rewrite touched nothing but those keywords."""
    import duckdb  # noqa: PLC0415

    import __spark_entry__  # noqa: PLC0415

    sql = __spark_entry__.oracle_sql()["q_curate_survivors"]
    fast = re.sub(r"\b([a-z0-9_]+) AS \(", r"\1 AS MATERIALIZED (", sql)
    if fast.replace(" AS MATERIALIZED (", " AS (") != sql:
        raise RuntimeError("oracle rewrite changed more than CTE keywords")
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {int(threads)}")
        tmp = os.path.join(docs_dir, "duckdb_tmp").replace("'", "''")
        con.execute(f"SET temp_directory = '{tmp}'")
        path = os.path.join(docs_dir, "documents.parquet").replace("'", "''")
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return {int(r[0]) for r in con.execute(fast).fetchall()}
    finally:
        con.close()


class Curate(Workload):
    name = "curate"
    DOCS = 2_000
    QUOTA = 10

    def generate(self) -> None:
        self.corpus = corpus.curate_docs(self.seed, self.sized(self.DOCS, 60))
        self.docs = len(self.corpus["doc_id"])
        self.input_dir = os.path.join(self.work_dir, "curate_docs")
        self.catalog_dir = os.path.join(self.work_dir, "curate_catalog")
        self.passes = 0

    def load(self) -> None:
        corpus.write_documents(self.corpus, self.input_dir)

    def reference(self) -> None:
        self.ref = oracle_survivors(self.input_dir, self.cores)
        text = dict(zip(self.corpus["doc_id"], self.corpus["text"]))
        self.out_bytes = sum(len(text[d].encode()) for d in self.ref)

    def _args(self) -> argparse.Namespace:
        self.passes += 1
        return argparse.Namespace(
            input=self.input_dir, output=self.catalog_dir, limit=None,
            run_id=f"bench-{self.passes}", stages=None, quota=self.QUOTA,
            min_quality=0.5, max_dup_line_frac=0.3, benchmark=None,
            benchmark_mod=37)

    def warm_up(self) -> None:
        """None: the timed pass runs in a fresh JVM, as every CLI `curate`
        invocation does. Its 82 Spark jobs cost 30-40 s the first time and
        ~13-17 s on the next passes; a warm-up pass does not fit the run
        budget (see BASELINE.md)."""

    def before_pass(self) -> None:
        shutil.rmtree(self.catalog_dir, ignore_errors=True)

    def run_pass(self, tracer: Tracer | None = None) -> PassOut:
        args = self._args()
        with _span(tracer, "cli.cmd_curate"):
            res = cmd_curate(self.spark, args)
        return PassOut(ZERO, {"res": res})

    def check(self, out: PassOut) -> tuple[int, int]:
        got = {int(r["doc_id"]) for r in Catalog(self.catalog_dir).read(
            self.spark, "docs_curated").select("doc_id").collect()}
        return self.docs, len(got ^ self.ref)

    def layers(self, tracer: Tracer, root: Span, out: PassOut,
               bare_wall_s: float) -> tuple[dict, int, int]:
        """Stage k's time runs from its `run_stage` call to the next one
        (the last stage's to the final `docs_curated` commit): the stage's
        own jobs, its overwrite commit and the read-back the CLI does."""
        spans = tracer.subtree(root)
        starts = [s for s in spans if s.name == "curate.run_stage"]
        final = next(s for s in spans if s.name == "tables.overwrite"
                     and s.attrs.get("key") == "docs_curated")
        bounds = [s.start for s in starts] + [final.start]
        stages = out.extra["res"]["stages"]
        m, n_in = {}, self.docs
        for i, s in enumerate(starts):
            stage = s.attrs["key"]
            n_out = stages[stage]["survivors"]
            m[f"curate.{stage}_s"] = bounds[i + 1] - bounds[i]
            m[f"curate.{stage}_survivor_frac"] = n_out / max(1, n_in)
            n_in = n_out
        cc = getattr(dedup, "CC_LAST_STATS", {}) or {}
        return {
            **GOLDEN_ZERO,
            **EXTRACTION_ZERO,
            **m,
            "curate.jobs": len(tracer.jobs(spans)),
            "dedup.cc_iterations": cc.get("rounds", 0),
            "lineage.jobs": 0,
            "tables.files_scanned_frac": 0.0,
            "day_read_s": 0.0,
            "scaling_eff": 0.0,
            **table_layers(tracer, root, self.catalog_dir, self.out_bytes),
        }, 0, 0


WORKLOADS = {w.name: w for w in (ExtractPages, Curate)}
