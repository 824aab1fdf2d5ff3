"""Seeded differential fuzz: random adversarial pages and malformed PDFs
through BOTH the driver-side golden extractor and the distributed Arrow
extraction (`extract_pages`), asserting row-for-row parity.

The synthetic corpus is regular by construction, so corpus-driven tests
cannot see paths like duplicate metas, blank metas, self-closed anchors, or
heading-only bodies (round-1 advisor findings all lived there). These tests
generate ~150 irregular pages and 120 damaged PDFs from fixed seeds covering
those shapes and check both paths agree on every one."""

import random

import pytest

from _intelligent_document_ai_for_field_extraction_from_invoices_spark import golden
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators.extract import (
    extract_pages,
)

WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango").split()
AUTHOR_POOL = ["Jane Doe", "Bob Q. Lee", "अर्जुन शर्मा", "રીના શાહ",
               "lowercase name", "X", "Staff"]
META_KEYS = ["og:title", "twitter:title", "author", "article:author",
             "parsely-author", "article:published_time", "date", "pubdate",
             "dc.date", "unrelated:key"]


def _page(rng: random.Random) -> bytes:
    parts = ["<html><head>"]
    # 0-6 metas, possibly duplicated keys, possibly blank content
    for _ in range(rng.randint(0, 6)):
        key = rng.choice(META_KEYS)
        content = rng.choice([
            "", "   ", " ".join(rng.choices(WORDS, k=rng.randint(1, 8))),
            rng.choice(AUTHOR_POOL),
            f"{rng.randint(1980, 2040)}-{rng.randint(1, 13):02d}-{rng.randint(1, 32):02d}",
            "March 5, 2024", "15 जनवरी 2024",
            # regex-engine divergence bait (Python re vs Java regex): the
            # shared patterns must be ASCII-pinned for these to agree
            "१५ जनवरी 2024",        # Devanagari digits: Python \d matched them
            "15 जनवरी 2024",  # NBSP: Python \s matched it
            "x12024-01-02", "क2024-01-02",  # \b vs ASCII lookaround edges
            "March 5, 2024",
        ])
        parts.append(f'<meta property="{key}" content="{content}">')
    if rng.random() < 0.5:
        parts.append(f"<title>{' '.join(rng.choices(WORDS, k=4))}</title>")
    parts.append("</head><body>")
    for _ in range(rng.randint(0, 10)):
        kind = rng.randrange(9)
        text = " ".join(rng.choices(WORDS, k=rng.randint(1, 30)))
        if kind == 0:
            parts.append(f"<h{rng.randint(1, 3)}>{text[:60]}</h{rng.randint(1, 3)}>")
        elif kind == 1:
            parts.append(f'<div class="byline">By {rng.choice(AUTHOR_POOL)}'
                         f" &mdash; {rng.choice(['March 5, 2024', '15 जनवरी 2024', '2024-03-05', 'no date here', '१५ जनवरी 2024', 'x12024-01-02'])}</div>")
        elif kind == 2:
            parts.append(f"<p><a href='/x'/>{text}</p>")       # self-closed anchor
        elif kind == 3:
            parts.append(f"<p><a href='/y'>{text}</a></p>")    # all-link block
        elif kind == 4:
            parts.append(f'<div class="sidebar menu">{text}</div>')
        elif kind == 5:
            parts.append(f"<p>{text}")                          # unclosed p
        elif kind == 6:
            parts.append(f'<time datetime="{rng.randint(1980, 2040)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}">d</time>')
        elif kind == 7:
            parts.append(f"<p>द्वारा {rng.choice(AUTHOR_POOL)}</p>")
        else:
            parts.append(f"<p>{text}</p>")
    parts.append("</body></html>")
    return "".join(parts).encode()


@pytest.fixture(scope="module")
def fuzz_pages():
    rng = random.Random(0xC0FFEE)
    return [(f"fuzz-{i}", _page(rng)) for i in range(150)]


def _malformed_pdf(rng: random.Random, i: int) -> bytes:
    """One seeded adversarial PDF: start from the well-formed synthetic
    shape (datagen.render_pdf), then apply structural damage — truncated
    xref/EOF, corrupted stream Length, mixed EOLs, unbalanced/escaped
    parens, byte flips, garbage tails (round-4 verdict prescription #7)."""
    from _intelligent_document_ai_for_field_extraction_from_invoices_spark import datagen

    text = " ".join(rng.choices(WORDS, k=rng.randint(0, 80)))
    base = bytearray(datagen.render_pdf(i, text))
    mutation = i % 10
    if mutation == 0:      # truncate mid-file (xref/trailer gone)
        base = base[:rng.randint(6, max(7, len(base) - 1))]
    elif mutation == 1:    # corrupt the stream Length value
        base = bytearray(
            bytes(base).replace(b"/Length", b"/Length 999999 %", 1))
    elif mutation == 2:    # mixed EOLs everywhere
        base = bytearray(bytes(base).replace(b"\n", rng.choice(
            [b"\r\n", b"\r", b"\n\r"])))
    elif mutation == 3:    # unbalanced paren inside a Tj operand
        base = bytearray(bytes(base).replace(b") Tj", b"( Tj", 1))
    elif mutation == 4:    # trailing backslash escape at operand end
        base = bytearray(bytes(base).replace(b") Tj", b"\\) Tj", 2))
    elif mutation == 5:    # random byte flips
        for _ in range(rng.randint(1, 12)):
            base[rng.randrange(5, len(base))] = rng.randrange(256)
    elif mutation == 6:    # binary garbage tail after %%EOF
        base += bytes(rng.randrange(256) for _ in range(rng.randint(1, 200)))
    elif mutation == 7:    # header only / header + noise
        base = b"%PDF-" + bytes(rng.randrange(256)
                                for _ in range(rng.randint(0, 40)))
    elif mutation == 8:    # nested parens + non-utf8 bytes in operands
        junk = b"(a(b)c\\" + bytes([rng.randrange(128, 256)]) + b") Tj "
        base = bytearray(bytes(base).replace(b"BT", b"BT " + junk, 1))
    # mutation == 9: well-formed survivor (parity must hold end-to-end)
    return bytes(base)


@pytest.fixture(scope="module")
def fuzz_pdfs():
    rng = random.Random(0xFEED)
    return [(f"pdf-fuzz-{i}", _malformed_pdf(rng, i)) for i in range(120)]


def test_pdf_fuzz_containment_and_distributed_parity(spark, fuzz_pdfs):
    """Round-4 verdict #7: >=100 seeded malformed PDFs through the PDF
    branch — (1) extraction NEVER raises (failures are rows with a
    pdf_parse/parse error category), (2) the distributed Arrow pipeline
    returns byte-identical rows to the driver-side golden extractor on
    every payload, malformed or not."""
    exp = {}
    for u, data in fuzz_pdfs:
        row = golden.extract_page(u, data)  # must not raise — containment
        assert row["status"] in ("success", "failed")
        exp[u] = row
    # the PDF route was actually exercised, including survivors
    assert sum(1 for r in exp.values() if r["status"] == "success") >= 12
    assert all(r["error_message"] is None
               or r["error_message"].startswith(("pdf_parse", "empty"))
               for r in exp.values())

    df = spark.createDataFrame(
        [(u, bytearray(h)) for u, h in fuzz_pdfs], "url string, html binary")
    got = {r.url: r.asDict() for r in
           extract_pages(df, num_partitions=8).collect()}
    assert set(got) == set(exp)
    mismatches = []
    for u, e in exp.items():
        g = {k: got[u][k] for k in e}
        if g != e:
            mismatches.append((u, e, g))
    assert not mismatches, mismatches[:3]


def test_native_twin_parity_on_adversarial_pages(spark, fuzz_pages):
    """Every adversarial HTML page comes back from the distributed Arrow
    extraction with exactly the row the driver-side golden extractor
    returns for it — fields, body, confidences and status."""
    exp = {u: golden.extract_page(u, h) for u, h in fuzz_pages}
    df = spark.createDataFrame(
        [(u, bytearray(h)) for u, h in fuzz_pages], "url string, html binary")
    got = {r.url: r.asDict() for r in
           extract_pages(df, num_partitions=8).collect()}
    assert set(got) == set(exp)
    mismatches = []
    for u, e in exp.items():
        g = {k: got[u][k] for k in e}
        if g != e:
            mismatches.append((u, e, g))
    assert not mismatches, mismatches[:3]
