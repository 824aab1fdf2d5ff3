"""Output pin for the golden extractor: sha256 digests of every
`extract_page` result field and of every `tokenize_html` node stream over a
seeded corpus of ~21k pages.

The differential fuzz tests compare golden with the distributed path, and
both run the same golden code, so they move together. This pin is what
holds the tokenizer to its recorded behaviour: any rewrite of the scanner
must leave every digest unchanged.

Corpus (all seeded, generated in-process):
  - `render`: `datagen.render_page` pages of every flavor (clean, pdf, soup,
    ml, empty), text drawn from a vocabulary with markup characters,
    entities, 'İ' (U+0130), the Kelvin sign (U+212A) and long s (U+017F);
  - `fuzz`: the irregular pages of `test_differential_fuzz._page`;
  - `mutated`: pages of both kinds after one to three deterministic
    mutations: spliced fragments, upper/mixed-case tags, literal '<',
    unterminated comments and raw-text tags, self-closed
    <script/>/<title/>/<a/>/<head/>, 'İ'/Kelvin/long-s text and tag names,
    attribute edge cases, entities and truncation.

To re-record after an intended output change, run
`PIN_PRINT=1 python -m pytest tests/test_golden_pin.py -s` and paste the
printed dict into EXPECTED."""

import hashlib
import json
import os
import random
import re

from test_differential_fuzz import _page

from _intelligent_document_ai_for_field_extraction_from_invoices_spark import (
    datagen,
    golden,
)

N_RENDER = 6000
N_FUZZ = 5000
N_MUTATED = 10000

EXPECTED = {
    "render.results":
        "d2ceb026c3553d7a49aeaffd20f368612797289ffbd02d3cdcd02f43c72c5fe5",
    "render.nodes":
        "65df3bdabe2bc344b0c29ba7e14ca89d3dc2087f62b72a65ef9b4fcd45824395",
    "fuzz.results":
        "b2dd5032064851569ecd3fb1ba197fb4be649703b1cc02ebe0e9826a898eddd5",
    "fuzz.nodes":
        "b875a4e213495955e88dfbd14d1d42a53120e4db6a59f22d78c46780f1cd1c59",
    "mutated.results":
        "1fc84fa53247cc0d5cea3dce170486be6c37b9f3616fcf677bfc4c4ecf7e4f15",
    "mutated.nodes":
        "a612e9eb2dd42ef2e9c68746f964d172128fa66649da4dec3e92b87e632a7b83",
}

VOCAB = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
         "lima mike november oscar papa quebec romeo sierra tango uniform "
         "victor whiskey xray yankee zulu The By March 2024 2024-03-05").split()
ODD_WORDS = ["&", "&amp;", "<b>bold</b>", "a<b", "x>y", '"q"', "'s", "<",
             "İstanbul", "İ", "İİİ", "Kelvin", "ſcript", "naïve",
             "&nbsp;", "&#304;", "द्वारा", "લેખક", "१५", "</title>",
             "<script>", "<!--"]

# fragments spliced into pages; each names one scanner edge
FRAGMENTS = [
    "< ", "a < b", "<3", "<<", "<", "</", "</ >", "<>", "<1p>",
    "<!-- c -->", "<!---->", "<!-->", "<!-- unterminated", "<!doctype html",
    "<!DOCTYPE html>", "<?xml version='1.0'?>", "<?pi", "<![CDATA[ x < y ]]>",
    "<script>", "<script>var a = '</p>';</script>", "<SCRIPT>x</Script >",
    "<style>p{}</style>", "<noscript><p>no</p></noscript>",
    "<template><p>t</p></template>", "<title>", "<title>T &amp; T</title>",
    "<TITLE>Up</TITLE>", "<script/>", "<title/>", "<a/>", "<head/>",
    "<style/>", "<p/>", "<li/>", "<div/>", '<div class="nav"/>', "<br/>",
    "<head>", "</head>", "<a href='/x'>", "</a>", "<A HREF=/y>link</A>",
    "<a href=/x/>", "<p>", "</p>", "<li>", "</li>", "<ul>", "</ul>",
    "<div>", "</div>", "</body>", "</html>", "<body>", "<html lang='tr'>",
    '<html lang="">', "<HTML LANG=en>", "<article>", "</article>",
    "<section id='main'>", '<div class="byline">By Jane Doe</div>',
    '<div class="footer">', '<div CLASS="footer">', '<div class="a>b">',
    "<div class='x' id=\"y\">", '<div class="x>', "<div width=1>",
    '<div id="comments">', '<p class="meta">', "<div class=menu/>",
    '<meta name="author" content="Jane Doe">',
    '<meta property="og:title" content="Pinned &amp; Title"/>',
    '<meta name="Date" content="2024-02-03">', "<meta content=x/>",
    '<time datetime="2024-01-02">', "<time datetime='2023-05-06'/>",
    "<time>", "</time>", "<h1>Heading text here</h1>", "<h2>", "</h2>",
    "<span>", "</span>", "<b>", "</b>", "<img src=x>", "<hr>",
    "&amp;", "&lt;p&gt;", "&#x130;", "&#304;", "&nbsp;", "&", "&am",
    "&mdash;", "\r\n", "\t", "\xa0", " ", "İ", "İİİİİİİİ",
    "K", "ſ", "</scrİpt>", "</tİtle>", "</TİTLE>",
    "</ſcript>", "</ſtyle>", "<tİtle>", "</script", "</title",
    "<my-tag:x_y>", "</my-tag:x_y>", "<svg><p>in svg</p></svg>",
    "<td>cell text</td>", "<pre>  pre  text  </pre>",
]


def _words(rng: random.Random, k: int) -> list[str]:
    return [rng.choice(ODD_WORDS) if rng.random() < 0.04 else rng.choice(VOCAB)
            for _ in range(k)]


def _render_corpus() -> list[bytes]:
    rng = random.Random(0x5EED)
    pages = []
    for i in range(N_RENDER):
        doc_id = 70_000 + i * 7
        text = " ".join(_words(rng, rng.randint(5, 140)))
        pages.append(datagen.render_page(doc_id, text, rng.choice(["en", "tr"])))
    return pages


def _fuzz_corpus() -> list[bytes]:
    rng = random.Random(0xF022)
    return [_page(rng) for _ in range(N_FUZZ)]


_TAG_NAME = re.compile(r"(</?)([a-zA-Z][a-zA-Z0-9]*)")


def _mutate(rng: random.Random, doc: str, donor: str) -> str:
    kind = rng.randrange(12)
    pos = rng.randint(0, len(doc))
    if kind == 0:    # spliced fragment of another page
        a = rng.randint(0, len(donor))
        b = min(len(donor), a + rng.randint(1, 400))
        return doc[:pos] + donor[a:b] + doc[pos:]
    if kind == 1:    # upper-case every tag name
        return _TAG_NAME.sub(lambda m: m.group(1) + m.group(2).upper(), doc)
    if kind == 2:    # mixed-case tag names
        return _TAG_NAME.sub(
            lambda m: m.group(1) + "".join(
                c.upper() if rng.random() < 0.5 else c for c in m.group(2)),
            doc)
    if kind == 3:    # truncation (mid-tag, mid-attribute, mid-entity)
        return doc[:pos]
    if kind == 4:    # unterminated comment or raw-text tag to EOF
        opener = rng.choice(["<!--", "<script>", "<style>", "<title>",
                             "<noscript>", "<template>", "<!doctype",
                             "<?php"])
        return doc[:pos] + opener + doc[pos:].replace("-->", "")\
            .replace("</script", "").replace("</title", "")
    if kind == 5:    # 'İ' / Kelvin / long-s runs before raw-text tags
        run = rng.choice(["İ", "K", "ſ", "İK"]) * rng.randint(1, 30)
        i = doc.find(rng.choice(["<title", "<script", "<style", "<p", "<"]))
        i = pos if i < 0 else i
        return doc[:i] + run + doc[i:]
    if kind == 6:    # close tags spelled with look-alike letters
        return doc.replace(rng.choice(["</script", "</title", "</style"]),
                           rng.choice(["</scrİpt", "</tİtle", "</ſcript",
                                       "</TİTLE", "</SCRIPT", "</Title"]), 1)
    if kind == 7:    # drop close tags of one name
        return re.sub(rng.choice(["</p>", "</div>", "</a>", "</li>",
                                  "</head>", "</title>"]), "", doc)
    if kind == 8:    # CRLF / tab line endings
        return doc.replace("\n", rng.choice(["\r\n", "\r", "\t", " \n "]))
    # 9..11: one to six fragments at random offsets
    for _ in range(rng.randint(1, 6)):
        pos = rng.randint(0, len(doc))
        doc = doc[:pos] + rng.choice(FRAGMENTS) + doc[pos:]
    return doc


def _mutated_corpus(render: list[bytes], fuzz: list[bytes]) -> list[bytes]:
    base = [p for p in render if p and not p.startswith(b"%PDF-")] + fuzz
    out = []
    for i in range(N_MUTATED):
        rng = random.Random(1_000_003 * i + 17)
        if i % 10 == 9:  # pure tag soup
            doc = "".join(rng.choice(FRAGMENTS + _words(rng, 8))
                          for _ in range(rng.randint(5, 80)))
        else:
            doc = rng.choice(base).decode("utf-8")
            donor = rng.choice(base).decode("utf-8")
            for _ in range(rng.randint(1, 3)):
                doc = _mutate(rng, doc, donor)
        out.append(doc.encode("utf-8"))
    return out


def _digests(name: str, pages: list[bytes]) -> dict[str, str]:
    res = hashlib.sha256()
    nodes = hashlib.sha256()
    for i, html in enumerate(pages):
        r = golden.extract_page(f"{name}-{i}", html)
        res.update(json.dumps([r[f] for f in golden.RESULT_FIELDS],
                              ensure_ascii=False).encode("utf-8"))
        res.update(b"\n")
        if html and not html.startswith(b"%PDF-"):
            p = golden.tokenize_html(golden.decode_html(html))
            nodes.update(json.dumps(
                [p.nodes, p.title_parts, p.metas, p.time_attrs, p.html_lang],
                sort_keys=True, ensure_ascii=False).encode("utf-8"))
            nodes.update(b"\n")
    return {f"{name}.results": res.hexdigest(),
            f"{name}.nodes": nodes.hexdigest()}


def test_golden_outputs_match_pinned_digests():
    render = _render_corpus()
    fuzz = _fuzz_corpus()
    mutated = _mutated_corpus(render, fuzz)
    assert len(render) + len(fuzz) + len(mutated) >= 20_000
    flavors = {datagen.flavor_for(70_000 + i * 7) for i in range(N_RENDER)}
    assert flavors == {"clean", "pdf", "soup", "ml", "empty"}
    got = {**_digests("render", render), **_digests("fuzz", fuzz),
           **_digests("mutated", mutated)}
    if os.environ.get("PIN_PRINT"):
        print(json.dumps(got, indent=4))
    assert got == EXPECTED
