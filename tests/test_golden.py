"""Unit tests for the pure-Python golden extraction core.

Shapes mirror the reference's inline suites (extractor.py:756-906 scenario
fixtures, validator.py:746-798, normalizer.py:630-696), retargeted to HTML."""

from _intelligent_document_ai_for_field_extraction_from_invoices_spark import (
    datagen,
    golden,
)

ARTICLE = b"""<!DOCTYPE html><html lang="en"><head>
<meta charset="utf-8"><title>My Headline | Site</title>
<meta property="og:title" content="My Headline">
<meta name="author" content="Jane Doe">
</head><body>
<nav><a href="/a">Home</a><a href="/b">News</a></nav>
<article><h1>My Headline</h1>
<div class="byline">By Jane Doe &mdash; <time datetime="2024-03-05">March 5, 2024</time></div>
<p>This is the first paragraph of the article body with enough characters.</p>
<p>Second paragraph, also long enough to be kept by the density classifier.</p>
</article>
<footer><a href="/about">About us</a> copyright</footer>
</body></html>"""


def test_article_fields():
    r = golden.extract_page("u", ARTICLE)
    assert r["status"] == "success"
    assert r["title"] == "My Headline"          # og:title wins (0.95)
    assert r["byline"] == "Jane Doe"
    assert r["pub_date"] == "2024-03-05"
    assert r["body_text"] == (
        "This is the first paragraph of the article body with enough characters.\n"
        "Second paragraph, also long enough to be kept by the density classifier."
    )
    assert r["title_conf"] == 0.95
    assert 0.30 <= r["overall_confidence"] <= 0.98


def test_candidate_ranking_tie_break():
    # first-wins ties: Python-max semantics (ref extractor.py:310-312)
    c = [
        {"value": "a", "score": 0.9, "cand_idx": 0},
        {"value": "b", "score": 0.9, "cand_idx": 1},
    ]
    assert golden.pick_best(c)["value"] == "a"
    assert golden.pick_best([]) is None


def test_boilerplate_and_link_density_dropped():
    html = (
        b"<html><body><div class='sidebar'><p>Long sidebar paragraph that is "
        b"definitely long enough to pass length checks.</p></div>"
        b"<p><a href='/x'>link text link text link text link text</a> y</p>"
        b"<p>Real content paragraph with plenty of characters to keep.</p>"
        b"</body></html>"
    )
    r = golden.extract_page("u", html)
    assert r["body_text"] == "Real content paragraph with plenty of characters to keep."
    assert r["n_blocks_dropped"] >= 2


def test_failed_rows_not_exceptions():
    assert golden.extract_page("u", b"")["error_message"] == "empty"
    assert golden.extract_page("u", None)["status"] == "failed"
    big = golden.extract_page("u", b"x" * (golden.MAX_HTML_BYTES + 1))
    assert big["error_message"] == "oversize"
    # tag soup never raises
    soup = golden.extract_page("u", b"<p>abc <div></p></span><b>unclosed")
    assert soup["status"] == "success"


def test_fallback_body_tier():
    # too short for the density tier (>=20 chars) but the tier-2 fallback
    # (>=10 chars, non-boiler) recovers it at discounted confidence
    html = b"<html><body><p>short body txt</p><nav><a href='/'>Home page link</a></nav></body></html>"
    r = golden.extract_page("u", html)
    assert r["body_text"] == "short body txt"
    assert r["body_conf"] == golden.FALLBACK_BODY_CONF
    # nothing at all -> empty body, no fallback rows
    r2 = golden.extract_page("u", b"<html><body><p>tiny</p></body></html>")
    assert r2["body_text"] == ""


def test_date_validation_ranges():
    assert golden._parse_date_any("1989-05-05") is None   # year < 1990 (P7)
    assert golden._parse_date_any("2024-13-05") is None
    assert golden._parse_date_any("March 5, 2024") == "2024-03-05"
    assert golden._parse_date_any("on 2024-03-05 we") == "2024-03-05"


def test_byline_validity_predicates():
    # ref dealer-name rules: len>=3, not all-lower, digit-ratio <= 0.3
    assert not golden._valid_byline("ab")
    assert not golden._valid_byline("jane doe")
    assert not golden._valid_byline("A1234567")
    assert golden._valid_byline("Jane Doe")


def test_overall_confidence_weights_present_only():
    # only title present: weighted mean over present fields = that conf
    assert golden.overall_confidence({"title": 0.9}) == 0.9
    both = golden.overall_confidence({"title": 0.9, "body": 0.5})
    assert both == round((0.25 * 0.9 + 0.45 * 0.5) / 0.70, 4)
    assert golden.overall_confidence({}) == 0.0


def test_conf_clipping():
    assert golden.clip_conf(0.1) == 0.30
    assert golden.clip_conf(0.995) == 0.98


def test_pdf_roundtrip():
    pdf = datagen.render_pdf(3, "alpha beta (gamma) \\ delta " * 10)
    r = golden.extract_page("u", pdf)
    assert r["status"] == "success"
    assert r["title"].startswith("Doc 3: alpha beta (gamma)")
    assert "(gamma)" in r["body_text"]
    assert "\\" in r["body_text"]


def test_tokenizer_node_stream_shape():
    p = golden.tokenize_html(golden.decode_html(ARTICLE))
    idx = [n["node_idx"] for n in p.nodes]
    assert idx == sorted(idx)
    offs = [n["char_off"] for n in p.nodes]
    assert offs == sorted(offs)  # document order
    tags = {n["tag"] for n in p.nodes}
    assert "p" in tags and "h1" in tags
    for n in p.nodes:
        assert n["n_chars"] == len(n["text"])


def test_charset_decode_rules():
    assert golden.decode_html("héllo".encode("utf-8")) == "héllo"
    latin = b'<meta charset="iso-8859-1">h\xe9llo'
    assert "héllo" in golden.decode_html(latin)
    # invalid utf-8 never raises
    golden.decode_html(b"\xff\xfe<p>x</p>")


def test_self_closing_anchor_does_not_poison_link_density():
    """Regression: <a/> incremented _anchor without the matching decrement,
    so every later text chunk counted as link chars, link density hit 1, and
    the whole remaining body was silently dropped (status still success)."""
    html = (b"<html><body>"
            b"<p><a href='/x'/>lead-in text after a self-closed anchor</p>"
            b"<p>This paragraph has plenty of ordinary prose characters and"
            b" absolutely no links inside it at all, so it must be kept.</p>"
            b"</body></html>")
    r = golden.extract_page("u", html)
    assert r["status"] == "success"
    assert "must be kept" in r["body_text"]


def test_paired_anchor_still_counts_link_chars():
    """The fix must not break real anchors: a nav-like block that is all
    link text still gets dropped by link density."""
    html = (b"<html><body>"
            b"<div><a href='/x'>Home</a> <a href='/y'>News</a> "
            b"<a href='/z'>More</a></div>"
            b"<p>Genuine article prose that is long enough to clear the"
            b" minimum block length threshold for the density filter.</p>"
            b"</body></html>")
    r = golden.extract_page("u", html)
    assert "Home" not in r["body_text"]
    assert "Genuine article prose" in r["body_text"]


def test_datagen_escapes_markup_in_corpus_text():
    """ADVICE regression: a documents.text containing & < > " must round-trip
    through render_html -> tokenizer unescape byte-identically."""
    text = ('Ampersand & angle <b>not-a-tag</b> quote " apostrophe words '
            'padding the paragraph to stay above the density minimum easily '
            'plus more ordinary filler words to make two chunks appear here '
            'and even more words so the classifier keeps everything intact')
    html = datagen.render_html(7, text, "en")
    r = golden.extract_page("u", html)
    assert r["status"] == "success"
    expected_body = "\n".join(datagen.chunks_for(text.split()))
    assert r["body_text"] == expected_body
    assert r["title"] == datagen.title_for(7, text.split())


def test_multilingual_byline_and_date_banks():
    """Ref multilingual patterns (extractor.py:87,106-107) retargeted: Hindi
    'द्वारा <name>' and Gujarati 'લેખક <name>' bylines, 'D <month> YYYY'
    dates in both scripts — no English metas present."""
    html = ("<html><body>"
            "<div class='byline'>द्वारा अर्जुन शर्मा &mdash; 15 जनवरी 2024</div>"
            "<p>Body prose long enough for the density classifier to keep.</p>"
            "</body></html>").encode()
    r = golden.extract_page("u", html)
    assert r["byline"] == "अर्जुन शर्मा"
    assert r["pub_date"] == "2024-01-15"

    html_gu = ("<html><body>"
               "<div class='byline'>લેખક રીના શાહ &mdash; 3 ઑગસ્ટ 2025</div>"
               "<p>Body prose long enough for the density classifier to keep.</p>"
               "</body></html>").encode()
    r = golden.extract_page("u", html_gu)
    assert r["byline"] == "રીના શાહ"
    assert r["pub_date"] == "2025-08-03"


def test_caseless_script_byline_validity():
    assert golden._valid_byline("अर्जुन शर्मा")        # caseless: passes
    assert not golden._valid_byline("john smith")      # all-lower Latin: rejected
    assert golden._valid_byline("John Smith")


def test_ws_norm_pattern_is_exactly_pythons_unicode_whitespace():
    """WS_NORM_PATTERN is the explicit spelling of Python's \\s (Java's bare
    \\s is ASCII-only, so the class must be enumerated). If a
    CPython upgrade changes the \\s set, this catches the drift."""
    import re

    cls = re.compile(golden.WS_NORM_PATTERN[:-1])  # strip the trailing +
    for cp in range(0x11000):
        ch = chr(cp)
        assert bool(re.match(r"\s", ch)) == bool(cls.match(ch)), hex(cp)


def test_dotted_capital_i_does_not_shift_raw_text_jumps():
    """U+0130 'İ' lowercases to two code points, so a close-tag search over
    doc.lower() landed one character late per 'İ' before the tag: twelve of
    them in a <title> swallowed '</title></he' and emptied the body."""
    body = "<p>Body paragraph with enough characters to be kept here.</p>"
    html = ("<html><head><title>" + "İ" * 12 + "</title></head><body>"
            + body + "</body></html>").encode()
    r = golden.extract_page("u", html)
    assert r["title"] == "İ" * 12
    assert r["body_text"] == "Body paragraph with enough characters to be kept here."

    html = ("<html><body><p>İstanbul " + "İ" * 20 + "</p>"
            "<script>var s = 1;</script><p>Second paragraph after the script,"
            " long enough to be kept.</p></body></html>").encode()
    r = golden.extract_page("u", html)
    assert r["body_text"].endswith(
        "\nSecond paragraph after the script, long enough to be kept.")
    # the search is ASCII-case-insensitive: upper-case close tags still end
    # the raw text; the Kelvin sign is not an ASCII 'k' and 'İ' is not an 'i'
    p = golden.tokenize_html("<TITLE>İK</TİTLE>x</Title><p>after</p>")
    assert p.title_parts == ["İK</TİTLE>x"]
    assert [n["text"] for n in p.nodes] == ["after"]
