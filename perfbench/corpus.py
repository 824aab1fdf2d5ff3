"""Seeded input generators for the benchmark workloads and the ingest probe.

Every generator is a pure function of its seed and size: the same seed gives
byte-identical inputs. Document text is lowercase pseudo-words separated by
single spaces (the shape of the package's `documents` test tables), drawn
from a fixed 4,096-word vocabulary plus the stopwords the quality score
counts. The vocabulary is wide enough that two unrelated documents almost
never share two word trigrams, so near-duplicate clustering finds only the
copies planted on purpose.
"""

from __future__ import annotations

import itertools
import os
import random

import numpy as np

from _intelligent_document_ai_for_field_extraction_from_invoices_spark import (
    datagen,
)
from _intelligent_document_ai_for_field_extraction_from_invoices_spark.operators import (  # noqa: E501
    textstats,
)

_SYLLABLES = ["ka", "lo", "mi", "re", "ta", "vu", "ne", "so", "pi", "da",
              "go", "ru", "be", "xi", "fa", "ho"]
STOP_SHARE = 0.22


def _vocabulary() -> list[str]:
    words = ["".join(p) for k in (2, 3) for p in
             itertools.product(_SYLLABLES, repeat=k)]
    random.Random(0).shuffle(words)
    return words[:4096]


VOCAB = np.array(_vocabulary())
STOPS = np.array(textstats.STOPWORDS)


def _word_stream(rng: np.random.Generator, n: int) -> np.ndarray:
    # no two stopwords in a row: stopword-only trigrams would otherwise be
    # shared by dozens of unrelated documents, under the shingle cap of 64,
    # and chain them into chance near-duplicate clusters
    stop = rng.random(n) < STOP_SHARE
    stop[1:] &= ~stop[:-1]
    out = VOCAB[rng.integers(0, len(VOCAB), n)]
    out[stop] = STOPS[rng.integers(0, len(STOPS), int(stop.sum()))]
    return out


def texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """`n` documents of lo..hi words each (uniform, inclusive)."""
    lens = rng.integers(lo, hi + 1, n)
    words = _word_stream(rng, int(lens.sum()))
    ends = np.cumsum(lens)
    return [" ".join(words[e - k:e]) for e, k in zip(ends.tolist(),
                                                      lens.tolist())]


# ---------------------------------------------------------------------------
# Page corpora (extract_pages and the ingest probe)
# ---------------------------------------------------------------------------

def doc_id_base(seed: int) -> int:
    """Seeded doc-id offset. Flavor, host and timestamp rules in `datagen`
    are doc-id arithmetic, so any contiguous id range keeps the corpus-wide
    clean/pdf/soup/ml/empty mix; the offset only moves which ids land where."""
    return 100_000 + (seed % 10_000) * 10_007


def page_corpus(seed: int, n: int, *, min_words: int = 10,
                max_words: int = 100, article_docs: int = 0,
                id_stride: int = 1) -> dict:
    """Pages rendered by `datagen.render_page` with their golden body text.

    `article_docs > 0` makes article-sized pages: each page's text is the
    concatenation of `article_docs` seeded document texts. `id_stride`
    spaces doc ids (and so warc timestamps, one minute per id) to spread the
    pages over more crawl days; it must stay coprime to the datagen moduli
    (97, 11, 13, 17, 100) so the flavor and host mix is unchanged."""
    rng = np.random.default_rng(seed)
    base = doc_id_base(seed)
    ids = [base + i * id_stride for i in range(n)]
    if article_docs:
        parts = texts(rng, n * article_docs, min_words, max_words)
        body = [" ".join(parts[i * article_docs:(i + 1) * article_docs])
                for i in range(n)]
    else:
        body = texts(rng, n, min_words, max_words)
    urls = [datagen.url_for(i) for i in ids]
    html = [datagen.render_page(i, t, "en") for i, t in zip(ids, body)]
    expected = [datagen.expected_body(i, t) or "" for i, t in zip(ids, body)]
    return {
        "doc_id": ids,
        "url": urls,
        "warc_ts": [datagen.warc_ts_for(i) for i in ids],
        "html": html,
        "expected": expected,
        "flavor": [datagen.flavor_for(i) for i in ids],
    }


def page_properties(pages: dict) -> dict:
    n = len(pages["url"])
    mix: dict[str, int] = {}
    for f in pages["flavor"]:
        mix[f] = mix.get(f, 0) + 1
    return {
        "rows": n,
        "mean_html_bytes": round(sum(map(len, pages["html"])) / n, 1),
        "flavor_mix": {k: round(v / n, 4) for k, v in sorted(mix.items())},
        "hosts": len({u.split("/")[2] for u in pages["url"]}),
        "days": len({t.date() for t in pages["warc_ts"]}),
    }


# ---------------------------------------------------------------------------
# Curation corpus (curate)
# ---------------------------------------------------------------------------

# shares of the corpus's second half (so half of each share corpus-wide)
EXACT_SHARE = 0.05   # exact copies of a first-half document's text
NEAR_SHARE = 0.05    # copies with a few words substituted
STUB_SHARE = 0.03    # short stopword-free stubs the quality gate drops
DOCS_PER_HOST = 6    # mean; hosts at or under the quota of 10 keep every doc


def curate_docs(seed: int, n: int) -> dict:
    """`documents` rows (doc_id, text, lang, source, n_chars) for the curate
    chain, with planted exact and near duplicates and quality stubs.

    Copies always point at an original of smaller doc id, so exact and near
    dedup keep the original and drop the copy."""
    rng = np.random.default_rng(seed)
    base = doc_id_base(seed)
    body = texts(rng, n, 40, 160)
    kind = rng.random(n)
    n_orig = max(1, n // 2)
    for i in range(n_orig, n):
        src = int(rng.integers(0, n_orig))
        if kind[i] < EXACT_SHARE:
            body[i] = body[src]
        elif kind[i] < EXACT_SHARE + NEAR_SHARE:
            ws = body[src].split()
            for j in rng.choice(len(ws), size=3, replace=False).tolist():
                ws[j] = str(VOCAB[int(rng.integers(0, len(VOCAB)))])
            body[i] = " ".join(ws)
        elif kind[i] < EXACT_SHARE + NEAR_SHARE + STUB_SHARE:
            k = int(rng.integers(4, 9))
            body[i] = " ".join(VOCAB[rng.integers(0, len(VOCAB), k)])
    n_hosts = max(1, n // DOCS_PER_HOST)
    hosts = rng.integers(0, n_hosts, n)
    return {
        "doc_id": [base + i for i in range(n)],
        "text": body,
        "lang": ["en"] * n,
        "source": [f"host{h}.example.org" for h in hosts.tolist()],
        "n_chars": [len(t) for t in body],
    }


def curate_properties(docs: dict) -> dict:
    n = len(docs["doc_id"])
    return {
        "rows": n,
        "hosts": len(set(docs["source"])),
        "mean_text_bytes": round(sum(docs["n_chars"]) / n, 1),
        "exact_dup_share": round((n - len(set(docs["text"]))) / n, 4),
        "planted_near_dup_share": NEAR_SHARE / 2,
        "planted_stub_share": STUB_SHARE / 2,
    }


def write_documents(docs: dict, path: str) -> None:
    """Write the curate corpus as `<path>/documents.parquet` (the CLI's
    input layout)."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(docs), os.path.join(path, "documents.parquet"))
