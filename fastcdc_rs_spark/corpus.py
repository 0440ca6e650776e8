"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1).

Generates ``documents(url, warc_ts, html, text, lang)`` per the baseline
``input_hint`` with seeded duplicate structure that drives the recall
metric:

* exact duplicates (same text, different url), clusters of 2-20;
* near-duplicates (1-5% token edits of a source doc);
* boilerplate-only overlap (distinct bodies, shared site template) —
  a precision control: these must NOT cluster;
* one giant near-dup cluster (~5% of corpus) — skew/CC stress;
* sub-min tiny docs and a constant-byte doc (chunker edge cases).

Everything is a pure function of (n_docs, seed): the same corpus is
regenerated identically in tests, the oracle, and the bench, so no binary
fixtures are committed. Text is word-soup from a fixed vocabulary with
Zipf-ish repetition so chunk shingles and token shingles both behave like
web text. html wraps text in per-site boilerplate so LSH hot buckets occur
naturally; ``extract_text`` recovers text byte-identically per url.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

__all__ = ["corpus_pandas", "extract_text_bytes", "DUP_KINDS"]

_VOCAB = np.array(
    [
        "the", "of", "and", "to", "in", "is", "for", "with", "on", "that",
        "data", "page", "site", "news", "home", "about", "contact", "search",
        "product", "review", "price", "best", "free", "online", "service",
        "world", "time", "year", "people", "government", "market", "report",
        "science", "health", "sports", "music", "travel", "weather", "forum",
        "click", "share", "comment", "read", "more", "article", "story",
        "video", "photo", "update", "today", "latest", "breaking", "guide",
        "how", "what", "why", "when", "where", "top", "list", "new",
    ]
)

DUP_KINDS = ("unique", "exact", "near", "boiler", "giant", "tiny", "zeros")

_SITES = 20


def _site_template(site: int) -> tuple[bytes, bytes]:
    header = (
        f"<html><head><title>site{site}</title></head>"
        f"<nav>home | about | contact | search | site{site} "
        + "| ".join(f"link{j}" for j in range(site % 7 + 3))
        + "</nav><body>"
    ).encode()
    footer = (
        f"</body><footer>copyright site{site} — all rights reserved. "
        + " ".join(f"tag{j}" for j in range(site % 5 + 2))
        + "</footer></html>"
    ).encode()
    return header, footer


# Versioned extractor: bump when extraction output changes for any input
# (the sha256 goldens in tests/test_corpus.py pin the behavior per version).
EXTRACTOR_VERSION = 2

_BODY_OPEN_RE = re.compile(rb"(?is)<body(?:\s[^>]*)?>")
_COMMENT_RE = re.compile(rb"(?s)<!--.*?-->")
_SCRIPT_RE = re.compile(rb"(?is)<script\b.*?(?:</script\s*>|\Z)")
_STYLE_RE = re.compile(rb"(?is)<style\b.*?(?:</style\s*>|\Z)")
_TAG_RE = re.compile(rb"<[^>]*>")
# decode order matters: &amp; last, or &amp;lt; would double-decode
_ENTITIES = (
    (b"&lt;", b"<"), (b"&gt;", b">"), (b"&quot;", b'"'),
    (b"&#39;", b"'"), (b"&apos;", b"'"), (b"&nbsp;", b" "),
    (b"&amp;", b"&"),
)


def extract_text_bytes(html: bytes) -> str:
    """Deterministic, versioned text extraction (v2): html bytes → text.

    1. Body region: first ``<body ...>`` open tag to the LAST ``</body>``;
       a missing/malformed body falls back to the whole document.
    2. Exact-identity fast path: a tag-free body region is returned
       byte-for-byte — this is the per-row invariant from the baseline
       ``input_hint`` ("byte-identical extracted text per url"; reference
       pipeline pages embed their text verbatim inside <body>), pinned by
       the sha256 goldens in tests/test_corpus.py.
    3. Tag-bearing / malformed regions get the real treatment: comments,
       <script> and <style> blocks (unterminated included) removed, all
       remaining tags become separators, the five XML entities + &nbsp;
       decoded, whitespace runs collapsed. Deterministic; invalid UTF-8
       decodes with replacement characters.
    """
    # clean BEFORE locating the body: a <script> whose source contains
    # "<body>" must not poison the region search. A tag-free body region
    # contains none of these patterns, so the fast path below still sees
    # the original bytes.
    cleaned = _COMMENT_RE.sub(b" ", html)
    cleaned = _SCRIPT_RE.sub(b" ", cleaned)
    cleaned = _STYLE_RE.sub(b" ", cleaned)
    m = _BODY_OPEN_RE.search(cleaned)
    end = cleaned.rfind(b"</body>")
    if m is not None and end > m.end():
        region = cleaned[m.end():end]
    else:
        region = cleaned
    if b"<" not in region:
        return region.decode("utf-8", errors="replace")
    region = _TAG_RE.sub(b" ", region)
    for ent, ch in _ENTITIES:
        region = region.replace(ent, ch)
    return " ".join(region.decode("utf-8", errors="replace").split())


def _make_tail_vocab(n: int = 2000, seed: int = 1234) -> np.ndarray:
    """Deterministic synthetic long-tail vocabulary. Web text needs real
    entropy: with a tiny vocabulary the gear hash sees repeating 64-byte
    windows, mask matches starve, chunks degrade to max_size (position-
    dependent) and CDC loses its resynchronization property."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return np.array(
        ["".join(rng.choice(letters, int(rng.integers(3, 11)))) for _ in range(n)]
    )


_TAIL_VOCAB = _make_tail_vocab()


def _word_soup(rng: np.random.Generator, n_words: int) -> list[str]:
    # Zipf-ish head (common words) + long synthetic tail, ~70/30 split
    head = (rng.pareto(1.3, n_words) * 4).astype(np.int64) % len(_VOCAB)
    tail = rng.integers(0, len(_TAIL_VOCAB), n_words)
    use_tail = rng.random(n_words) < 0.3
    return [
        str(_TAIL_VOCAB[tail[i]]) if use_tail[i] else str(_VOCAB[head[i]])
        for i in range(n_words)
    ]


def _edit_tokens(rng: np.random.Generator, tokens: list[str], rate: float) -> list[str]:
    """Localized near-duplicate edit: replace ONE contiguous span of
    ~rate*len tokens with fresh words (web-page-realistic — dates, ads,
    injected paragraphs — and the regime CDC chunking is designed for:
    the span touches few chunks, the rest resynchronize)."""
    out = list(tokens)
    span = max(1, int(len(out) * rate))
    pos = int(rng.integers(0, max(1, len(out) - span)))
    replacement = [str(_VOCAB[int(j)]) for j in rng.integers(0, len(_VOCAB), span)]
    return out[:pos] + replacement + out[pos + span:]


def corpus_pandas(n_docs: int = 2000, seed: int = 42,
                  mean_words: int = 400) -> pd.DataFrame:
    """Build the corpus as a pandas DataFrame (deterministic in args)."""
    rng = np.random.default_rng(seed)
    langs = np.array(["en", "en", "en", "en", "de", "fr", "es", "zh"])

    rows: list[dict] = []
    i = 0

    def add(text: str, kind: str, cluster: int, site: int) -> None:
        nonlocal i
        header, footer = _site_template(site)
        html = header + text.encode("utf-8") + footer
        rows.append(
            {
                "url": f"https://site{site}.example/page/{i}",
                "warc_ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=i * 37),
                "html": html,
                "text": text,
                "lang": str(langs[i % len(langs)]),
                "dup_kind": kind,
                "true_cluster": cluster,
            }
        )
        i += 1

    n_giant = max(4, n_docs // 20)           # ~5% giant near-dup cluster
    n_exact_clusters = max(1, n_docs // 40)  # exact-dup clusters of 2-6
    n_near_clusters = max(1, n_docs // 30)   # near-dup clusters of 2-4
    n_tiny = max(2, n_docs // 100)
    cluster_id = 0

    # giant cluster: exact copies (realistic web shape — error pages, spam
    # templates — and the skew stressor: one hot LSH bucket with ~5% of the
    # corpus; near-dup recovery is exercised by the `near` clusters)
    base = _word_soup(rng, mean_words)
    base_text = " ".join(base)
    for _ in range(n_giant):
        add(base_text, "giant", cluster_id, site=int(rng.integers(0, _SITES)))
    cluster_id += 1

    for _ in range(n_exact_clusters):
        t = " ".join(_word_soup(rng, int(rng.integers(mean_words // 2, mean_words * 2))))
        for _ in range(int(rng.integers(2, 7))):
            add(t, "exact", cluster_id, site=int(rng.integers(0, _SITES)))
        cluster_id += 1

    # near clusters: docs >= mean_words so they span >= ~9 chunks — chunk-set
    # Jaccard after a 1-2 chunk localized edit stays above the 0.6 verify
    # threshold ((n-2)/(n+2) >= 0.64 at n=9); shorter docs would be honest
    # CDC misses, which the `tiny` kind covers separately
    for _ in range(n_near_clusters):
        toks = _word_soup(rng, int(rng.integers(mean_words, mean_words * 2)))
        add(" ".join(toks), "near", cluster_id, site=int(rng.integers(0, _SITES)))
        for _ in range(int(rng.integers(1, 4))):
            t = " ".join(_edit_tokens(rng, toks, float(rng.uniform(0.005, 0.02))))
            add(t, "near", cluster_id, site=int(rng.integers(0, _SITES)))
        cluster_id += 1

    for _ in range(n_tiny):
        add(" ".join(_word_soup(rng, int(rng.integers(2, 10)))), "tiny", cluster_id,
            site=int(rng.integers(0, _SITES)))
        cluster_id += 1

    add("\x00" * 3000, "zeros", cluster_id, site=0)  # constant-byte doc
    cluster_id += 1

    # boilerplate controls + unique fill, same site template pairs
    while i < n_docs:
        kind = "boiler" if i % 7 == 0 else "unique"
        t = " ".join(_word_soup(rng, int(rng.integers(mean_words // 2, mean_words * 2))))
        add(t, kind, cluster_id, site=i % 3 if kind == "boiler" else int(rng.integers(0, _SITES)))
        cluster_id += 1

    df = pd.DataFrame(rows[:n_docs])
    return df

