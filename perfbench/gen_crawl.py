"""Seeded crawl inputs, written without the engine: WARC/1.0 archives
(some member-gzipped, some plain) holding HTTP responses in several
charsets plus junk records, with planted exact duplicates and
near-duplicate groups; and embeddings with planted neighbours.

The WARC and HTTP bytes come from this module's own writer, so the
engine's parser is checked against an independent implementation of the
format.
"""

from __future__ import annotations

import gzip
import random

import numpy as np

STOPWORDS = (
    "the", "of", "and", "to", "in", "is", "that", "for", "it", "as",
    "with", "was", "on", "be", "by", "at", "this", "from", "or", "an",
)
_SYLLABLES = (
    "ka", "lo", "mi", "ne", "su", "ta", "ri", "vo", "de", "ga", "pu",
    "zen", "mor", "tal", "bri", "qui", "fen", "sol", "dar", "wex",
)
#: accented words every declared charset can carry (Latin-1 repertoire)
_ACCENTED = ("café", "naïve", "über", "señor", "façade", "rôle", "R&D")
#: (Content-Type header, <meta charset> or None, codec)
CHARSETS = (
    ("text/html; charset=utf-8", None, "utf-8"),
    ("text/html", "windows-1252", "cp1252"),
    ("text/html; charset=ISO-8859-1", None, "latin-1"),
    ("text/html", None, "utf-16"),       # BOM only
    ("text/html", None, "utf-8"),        # unlabeled; UTF-8 by validation
)


def _vocabulary() -> list[str]:
    words = [a + b + c for a in _SYLLABLES for b in _SYLLABLES
             for c in ("", "n", "s")]
    return words + list(_ACCENTED)


VOCAB = _vocabulary()


def paragraph(rng: random.Random, n_words: int) -> str:
    """Sentences of content words mixed with stop words."""
    out, sent = [], 0
    for i in range(n_words):
        w = rng.choice(STOPWORDS) if rng.random() < 0.35 else rng.choice(VOCAB)
        sent += 1
        if sent >= rng.randint(8, 14) or i == n_words - 1:
            w += "."
            sent = 0
        out.append(w)
    out[0] = out[0].capitalize()
    return " ".join(out)


def shingles3(text: str) -> set[str]:
    """Word 3-shingles of lower-cased, whitespace-split text."""
    toks = text.lower().split()
    return {" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles3(a), shingles3(b)
    return len(sa & sb) / len(sa | sb)


def _variant(rng: random.Random, base: str, edits: int) -> str:
    toks = base.split()
    for _ in range(edits):
        i = rng.randrange(1, len(toks) - 1)
        new = rng.choice(VOCAB)
        while new == toks[i].rstrip("."):
            new = rng.choice(VOCAB)
        toks[i] = new + ("." if toks[i].endswith(".") else "")
    return " ".join(toks)


def _html(title: str, body: str, meta: str | None) -> str:
    head = f'<meta charset="{meta}">' if meta else ""
    esc = body.replace("&", "&amp;")
    return (
        f"<html><head>{head}<title>{title}</title>"
        '<script>var tracking = "not page text";</script></head><body>'
        '<nav><a href="/">Home</a> | <a href="/news">News</a> | '
        '<a href="/about">About us</a> | <a href="/contact">Contact</a></nav>'
        f'<div class="content"><p>{esc}</p></div>'
        "<footer>All rights reserved</footer></body></html>"
    )


def _http(status: str, content_type: str, body: bytes) -> bytes:
    head = (f"HTTP/1.1 {status}\r\nContent-Type: {content_type}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n")
    return head.encode("ascii") + body


def _warc_record(rec_type: str, uri: str | None, n: int, payload: bytes,
                 content_type: str) -> bytes:
    head = ["WARC/1.0", f"WARC-Type: {rec_type}",
            f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-{n:012d}>",
            "WARC-Date: 2024-05-01T12:00:00Z"]
    if uri:
        head.append(f"WARC-Target-URI: {uri}")
    head += [f"Content-Type: {content_type}", f"Content-Length: {len(payload)}"]
    return ("\r\n".join(head) + "\r\n\r\n").encode("ascii") + payload + b"\r\n\r\n"


def make_crawl(seed: int, archives: int, pages_per_archive: int,
               near_groups: int, near_size: int, exact_groups: int,
               exact_size: int, low_quality: int) -> dict:
    """Archives (list of bytes) plus the planted truth.

    ``pages`` maps each page URI to ``{"body", "group", "good"}``:
    ``group`` names the planted duplicate group (exact copies and
    near-duplicate variants share one), ``good`` says whether the page
    should pass the quality gate. ``near_pairs`` lists every planted
    near-duplicate pair of bodies with its true 3-word-shingle Jaccard.
    """
    rng = random.Random(f"crawl:{seed}")
    n_pages = archives * pages_per_archive
    planted = near_groups * near_size + exact_groups * exact_size + low_quality
    if planted > n_pages:
        raise ValueError("more planted pages than pages")
    bodies: list[tuple[str, str, bool]] = []  # (body, group, good)
    near_pairs = []
    for g in range(near_groups):
        base = paragraph(rng, 150)
        members = [base] + [_variant(rng, base, 2) for _ in range(near_size - 1)]
        for i in range(near_size):
            for j in range(i + 1, near_size):
                near_pairs.append((members[i], members[j],
                                   jaccard(members[i], members[j])))
        bodies += [(m, f"n{g}", True) for m in members]
    for g in range(exact_groups):
        body = paragraph(rng, 120)
        bodies += [(body, f"e{g}", True)] * exact_size
    for g in range(low_quality):
        junk = " ".join(str(rng.randrange(10**6)) + "%$#" for _ in range(6))
        bodies.append((junk, f"q{g}", False))
    while len(bodies) < n_pages:
        bodies.append((paragraph(rng, rng.randint(90, 160)), f"u{len(bodies)}", True))
    rng.shuffle(bodies)
    pages, out, n = {}, [], 0
    for a in range(archives):
        recs = [_warc_record("warcinfo", None, n, b"software: perfbench\r\n",
                             "application/warc-fields")]
        for p in range(pages_per_archive):
            body, group, good = bodies[a * pages_per_archive + p]
            uri = f"http://site{a}.example/page/{p}"
            ctype, meta, codec = CHARSETS[(a + p) % len(CHARSETS)]
            html = _html(f"Page {a}-{p}", body, meta).encode(codec)
            n += 1
            recs.append(_warc_record("request", uri, n,
                                     f"GET /page/{p} HTTP/1.1\r\n\r\n".encode(),
                                     "application/http; msgtype=request"))
            n += 1
            recs.append(_warc_record("response", uri, n, _http("200 OK", ctype, html),
                                     "application/http; msgtype=response"))
            pages[uri] = {"body": body, "group": group, "good": good}
            if p % 10 == 3:  # junk: a missing page and a non-HTML body
                n += 1
                recs.append(_warc_record(
                    "response", uri + "/gone", n,
                    _http("404 Not Found", "text/html", b"<p>gone</p>"),
                    "application/http; msgtype=response"))
                n += 1
                recs.append(_warc_record(
                    "response", uri + ".png", n,
                    _http("200 OK", "image/png", bytes(rng.randrange(256) for _ in range(64))),
                    "application/http; msgtype=response"))
        if a % 2 == 0:
            out.append(b"".join(gzip.compress(r, 6, mtime=0) for r in recs))
        else:
            out.append(b"".join(recs))
    return {"archives": out, "pages": pages, "near_pairs": near_pairs}


def make_embeddings(seed: int, corpus: int, queries: int, dim: int,
                    planted: int) -> dict:
    """float64 corpus vectors and queries; each query has ``planted``
    close neighbours hidden at random corpus ids."""
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((corpus, dim))
    qs = rng.standard_normal((queries, dim))
    ids = rng.permutation(corpus)[: queries * planted].reshape(queries, planted)
    for q in range(queries):
        for i in ids[q]:
            vecs[i] = qs[q] + 0.05 * rng.standard_normal(dim)
    return {"corpus": vecs, "queries": qs}
