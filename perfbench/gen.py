"""Seeded input generator and pure-Python output oracle.

Everything the engine sees is made here from the ``--seed`` argument:
synthetic HTML pages archived as ``.warc.gz`` shards, a Zipf-skewed
request stream, and CDC micro-batches. The same seed gives the same
bytes. The oracle half recomputes what the engine should output for
those inputs (chunks, embeddings, exact top-k) without Spark.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
from dataclasses import dataclass, field

import numpy as np

from data_ingestion_spark.functions.html import html_to_markdown
from data_ingestion_spark.functions.textops import (
    CHUNK_OVERLAP,
    CHUNK_SIZE,
    recursive_character_split,
)
from data_ingestion_spark.sources.warc import (
    build_warc_record,
    gzip_member,
    http_response_block,
)

#: the website ingestor splits on #..#### (reference W:147-152)
MD_SPLIT_DEPTH = 4
EMBED_DIM = 64
#: share of generated pages that are near-duplicates of an earlier page
NEAR_DUP_SHARE = 0.08
#: share of generated pages that are exact copies under another URL
EXACT_DUP_SHARE = 0.04

_SYLLABLES = [
    "ka", "lo", "mi", "ren", "tas", "vo", "ul", "pe", "dri", "sen", "ga", "to",
    "bel", "nor", "qua", "zi", "han", "ex", "por", "lin", "fa", "mu", "ost", "ri",
]


def _vocab(n: int = 4000) -> list[str]:
    rng = random.Random(12345)
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


VOCAB = _vocab()


@dataclass(frozen=True)
class Page:
    url: str
    collection: str
    html: str
    #: url of the page this one copies (exact or near), else None
    dup_of: str | None = None
    exact_dup: bool = False


def _paragraph(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n_words)) + "."


def _page_html(rng: random.Random, title: str) -> str:
    """1-4 header levels, nav and footer boilerplate, section lengths on
    both sides of the 2048-char chunk size."""
    parts = [
        "<html><head><title>", title, "</title></head><body>",
        "<div class='breadcrumb'>Home / Docs / ", title, "</div>",
        "<nav><a href='/'>home</a> <a href='/docs'>docs</a></nav>",
        "<h1>", title, "</h1>",
    ]
    depth = rng.randint(1, 4)
    for s in range(rng.randint(1, 5)):
        level = rng.randint(min(2, depth), depth) if depth > 1 else 1
        parts += [f"<h{level}>", f"Part {s} ", rng.choice(VOCAB), f"</h{level}>"]
        # long sections exceed 2048 chars (several chunks), short ones don't
        n_words = rng.choice((rng.randint(15, 90), rng.randint(300, 700)))
        while n_words > 0:
            w = min(n_words, rng.randint(20, 80))
            parts += ["<p>", _paragraph(rng, w), "</p>"]
            n_words -= w
    parts += [
        "<div class='legal-notice'><a>Legal Notice</a> copyright footer</div>",
        "</body></html>",
    ]
    return "".join(parts)


def _near_copy(rng: random.Random, html: str) -> str:
    """Change a handful of words: the copy stays within MinHash reach."""
    words = html.split(" ")
    for _ in range(max(1, len(words) // 200)):
        i = rng.randrange(len(words))
        if words[i].isalpha():
            words[i] = rng.choice(VOCAB)
    return " ".join(words)


def make_pages(seed: int, n: int, n_collections: int, tag: str) -> list[Page]:
    """``n`` pages over ``n_collections`` collections; a planted share
    are exact or near duplicates of an earlier page of the same call."""
    rng = random.Random(f"pages|{seed}|{tag}")
    pages: list[Page] = []
    for i in range(n):
        coll = f"{tag}_c{rng.randrange(n_collections):03d}"
        url = f"https://docs.example.com/{coll}/p{i:05d}"
        r = rng.random()
        if pages and r < EXACT_DUP_SHARE:
            src = rng.choice(pages)
            pages.append(Page(url, coll, src.html, src.url, True))
            continue
        if pages and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            src = rng.choice(pages)
            pages.append(Page(url, coll, _near_copy(rng, src.html), src.url, False))
            continue
        title = f"{rng.choice(VOCAB).capitalize()} {rng.choice(VOCAB)} guide {i}"
        pages.append(Page(url, coll, _page_html(rng, title)))
    return pages


def write_warc(pages: list[Page], out_dir: str, shards: int = 4) -> list[str]:
    """Archive pages as ``.warc.gz`` shards, one gzip member per record
    (the layout ``sources.warc.warc_records`` walks). Byte-stable."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for s in range(shards):
        path = os.path.join(out_dir, f"part-{s:05d}.warc.gz")
        with open(path, "wb") as f:
            for j, p in enumerate(pages[s::shards]):
                rec = build_warc_record(
                    "response",
                    http_response_block(p.html.encode("utf-8")),
                    uri=p.url,
                    record_id=f"<urn:bench:{s}:{j}>",
                )
                f.write(gzip_member(rec))
        paths.append(path)
    return paths


def zipf_picks(seed: int, items: list[str], n: int, s: float = 1.1, tag: str = "") -> list[str]:
    """``n`` picks from ``items`` with Zipf(s) skew over a seeded rank order."""
    rng = random.Random(f"zipf|{seed}|{tag}")
    order = list(items)
    rng.shuffle(order)
    weights = [1.0 / (r + 1) ** s for r in range(len(order))]
    return rng.choices(order, weights=weights, k=n)


def query_text(seed: int, i: int, words: int = 4) -> str:
    rng = random.Random(f"query|{seed}|{i}")
    return " ".join(rng.choice(VOCAB) for _ in range(words))


def request_kinds(seed: int, n: int) -> list[str]:
    """Serve mix: mostly top-k similarity search, a small share of
    catalog requests."""
    rng = random.Random(f"kinds|{seed}")
    return rng.choices(
        ["search", "count", "list"], weights=[0.85, 0.10, 0.05], k=n
    )


@dataclass
class CdcBatch:
    """One micro-batch of the churn stream, at page level."""

    new: list[Page] = field(default_factory=list)
    replaced: list[Page] = field(default_factory=list)
    deleted: list[Page] = field(default_factory=list)
    near_dups: list[Page] = field(default_factory=list)


def make_cdc_batches(
    seed: int, live: list[Page], n_batches: int, per_batch: int, tag: str
) -> list[CdcBatch]:
    """New pages, re-crawled pages with changed content (same URL),
    takedowns, and near-duplicates of live pages that the novelty gate
    must refuse. A page is touched by at most one batch."""
    rng = random.Random(f"cdc|{seed}|{tag}")
    originals = [p for p in live if p.dup_of is None]
    touched = rng.sample(originals, min(len(originals), 3 * per_batch * n_batches))
    fresh = make_pages(seed, per_batch * n_batches, 4, f"{tag}new")
    fresh = [p for p in fresh if p.dup_of is None]
    batches = []
    for b in range(n_batches):
        chunk = touched[3 * per_batch * b : 3 * per_batch * (b + 1)]
        k = per_batch
        batch = CdcBatch(
            new=fresh[b * k // 2 : (b + 1) * k // 2],
            replaced=[
                Page(p.url, p.collection, _page_html(rng, f"Revised {p.url[-6:]} b{b}"))
                for p in chunk[:k]
            ],
            deleted=chunk[k : 2 * k],
            near_dups=[
                Page(p.url.replace("/p", "/mirror/p"), p.collection, _near_copy(rng, p.html), p.url)
                for p in chunk[2 * k : 3 * k]
            ],
        )
        batches.append(batch)
    return batches


# ----------------------------------------------------------------- oracle


@dataclass(frozen=True)
class Chunk:
    url: str
    section_idx: int
    chunk_idx: int
    text: str


def page_chunks(page: Page) -> list[Chunk]:
    """What ``website_ingestion_from_warc`` must store for one page:
    html_to_markdown → header split → recursive 2048/256 split →
    content header."""
    title, md = html_to_markdown(page.html)
    sections = [
        s
        for s in re.split(rf"(?m)^#{{1,{MD_SPLIT_DEPTH}}} ", md)
        if s.strip()
    ]
    out = []
    for si, sec in enumerate(sections):
        pieces = recursive_character_split(sec, CHUNK_SIZE, CHUNK_OVERLAP)
        for ci, piece in enumerate(pieces):
            text = f"Section: {title} / {si} / {ci}\n\nContent:\n{piece}"
            out.append(Chunk(page.url, si, ci, text))
    return out


def chunk_id(c: Chunk) -> int:
    """A chunk's 60-bit id: md5 of ``url|section_idx|chunk_idx``."""
    key = f"{c.url}|{c.section_idx}|{c.chunk_idx}"
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:15], 16)


def embed(text: str, dim: int = EMBED_DIM, seed: str = "emb") -> np.ndarray:
    """``embedding.embed_deterministic`` recomputed in Python."""
    scale = float(16**15 - 1)
    comps = [
        int(hashlib.md5(f"{seed}|{i}|{text}".encode("utf-8")).hexdigest()[:15], 16)
        / scale * 2.0 - 1.0
        for i in range(dim)
    ]
    return np.asarray(comps, dtype=np.float32)


def exact_topk(
    ids: list, vecs: np.ndarray, q: np.ndarray, k: int
) -> list[tuple[float, object]]:
    """Cosine top-k, scores rounded to 6 dp, ties by id: the
    ``brute_force_topk`` contract. Returns (score, id) pairs, best first."""
    v = vecs.astype(np.float64)
    qd = q.astype(np.float64)
    scores = (v @ qd) / (np.linalg.norm(v, axis=1) * np.linalg.norm(qd))
    ranked = sorted(zip(np.round(scores, 6).tolist(), ids), key=lambda t: (-t[0], t[1]))
    return ranked[:k]


def topk_matches(got: list[tuple[float, object]], ranked_all: list[tuple[float, object]], k: int, tol: float = 2e-6) -> bool:
    """True when ``got`` is a valid exact top-k: same scores as the
    oracle's first k within ``tol`` (float order in the JVM can move the
    6th decimal), and every returned id scores within ``tol`` of the
    oracle's k-th score."""
    want = ranked_all[:k]
    if len(got) != len(want):
        return False
    if any(abs(g[0] - w[0]) > tol for g, w in zip(got, want)):
        return False
    floor = want[-1][0] - tol if want else 0.0
    eligible = {i for s, i in ranked_all if s >= floor}
    return all(i in eligible for _, i in got)
