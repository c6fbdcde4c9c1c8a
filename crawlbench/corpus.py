"""Seeded inputs for the ``corpus_ingest`` workload: a stored-pages table
of prose HTML pages, the crawl batch to ingest, and a corpus that holds
near-duplicates of some batch pages.

Expected outputs are known by construction, independently of the engine:
each page's plaintext is assembled from the same paragraphs its HTML is
built from, and the planted exact and near duplicates are listed.
"""

from __future__ import annotations

import html
import random
from dataclasses import dataclass
from datetime import datetime, timedelta

_SYLLABLES = (
    "ka ri to mo na se lu vi pa do re mi fa so la ti be co du ge hi jo "
    "ku ly ne or pu qu ra st ve wo xa yo ze an el in on un ar er ir"
).split()
# English stopwords keep the pages' language detectable and their
# quality features ordinary
_STOPWORDS = "the of and to in is that for it with as on was by at from this".split()
# A line every page repeats, for the corpus repeated-line dedup. It is
# shorter than decontamination's 8-grams: were it longer, one benchmark doc
# carrying it would mark every page contaminated.
_FOOTER = "All rights reserved."


@dataclass
class IngestInputs:
    pages: list[dict]            # url, host, warc_ts, html, text, lang
    batch_urls: list[str]        # scheduled for the ingest round
    corpus: list[dict]           # doc_id, text
    exact_dups: int              # batch pages whose text repeats an earlier batch page
    near_dup_texts: set[str]     # batch texts planted as near-dups of a corpus doc


def _vocab(rng: random.Random, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 4))))
    return sorted(words)


def _paragraph(rng: random.Random, vocab: list[str]) -> str:
    words = []
    for _ in range(rng.randint(40, 90)):
        words.append(rng.choice(_STOPWORDS) if rng.random() < 0.35 else rng.choice(vocab))
    if rng.random() < 0.1:
        words.insert(rng.randrange(len(words)), f"{rng.choice(vocab)}@example.org")
    if rng.random() < 0.05:
        words.insert(rng.randrange(len(words)), "R&D")
    sentences, cur = [], []
    for w in words:
        cur.append(w)
        if len(cur) >= rng.randint(8, 16):
            sentences.append(" ".join(cur).capitalize() + ".")
            cur = []
    if cur:
        sentences.append(" ".join(cur).capitalize() + ".")
    return " ".join(sentences)


def page_html(title: str, paragraphs: list[str]) -> str:
    body = "".join(f"<p>{html.escape(p, quote=False)}</p>\n" for p in paragraphs)
    return (
        f"<html><head><title>{html.escape(title, quote=False)}</title></head>"
        f"<body>{body}</body></html>"
    )


def page_text(title: str, paragraphs: list[str]) -> str:
    """The plaintext of :func:`page_html`: its text nodes in order."""
    return title + "".join(p + "\n" for p in paragraphs)


def _mutate(rng: random.Random, text: str, vocab: list[str]) -> str:
    """A near-duplicate: one word in ~200 replaced."""
    words = text.split(" ")
    for _ in range(max(1, len(words) // 200)):
        words[rng.randrange(len(words))] = rng.choice(vocab)
    return " ".join(words)


def generate(seed: int, n_pages: int, n_corpus: int, n_hosts: int = 20) -> IngestInputs:
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)
    epoch = datetime(2026, 1, 1)
    pages, texts = [], []
    for i in range(n_pages):
        host = f"www.news{i % n_hosts}.example"
        url = f"https://{host}/article/{seed}/{i}"
        if i >= 10 and rng.random() < 0.05:
            # exact duplicate of an earlier page: same title and body
            title, paras = texts[rng.randrange(len(texts))]
        else:
            title = " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 7))).title()
            paras = [_paragraph(rng, vocab) for _ in range(rng.randint(3, 8))] + [_FOOTER]
        texts.append((title, paras))
        page = page_html(title, paras)
        pages.append({
            "url": url,
            "host": host,
            "warc_ts": epoch + timedelta(seconds=rng.randrange(31_536_000)),
            "html": page.encode("utf-8"),
            "text": page_text(title, paras),
            "lang": "en",
        })

    # the batch: every third page, plus urls absent from storage (misses)
    batch_urls = [p["url"] for i, p in enumerate(pages) if i % 3 == 0]
    batch_urls += [f"https://www.news0.example/missing/{seed}/{k}" for k in range(len(batch_urls) // 50)]

    seen_texts: set[str] = set()
    exact_dups = 0
    for p in pages[::3]:
        if p["text"] in seen_texts:
            exact_dups += 1
        seen_texts.add(p["text"])

    corpus, near = [], set()
    batch_pages = pages[::3]
    for k, p in enumerate(rng.sample(batch_pages, min(len(batch_pages) // 10, n_corpus))):
        corpus.append({"doc_id": 1_000_000_000 + k, "text": _mutate(rng, p["text"], vocab)})
        near.add(p["text"])
    while len(corpus) < n_corpus:
        paras = [_paragraph(rng, vocab) for _ in range(rng.randint(3, 8))]
        corpus.append({"doc_id": 1_000_000_000 + len(corpus), "text": "\n".join(paras)})
    return IngestInputs(pages, batch_urls, corpus, exact_dups, near)
