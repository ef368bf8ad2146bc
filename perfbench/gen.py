"""Seeded inputs for the benchmark.

Everything the program receives is derived from ``--seed`` here:

* ``documents(seed, n)`` — a documents table shaped like the one the
  query suite is written against (doc_id, text, lang, source,
  n_chars): word salad over a small vocabulary, 10–100 words, a fixed
  language mix, ``src<doc_id % 20>`` sources, plus a seeded share of
  exact and one-word-off copies so the dedup and similarity operators
  find pairs.
* ``hostile_pages(seed, ...)`` — deeply nested pages and a page of
  half a megabyte for the checkpointed job, with seeded keys (so they land in seeded
  buckets and commit groups) and their expected extracted text.
* ``crash_group(seed, n_groups, unit)`` — the commit group before
  which the job is made to crash in each timed unit.

The synthetic page template (``newspaper_spark.sources.transcripts``)
turns each document into a news-like page whose extracted text the
``extract_fulltext`` oracle gives in closed form; the hostile pages
here follow the same paragraph rule.
"""
from __future__ import annotations

import hashlib
import os
import random

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)

# mirrored from newspaper_spark.sources.transcripts (the page template)
PARA_LEAD = "It was also noted that there is more to be said about this: "
PARA_WORDS = 15

DUP_SHARE = 0.02  # share of documents that copy an earlier one
N_DEEP = 4  # deeply nested hostile pages
N_BIG = 1  # large hostile pages
DEPTH = (600, 1000)  # nesting depth range of the deep pages
BIG_SIZE = 1 << 19  # bytes of a large page


def documents(seed: int, n: int):
    """Seeded documents table as a pandas DataFrame."""
    import pandas as pd

    rng = random.Random(seed)
    texts, langs = [], []
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            words = texts[rng.randrange(i)].split()
            if rng.random() < 0.5:  # near-duplicate: one word changed
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
        else:
            words = rng.choices(VOCAB, k=rng.randint(10, 100))
        texts.append(" ".join(words))
        langs.append(rng.choices(LANGS, LANG_WEIGHTS)[0])
    return pd.DataFrame(
        {
            "doc_id": pd.Series(range(n), dtype="int64"),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pd.Series([len(t) for t in texts], dtype="int64"),
        }
    )


def write_documents(seed: int, n: int, sf_dir: str) -> str:
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    documents(seed, n).to_parquet(path, index=False)
    return path


def paragraphs(text: str) -> list[str]:
    """The paragraphs the page template makes of one document text."""
    words = text.split(" ")
    return [
        PARA_LEAD + " ".join(words[k : k + PARA_WORDS])
        for k in range(0, len(words), PARA_WORDS)
    ]


def _page(body: str) -> str:
    return (
        '<html lang="en"><head><title>Hostile page for the extraction job'
        "</title></head><body>" + body + "</body></html>"
    )


def deep_page(paras: list[str], depth: int) -> str:
    """Article paragraphs inside ``depth`` nested <div>s."""
    body = "".join(f"<p>{p}</p>" for p in paras)
    return _page("<div>" * depth + body + "</div>" * depth)


def big_page(paras: list[str], size: int) -> tuple[str, int]:
    """A page of about ``size`` bytes: the paragraph block repeated;
    returns the page and the number of repeats."""
    block = "".join(f"<p>{p}</p>" for p in paras)
    repeat = max(1, size // len(block))
    return _page('<div class="article-body">' + block * repeat + "</div>"), repeat


def hostile_pages(seed: int, big_size: int = BIG_SIZE):
    """Seeded hostile rows: list of (conv_id, turn_idx, html, expected).

    The keys are seeded, so the hostile pages move between buckets and
    commit groups with the seed. The expected text is the paragraphs
    joined by blank lines, truncated as the kernel truncates text
    (``MAX_TEXT`` characters in ``newspaper_spark.kernel.article``).
    """
    from newspaper_spark.kernel.article import MAX_TEXT

    rng = random.Random(seed * 7919 + 17)
    rows = []
    for k in range(N_DEEP + N_BIG):
        paras = paragraphs(" ".join(rng.choices(VOCAB, k=rng.randint(40, 90))))
        if k < N_DEEP:
            html = deep_page(paras, rng.randint(*DEPTH))
            expected = "\n\n".join(paras)
        else:
            html, repeat = big_page(paras, big_size)
            expected = "\n\n".join(paras * repeat)[:MAX_TEXT]
        conv = f"conv-hostile-{rng.randrange(10**6):06d}"
        rows.append((conv, rng.randrange(4), html, expected))
    return rows


def crash_group(seed: int, n_groups: int, unit: int = 0) -> int:
    """Commit group (1 .. n_groups-1) before which the job crashes in
    timed unit ``unit``: a seeded start, then each position in turn,
    so every run crashes at each position equally often."""
    start = random.Random(seed * 104729 + 3).randrange(n_groups - 1)
    return 1 + (start + unit) % (n_groups - 1)


def md5_int(s: str) -> int:
    """First 15 hex digits of md5(s) as an int: the value Spark's
    ``conv(substring(md5(s), 1, 15), 16, 10)`` gives."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
