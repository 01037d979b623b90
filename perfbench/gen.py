"""Seeded input generators for the names and crawl workloads (the pages
workload uses the package's own ``generate_pages_distributed``).

Everything here is a pure function of the seed: the program under test only
ever sees the generated rows.  Truth labels are recorded at generation time
so recall and precision are scored against what the generator built, never
against the program's own output.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import os
import random

STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_ONSETS = ("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "z", "br", "cr", "dr", "gl", "pl", "st", "tr", "sh", "ch")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ou", "ea")
_ACCENTS = {"a": "á", "e": "é", "o": "ö", "u": "ü", "c": "ç", "i": "í"}
_SUFFIXES = ("Inc.", "Inc", "Corp.", "Corporation", "LLC", "Ltd.", "Limited",
             "Co.", "Company", "Group", "Holdings")


def vocabulary(rng: random.Random, size: int) -> list:
    """Distinct pseudo-words of 4-10 letters, none of them a stop word."""
    words: set = set()
    while len(words) < size:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS)
            for _ in range(rng.randint(2, 3))
        )
        if 4 <= len(w) <= 10 and w not in STOP_WORDS:
            words.add(w)
    return sorted(words)


# ---------------------------------------------------------------------------
# names_reference: short company-style names with reference-tolerated edits
# ---------------------------------------------------------------------------

def _name_variant(rng: random.Random, base_words: list, suffix: str) -> str:
    kind = rng.randrange(5)
    words = list(base_words)
    if kind == 0:  # case
        return " ".join(words).upper() + " " + suffix.upper()
    if kind == 1:  # punctuation joins
        return "-".join(words) + ", " + suffix
    if kind == 2:  # NFKD-foldable accents
        text = " ".join(words) + " " + suffix
        return "".join(_ACCENTS.get(ch, ch) if rng.random() < 0.3 else ch for ch in text)
    if kind == 3:  # suffix swap
        return " ".join(words) + " " + rng.choice(_SUFFIXES)
    return " ".join(words) + " " + suffix.rstrip(".")  # dropped period


def company_names(seed: int, n: int) -> list:
    """``n`` names in groups of 1-4 variants of one base name, shuffled."""
    rng = random.Random(f"names/{seed}")
    vocab = [w.capitalize() for w in vocabulary(rng, 1500)]
    out: list = []
    while len(out) < n:
        base = rng.sample(vocab, rng.randint(2, 3))
        suffix = rng.choice(_SUFFIXES)
        out.append(" ".join(base) + " " + suffix)
        for _ in range(rng.choice((0, 0, 1, 2, 3))):
            out.append(_name_variant(rng, base, suffix))
    out = out[:n]
    rng.shuffle(out)
    return out


# ---------------------------------------------------------------------------
# crawl_curate_skew: WARC shards with re-crawls, quality failures and skew
# ---------------------------------------------------------------------------

def _prose(rng: random.Random, vocab: list, n_words: int) -> list:
    """Words with ~25% stop words, so the Gopher gate's stop-word screen
    passes (the frozen bench corpus has none and drops every page)."""
    return [
        rng.choice(STOP_WORDS) if rng.random() < 0.25 else rng.choice(vocab)
        for _ in range(n_words)
    ]


def _punctuate(rng: random.Random, words: list) -> str:
    """Commas and hyphen joins the normalizer strips; stop words stay bare
    so the Gopher stop-word screen still sees them."""
    out = []
    for w in words:
        if out and w not in STOP_WORDS and out[-1][-1].isalpha() and rng.random() < 0.2:
            out[-1] += "-" + w
        elif w not in STOP_WORDS and rng.random() < 0.3:
            out.append(w + ",")
        else:
            out.append(w)
    return " ".join(out)


def _accent(rng: random.Random, text: str) -> str:
    return "".join(_ACCENTS.get(ch, ch) if rng.random() < 0.15 else ch for ch in text)


CRAWL_SHAPE = {
    "cluster_of_4": 150,    # 600 urls: original, case/punct/accent variant, 60% prefix
    "singleton": 250,
    "low_quality": 150,     # fail the Gopher gate by construction
    "recrawl_frac": 0.08,   # urls crawled twice (second crawl later or NULL ts)
    "null_ts_only_frac": 0.01,
    "megabucket": 72,       # identical boilerplate pages > max_bucket_size
    "hub_members": 24,      # pages containing one short hub page
    "chain": 16,            # overlapping windows: a path-shaped component
}
MAX_BUCKET_SIZE = 64


def crawl_pages(seed: int) -> dict:
    """Rows for the crawl workload plus its truth.

    Returns ``{"records": [(url, ts_or_None, text)], "truth": {url: cluster},
    "n_recrawl": int}``.  ``truth``
    holds every url designed to pass URL dedup and the quality gate; pages
    in one truth cluster must end in one component.
    """
    rng = random.Random(f"crawl/{seed}")
    vocab = vocabulary(rng, 3000)
    shape = CRAWL_SHAPE
    base_ts = dt.datetime(2024, 1, 1)
    pages: list = []  # (url, text, cluster or None)
    cluster = 0

    def url(i: int) -> str:
        h = hashlib.md5(f"{seed}/{i}".encode()).hexdigest()
        return f"https://site{int(h[:2], 16) % 40}.example.org/{h[2:14]}"

    for _ in range(shape["cluster_of_4"]):
        words = _prose(rng, vocab, rng.randint(90, 150))
        text = " ".join(words)
        variant = rng.randrange(3)
        if variant == 0:
            v = text.upper()
        elif variant == 1:
            v = _punctuate(rng, words)
        else:
            v = _accent(rng, text)
        members = [text, v, _accent(rng, text), " ".join(words[: int(len(words) * 0.6)])]
        for m in members:
            pages.append((m, cluster))
        cluster += 1
    for _ in range(shape["singleton"]):
        pages.append((" ".join(_prose(rng, vocab, rng.randint(60, 150))), cluster))
        cluster += 1
    boiler = " ".join(_prose(rng, vocab, 60))
    for _ in range(shape["megabucket"]):
        pages.append((boiler, cluster))
    cluster += 1
    hub = " ".join(_prose(rng, vocab, 55))
    pages.append((hub, cluster))
    for _ in range(shape["hub_members"]):
        pre = " ".join(_prose(rng, vocab, rng.randint(40, 60)))
        post = " ".join(_prose(rng, vocab, rng.randint(40, 60)))
        pages.append((f"{pre} {hub} {post}", cluster))
    cluster += 1
    # windows of 90 words shifted by 9: neighbours share 90%, pages three
    # apart only 70%, so the component is a long path, not a clique
    seq = _prose(rng, vocab, 90 + 9 * shape["chain"])
    for i in range(shape["chain"]):
        pages.append((" ".join(seq[9 * i: 9 * i + 90]), cluster))
    cluster += 1
    low = []
    for i in range(shape["low_quality"]):
        kind = i % 3
        if kind == 0:  # too short
            text = " ".join(_prose(rng, vocab, rng.randint(15, 40)))
        elif kind == 1:  # no stop words
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(60, 120)))
        else:  # one line repeated
            line = " ".join(_prose(rng, vocab, 12))
            text = "\n".join([line] * rng.randint(8, 14))
        low.append((text, None))
    pages += low
    order = list(range(len(pages)))
    rng.shuffle(order)

    records = []
    truth = {}
    for pos, idx in enumerate(order):
        text, cl = pages[idx]
        u = url(pos)
        ts = base_ts + dt.timedelta(seconds=37 * pos)
        if rng.random() < shape["null_ts_only_frac"]:
            ts = None
        records.append((u, ts, text))
        if cl is not None:
            truth[u] = cl
    n_recrawl = int(len(records) * shape["recrawl_frac"])
    for u, ts, text in rng.sample(records, n_recrawl):
        # the later crawl loses to the earliest one; half carry a WARC-Date
        # the reader cannot parse, so warc_ts arrives NULL
        later = None if rng.random() < 0.5 else base_ts + dt.timedelta(days=30)
        if ts is None and later is None:
            later = base_ts
        records.append((u, later, text))
    rng.shuffle(records)
    return {
        "records": records,
        "truth": truth,
        "n_recrawl": n_recrawl,
    }


def write_warc_shards(records: list, path: str, num_files: int) -> int:
    """One gzip member per record, ``num_files`` shards; a ``None`` timestamp
    is written as an unparseable WARC-Date, which the reader maps to NULL."""
    from string_grouper_spark.sources.pages import wrap_html
    from string_grouper_spark.sources.warc import (
        serialize_response_record,
        serialize_warcinfo,
    )

    os.makedirs(path, exist_ok=True)
    placeholder = dt.datetime(1999, 1, 1)
    shards = [[] for _ in range(num_files)]
    for i, rec in enumerate(records):
        shards[i % num_files].append(rec)
    n = 0
    for k, rows in enumerate(shards):
        name = f"part-{k:05d}.warc.gz"
        with open(os.path.join(path, name), "wb") as fh:
            fh.write(gzip.compress(serialize_warcinfo(name), mtime=0))
            for u, ts, text in rows:
                rec = serialize_response_record(u, ts or placeholder, wrap_html(text), "en")
                if ts is None:
                    rec = rec.replace(b"WARC-Date: 1999-01-01T00:00:00Z",
                                      b"WARC-Date: not-a-date", 1)
                fh.write(gzip.compress(rec, mtime=0))
                n += 1
    return n
