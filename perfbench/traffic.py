"""Seeded inputs: corpora, request streams and append batches.

Everything here is a pure function of the seed and the sizes, so the
same seed always gives the same inputs.
"""

from __future__ import annotations

import datetime

import numpy as np

from search_engine_spark import corpus
from search_engine_spark.ops.ranking import PUBLISH_EPOCH, PUBLISH_RANGE_DAYS

LANGS = ("python", "java", "go", "js", "rust", "md")

# The traffic mix.  Only HOT_POOL was tuned against a measurement (it
# gives a result-cache hit share of 0.29-0.34 at HOT_ZIPF_S); every other
# share below is an assumption with no source, not a measured mix (see
# README, "Output checks" and "Per-shape latency").
HOT_POOL = 2500  # distinct search-box requests
HOT_ZIPF_S = 0.6  # popularity of pool entries
HOT_TERM_ZIPF_S = 1.1  # head-heaviness of search-box terms
HOT_PAGE_SHARES = (0.6, 0.25, 0.15)  # pages 0, 1, 2
HOT_LANGUAGE_SHARE = 0.25  # pool entries that add a language filter
# request shapes of the wide stream and their shares
WIDE_SHAPES = (
    ("plain", 0.35),
    ("filter", 0.15),
    ("range", 0.15),
    ("msm", 0.10),
    ("exclude", 0.10),
    ("after", 0.10),
    ("filter_range", 0.05),
)
ANCHOR_EVERY = 20  # every 20th wide request carries a df=1 anchor term
EXCLUDE_HEAD = 60  # exclusions are drawn from the 60 most frequent terms
QUALITY_CUTS = (0.2, 0.35, 0.5, 0.65, 0.8)  # min_quality at these corpus quantiles
FILTER_SAMPLE = 200  # corpus documents the filter values are drawn from
APPEND_SIZE = 200  # documents per append batch
RESEND_SHARE = 0.1  # of them, unchanged re-sends of base documents


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def base_docs(n_docs: int, seed: int) -> list[dict]:
    return corpus.corpus_pandas(n_docs, seed).to_dict("records")


def filter_values(n_docs: int, seed: int) -> tuple[list[str], list[float]]:
    """The repositories of an evenly spaced sample of ``FILTER_SAMPLE``
    corpus documents and their quality at ``QUALITY_CUTS`` quantiles:
    the values the wide stream's filters and ranges take.  A sample
    keeps the corpus off the driver while the run measures."""
    from search_engine_spark.ops.ranking import quality_py
    from search_engine_spark.tokenizer import py_tokenize

    idx = np.linspace(0, n_docs - 1, FILTER_SAMPLE).astype(np.int64)
    docs = corpus.gen_batch(idx, n_docs, seed)
    repos = sorted(set(docs["repo"]))
    q = sorted(quality_py(c, py_tokenize(c)) for c in docs["content"])
    return repos, [q[int(len(q) * f)] for f in QUALITY_CUTS]


def _zipf_ranks(rng, n_items: int, size: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n_items + 1, dtype=np.float64), s)
    return rng.choice(n_items, size=size, p=w / w.sum())


def hot_requests(seed: int, n_requests: int):
    """Search-box traffic for the use case: a pool of ``HOT_POOL``
    distinct requests (1-3 vocabulary terms drawn head-heavy, pages
    0-2) replayed Zipf-wise.  A ``HOT_LANGUAGE_SHARE`` of the pool
    repeats another entry's query and page with a ``language`` filter
    added.  Returns the stream."""
    rng = _rng(seed, "hot")
    vocab = corpus.VOCAB
    pool: list[dict] = []
    seen: set[tuple] = set()
    n_plain = int(round(HOT_POOL * (1.0 - HOT_LANGUAGE_SHARE)))
    while len(pool) < n_plain:
        n_terms = int(rng.integers(1, 4))
        ranks = _zipf_ranks(rng, len(vocab), n_terms, HOT_TERM_ZIPF_S)
        req = {
            "query": " ".join(vocab[r] for r in ranks),
            "page": int(rng.choice(len(HOT_PAGE_SHARES), p=HOT_PAGE_SHARES)),
            "size": 10,
        }
        if (req["query"], req["page"]) not in seen:
            seen.add((req["query"], req["page"]))
            pool.append(req)
    for i in rng.choice(n_plain, HOT_POOL - n_plain, replace=False):
        pool.append({**pool[int(i)], "language": LANGS[int(rng.integers(len(LANGS)))]})
    order = rng.permutation(HOT_POOL)
    return [pool[order[r]] for r in _zipf_ranks(rng, HOT_POOL, n_requests, HOT_ZIPF_S)]


def _iso_day(offset: int) -> str:
    epoch = datetime.date.fromisoformat(PUBLISH_EPOCH)
    return (epoch + datetime.timedelta(days=int(offset))).isoformat()


def _stratified(rng, n: int, shares) -> list[int]:
    """Exactly ``round(n * share)`` items of each class (largest
    remainders fill the rest), in random order: the mix is the same for
    every seed, only the order and the drawn terms change."""
    raw = [n * p for p in shares]
    counts = [int(x) for x in raw]
    for i in sorted(range(len(raw)), key=lambda i: counts[i] - raw[i])[: n - sum(counts)]:
        counts[i] += 1
    out = [i for i, c in enumerate(counts) for _ in range(c)]
    return [out[int(i)] for i in rng.permutation(len(out))]


# frequency bands of the vocabulary (its order is the corpus's Zipf
# rank): the top 10 terms carry about half of all tokens, so how many
# head terms a stream draws would otherwise swing its cost from seed to
# seed
TERM_BANDS = (0, 3, 10, 30, 100, 300)


def _draw_terms(rng, n: int) -> list[str]:
    """``n`` terms drawn uniformly over the vocabulary, with the same
    number from each frequency band for every seed."""
    vocab = corpus.VOCAB
    edges = list(TERM_BANDS) + [len(vocab)]
    sizes = [b - a for a, b in zip(edges, edges[1:])]
    bands = _stratified(rng, n, [s / len(vocab) for s in sizes])
    return [vocab[edges[b] + int(rng.integers(sizes[b]))] for b in bands]


def wide_requests(seed: int, n_requests: int, n_docs: int,
                  repos: list[str], quality_cuts: list[float],
                  stream: str = "wide"):
    """Uniform vocabulary traffic for ``search_local``: 1-4 terms drawn
    uniformly over the whole vocabulary (tail terms included), mixed
    with filters, date/quality ranges, minimum_should_match, exclusions
    and search_after cursors.  The mix of shapes, term counts and term
    frequency bands is fixed; the seed draws the terms, the parameters
    and the order.  Each request is a dict of keyword arguments plus its
    ``shape``."""
    rng = _rng(seed, stream)
    vocab = corpus.VOCAB
    combos = [
        (shape, n_terms)
        for shape, _ in WIDE_SHAPES
        for n_terms in ((2, 3, 4) if shape == "msm" else (1, 2, 3, 4))
    ]
    weights = [
        dict(WIDE_SHAPES)[shape] / (3 if shape == "msm" else 4)
        for shape, _ in combos
    ]
    picked = [combos[ci] for ci in _stratified(rng, n_requests, weights)]
    pool = iter(_draw_terms(rng, sum(n for _, n in picked)))
    out = []
    for i, (shape, n_terms) in enumerate(picked):
        terms = [next(pool) for _ in range(n_terms)]
        if i % ANCHOR_EVERY == 0:
            # df=1 anchor terms the corpus plants every 97th document
            terms[0] = f"uniq{97 * int(rng.integers(0, n_docs // 97 + 1))}token"
        req = {"shape": shape, "query": " ".join(terms)}
        if shape in ("filter", "filter_range"):
            if rng.random() < 0.5:
                req["filter"] = {"lang": LANGS[int(rng.integers(len(LANGS)))]}
            else:
                req["filter"] = {"repo": repos[int(rng.integers(len(repos)))]}
        if shape in ("range", "filter_range"):
            kind = int(rng.integers(3))
            if kind in (0, 2):
                lo = int(rng.integers(0, PUBLISH_RANGE_DAYS - 400))
                req["date_from"] = _iso_day(lo)
                req["date_to"] = _iso_day(lo + int(rng.integers(200, 1500)))
            if kind in (1, 2):
                req["min_quality"] = float(quality_cuts[int(rng.integers(len(quality_cuts)))])
        if shape == "msm":
            req["min_should_match"] = int(rng.integers(2, n_terms + 1))
        if shape == "exclude":
            req["exclude"] = vocab[int(rng.integers(0, EXCLUDE_HEAD))]
        out.append(req)
    return out


def batch_queries(seed: int, n: int) -> list[str]:
    """Plain queries of 1-4 uniformly drawn vocabulary terms, with the
    same number of each length and of terms from each frequency band for
    every seed."""
    rng = _rng(seed, "batch")
    lengths = [k + 1 for k in _stratified(rng, n, [0.25] * 4)]
    pool = iter(_draw_terms(rng, sum(lengths)))
    return [" ".join(next(pool) for _ in range(k)) for k in lengths]


def append_batch(seed: int, n_base: int) -> list[dict]:
    """An append batch of ``APPEND_SIZE`` documents: new documents
    continuing the corpus plus a ``RESEND_SHARE`` of unchanged re-sends
    of base documents."""
    rng = _rng(seed, "append")
    n_resend = int(round(APPEND_SIZE * RESEND_SHARE))
    fresh = np.arange(n_base, n_base + APPEND_SIZE - n_resend)
    resend = rng.choice(n_base, n_resend, replace=False)
    # documents are a pure function of their index: a re-send is the
    # base document generated again
    docs = corpus.gen_batch(np.concatenate([fresh, resend]), n_base, seed).to_dict("records")
    return [docs[int(i)] for i in rng.permutation(len(docs))]


def input_bytes(docs: list[dict]) -> int:
    return sum(
        len(d[f].encode("utf-8"))
        for d in docs
        for f in ("repo", "path", "commit", "lang", "content")
    )
