"""Output checks against the oracle.

Hits must carry the oracle's docids in the oracle's order, including the
(score desc, docid asc) tie-break, with scores equal to ``rel=1e-9``.
Use-case responses are compared field by field except ``searchTimeMs``,
which is wall-clock.

Four engine defects are known and not yet fixed.  The first is
attributed by ``tie_order_only``:

- ``batch_tie_order``: the Spark query path computes idf with the JVM's
  ``log1p``, the local path (and the oracle) with ``math.log(1 + x)``;
  the two differ in the last bit for some document frequencies, so
  ``search_batch`` can order two hits with equal scores against the
  (score desc, docid asc) tie-break.

The response model below reproduces the other three so that each wrong
use-case response can be attributed:

- ``filtered_total``: ``totalResults``/``totalPages`` count the query's
  matches without the request's filters;
- ``cache_key``: the use case's result cache keys a response by query,
  page, size and sort only, so a request can receive the cached response
  of an earlier request that differed only in its filters;
- ``stale_after_refresh``: ``SearchEngine.refresh()`` does not drop the
  use case's result cache, so a response cached before an append is
  served after it, with the old scores and totals.

A wrong response that neither model explains is an unknown failure and
makes the run incorrect.
"""

from __future__ import annotations

import datetime
import math
from collections import OrderedDict

from search_engine_spark.ops.ranking import PUBLISH_EPOCH, PUBLISH_RANGE_DAYS
from search_engine_spark.tokenizer import tokenize_query

REL_TOL = 1e-9


def pub_day(docid: int) -> int:
    return (docid * 16807) % PUBLISH_RANGE_DAYS


def compare_hits(got, want) -> str | None:
    """None when ``got`` equals ``want`` ([(docid, score)] lists), else
    the first difference as a short reason."""
    got = [(int(d), float(s)) for d, s in got]
    if [d for d, _ in got] != [d for d, _ in want]:
        return "docids"
    for (_, gs), (_, ws) in zip(got, want):
        if not math.isclose(gs, ws, rel_tol=REL_TOL, abs_tol=0.0):
            return "score"
    return None


def tie_order_only(got, want, scores: dict[int, float]) -> bool:
    """True when ``got`` differs from ``want`` only in which of the hits
    whose oracle scores agree to ``REL_TOL`` comes first: every hit in
    ``got`` is a distinct match carrying its oracle score (``scores``
    holds every match's), and position by position its oracle score
    equals the one ``want`` has there."""
    got = [(int(d), float(s)) for d, s in got]
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    for (d, s), (_, ws) in zip(got, want):
        if d not in scores:
            return False
        if not (math.isclose(s, scores[d], rel_tol=REL_TOL, abs_tol=0.0)
                and math.isclose(scores[d], ws, rel_tol=REL_TOL, abs_tol=0.0)):
            return False
    return True


def snippet(text: str) -> str:
    """First 200 characters, cut back to the last space at or after
    position 100, with an ellipsis; short texts pass unchanged."""
    if len(text) <= 200:
        return text
    head = text[:200]
    cut = head.rfind(" ", 100, 200)
    return (head[:cut] if cut >= 0 else head) + "..."


DIGEST_FIELDS = ("query", "totalResults", "page", "size", "totalPages",
                 "suggestions", "docids", "score", "result fields")


def digest(resp: dict) -> tuple:
    """What the check compares of a use-case response, small enough to
    keep for every request (``DIGEST_FIELDS``): the scalar fields, the
    suggestions (None when absent), a hash per result url, the scores,
    and one hash over the other result fields.  ``searchTimeMs`` is
    wall-clock and left out."""
    results = resp["results"]
    return (
        resp.get("query"), resp.get("totalResults"), resp.get("page"),
        resp.get("size"), resp.get("totalPages"),
        tuple(resp["suggestions"]) if "suggestions" in resp else None,
        tuple(hash(r["url"]) for r in results),
        tuple(float(r["relevanceScore"]) for r in results),
        hash(tuple(
            (r["title"], r["snippet"], r["language"], r["crawledAt"],
             tuple(r["highlightedTerms"]), r["pagerankScore"])
            for r in results
        )),
    )


def compare_response(got: tuple, want: tuple) -> str | None:
    """None when two response digests agree, else the first field that
    differs; suggestions are compared only when ``want`` has them."""
    for field, g, w in zip(DIGEST_FIELDS, got, want):
        if field == "suggestions" and w is None:
            continue
        if field == "score":
            if not all(math.isclose(a, b, rel_tol=REL_TOL, abs_tol=0.0)
                       for a, b in zip(g, w)):
                return field
        elif g != w:
            return field
    return None


class UseCaseModel:
    """Expected ``SearchDocumentsUseCase.execute_local`` responses, both
    correct and as the engine with its known defects produces them.
    ``max_entries`` is the size of the use case's result cache."""

    def __init__(self, oracle, max_entries: int):
        self.oracle = oracle
        self.max_entries = max_entries
        self.generation = 0
        # key -> (response, request that filled it, generation)
        self._cache: OrderedDict[str, tuple[dict, dict, int]] = OrderedDict()
        self._memo: dict[tuple, dict] = {}  # correct responses
        self._counts: dict[str, int] = {}  # unfiltered totals

    def refresh(self) -> None:
        """The index changed and the engine refreshed; the use case's
        cache keeps its entries."""
        self.generation += 1
        self._memo.clear()
        self._counts.clear()

    def invalidate(self) -> None:
        """The use case's cache was emptied."""
        self._cache.clear()

    def expected(self, req: dict) -> tuple[dict, dict, str | None]:
        """(correct response, defect-model response, defect name or
        None when the defect model predicts the correct response)."""
        filters = {"lang": req["language"]} if req.get("language") else None
        correct = self._response(req, filters, filtered_total=True)
        key = f"search:{req['query']}:{req.get('page') or 0}:{req.get('size') or 10}:relevance"
        cached = self._cache.get(key)
        if cached is not None:
            self._cache.move_to_end(key)
            model, origin, generation = cached
            if generation != self.generation:
                defect = "stale_after_refresh"
            else:
                defect = "cache_key" if origin != req else None
        else:
            model = self._response(req, filters, filtered_total=False)
            self._cache[key] = (model, req, self.generation)
            while len(self._cache) > self.max_entries:
                self._cache.popitem(last=False)
            defect = None
        if defect is None and model != correct:
            defect = "filtered_total"
        if defect is not None and model == correct:
            defect = None
        return correct, model, defect

    def _response(self, req: dict, filters, filtered_total: bool) -> dict:
        key = (req["query"], req.get("page"), req.get("size"), req.get("language"))
        if key not in self._memo:
            self._memo[key] = self._build(req, filters)
        correct = self._memo[key]
        if filtered_total or not filters:
            return correct
        # the defect: the total counts the query's matches unfiltered
        return _with_total(correct, self._count(req["query"]))

    def _count(self, query: str) -> int:
        if query not in self._counts:
            self._counts[query] = self.oracle.count(query)
        return self._counts[query]

    def _build(self, req: dict, filters) -> dict:
        q = req["query"]
        page = int(req.get("page") or 0)
        size = int(req.get("size") or 10)
        hits = self.oracle.ranked(q, filters=filters)
        epoch = datetime.date.fromisoformat(PUBLISH_EPOCH)
        terms = tokenize_query(q)
        results = []
        for docid, score in hits[page * size:(page + 1) * size]:
            d = self.oracle.docmap[docid]
            results.append(
                {
                    "url": f"{d['repo']}/{d['path']}@{d['commit']}",
                    "title": d["path"].rsplit("/", 1)[-1],
                    "snippet": snippet(d["content"]),
                    "relevanceScore": score,
                    "pagerankScore": 0.0,
                    "language": d["lang"],
                    "crawledAt": (
                        epoch + datetime.timedelta(days=pub_day(docid))
                    ).isoformat(),
                    "highlightedTerms": list(terms),
                }
            )
        return _with_total({"query": q, "page": page, "size": size, "results": results},
                           len(hits))


def _with_total(resp: dict, total: int) -> dict:
    out = {**resp, "totalResults": total,
           "totalPages": int(math.ceil(total / resp["size"])) if resp["size"] else 0}
    out.pop("suggestions", None)
    if total > 0:
        # a spelling suggestion is only made for an empty result; its
        # text is not modelled, so it is checked only here
        out["suggestions"] = []
    return out
