"""The benchmark's own tests: the checker, the statistics, the recorder
and the input generators.  Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import traffic  # noqa: E402
from perfbench.check import (  # noqa: E402
    UseCaseModel,
    compare_hits,
    compare_response,
    digest,
    snippet,
    tie_order_only,
)
from perfbench.oracle import Oracle  # noqa: E402
from perfbench.stats import merged_length, percentile, tail_percentile  # noqa: E402
from perfbench.trace import Recorder, Span  # noqa: E402


@pytest.fixture(scope="module")
def docs():
    return traffic.base_docs(300, seed=7)


@pytest.fixture(scope="module")
def oracle(docs):
    return Oracle(docs)


QUERIES = ["java", "python tutorial", "search algorithm", "database index merge",
           "parse_token_id", "QueryParserImpl", "the and of", "zzznosuchterm",
           "crawl rank page link doc term"]


# -- the checker ---------------------------------------------------------
def test_checker_accepts_the_oracle_itself(oracle):
    want = oracle.ranked("search algorithm")[:10]
    assert len(want) == 10
    assert compare_hits(want, want) is None


def test_checker_flags_two_swapped_docids(oracle):
    want = oracle.ranked("search algorithm")[:10]
    got = list(want)
    got[3], got[4] = got[4], got[3]
    assert compare_hits(got, want) == "docids"


def test_checker_flags_a_score_off_by_1e_6(oracle):
    want = oracle.ranked("search algorithm")[:10]
    got = list(want)
    got[5] = (got[5][0], got[5][1] + 1e-6)
    assert compare_hits(got, want) == "score"
    # a last-digit difference is within the suite's rel=1e-9
    got[5] = (want[5][0], want[5][1] * (1 + 1e-12))
    assert compare_hits(got, want) is None


def test_tie_order_attribution_needs_equal_oracle_scores(oracle):
    matches = oracle.ranked("java")
    scores = dict(matches)
    want = matches[:10]
    # a tie: two hits one ulp apart in the oracle's order swapped
    i = next(i for i in range(9) if want[i][1] == want[i + 1][1])
    got = list(want)
    got[i], got[i + 1] = got[i + 1], got[i]
    got[i] = (got[i][0], got[i][1] * (1 + 2e-16))
    assert compare_hits(got, want) == "docids"
    assert tie_order_only(got, want, scores)
    # hits with different scores swapped, a foreign docid, a repeated
    # docid and a missing hit are not tie order
    j = next(j for j in range(9) if want[j][1] > want[j + 1][1] * (1 + 1e-6))
    swapped = list(want)
    swapped[j], swapped[j + 1] = swapped[j + 1], swapped[j]
    assert not tie_order_only(swapped, want, scores)
    outsider = next(d for d in range(oracle.n_docs) if d not in scores)
    assert not tie_order_only(want[:9] + [(outsider, want[9][1])], want, scores)
    assert not tie_order_only(want[:9] + [want[8]], want, scores)
    assert not tie_order_only(want[:9], want, scores)


def test_checker_flags_a_missing_hit(oracle):
    want = oracle.ranked("java")[:10]
    assert compare_hits(want[:9], want) == "docids"


def test_response_checker_flags_swaps_scores_and_totals(oracle):
    model = UseCaseModel(oracle, max_entries=1024)
    correct, _, _ = model.expected({"query": "search algorithm", "page": 0, "size": 10})
    want = digest(correct)
    assert compare_response(want, want) is None
    swapped = {**correct, "results": list(correct["results"])}
    swapped["results"][0], swapped["results"][1] = swapped["results"][1], swapped["results"][0]
    assert compare_response(digest(swapped), want) == "docids"
    off = {**correct, "results": [dict(r) for r in correct["results"]]}
    off["results"][2]["relevanceScore"] += 1e-6
    assert compare_response(digest(off), want) == "score"
    assert compare_response(digest({**correct, "totalResults": 1}), want) == "totalResults"
    snip = {**correct, "results": [dict(r) for r in correct["results"]]}
    snip["results"][9]["snippet"] += "."
    assert compare_response(digest(snip), want) == "result fields"
    # wall-clock time is not compared
    assert compare_response(digest({**correct, "searchTimeMs": 99}), want) is None


def test_defect_model_evicts_at_the_caches_size(oracle):
    model = UseCaseModel(oracle, max_entries=2)
    plain = {"query": "java", "page": 0, "size": 10}
    model.expected(plain)
    for q in ("python tutorial", "search algorithm"):
        model.expected({"query": q, "page": 0, "size": 10})
    # the java entry was evicted: a filtered request is computed afresh
    assert model.expected({**plain, "language": "python"})[2] == "filtered_total"


def test_defect_model_attributes_cache_key_and_filtered_total(oracle):
    model = UseCaseModel(oracle, max_entries=1024)
    plain = {"query": "java", "page": 0, "size": 10}
    filtered = {**plain, "language": "python"}
    correct, got, defect = model.expected(plain)
    assert defect is None and got == correct
    # same key, other filter: the cached unfiltered response comes back
    correct_f, got_f, defect_f = model.expected(filtered)
    assert defect_f == "cache_key" and got_f == correct
    assert compare_response(digest(got_f), digest(correct_f)) is not None
    model.invalidate()
    correct_f, got_f, defect_f = model.expected(filtered)
    assert defect_f == "filtered_total"
    assert got_f["results"] == correct_f["results"]
    assert got_f["totalResults"] == oracle.count("java") > correct_f["totalResults"]


def test_defect_model_serves_entries_cached_before_a_refresh(docs):
    from perfbench.oracle import Oracle

    o = Oracle(docs[:200])
    model = UseCaseModel(o, max_entries=1024)
    req = {"query": "search algorithm", "page": 0, "size": 10}
    before, _, _ = model.expected(req)
    o.append(docs[200:260])
    model.refresh()
    correct, got, defect = model.expected(req)
    # the entry from before the append comes back, with the old totals
    assert defect == "stale_after_refresh" and got == before
    assert got["totalResults"] < correct["totalResults"]
    model.invalidate()
    assert model.expected(req)[2] is None


def test_snippet_cuts_at_the_last_space_after_100_chars():
    import re

    def reference(text):
        if len(text) <= 200:
            return text
        sub = text[:200]
        m = re.match(r"^([\s\S]{100,199}) ", sub)
        return (m.group(1) if m else sub) + "..."

    for text in ["short", "x" * 250, ("word " * 60), ("a" * 150 + " " + "b" * 100),
                 ("a" * 99 + " " + "b" * 150), ("a" * 199 + " " + "b")]:
        assert snippet(text) == reference(text)


# -- the oracle ----------------------------------------------------------
def test_oracle_combines_the_suites_searches_with_filters_and_cursors(oracle):
    for q in QUERIES:
        assert oracle.ranked(q, limit=10) == oracle.search(q, 10), q
        assert oracle.ranked(q, msm=2, limit=10) == oracle.search_msm(q, 2, 10), q
        assert oracle.ranked(q, exclude="java", limit=10) == oracle.search_not(q, "java", 10), q
        full = oracle.ranked(q, day_from=300, day_to=1500, min_quality=0.5)
        assert full[:10] == oracle.search_range(q, 300, 1500, 0.5, 10), q
        py = oracle.ranked(q, filters={"lang": "python"})
        assert py == [h for h in oracle.search(q, 10**9)
                      if oracle.docmap[h[0]]["lang"] == "python"], q
        assert oracle.count(q, {"lang": "python"}) == len(py)
        if len(full) > 3:
            assert oracle.ranked(q, day_from=300, day_to=1500, min_quality=0.5,
                                 after=full[2][0], limit=5) == full[3:8], q
    with pytest.raises(ValueError):
        oracle.ranked("java", msm=2, exclude="python")


def test_oracle_append_keeps_live_content_and_orders_new_docids(docs):
    from tests.oracle import OracleIndex

    o = Oracle(docs[:200])
    n0 = o.n_docs
    batch = [dict(docs[5]), dict(docs[6])] + [dict(d) for d in docs[200:240]]
    # two keys with one new content: the smaller key wins
    twin = {**docs[210], "path": "a/first.py"}
    added = o.append(batch + [twin])
    keys = [(d["repo"], d["path"], d["commit"]) for d in o.docmap[n0:]]
    assert added == len(keys) == o.n_docs - n0
    assert keys == sorted(keys)
    assert (docs[210]["repo"], "a/first.py", docs[210]["commit"]) in keys
    assert (docs[210]["repo"], docs[210]["path"], docs[210]["commit"]) not in keys
    assert (docs[5]["repo"], docs[5]["path"], docs[5]["commit"]) not in keys
    # scores over the appended index equal those of a fresh oracle over
    # the same documents (whose docids are in key order)
    fresh = OracleIndex(o.docmap)
    docid = {(d["repo"], d["path"], d["commit"]): d["docid"] for d in o.docmap}
    for q in QUERIES:
        want = sorted(((docid[(fresh.docmap[d]["repo"], fresh.docmap[d]["path"],
                                fresh.docmap[d]["commit"])], s)
                       for d, s in fresh.search(q, 10**9)), key=lambda h: (-h[1], h[0]))
        assert compare_hits(o.search(q, 10**9), want) is None, q


# -- statistics ------------------------------------------------------------
def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(1000) == pytest.approx(99.0)
    assert tail_percentile(2000) == pytest.approx(99.5)
    assert tail_percentile(10) == 0.0
    for n in (11, 100, 1000, 1234):
        p = tail_percentile(n)
        xs = list(range(n))
        v = percentile(xs, p)
        assert sum(1 for x in xs if x > v) >= 10
        # any higher percentile would leave fewer than ten beyond
        assert sum(1 for x in xs if x > percentile(xs, p + 100.0 / n)) < 10


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 99) == 99
    assert percentile(xs, 100) == 100
    assert percentile([3.0], 99) == 3.0


# -- the recorder -----------------------------------------------------------
def test_self_time_subtracts_covered_child_time():
    rec = Recorder()
    # parent 0..10 with children 1..3, 2..5 (overlapping) and 8..12
    def mk(name, s, e, parent):
        sp = Span(name, s, parent, None)
        sp.end = e
        rec.spans.append(sp)

    mk("p", 0.0, 10.0, None)
    mk("c", 1.0, 3.0, 0)
    mk("c", 2.0, 5.0, 0)
    mk("c", 8.0, 12.0, 0)
    st = rec.self_times()
    assert st["p"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st["c"] == pytest.approx(2.0 + 3.0 + 4.0)
    assert merged_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_wrappers_record_nested_spans_and_unwrap():
    class Layer:
        def outer(self, x):
            return self.inner(x) + 1

        def inner(self, x):
            return x * 2

    rec = Recorder()
    obj = Layer()
    rec.wrap(obj, "outer", "outer")
    rec.wrap(Layer, "inner", "inner")
    rec.request = 7
    assert obj.outer(3) == 7
    names = [(s.name, s.parent, s.request) for s in rec.spans]
    assert names == [("outer", None, 7), ("inner", 0, 7)]
    rec.unwrap()
    assert "outer" not in obj.__dict__ and Layer.inner.__name__ == "inner"
    assert not hasattr(Layer.inner, "__wrapped__")


# -- inputs ----------------------------------------------------------------
def test_same_seed_same_corpus_and_requests():
    assert traffic.base_docs(50, 3) == traffic.base_docs(50, 3)
    assert traffic.base_docs(50, 3) != traffic.base_docs(50, 4)
    a = traffic.hot_requests(3, 200)
    assert a == traffic.hot_requests(3, 200)
    assert a != traffic.hot_requests(4, 200)
    w = traffic.wide_requests(3, 200, 500, ["org/repo-0000"], [0.4, 0.5])
    assert w == traffic.wide_requests(3, 200, 500, ["org/repo-0000"], [0.4, 0.5])
    batch = traffic.append_batch(3, 50)
    assert batch == traffic.append_batch(3, 50)
    # the re-sends are base documents, unchanged
    base = traffic.base_docs(50, 3)
    assert sum(d in base for d in batch) == round(traffic.APPEND_SIZE * traffic.RESEND_SHARE)
