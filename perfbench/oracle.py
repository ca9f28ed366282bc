"""The test suite's BM25 oracle (``tests/oracle.py``) plus what the
benchmark's requests need and the suite's oracle lacks:

- ``append`` models the write path: dedup within the batch keeping the
  smallest (repo, path, commit) key, then against live content, new
  docids after every existing one in key order;
- ``ranked`` combines the suite's ``search_msm``, ``search_not`` and
  ``search_range`` with field filters from its docmap, a search_after
  cursor and an uncapped or capped result list;
- ``count`` is the uncapped number of matches.
"""

from __future__ import annotations

from tests.oracle import OracleIndex

EVERYTHING = 10**9  # a k that never caps a ranking


class Oracle(OracleIndex):
    def append(self, docs: list[dict]) -> int:
        """Index a batch with append semantics; returns docs added."""
        batch = OracleIndex(docs)  # dedup within the batch, key order
        live = {d["content_sha256"] for d in self.docmap}
        remap: dict[int, int] = {}
        for d in batch.docmap:
            if d["content_sha256"] in live:
                continue
            old = d["docid"]
            new = remap[old] = len(self.docmap)
            self.docmap.append({**d, "docid": new})
            self.doclen[new] = batch.doclen[old]
            self.quality[new] = batch.quality[old]
            self.title_len[new] = batch.title_len[old]
        for src, dst in ((batch.postings, self.postings),
                         (batch.title_postings, self.title_postings)):
            for term, plist in src.items():
                for old, tf in plist.items():
                    if old in remap:
                        dst[term][remap[old]] = tf
        self.n_docs = len(self.docmap)
        self.avgdl = sum(self.doclen.values()) / self.n_docs
        self.avgdl_title = sum(self.title_len.values()) / self.n_docs
        return len(remap)

    def ranked(
        self,
        query: str,
        filters: dict | None = None,
        day_from: int | None = None,
        day_to: int | None = None,
        min_quality: float | None = None,
        msm: int = 0,
        exclude: str | None = None,
        after: int | None = None,
        limit: int | None = None,
    ) -> list[tuple[int, float]]:
        """Admissible matches of ``query``, best first: the first
        ``limit`` of them, after the hit with docid ``after`` when given
        (none when that docid is not among them).  At most one of msm,
        exclude and the ranges may be given, as in the request streams."""
        ranged = (day_from, day_to, min_quality) != (None, None, None)
        if (msm > 1) + bool(exclude) + ranged > 1:
            raise ValueError("combine at most one of msm, exclude and ranges")
        if msm > 1:
            hits = self.search_msm(query, msm, EVERYTHING)
        elif exclude:
            hits = self.search_not(query, exclude, EVERYTHING)
        elif ranged:
            hits = self.search_range(query, day_from, day_to, min_quality, EVERYTHING)
        else:
            hits = self.search(query, EVERYTHING)
        for field, value in (filters or {}).items():
            hits = [h for h in hits if self.docmap[h[0]][field] == value]
        if after is not None:
            ids = [d for d, _ in hits]
            hits = hits[ids.index(after) + 1:] if after in ids else []
        return hits if limit is None else hits[:limit]

    def count(self, query: str, filters: dict | None = None) -> int:
        return len(self.ranked(query, filters))
