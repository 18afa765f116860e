"""Brute-force Python oracles the benchmark checks the program's outputs
against.  They are built only from the package's reference forms
(``functions.analysis.tokenize``, ``Metric.*_py``, ``linkage.scoring.
overlap_py``), never from the Spark plans or the hot replica under test."""

from __future__ import annotations

from collections import Counter

from suggest_spark.config import DEFAULT_CONFIG, IndexConfig
from suggest_spark.functions.analysis import tokenize
from suggest_spark.linkage.scoring import overlap_py
from suggest_spark.sources.synth import url_id_py


def linkage_expected_matches(pages_pdf, metric, alpha: float, n_entities: int) -> tuple[set, set]:
    """``(expected, rids)``: the exact match set among all pages of the first
    ``n_entities`` entities, as ordered ``(rid_a, rid_b)`` pairs, and the
    rids of those pages (a pair counts only when both ends are in it)."""
    sub = pages_pdf[pages_pdf["entity_id"] < n_entities]
    items = [(url_id_py(u), tokenize(t)) for u, t in zip(sub["url"], sub["text"])]
    expected = set()
    for i in range(len(items)):
        ra, ta = items[i]
        for j in range(i + 1, len(items)):
            rb, tb = items[j]
            if not ta or not tb:
                continue
            if metric.similarity_py(overlap_py(ta, tb), len(ta), len(tb)) >= alpha:
                expected.add((min(ra, rb), max(ra, rb)))
    return expected, {r for r, _ in items}


def check_clusters(urls: list[str], url_clusters: list[tuple], matches: list[tuple]) -> str | None:
    """Every input url maps to exactly one cluster, and the clusters are the
    connected components of the match graph.  Returns an error or None."""
    got: dict[str, bytes] = {}
    for url, cid in url_clusters:
        if url in got:
            return f"url {url} is in more than one cluster"
        got[url] = cid
    if set(got) != set(urls):
        return f"{len(set(urls) - set(got))} urls unclustered, {len(set(got) - set(urls))} unknown"
    parent: dict[bytes, bytes] = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in matches:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    by_root: dict[bytes, set] = {}
    by_cid: dict[bytes, set] = {}
    for url in urls:
        by_root.setdefault(find(url_id_py(url)), set()).add(url)
        by_cid.setdefault(got[url], set()).add(url)
    if sorted(map(sorted, by_root.values())) != sorted(map(sorted, by_cid.values())):
        return "clusters differ from the connected components of the matches"
    return None


class SuggestOracle:
    """Exhaustive suggest/autocomplete over an in-memory ``{doc_id: value}``
    dictionary: multiset n-gram overlap, the LengthFilter size window, the
    segment-validity + CountFilter predicate, and (score desc, doc_id asc)."""

    def __init__(self, config: IndexConfig = DEFAULT_CONFIG):
        self.config = config
        self.values: dict[int, str] = {}
        self._size: dict[int, int] = {}
        self._inv: dict[str, dict[int, int]] = {}

    def add(self, doc_id: int, value: str) -> None:
        if doc_id in self.values:
            raise ValueError(f"doc_id {doc_id} already present")
        terms = tokenize(value, self.config)
        self.values[doc_id] = value
        self._size[doc_id] = len(terms)
        for t, m in Counter(terms).items():
            self._inv.setdefault(t, {})[doc_id] = m

    def _overlaps(self, terms: list[str], limit: int) -> Counter:
        acc: Counter = Counter()
        for t, mq in Counter(terms).items():
            for d, md in self._inv.get(t, {}).items():
                if d < limit:
                    acc[d] += mq * md
        return acc

    def suggest(self, query: str, metric, alpha: float, k: int, limit: int) -> list[tuple[float, str]]:
        """Top-k ``(score, value)`` over the documents with ``doc_id < limit``."""
        terms = tokenize(query, self.config)
        na = len(terms)
        if na == 0:
            return []
        lo, hi = metric.min_y_py(alpha, na), metric.max_y_py(alpha, na)
        scored = []
        for d, ov in self._overlaps(terms, limit).items():
            nb = self._size[d]
            if not lo <= nb <= hi:
                continue
            t = metric.threshold_py(alpha, na, nb)
            if t < 1 or t > na or t > nb or ov < t:
                continue
            scored.append((-metric.similarity_py(ov, na, nb), d))
        scored.sort()
        return [(-s, self.values[d]) for s, d in scored[:k]]

    def autocomplete(self, query: str, k: int, limit: int) -> list[str]:
        """First-k values in doc_id order over the documents with ``doc_id < limit``."""
        terms = tokenize(query, self.config, head_only=True)
        na = len(terms)
        if na == 0:
            return []
        hits = sorted(
            d for d, ov in self._overlaps(terms, limit).items() if ov >= na and self._size[d] >= na
        )
        return [self.values[d] for d in hits[:k]]


def same_results(got: list, want: list) -> bool:
    """Suggest lists agree: same values in the same order, scores equal to
    1e-9 (the JVM and Python evaluate the same double formula)."""
    return len(got) == len(want) and all(
        gv == wv and abs(gs - ws) <= 1e-9 for (gs, gv), (ws, wv) in zip(got, want)
    )
