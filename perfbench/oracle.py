"""Float64 NumPy oracles with the semantics of tests/oracle.py, vectorized so
they check benchmark-sized graphs in seconds. All run outside timed regions.

Graphs come in as a ``gen.Snapshot`` (dense ids in url order, deduplicated
pairs with multiplicity and ``weight = mult / outdeg``), which is exactly
what tests/oracle.py's ``load_edges`` computes, with ids relabelled in url
order — the order the engine's dictionary uses, so min-id and min-url
agree for components and label ties.
"""

from __future__ import annotations

import re

import numpy as np

ALPHA = 0.85
URL_DROP_RE = re.compile(r".*((/$)|(/.*/)).*")


def kept(urls: np.ndarray) -> np.ndarray:
    """Urls the reference loader keeps (pagerank.py:38-41 regex drop)."""
    return np.array([URL_DROP_RE.match(u) is None for u in urls.tolist()], dtype=bool)


def power_method(snap, v=None, epsilon=1e-6, max_iterations=1000, x0=None):
    """Reference power method (ws_pagerank.py:121-178), stopping at the
    residual ``epsilon`` or after ``max_iterations``. Returns (x, iters)."""
    n = len(snap.urls)
    v = np.full(n, 1.0 / n) if v is None else v
    v = v / np.linalg.norm(v)
    x = np.full(n, 1.0 / np.sqrt(n)) if x0 is None else x0
    dangling = np.bincount(snap.src, minlength=n) == 0
    for it in range(1, max_iterations + 1):
        beta = ALPHA * x[dangling].sum() + (1.0 - ALPHA)
        nxt = beta * v + ALPHA * np.bincount(snap.dst, snap.weight * x[snap.src], n)
        residual = np.linalg.norm(nxt - x)
        x = nxt
        if residual < epsilon:
            break
    return x, it


def fixed_point(snap, v=None):
    """The power method's fixed point, to well below the checks' tolerance."""
    x, it = power_method(snap, v, epsilon=1e-13, max_iterations=5000)
    if it == 5000:
        raise RuntimeError("oracle power method did not converge")
    return x


def warm_start(snap, prev_urls: np.ndarray, prev_ranks: np.ndarray) -> np.ndarray:
    """The documented warm-start iterate (operators/pagerank.py
    ``mass_matched_x0``, uniform teleport): previous ranks by url, the cold
    value 1/sqrt(n) for new urls, the whole vector rescaled to the power
    iteration's invariant mass s = mv / (m0 - alpha*d0*(mv-1)/(1-alpha))."""
    n = len(snap.urls)
    pos = np.minimum(np.searchsorted(prev_urls, snap.urls), len(prev_urls) - 1)
    x = np.where(prev_urls[pos] == snap.urls, prev_ranks[pos], 1.0 / np.sqrt(n))
    mv = np.sqrt(n)  # L1 mass of the L2-normalized uniform teleport vector
    d0 = x[np.bincount(snap.src, minlength=n) == 0].sum()
    denom = x.sum() - ALPHA * d0 * (mv - 1.0) / (1.0 - ALPHA)
    return x * (mv / denom) if denom > 0 else x


def personalization(urls: np.ndarray, query: str) -> np.ndarray:
    v = matches(urls, query).astype(np.float64)
    if v.sum() == 0:
        raise ValueError(f"personalization query matched no urls: {query!r}")
    return v / v.sum()


def _contains(urls: np.ndarray, term: str) -> np.ndarray:
    return np.char.find(urls.astype(str), term) >= 0


def matches(urls: np.ndarray, query: str, synonyms=None) -> np.ndarray:
    """url_satisfies_query, with positive terms widened by their synonyms."""
    terms = query.split()
    pos = [t for t in terms if not t.startswith("-")]
    neg = [t[1:] for t in terms if t.startswith("-")]
    widened = list(pos)
    for t in pos:
        widened += [w for w, _ in (synonyms or {}).get(t, [])]
    ok = np.zeros(len(urls), bool) if pos else np.ones(len(urls), bool)
    for t in widened:
        ok |= _contains(urls, t)
    for t in neg:
        ok &= ~_contains(urls, t)
    return ok


def search(urls, ranks, query="", synonyms=None, k=10):
    """Top-k (url, ranking): ranking = rank, or rank * sum(count(w) * sim**50)
    over the positive terms' synonyms when expansion is on (ws_pagerank.py)."""
    pos = [t for t in query.split() if not t.startswith("-")]
    ranking = ranks.astype(np.float64)
    if query and synonyms:
        score = np.zeros(len(urls))
        for t in pos:
            for word, sim in synonyms.get(t, []):
                if word:
                    score = score + np.char.count(urls.astype(str), word) * (float(sim) ** 50)
        ranking = ranking * score
    ok = np.flatnonzero(matches(urls, query, synonyms if query else None))
    order = np.lexsort((urls[ok], -ranking[ok]))[:k]
    return [(str(urls[ok][i]), float(ranking[ok][i])) for i in order]


def _undirected(snap):
    """Distinct undirected pairs (u < v), self-loops dropped."""
    n = len(snap.urls)
    keep = snap.src != snap.dst
    u = np.minimum(snap.src[keep], snap.dst[keep])
    w = np.maximum(snap.src[keep], snap.dst[keep])
    key = np.unique(u * n + w)
    return key // n, key % n


def components(snap) -> np.ndarray:
    """Weakly connected components, labelled by their minimum vertex id."""
    u, w = _undirected(snap)
    lab = np.arange(len(snap.urls))
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, u, lab[w])
        np.minimum.at(nxt, w, lab[u])
        nxt = nxt[nxt]
        if np.array_equal(nxt, lab):
            return lab
        lab = nxt


def label_propagation(snap, max_iterations: int) -> np.ndarray:
    """Synchronous LPA: most frequent neighbour label, ties to the minimum
    label, isolated vertices keep their own; stops at a fixed point."""
    n = len(snap.urls)
    u, w = _undirected(snap)
    a, b = np.concatenate([u, w]), np.concatenate([w, u])  # b is a's neighbour
    lab = np.arange(n)
    for _ in range(max_iterations):
        key, cnt = np.unique(a * n + lab[b], return_counts=True)
        va, vl = key // n, key % n
        order = np.lexsort((vl, -cnt, va))
        va, vl = va[order], vl[order]
        first = np.concatenate([[True], va[1:] != va[:-1]])
        nxt = lab.copy()
        nxt[va[first]] = vl[first]
        if np.array_equal(nxt, lab):
            break
        lab = nxt
    return lab


def triangles(snap) -> int:
    """Distinct undirected triangles, counted once each on the degree-ordered
    orientation (every triangle has exactly one such oriented wedge)."""
    u, w = _undirected(snap)
    deg = np.bincount(np.concatenate([u, w]), minlength=len(snap.urls))
    lower = (deg[u] < deg[w]) | ((deg[u] == deg[w]) & (u < w))
    a, b = np.where(lower, u, w), np.where(lower, w, u)
    out: dict[int, set[int]] = {}
    none: set[int] = set()
    for x, y in zip(a.tolist(), b.tolist()):
        out.setdefault(x, set()).add(y)
    return sum(len(out.get(x, none) & out.get(y, none)) for x, y in zip(a.tolist(), b.tolist()))
