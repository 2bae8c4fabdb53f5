"""Engine-free reference answers, computed from the generator's ground truth.

Each function mirrors the documented semantics of one engine call:

* ``pagerank``: networkx's weighted power iteration (dangling mass spread
  uniformly, stop once the L1 change is at most ``n * tol``), as
  ``algos/pagerank.py`` documents it, with ``np.bincount`` per superstep.
* ``components``: union-find; a component's label is its minimum id.
* ``triangles``: per-vertex triangle counts on the simple graph.
* ``label_propagation``: the synchronous rule of ``algos/labelprop.py`` —
  each vertex with neighbours takes the label of highest summed edge weight
  among its neighbours' labels, ties to the smallest label, until no label
  changes or ``max_iter`` rounds.
* ``keywords``: the default TextRank pipeline of ``textrank.py`` (window-2
  co-occurrence graph, PageRank, top 30%, collapse of adjacent vertex
  tokens, ``norm_max`` weighting rounded to 5 places).
"""

from __future__ import annotations

import numpy as np


def dense_ids(*cols: np.ndarray) -> tuple[np.ndarray, list[np.ndarray]]:
    """Sorted distinct ids of ``cols`` and each column as dense indices."""
    ids, inv = np.unique(np.concatenate(cols), return_inverse=True)
    out, start = [], 0
    for c in cols:
        out.append(inv[start:start + len(c)])
        start += len(c)
    return ids, out


def pagerank(
    n: int, src: np.ndarray, dst: np.ndarray, w: np.ndarray,
    alpha: float = 0.85, max_iter: int = 100, tol: float = 1.0e-6,
) -> tuple[np.ndarray, int]:
    """Scores over dense vertices ``0..n-1`` of the directed weighted edges,
    and the number of supersteps taken."""
    out_w = np.bincount(src, weights=w, minlength=n)
    dangling = out_w == 0
    nw = w / out_w[src]
    x = np.full(n, 1.0 / n)
    for it in range(1, max_iter + 1):
        contrib = np.bincount(dst, weights=nw * x[src], minlength=n)
        new = alpha * contrib + (alpha * x[dangling].sum() / n + (1 - alpha) / n)
        delta = np.abs(new - x).sum()
        x = new
        if delta <= n * tol:
            return x, it
    return x, max_iter


def link_graph(n_pages: int, link_src: np.ndarray, link_dst: np.ndarray):
    """The page link graph the crawl encodes: non-navigational hrefs and
    self-links dropped, parallel anchors summed into the edge weight.
    Returns (vertex indices into the crawl's url list, src, dst, weight)
    with src/dst dense over the returned vertices."""
    keep = (link_dst >= 0) & (link_src != link_dst)
    s, d = link_src[keep], link_dst[keep]
    verts, (ds, dd) = dense_ids(s, d)
    n = len(verts)
    pair, counts = np.unique(ds * n + dd, return_counts=True)
    return verts, pair // n, pair % n, counts.astype(np.float64)


def components(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    """vertex id -> minimum vertex id of its component."""
    ids, (s, d) = dense_ids(src, dst)
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(s.tolist(), d.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # ids are sorted, so the smaller index is the smaller id
            parent[max(ra, rb)] = min(ra, rb)
    return {int(ids[i]): int(ids[find(i)]) for i in range(len(ids))}


def triangles(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    """vertex id -> number of triangles through it (self-loops and
    parallel edges ignored); every vertex of the edge table is present."""
    ids, (s, d) = dense_ids(src, dst)
    n = len(ids)
    keep = s != d
    lo, hi = np.minimum(s[keep], d[keep]), np.maximum(s[keep], d[keep])
    pair = np.unique(lo * n + hi)
    lo, hi = pair // n, pair % n
    deg = np.bincount(np.concatenate([lo, hi]), minlength=n)
    # orient each edge from the (degree, id)-smaller endpoint
    fwd = (deg[lo] < deg[hi]) | ((deg[lo] == deg[hi]) & (lo < hi))
    a, b = np.where(fwd, lo, hi), np.where(fwd, hi, lo)
    out: list[set[int]] = [set() for _ in range(n)]
    for x, y in zip(a.tolist(), b.tolist()):
        out[x].add(y)
    count = np.zeros(n, dtype=np.int64)
    for x, y in zip(a.tolist(), b.tolist()):
        for z in out[x] & out[y]:
            count[x] += 1
            count[y] += 1
            count[z] += 1
    return {int(ids[i]): int(count[i]) for i in range(n)}


def label_propagation(
    src: np.ndarray, dst: np.ndarray, w: np.ndarray, max_iter: int = 10,
) -> tuple[dict[int, int], int]:
    """vertex id -> final label, and the number of rounds run."""
    ids, (s, d) = dense_ids(src, dst)
    n = len(ids)
    keep = s != d
    # symmetrized adjacency: each non-loop row in both orientations
    a = np.concatenate([s[keep], d[keep]])
    b = np.concatenate([d[keep], s[keep]])
    ww = np.concatenate([w[keep], w[keep]])
    label = np.arange(n)           # dense index order == id order
    rounds = 0
    for rounds in range(1, max_iter + 1):
        key, inv = np.unique(b * n + label[a], return_inverse=True)
        votes = np.bincount(inv, weights=ww)
        vd, vl = key // n, key % n
        order = np.lexsort((vl, -votes, vd))        # per dst: most votes,
        vd, vl = vd[order], vl[order]               # then smallest label
        first = np.ones(len(vd), dtype=bool)
        first[1:] = vd[1:] != vd[:-1]
        new = label.copy()
        new[vd[first]] = vl[first]
        changed = int((new != label).sum())
        label = new
        if changed == 0:
            break
    return {int(ids[i]): int(ids[label[i]]) for i in range(n)}, rounds


def cooccurrence_pairs(
    sentences: list[list[list[str]]], vertex_words: frozenset[str],
    window: int = 2,
) -> set[tuple[str, str]]:
    """Undirected vertex pairs within ``window`` tokens of each other in a
    sentence, as ``(smaller, larger)`` (a pair of equal tokens is a loop)."""
    pairs: set[tuple[str, str]] = set()
    for page in sentences:
        for sent in page:
            for i, x in enumerate(sent):
                if x not in vertex_words:
                    continue
                for y in sent[i + 1:i + 1 + window]:
                    if y in vertex_words:
                        pairs.add((min(x, y), max(x, y)))
    return pairs


def keywords(
    sentences: list[list[list[str]]], vertex_words: frozenset[str],
    window: int = 2, top_p: float = 0.3, eps: float = 1e-9,
) -> tuple[dict[str, float], set[str], set[str]]:
    """Keyword oracle over the token stream (pages in url order, sentences
    in order). Returns the score of every candidate term, the terms the
    engine must return and the terms it may return: a term whose only
    top-T member ties the top-T boundary score within ``eps`` may fall
    either side of it."""
    stream = [t for page in sentences for sent in page for t in sent]
    pairs = cooccurrence_pairs(sentences, vertex_words, window)
    verts = sorted({t for t in stream if t in vertex_words})
    index = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    p = np.array([(index[a], index[b]) for a, b in sorted(pairs)],
                 dtype=np.int64).reshape(-1, 2)
    loop = p[:, 0] == p[:, 1]
    src = np.concatenate([p[:, 0], p[~loop, 1]])
    dst = np.concatenate([p[:, 1], p[~loop, 0]])
    score, _ = pagerank(n, src, dst, np.ones(len(src)))

    top_t = int(round(n * top_p))
    ranked = sorted(range(n), key=lambda i: (-score[i], verts[i]))
    cut = score[ranked[top_t - 1]] if top_t else np.inf
    sure = {verts[i] for i in ranked[:top_t] if score[i] > cut + eps}
    maybe = {verts[i] for i in range(n) if abs(score[i] - cut) <= eps}
    if len(sure) + len(maybe) == top_t:       # the tie fits: all are in
        sure, maybe = sure | maybe, set()

    term_score: dict[str, float] = {}
    must: set[str] = set()
    may: set[str] = set()
    run: list[str] = []
    for pos, tok in enumerate(stream + [None]):
        if tok is not None and tok in index:
            run.append(tok)
            continue
        # a run touching the end of the stream is never emitted
        if run and tok is not None:
            term = " ".join(run)
            k = {t: run.count(t) for t in set(run)}
            g = max(score[index[t]] / k[t] for t in k) / len(run)
            term_score[term] = round(float(g), 5)
            if sure & k.keys():
                must.add(term)
            elif maybe & k.keys():
                may.add(term)
        run = []
    return term_score, must, may
