"""The oracles on tiny graphs whose answers are worked out by hand."""

from __future__ import annotations

import numpy as np
import pytest

import oracles


def _a(*xs):
    return np.array(xs, dtype=np.int64)


def test_pagerank_dangling_vertex():
    # 0 -> 1, vertex 1 dangling: x0 = 0.425 * x1 + 0.075, x0 + x1 = 1
    x, _ = oracles.pagerank(2, _a(0), _a(1), np.ones(1))
    assert np.allclose(x, [0.5 / 1.425, 1 - 0.5 / 1.425], atol=1e-6)


def test_pagerank_star():
    # leaves 1..3 -> centre 0 (dangling): centre 0.8875 / 1.6375
    x, steps = oracles.pagerank(4, _a(1, 2, 3), _a(0, 0, 0), np.ones(3))
    centre = 0.8875 / 1.6375
    assert np.allclose(x, [centre] + [(1 - centre) / 3] * 3, atol=1e-6)
    assert abs(x.sum() - 1) < 1e-12 and steps > 1


def test_pagerank_matches_networkx_weighted():
    nx = pytest.importorskip("networkx")
    from networkx.algorithms.link_analysis.pagerank_alg import (
        _pagerank_python,  # scipy-free power iteration
    )

    rng = np.random.default_rng(0)
    src, dst = rng.integers(0, 30, 120), rng.integers(0, 30, 120)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    pair, w = np.unique(src * 30 + dst, return_counts=True)
    s, d = pair // 30, pair % 30
    ids, (ds, dd) = oracles.dense_ids(s, d)
    x, _ = oracles.pagerank(len(ids), ds, dd, w.astype(float))
    g = nx.DiGraph()
    g.add_weighted_edges_from(zip(s.tolist(), d.tolist(), w.tolist()))
    ref = _pagerank_python(g, alpha=0.85, tol=1e-6, weight="weight")
    assert np.allclose(x, [ref[int(i)] for i in ids], atol=1e-5)


def test_link_graph_drops_junk_and_self_links_and_sums_anchors():
    verts, s, d, w = oracles.link_graph(
        3, _a(0, 0, 0, 1, 2, 2), _a(1, 1, -1, 1, 0, 3))
    assert verts.tolist() == [0, 1, 2, 3]
    edges = {(int(verts[a]), int(verts[b])): c for a, b, c in zip(s, d, w)}
    assert edges == {(0, 1): 2.0, (2, 0): 1.0, (2, 3): 1.0}


def test_triangle_with_pendant_self_loop_and_parallel_edge():
    src, dst = _a(1, 2, 1, 3, 4, 2), _a(2, 3, 3, 4, 4, 1)
    assert oracles.triangles(src, dst) == {1: 1, 2: 1, 3: 1, 4: 0}


def test_two_components_and_lonely_self_loop():
    got = oracles.components(_a(2, 30, 5), _a(1, 4, 5))
    assert got == {1: 1, 2: 1, 4: 4, 30: 4, 5: 5}


def test_label_propagation_triangle():
    # r1: 1<-{2,3} tie -> 2, 2<-{1,3} -> 1, 3<-{1,2} -> 1
    # r2: everyone -> 1; r3: no change
    labels, rounds = oracles.label_propagation(
        _a(1, 2, 3), _a(2, 3, 1), np.ones(3))
    assert labels == {1: 1, 2: 1, 3: 1} and rounds == 3


def test_label_propagation_star_oscillates_to_max_iter():
    # centre and leaves swap labels every round; a self-loop casts no vote
    labels, rounds = oracles.label_propagation(
        _a(0, 0, 0, 2), _a(1, 2, 3, 2), np.ones(4), max_iter=4)
    assert rounds == 4 and labels == {0: 0, 1: 1, 2: 1, 3: 1}


def test_keywords_path_graph():
    sents = [[["alpha", "beta", "of", "gamma", "."]]]
    words = frozenset({"alpha", "beta", "gamma"})
    scores, must, may = oracles.keywords(sents, words)
    # path alpha-beta-gamma: beta = 0.9 / 1.85, top 30% of 3 = {beta}
    assert must == {"alpha beta"} and not may
    assert scores["alpha beta"] == round(0.9 / 1.85 / 2, 5)
    assert scores["gamma"] == round((1 - 0.9 / 1.85) / 2, 5)


def test_keywords_run_touching_end_of_stream_is_dropped():
    scores, must, _ = oracles.keywords([[["gamma", "of", "alpha", "beta"]]],
                                       frozenset({"alpha", "beta", "gamma"}))
    assert "alpha beta" not in scores and "gamma" in scores
