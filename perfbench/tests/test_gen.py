"""Generator determinism, and agreement of the generated text with the
engine's tokenizer and tagger (which the oracles never call)."""

from __future__ import annotations

import hashlib
import os

import numpy as np

import gen


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


def _all(seed: int, out: str) -> dict:
    gen.generate_crawl(seed, os.path.join(out, "crawl"), n_pages=80, n_hosts=6)
    gen.generate_pages(seed, os.path.join(out, "pages"), n_pages=20)
    gen.generate_edges(seed, os.path.join(out, "edges"), n_giant=200,
                       giant_edges=600, n_small=20, path_len=30)
    return {k: _digest(os.path.join(out, k)) for k in ("crawl", "pages", "edges")}


def test_same_seed_same_bytes(tmp_path):
    a = _all(7, str(tmp_path / "a"))
    b = _all(7, str(tmp_path / "b"))
    c = _all(8, str(tmp_path / "c"))
    assert a == b
    assert all(a[k] != c[k] for k in a)


def test_crawl_has_every_href_form(tmp_path):
    crawl = gen.generate_crawl(3, str(tmp_path), n_pages=200, n_hosts=8)
    import gzip

    html = b"".join(gzip.decompress(open(f, "rb").read())
                    for f in crawl.files)
    for needle in (b'href="https://', b"href=//", b'href="/', b"../",
                   b"./", b"/tmp/../", b"#section", b"javascript:",
                   b"mailto:", b"href=", b"class='nav'"):
        assert needle in html, needle
    assert (crawl.link_dst < 0).any()
    assert (crawl.link_src == crawl.link_dst).any()       # self-links
    assert (crawl.link_dst >= crawl.n_pages).any()        # external, dangling
    assert crawl.input_bytes == sum(os.path.getsize(f) for f in crawl.files)


def test_corpus_matches_tokenizer_and_tagger(tmp_path):
    import pyarrow.parquet as pq

    from jgtextrank_spark.extract import (
        DEFAULT_SYNTACTIC_CATEGORIES, rule_pos_tag, sent_tokenize,
        word_tokenize,
    )

    corpus = gen.generate_pages(5, str(tmp_path), n_pages=30)
    table = pq.read_table(str(tmp_path)).to_pydict()
    text = dict(zip(table["url"], table["text"]))
    for url, sents in zip(corpus.urls, corpus.sentences):
        got = [word_tokenize(s.lower()) for s in sent_tokenize(text[url])]
        assert got == sents
        for sent in sents:
            for tok, tag in rule_pos_tag(sent):
                assert tok.isalpha() or tok == "."
                is_vertex = tag in DEFAULT_SYNTACTIC_CATEGORIES
                assert is_vertex == (tok in corpus.vertex_words), (tok, tag)


def test_edge_graph_shape(tmp_path):
    g = gen.generate_edges(2, str(tmp_path), n_giant=300, giant_edges=900,
                           n_small=40, path_len=50)
    assert (g.src == g.dst).any()
    pairs = set(zip(np.minimum(g.src, g.dst).tolist(),
                    np.maximum(g.src, g.dst).tolist()))
    assert len(pairs) == len(g.src)                       # no parallel edges
