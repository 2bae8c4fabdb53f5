"""Seeded input generator for the benchmark workloads.

Writes three crawl-shaped inputs, byte-identical for the same seed:

* ``crawl/*.warc.gz``  ISO 28500 WARC files (per-record gzip members, as
  Common Crawl ships them) of html pages whose in-links follow a power law
  over hub pages and hub hosts. Anchors use absolute, protocol-relative,
  root-relative, relative and dot-segment hrefs, plus ``javascript:``,
  ``mailto:`` and fragment-only ones that resolve to no edge.
* ``pages/*.parquet``  a pages table ``(url, warc_ts, html, text, lang)``
  whose text draws alphabetic words from Zipfian vocabularies shaped so a
  suffix-rule tagger sees nouns, plural nouns, adjectives, verbs, adverbs
  and function words, laid out as sentences with multi-word noun phrases.
* ``edges/*.parquet``  an undirected ``(src, dst, weight)`` table with long
  ids: one power-law giant component, a long path hanging off it (which
  sets the diameter), many small components and a few self-loops.

Each generator also returns the ground truth the oracles need (the link
list with every href's resolved target, the token lists with each token's
word class, the edge arrays), so no oracle re-runs the engine's parsers.

    python3 perfbench/gen.py --seed 1 --out /tmp/inputs
"""

from __future__ import annotations

import argparse
import gzip
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WARC_DATE = "2024-03-01T12:00:00Z"

# Word classes: nouns (NN, plural NNS) and adjectives (JJ) are the keyword
# graph's vertices; the suffixes make the repo's suffix-rule tagger agree
# (a test checks it).
FUNCTION_WORDS = {
    "DT": ["the", "a", "this", "each", "some"],
    "IN": ["of", "in", "on", "with", "for", "from", "by", "into"],
    "CC": ["and", "or"],
}
_SUFFIXES = {
    "NN": ["ork", "ump", "ax", "oz", "ob", "ug", "ap", "im"],
    "JJ": ["al", "ous", "ive", "ic", "able", "ful"],
    "VBD": ["ed"],
    "RB": ["ly"],
}
_CONS = "bdfgkmnprtvz"
_VOWELS = "aeiou"


def _zipf_weights(n: int, a: float, rng: np.random.Generator) -> np.ndarray:
    """Zipf(a) popularity over ``n`` items, shuffled so rank is not id."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** a
    rng.shuffle(w)
    return w / w.sum()


def _gzip_member(data: bytes) -> bytes:
    return gzip.compress(data, compresslevel=6, mtime=0)


def _warc_record(wtype: str, url: str | None, rec_no: int, block: bytes) -> bytes:
    head = [
        "WARC/1.0",
        f"WARC-Type: {wtype}",
        f"WARC-Date: {WARC_DATE}",
        f"WARC-Record-ID: <urn:uuid:00000000-0000-4000-8000-{rec_no:012d}>",
    ]
    if url is not None:
        head.append(f"WARC-Target-URI: {url}")
    head.append(
        "Content-Type: application/http; msgtype=" + wtype
        if wtype in ("request", "response")
        else "Content-Type: application/warc-fields"
    )
    head.append(f"Content-Length: {len(block)}")
    return ("\r\n".join(head) + "\r\n\r\n").encode() + block + b"\r\n\r\n"


# --------------------------------------------------------------------------
# crawl: WARC files of linked html pages
# --------------------------------------------------------------------------


@dataclass
class Crawl:
    urls: list[str]          # vertex ids: crawled pages first, then external
    n_pages: int
    link_src: np.ndarray     # int64 page index of each anchor
    link_dst: np.ndarray     # int64 vertex index, -1 for a non-navigational href
    files: list[str]
    input_bytes: int


def _dirs_for_host(rng: np.random.Generator) -> list[str]:
    names = ["news", "docs", "blog", "shop", "wiki", "data", "team", "help"]
    dirs = ["/"]
    for name in rng.choice(names, size=3, replace=False):
        dirs.append(f"/{name}/")
        if rng.random() < 0.5:
            dirs.append(f"/{name}/v{int(rng.integers(1, 4))}/")
    return dirs


def _relative_href(src_dir: str, dst_path: str) -> str:
    """A dot-segment href from directory ``src_dir`` to ``dst_path``."""
    s = [p for p in src_dir.split("/") if p]
    d = dst_path.split("/")[1:]
    common = 0
    while common < min(len(s), len(d) - 1) and s[common] == d[common]:
        common += 1
    ups = len(s) - common
    rest = "/".join(d[common:])
    return ("../" * ups + rest) if ups else "./" + rest


def _href_for(form: int, src_host, src_dir, dst_host, dst_path) -> str:
    """Href spelling number ``form`` (0-7) that resolves to
    ``dst_host + dst_path`` from a page in ``src_dir`` on ``src_host``."""
    absolute = f"https://{dst_host}{dst_path}"
    if src_host != dst_host:
        return f"//{dst_host}{dst_path}" if form == 7 else absolute
    if form == 0:
        return absolute
    if form == 1:
        return dst_path                                  # root-relative
    if form == 2 and dst_path.startswith(src_dir):
        return dst_path[len(src_dir):]                   # plain relative
    if form == 3:
        return "/tmp/../" + dst_path[1:]                 # dot-segment root
    if form == 4 and src_dir != "/" and dst_path.count("/") == 1:
        depth = src_dir.count("/") - 1                   # above-root clamp
        return "../" * (depth + 1) + dst_path[1:]
    if form == 5:
        return absolute + "#section"                     # fragment stripped
    return _relative_href(src_dir, dst_path)


_JUNK_HREFS = ["javascript:void(0)", "mailto:team@example.org", "#top",
               "javascript:history.back()"]


def _anchor(style: int, href: str, label: str) -> str:
    if style == 0 and not any(c in href for c in " \"'>"):
        return f"<a href={href}>{label}</a>"
    if style == 1:
        return f"<a class='nav' href='{href}' title='link'>{label}</a>"
    return f'<a href="{href}">{label}</a>'


def generate_crawl(
    seed: int, out_dir: str, n_pages: int, n_hosts: int,
    mean_links: float = 12.0, external_frac: float = 0.1,
    n_files: int = 8,
) -> Crawl:
    rng = np.random.default_rng([seed, 1])
    host_w = _zipf_weights(n_hosts, 1.1, rng)            # hub hosts
    # host sizes follow the Zipf weights exactly (only which host is which
    # depends on the seed), and every page has at least four links: random
    # sink pairs and host-size luck otherwise move PageRank's superstep
    # count from seed to seed
    counts = np.floor(host_w * n_pages).astype(np.int64)
    counts[np.argsort(-host_w)[: n_pages - counts.sum()]] += 1
    page_host = np.repeat(np.arange(n_hosts), counts)
    hosts = [f"www.site{h:04d}.example" for h in range(n_hosts)]
    host_dirs = [_dirs_for_host(rng) for _ in range(n_hosts)]
    paths = []
    for i, h in enumerate(page_host):
        d = host_dirs[h][int(rng.integers(0, len(host_dirs[h])))]
        paths.append(f"{d}p{i:06d}.html")
    urls = [f"https://{hosts[h]}{p}" for h, p in zip(page_host, paths)]

    n_ext = max(1, n_pages // 10)
    ext_urls = [f"https://cdn{k % 97:02d}.external.example/r/{k:06d}"
                for k in range(n_ext)]
    all_urls = urls + ext_urls
    page_w = _zipf_weights(n_pages, 0.9, rng)            # hub pages
    page_cdf = np.cumsum(page_w)
    by_host: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for h in np.unique(page_host):
        idx = np.flatnonzero(page_host == h)
        by_host[int(h)] = (idx, np.cumsum(page_w[idx]) / page_w[idx].sum())
    host_of_vertex = list(page_host) + [-1] * n_ext

    out_deg = np.minimum(
        4 + rng.geometric(1.0 / (mean_links - 4), size=n_pages), 120)
    link_src, link_dst = [], []
    html_pages = []
    vocab = [f"{c}{v}" for c in _CONS for v in _VOWELS]
    for i in range(n_pages):
        h = int(page_host[i])
        src_dir = paths[i][: paths[i].rfind("/") + 1]
        k = int(out_deg[i])
        local, local_cdf = by_host[h]
        n_local = int(rng.binomial(k, 0.5)) if len(local) > 1 else 0
        n_ext_links = int(rng.binomial(k - n_local, external_frac))
        n_global = k - n_local - n_ext_links
        targets = np.concatenate([
            np.searchsorted(page_cdf, rng.random(n_global) * page_cdf[-1]),
            local[np.searchsorted(local_cdf, rng.random(n_local) * local_cdf[-1])],
            n_pages + rng.integers(0, n_ext, size=n_ext_links),
        ]).tolist()
        if rng.random() < 0.05:
            targets.append(i)                            # self-link: dropped
        n_junk = int(rng.integers(0, 3))
        forms = rng.integers(0, 8, size=len(targets))
        styles = rng.integers(0, 6, size=len(targets) + n_junk)
        labels = rng.integers(0, len(vocab), size=(len(targets), 2))
        anchors = []
        for t, form, style, (w1, w2) in zip(targets, forms, styles, labels):
            th = host_of_vertex[t]
            if th < 0:
                href = all_urls[t]
            else:
                href = _href_for(form, hosts[h], src_dir, hosts[th], paths[t])
            anchors.append(_anchor(style, href, f"{vocab[w1]} {vocab[w2]}"))
            link_src.append(i)
            link_dst.append(t)
        for j in range(n_junk):
            junk = _JUNK_HREFS[int(styles[len(targets) + j]) % len(_JUNK_HREFS)]
            anchors.append(_anchor(1, junk, "back home"))
            link_src.append(i)
            link_dst.append(-1)
        rng.shuffle(anchors)
        body_words = " ".join(vocab[j] for j in rng.integers(0, len(vocab), 40))
        html = (
            f"<!DOCTYPE html><html><head><title>Page {i}</title>"
            f"<style>p {{ margin: 0 }}</style></head><body>"
            f"<h1>Page {i}</h1><p>{body_words}</p><ul>"
            + "".join(f"<li>{a}</li>" for a in anchors)
            + "</ul><!-- generated --></body></html>"
        )
        html_pages.append(html.encode())

    os.makedirs(out_dir, exist_ok=True)
    files = []
    total = 0
    rec = 0
    per_file = -(-n_pages // n_files)
    for f in range(n_files):
        chunks = []
        info = b"software: perfbench\r\nformat: WARC 1.0\r\n"
        chunks.append(_gzip_member(_warc_record("warcinfo", None, rec, info)))
        rec += 1
        for i in range(f * per_file, min(n_pages, (f + 1) * per_file)):
            req = (f"GET {paths[i]} HTTP/1.1\r\nHost: {hosts[page_host[i]]}"
                   "\r\n\r\n").encode()
            chunks.append(_gzip_member(_warc_record("request", urls[i], rec, req)))
            rec += 1
            body = html_pages[i]
            resp = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; "
                    b"charset=utf-8\r\nContent-Length: "
                    + str(len(body)).encode() + b"\r\n\r\n" + body)
            chunks.append(_gzip_member(_warc_record("response", urls[i], rec, resp)))
            rec += 1
        path = os.path.join(out_dir, f"crawl-{f:03d}.warc.gz")
        data = b"".join(chunks)
        with open(path, "wb") as fh:
            fh.write(data)
        files.append(path)
        total += len(data)
    return Crawl(all_urls, n_pages, np.asarray(link_src, dtype=np.int64),
                 np.asarray(link_dst, dtype=np.int64), files, total)


# --------------------------------------------------------------------------
# pages: keyword corpus
# --------------------------------------------------------------------------


@dataclass
class Corpus:
    urls: list[str]                 # sorted, as the engine orders the stream
    sentences: list[list[list[str]]]    # page -> sentence -> lowercase tokens
    vertex_words: frozenset[str]    # tokens of a vertex class
    n_tokens: int


def _vocabulary(rng, n: int, suffixes: list[str]) -> list[str]:
    words: set[str] = set()
    out = []
    while len(out) < n:
        syl = int(rng.integers(1, 3))
        stem = "".join(_CONS[int(rng.integers(0, len(_CONS)))]
                       + _VOWELS[int(rng.integers(0, len(_VOWELS)))]
                       for _ in range(syl)) + _CONS[int(rng.integers(0, len(_CONS)))]
        w = stem + suffixes[int(rng.integers(0, len(suffixes)))]
        if w not in words:
            words.add(w)
            out.append(w)
    return out


class _Lexicon:
    def __init__(self, rng, n_nouns: int, n_adjs: int):
        self.rng = rng
        self.words = {
            "nouns": _vocabulary(rng, n_nouns, _SUFFIXES["NN"]),
            "adjs": _vocabulary(rng, n_adjs, _SUFFIXES["JJ"]),
            "verbs": _vocabulary(rng, 200, _SUFFIXES["VBD"]),
            "advs": _vocabulary(rng, 60, _SUFFIXES["RB"]),
        }
        self.cdf = {name: np.cumsum(_zipf_weights(len(ws), 1.05, rng))
                    for name, ws in self.words.items()}
        self.pool: dict[str, list[str]] = {name: [] for name in self.words}

    def pick(self, name: str, k: int = 1) -> list[str]:
        """``k`` Zipf draws, served from a pre-drawn pool per class."""
        pool = self.pool[name]
        if len(pool) < k:
            cdf, words = self.cdf[name], self.words[name]
            idx = np.searchsorted(cdf, self.rng.random(4096) * cdf[-1])
            pool.extend(words[i] for i in idx.tolist())
        out = pool[-k:] if k else []
        del pool[len(pool) - k:]
        return out

    def fn(self, cls: str) -> str:
        ws = FUNCTION_WORDS[cls]
        return ws[int(self.rng.integers(0, len(ws)))]

    def noun_phrase(self) -> list[str]:
        rng = self.rng
        out = [self.fn("DT")] if rng.random() < 0.6 else []
        out += self.pick("adjs", int(rng.integers(0, 3)))
        nouns = self.pick("nouns", int(rng.integers(1, 4)))
        if rng.random() < 0.3:
            nouns[-1] += "s"                             # plural head: NNS
        return out + nouns

    def sentence(self) -> list[str]:
        rng = self.rng
        toks = self.noun_phrase() + self.pick("verbs")
        if rng.random() < 0.3:
            toks += self.pick("advs")
        toks += [self.fn("IN")] + self.noun_phrase()
        if rng.random() < 0.4:
            toks += [self.fn("CC")] + self.noun_phrase()
        return toks


def generate_pages(
    seed: int, out_dir: str, n_pages: int, sentences_per_page: int = 8,
    n_nouns: int = 3000, n_adjs: int = 600, n_files: int = 8,
) -> Corpus:
    rng = np.random.default_rng([seed, 2])
    lex = _Lexicon(rng, n_nouns, n_adjs)
    urls = [f"https://www.corpus{i % 53:02d}.example/article/{i:06d}"
            for i in range(n_pages)]
    order = sorted(range(n_pages), key=lambda i: urls[i])
    sentences, texts, htmls = [], [], []
    n_tokens = 0
    for _ in range(n_pages):
        k = max(1, int(rng.poisson(sentences_per_page)))
        sents = [lex.sentence() for _ in range(k)]
        text = " ".join(
            " ".join([s[0].capitalize()] + s[1:]) + "." for s in sents
        )
        sentences.append([s + ["."] for s in sents])
        n_tokens += sum(len(s) + 1 for s in sents)
        texts.append(text)
        htmls.append(f"<html><body><p>{text}</p></body></html>".encode())
    nouns = lex.words["nouns"]
    vertex_words = frozenset(nouns + lex.words["adjs"] + [n + "s" for n in nouns])

    os.makedirs(out_dir, exist_ok=True)
    ts = pa.array(np.full(n_pages, np.datetime64(WARC_DATE[:-1], "us")),
                  type=pa.timestamp("us", tz="UTC"))
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": ts,
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n_pages, pa.string()),
    })
    per_file = -(-n_pages // n_files)
    for f in range(n_files):
        part = table.slice(f * per_file, per_file)
        pq.write_table(part, os.path.join(out_dir, f"part-{f:03d}.parquet"))
    return Corpus(
        [urls[i] for i in order], [sentences[i] for i in order],
        vertex_words, n_tokens,
    )


# --------------------------------------------------------------------------
# edges: undirected structure graph
# --------------------------------------------------------------------------


@dataclass
class EdgeGraph:
    src: np.ndarray   # int64 ids, one row per undirected edge (self-loops too)
    dst: np.ndarray


def generate_edges(
    seed: int, out_dir: str, n_giant: int, giant_edges: int,
    n_small: int, path_len: int, n_files: int = 4,
) -> EdgeGraph:
    rng = np.random.default_rng([seed, 3])
    # Chung-Lu giant: endpoint choice proportional to a power-law weight
    w = (np.arange(1, n_giant + 1, dtype=np.float64)) ** -0.75
    w /= w.sum()
    a = rng.choice(n_giant, size=giant_edges, p=w)
    b = rng.choice(n_giant, size=giant_edges, p=w)
    # a random spanning tree keeps the giant component connected
    tree_child = np.arange(1, n_giant)
    tree_parent = (rng.random(n_giant - 1) * tree_child).astype(np.int64)
    parts = [(a, b), (tree_child, tree_parent)]
    nxt = n_giant
    # long path hanging off the giant
    path = np.arange(nxt, nxt + path_len)
    parts.append((np.concatenate([[0], path[:-1]]), path))
    nxt += path_len
    # small components: trees, cycles (triangles) and tiny cliques
    for _ in range(n_small):
        size = int(rng.integers(2, 9))
        ids = np.arange(nxt, nxt + size)
        kind = rng.integers(0, 3)
        if kind == 0:
            parts.append((ids[1:], ids[(rng.random(size - 1)
                                        * np.arange(1, size)).astype(np.int64)]))
        elif kind == 1:
            parts.append((ids, np.roll(ids, 1)))
        else:
            iu, ju = np.triu_indices(min(size, 5), 1)
            parts.append((ids[iu], ids[ju]))
        nxt += size
    n_vertices = nxt
    n_loops = max(1, n_vertices // 2000)
    loops = rng.integers(0, n_vertices, size=n_loops)
    lonely = np.arange(nxt, nxt + n_loops)              # self-loop-only vertices
    parts += [(loops, loops), (lonely, lonely)]
    n_vertices += n_loops

    s = np.concatenate([p[0] for p in parts]).astype(np.int64)
    d = np.concatenate([p[1] for p in parts]).astype(np.int64)
    lo, hi = np.minimum(s, d), np.maximum(s, d)
    pairs = np.unique(lo * n_vertices + hi)
    lo, hi = pairs // n_vertices, pairs % n_vertices
    # sparse, shuffled long ids so the minimum id lands anywhere
    ids = rng.choice(2**40, size=n_vertices, replace=False)
    src, dst = ids[lo], ids[hi]
    flip = rng.random(len(src)) < 0.5                   # any orientation
    src, dst = np.where(flip, dst, src), np.where(flip, src, dst)
    perm = rng.permutation(len(src))
    src, dst = src[perm], dst[perm]

    os.makedirs(out_dir, exist_ok=True)
    per_file = -(-len(src) // n_files)
    for f in range(n_files):
        sl = slice(f * per_file, (f + 1) * per_file)
        pq.write_table(pa.table({
            "src": pa.array(src[sl], pa.int64()),
            "dst": pa.array(dst[sl], pa.int64()),
            "weight": pa.array(np.ones(len(src[sl])), pa.float64()),
        }), os.path.join(out_dir, f"part-{f:03d}.parquet"))
    return EdgeGraph(src, dst)


def main(argv=None) -> None:
    from config import SIZES

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    generate_crawl(args.seed, os.path.join(args.out, "crawl"),
                   **SIZES["crawl_pagerank"])
    generate_pages(args.seed, os.path.join(args.out, "pages"),
                   **SIZES["crawl_keywords"])
    generate_edges(args.seed, os.path.join(args.out, "edges"),
                   **SIZES["graph_structure_resume"])


if __name__ == "__main__":
    main()
