"""The three benchmark workloads.

Each workload generates its input files from the seed (``prepare``), runs
one job from those files to a complete result (``run_once``), checks the
result against its engine-free oracle (``check``), names the public calls
the traced run wraps (``wraps``) and turns one traced run into per-layer
numbers (``layer_metrics``).

* ``crawl_pagerank``: WARC files through the spark-submit job path
  ``jobs/linkgraph_job.run(--warc ... --algo pagerank --edge-source
  links)``: WARC parse, href extraction and URL resolution, PageRank to an
  L1 change below ``n * 1e-6``, result parquet write. The flagship: the
  superstep loop and the string pipeline, no tokenizer.
* ``crawl_keywords``: a pages parquet through
  ``api.keywords_extraction_from_pages`` with default settings: the Arrow
  UDF that splits, tokenizes and tags, then the co-occurrence graph,
  PageRank on the (small) vocabulary graph, candidate collapse, weighting.
* ``graph_structure_resume``: an undirected edges parquet through
  connected components (stopped after a superstep budget with a durable
  checkpoint, then resumed to convergence), label propagation and triangle
  counting: exact answers, and the write-then-read checkpoint path that
  the in-memory PageRank loop never takes. BENCHMARK.json does not list it:
  at about 20 s warm and 32 s cold per run on a 4-core machine, a third
  workload would push a full benchmark pass past its hour of run time.
  It runs by name (``--workload graph_structure_resume``) and reports its
  metrics, ``resume_s`` and its layers in the lines before the JSON.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import config
import gen
import oracles
from spans import MIB, force_df

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _algo(name: str):
    """A solver module (``jgtextrank_spark.algos`` re-exports same-named
    functions, so ``from ... import`` would not give the module)."""
    return importlib.import_module(f"jgtextrank_spark.algos.{name}")


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _layer_spans(spans, name):
    return [s for s in spans if s.name == name]


def _wall(spans, name) -> float:
    return sum(s.wall for s in _layer_spans(spans, name))


def _count(spans, name, key) -> float:
    return sum(s.counts.get(key, 0) for s in _layer_spans(spans, name))


def _loop_numbers(loops) -> dict:
    steps = [w for lp in loops for w in lp["steps"]]
    return {
        "supersteps.checkpoints": sum(lp["checkpoints"] for lp in loops),
        "supersteps.outside_steps_s": sum(lp["wall"] for lp in loops)
        - sum(steps),
        "supersteps.superstep_s_tail": tail(steps)[0] if steps else 0.0,
    }


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile). Below 20 samples no such percentile reaches the
    median, and the maximum is reported instead."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def edges_per_s(edges: int, loops) -> float:
    """``edges`` / median superstep wall after each loop's first two
    supersteps (JIT and first touch of the cached adjacency), as
    ``bench.py``'s ``pagerank_edges_per_sec_per_superstep``."""
    steady = [w for lp in loops for w in lp["steps"][2:]]
    return edges / statistics.median(steady) if steady else 0.0


class Workload:
    name = ""
    edges = 0          # adjacency rows one superstep scans (for edges_per_s)

    def __init__(self, spark, work: str, seed: int, sizes: dict):
        self.spark = spark
        self.seed = seed
        self.sizes = sizes
        self.input_dir = os.path.join(work, "input")

    def prepare(self) -> None:
        raise NotImplementedError

    def run_once(self, out_dir: str):
        raise NotImplementedError

    def check(self, outcome) -> list[str]:
        raise NotImplementedError

    def extra_metrics(self, outcome) -> dict:
        """End-to-end numbers only this workload has, in seconds."""
        return {}

    def wraps(self) -> list[tuple]:
        raise NotImplementedError

    def layer_metrics(self, spans, loops, outcome) -> dict:
        raise NotImplementedError


class CrawlPagerank(Workload):
    name = "crawl_pagerank"

    def __init__(self, spark, work, seed, sizes):
        super().__init__(spark, work, seed, sizes)
        spec = importlib.util.spec_from_file_location(
            "linkgraph_job", os.path.join(ROOT, "jobs", "linkgraph_job.py"))
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)

    def prepare(self) -> None:
        crawl_dir = os.path.join(self.input_dir, "crawl")
        self.crawl = gen.generate_crawl(
            self.seed, crawl_dir, **self.sizes)
        verts, s, d, w = oracles.link_graph(
            self.crawl.n_pages, self.crawl.link_src, self.crawl.link_dst)
        self.expect, self.expect_steps = oracles.pagerank(len(verts), s, d, w)
        self.vertex_urls = [self.crawl.urls[i] for i in verts]
        self.edges = len(s)

    def run_once(self, out_dir):
        args = self.job.parse_args([
            "--warc", os.path.join(self.input_dir, "crawl"),
            "--output", out_dir, "--algo", "pagerank",
            "--edge-source", "links",
        ])
        summary = self.job.run(self.spark, args)
        return summary, out_dir

    def check(self, outcome) -> list[str]:
        summary, out_dir = outcome
        t = pq.read_table(os.path.join(out_dir, "result")).to_pydict()
        got = dict(zip(t["vertex"], t["score"]))
        errors = []
        if summary["rows"] != len(self.vertex_urls):
            errors.append(f"job reported {summary['rows']} rows, expected "
                          f"{len(self.vertex_urls)}")
        if set(got) != set(self.vertex_urls):
            errors.append(f"vertex set differs: {len(got)} vs "
                          f"{len(self.vertex_urls)}")
            return errors
        score = np.array([got[u] for u in self.vertex_urls])
        if not np.allclose(score, self.expect, rtol=1e-6, atol=1e-9):
            errors.append("pagerank scores differ from the oracle by "
                          f"{np.abs(score - self.expect).max():.3g}")
        steps = sum(m["event"] != "resume" for m in summary["superstep_metrics"])
        if steps != self.expect_steps:
            errors.append(f"{steps} supersteps, oracle took {self.expect_steps}")
        return errors

    def wraps(self):
        from pyspark.sql import functions as F

        from jgtextrank_spark import io, weblinks

        pagerank = _algo("pagerank")

        def hrefs(a, k, out):
            pages = k.get("pages", a[0] if a else None)
            resolved = out.agg(F.sum("weight")).collect()[0][0]
            n = weblinks.extract_hrefs(pages).count()
            return {"hrefs": n, "resolved": resolved}

        return [
            (self.job, "run", "linkgraph_job.run"),
            (io, "warc_pages", "io.warc_pages", force_df),
            (weblinks, "link_edges", "weblinks.link_edges", force_df, hrefs),
            (pagerank, "pagerank_result", "pagerank.pagerank_result"),
        ]

    def layer_metrics(self, spans, loops, outcome) -> dict:
        link = _layer_spans(spans, "weblinks.link_edges")
        hrefs = _count(spans, "weblinks.link_edges", "hrefs")
        return {
            "io.warc_pages_s": _wall(spans, "io.warc_pages"),
            "io.pages": _count(spans, "io.warc_pages", "rows"),
            "io.input_mib": self.crawl.input_bytes / MIB,
            "weblinks.link_edges_s": _wall(spans, "weblinks.link_edges"),
            "weblinks.hrefs": hrefs,
            "weblinks.edges": _count(spans, "weblinks.link_edges", "rows"),
            "weblinks.resolved_ratio":
                _count(spans, "weblinks.link_edges", "resolved") / hrefs,
            "weblinks.shuffle_write_mib":
                sum(s.counters["shuffle_write"] for s in link) / MIB,
            "linkgraph_job.write_s": _self_wall(spans, "linkgraph_job.run"),
            **_pagerank_numbers(spans, loops, self.edges),
            **_loop_numbers(loops),
        }


class CrawlKeywords(Workload):
    name = "crawl_keywords"

    def prepare(self) -> None:
        pages_dir = os.path.join(self.input_dir, "pages")
        self.corpus = gen.generate_pages(
            self.seed, pages_dir, **self.sizes)
        self.expect, self.must, self.may = oracles.keywords(
            self.corpus.sentences, self.corpus.vertex_words)
        # rows of the symmetrized co-occurrence adjacency
        pairs = oracles.cooccurrence_pairs(
            self.corpus.sentences, self.corpus.vertex_words)
        self.edges = sum(1 if a == b else 2 for a, b in pairs)

    def run_once(self, out_dir):
        from jgtextrank_spark import api

        pages = self.spark.read.parquet(os.path.join(self.input_dir, "pages"))
        kw = api.keywords_extraction_from_pages(pages)
        return [(r["term"], r["score"]) for r in kw.collect()]

    def check(self, outcome) -> list[str]:
        got = dict(outcome)
        errors = []
        if not got:
            return ["empty keyword table"]
        if len(got) != len(outcome):
            errors.append("duplicate terms in the keyword table")
        missing = self.must - got.keys()
        extra = got.keys() - self.must - self.may
        if missing or extra:
            errors.append(f"{len(missing)} keywords missing, {len(extra)} "
                          f"unexpected (e.g. {sorted(missing | extra)[:3]})")
        bad = [t for t, s in got.items()
               if t in self.expect and abs(s - self.expect[t]) > 1.1e-5]
        if bad:
            errors.append(f"{len(bad)} keyword scores differ from the "
                          f"oracle, e.g. {bad[0]!r}: {got[bad[0]]} vs "
                          f"{self.expect[bad[0]]}")
        return errors

    def wraps(self):
        from pyspark.sql import functions as F

        from jgtextrank_spark import api, graph, textrank

        pagerank = _algo("pagerank")

        def tokens(a, k, out):
            n = out.agg(F.sum(F.size("tokens"))).collect()[0][0]
            return {"tokens": n}

        def vertices(a, k, out):
            sentences = k.get("sentences", a[0] if a else None)
            return {"vertices": graph.vertices_from_sentences(sentences).count()}

        return [
            (api, "build_sentences", "corpus.build_sentences", force_df,
             tokens),
            (textrank, "cooccurrence_edges", "graph.cooccurrence_edges",
             force_df, vertices),
            (textrank, "solve_scores", "textrank.solve_scores", force_df),
            (textrank, "collapse_candidates", "textrank.collapse_candidates",
             force_df),
            (textrank, "weigh_candidates", "textrank.weigh_candidates",
             force_df),
            (pagerank, "pagerank_result", "pagerank.pagerank_result"),
        ]

    def layer_metrics(self, spans, loops, outcome) -> dict:
        build_s = _wall(spans, "corpus.build_sentences")
        return {
            "corpus.build_sentences_s": build_s,
            "corpus.sentences": _count(spans, "corpus.build_sentences", "rows"),
            "extract.tokens_per_s":
                _count(spans, "corpus.build_sentences", "tokens") / build_s,
            "graph.cooccurrence_edges_s":
                _wall(spans, "graph.cooccurrence_edges"),
            "graph.edges": _count(spans, "graph.cooccurrence_edges", "rows"),
            "graph.vertices":
                _count(spans, "graph.cooccurrence_edges", "vertices"),
            "textrank.solve_scores_s": _wall(spans, "textrank.solve_scores"),
            "textrank.collapse_candidates_s":
                _wall(spans, "textrank.collapse_candidates"),
            "textrank.weigh_candidates_s":
                _wall(spans, "textrank.weigh_candidates"),
            "textrank.candidates":
                _count(spans, "textrank.collapse_candidates", "rows"),
            "textrank.keywords": len(outcome),
            **_pagerank_numbers(spans, loops, self.edges),
            **_loop_numbers(loops),
        }


class GraphStructureResume(Workload):
    name = "graph_structure_resume"

    def prepare(self) -> None:
        edges_dir = os.path.join(self.input_dir, "edges")
        g = gen.generate_edges(self.seed, edges_dir, **self.sizes)
        self.expect_cc = oracles.components(g.src, g.dst)
        self.expect_tri = oracles.triangles(g.src, g.dst)
        self.expect_lp, self.expect_lp_rounds = oracles.label_propagation(
            g.src, g.dst, np.ones(len(g.src)))
        self.edges = 2 * int((g.src != g.dst).sum())

    def run_once(self, out_dir):
        from pyspark.sql import functions as F

        components, labelprop, triangles = (
            _algo(m) for m in ("components", "labelprop", "triangles"))
        edges = self.spark.read.parquet(os.path.join(self.input_dir, "edges"))
        ckpt = os.path.join(out_dir, "checkpoints")
        budget = config.CC_BUDGET
        first = components.connected_components_result(
            edges, max_iter=budget, checkpoint_every=budget,
            checkpoint_dir=ckpt)
        t0 = time.monotonic()
        resumed = components.connected_components_result(
            edges, checkpoint_every=budget, checkpoint_dir=ckpt)
        cc = resumed.state.select("vertex", "label").toPandas()
        resume_s = time.monotonic() - t0
        lp = labelprop.label_propagation_result(edges)
        lp_labels = lp.state.select("vertex", "label").toPandas()
        tri = triangles.triangle_counts(edges).select(
            "vertex", F.col("triangles").cast("long")).toPandas()
        return {
            "budget_converged": first.converged,
            "resumed": resumed.metrics[0]["event"] == "resume",
            "cc": dict(zip(cc["vertex"].tolist(), cc["label"].tolist())),
            "lp": dict(zip(lp_labels["vertex"].tolist(),
                           lp_labels["label"].tolist())),
            "lp_rounds": lp.iterations,
            "tri": dict(zip(tri["vertex"].tolist(), tri["triangles"].tolist())),
            "checkpoint_bytes": _dir_bytes(ckpt),
            "resume_s": resume_s,
        }

    def extra_metrics(self, outcome) -> dict:
        return {"resume_s": outcome["resume_s"]}

    def check(self, o) -> list[str]:
        errors = []
        if o["budget_converged"] or not o["resumed"]:
            errors.append("components did not stop at the superstep budget "
                          "and resume from its checkpoint")
        for key, expect in (("cc", self.expect_cc), ("lp", self.expect_lp),
                            ("tri", self.expect_tri)):
            if o[key] != expect:
                diff = sum(o[key].get(v) != x for v, x in expect.items())
                errors.append(f"{key}: {diff} of {len(expect)} vertices "
                              "differ from the oracle")
        if o["lp_rounds"] != self.expect_lp_rounds:
            errors.append(f"label propagation ran {o['lp_rounds']} rounds, "
                          f"oracle {self.expect_lp_rounds}")
        return errors

    def wraps(self):
        components, labelprop, triangles = (
            _algo(m) for m in ("components", "labelprop", "triangles"))
        return [
            (components, "connected_components_result",
             "components.connected_components_result"),
            (labelprop, "label_propagation_result",
             "labelprop.label_propagation_result"),
            (triangles, "triangle_counts", "triangles.triangle_counts",
             force_df),
        ]

    def layer_metrics(self, spans, loops, outcome) -> dict:
        cc_loops = [lp for lp in loops if lp["label"] == "connected_components"]
        lp_loops = [lp for lp in loops if lp["label"] == "label_propagation"]
        return {
            "components.rounds": sum(len(lp["steps"]) for lp in cc_loops),
            "components.s":
                _wall(spans, "components.connected_components_result"),
            "labelprop.rounds": sum(len(lp["steps"]) for lp in lp_loops),
            "labelprop.s": _wall(spans, "labelprop.label_propagation_result"),
            "triangles.s": _wall(spans, "triangles.triangle_counts"),
            "supersteps.checkpoint_mib": outcome["checkpoint_bytes"] / MIB,
            **_loop_numbers(loops),
        }


def _self_wall(spans, name) -> float:
    """Wall of the ``name`` spans minus that of their direct children."""
    return sum(s.wall - sum(c.wall for c in spans if c.parent is s)
               for s in spans if s.name == name)


def _pagerank_numbers(spans, loops, edges: int) -> dict:
    pr = _layer_spans(spans, "pagerank.pagerank_result")
    pr_loops = [lp for lp in loops if lp["label"] == "pagerank"]
    steps = [w for lp in pr_loops for w in lp["steps"]]
    loop_write = sum(lp["span"].counters["shuffle_write"] for lp in pr_loops)
    return {
        "pagerank.edges_per_s": edges_per_s(edges, pr_loops),
        "pagerank.prep_s": sum(s.wall for s in pr) - sum(steps),
        "pagerank.supersteps": len(steps),
        "pagerank.superstep_s": statistics.median(steps) if steps else 0.0,
        "pagerank.shuffle_mib_per_superstep":
            loop_write / MIB / len(steps) if steps else 0.0,
        "pagerank.gc_s": sum(s.counters["gc_ms"] for s in pr) / 1000.0,
    }


WORKLOADS = {w.name: w for w in (CrawlPagerank, CrawlKeywords,
                                  GraphStructureResume)}
