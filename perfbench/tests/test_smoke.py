"""End-to-end smoke run of every workload at a tiny size: the whole
benchmark command (session, generator, oracle check, timed and traced
loops) must report a correct result with every metric BENCHMARK.json
names."""

from __future__ import annotations

import json
import os

import pytest

import config
import run
from workloads import WORKLOADS

TINY = {
    "crawl_pagerank": dict(n_pages=120, n_hosts=8),
    "crawl_keywords": dict(n_pages=25),
    "graph_structure_resume": dict(n_giant=300, giant_edges=900, n_small=30,
                                   path_len=40),
}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run(workload, trace, monkeypatch, capsys):
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    monkeypatch.setattr(config, "SIZES", TINY)
    monkeypatch.setattr(config, "WARMUP_SIZES", TINY)
    code = run.main(["--workload", workload, "--seed", "3",
                     "--seconds", "0.1", "--trace", str(trace)])
    assert code == 0
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 2
    if workload in {w["name"] for w in spec["workloads"]}:
        wanted = spec["per_layer" if trace else "end_to_end"]
        assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in result["metrics"].values():
        assert isinstance(m["value"], float | int) and m["value"] == m["value"]
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
