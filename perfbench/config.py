"""Fixed benchmark settings: input sizes per workload and the Spark session.

The session is the library's own ``session.get_spark`` at
``local[<cores>]`` with these overrides, sized for a 4-core, 15 GiB box:

* ``spark.driver.memory`` 4g: ``session.py`` defaults to 32g, more than
  the box has; in local mode the driver JVM is also the executor. The
  heap is also the initial heap and pre-touched (``-Xms``,
  ``-XX:+AlwaysPreTouch``): without that, heap growth and page faults
  landed inside timed runs and peak resident memory varied by a quarter
  from run to run.
* ``SPARK_LOCAL_DIRS`` and the JVM/Python temp dirs point into the
  benchmark's work directory inside the checkout (local disk).
* the console progress bar is off, so standard output stays parseable.

Not gated: scaling efficiency between N and 4N cores. On a shared 4-core
box it does not repeat within a tenth, so the benchmark does not report it.
"""

from __future__ import annotations

SIZES = {
    "crawl_pagerank": dict(n_pages=4_500, n_hosts=150),
    "crawl_keywords": dict(n_pages=600),
    "graph_structure_resume": dict(
        n_giant=5_000, giant_edges=20_000, n_small=500, path_len=200,
    ),
}

# Warm-up runs use the same workload at this size: on a 4-core box the
# first run in a fresh JVM costs ~2x a warm one whatever the input size
# (class loading, JIT, code generation, Python worker start), so a tiny
# input warms the same code paths for less.
WARMUP_SIZES = {
    "crawl_pagerank": dict(n_pages=150, n_hosts=10),
    "crawl_keywords": dict(n_pages=20),
    "graph_structure_resume": dict(
        n_giant=300, giant_edges=900, n_small=30, path_len=40,
    ),
}

DRIVER_MEMORY = "4g"

# Connected components stop after this many supersteps (with a durable
# checkpoint at the same step), then a second call resumes to convergence.
CC_BUDGET = 3

# Runs of one process: set-up repeats input generation + oracle this many
# times and reports the median; warm-up runs (at WARMUP_SIZES) precede the
# timed loop.
SETUP_REPEATS = 2
WARMUP_RUNS = 1
