"""Benchmark entry point: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload crawl_pagerank --seed 1 \
        --seconds 20 --trace 0

Runs from the root of a checkout; everything it writes goes under
``.perfbench_work/`` (inputs, Spark local dirs, temp files, job outputs,
removed at exit) and ``.perfbench_out/`` (the spans of traced runs).

Set-up: start the session (``session.get_spark`` at ``local[<cores>]``),
generate the workload's input files from the seed and compute the oracle
(repeated ``config.SETUP_REPEATS`` times, checking the files come out
byte-identical each time), then ``config.WARMUP_RUNS`` untimed, checked
runs on a tiny input of the same workload (``config.WARMUP_SIZES``).
``setup_s`` is session start + the median generate-and-oracle time + the
warm-up (its input and its runs).

Then one caller runs the job back to back (each run starts when the
previous one has finished and been checked) for ``--seconds``. Every run's
result is checked against the oracle. With ``--trace 1`` the time is split
in three: untraced, traced, untraced; the per-layer metrics come from the
traced runs and ``trace.overhead_s`` is the traced median run time minus
the untraced one.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with ``--trace
1``). Lines before it give every number with its unit, including
``failed_frac`` (the JSON's ``failed / attempted``), workload-specific
numbers such as ``resume_s``, and per-layer numbers BENCHMARK.json does
not list.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str):
    import config

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # read by the JVM, the Python workers and tempfile (session.ship_package)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    from jgtextrank_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": config.DRIVER_MEMORY,
            # whole heap resident from the start: no page faults or heap
            # growth inside timed runs
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{config.DRIVER_MEMORY} "
                "-XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and so its workers) to end."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    type(sc)._gateway = type(sc)._jvm = None   # a later session starts afresh
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - must not leave the JVM behind
            proc.kill()
            proc.wait()


def drop_cached(spark) -> None:
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def digest(path: str) -> str:
    h = hashlib.sha256()
    for base, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(base, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_loop(wl, probe, work, records, seconds=None, count=None, traced=False):
    """Closed loop: run, check, clean up, repeat until ``seconds`` have
    passed (at least one run) or ``count`` runs are done."""
    t_end = time.monotonic() + (seconds or 0.0)
    done = 0
    while True:
        probe.run_id += 1
        out_dir = os.path.join(work, "runs", f"run{probe.run_id}")
        first_loop, first_span = len(probe.loops), len(probe.spans)
        rec = {"errors": [], "extra": {}}
        t0 = time.monotonic()
        try:
            with probe.span(f"{wl.name}.run"):
                outcome = wl.run_once(out_dir)
            rec["job_s"] = time.monotonic() - t0
            rec["errors"] = wl.check(outcome)
            rec["extra"] = wl.extra_metrics(outcome)
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            rec["errors"] = [traceback.format_exc()]
            outcome = None
        rec["loops"] = probe.loops[first_loop:]
        if traced and outcome is not None and not rec["errors"]:
            rec["layers"] = layer_numbers(wl, probe.spans[first_span:],
                                          rec["loops"], outcome)
        print(f"run {probe.run_id} job_s={rec.get('job_s', 0):.3f}", file=sys.stderr)
        for e in rec["errors"]:
            print(f"run {probe.run_id} FAILED: {e}", file=sys.stderr)
        drop_cached(wl.spark)
        shutil.rmtree(out_dir, ignore_errors=True)
        records.append(rec)
        done += 1
        if count is not None and done >= count:
            return
        # the next run would end past the deadline: stop at the median pace
        walls = [r["job_s"] for r in records if "job_s" in r]
        pace = statistics.median(walls) if walls else 0.0
        if count is None and time.monotonic() + pace >= t_end:
            return


def layer_numbers(wl, run_spans, loops, outcome) -> dict:
    """Per-layer numbers of one traced run: the workload's own, plus
    spill / shuffle read / tasks of every layer from span self counters."""
    from spans import MIB, self_counters

    out = wl.layer_metrics(run_spans, loops, outcome)
    own = self_counters(run_spans)
    for s, c in zip(run_spans, own):
        layer = s.name.split(".", 1)[0]
        if layer == wl.name:
            continue
        for key, scale, metric in (("spill", MIB, "spill_mib"),
                                   ("shuffle_read", MIB, "shuffle_read_mib"),
                                   ("tasks", 1, "tasks")):
            name = f"{layer}.{metric}"
            out[name] = out.get(name, 0) + c[key] / scale
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    import config
    from spans import Probe, RssSampler
    from workloads import WORKLOADS, edges_per_s, tail

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    import jgtextrank_spark  # noqa: F401  (fails fast outside a checkout)

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = probe = None
    try:
        spark = start_session(work)
        t_session = time.monotonic() - T0
        probe = Probe(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed,
                                      config.SIZES[args.workload])
        prep, digests = [], set()
        for _ in range(config.SETUP_REPEATS):
            t = time.monotonic()
            wl.prepare()
            prep.append(time.monotonic() - t)
            digests.add(digest(wl.input_dir))
        records: list[dict] = []
        t = time.monotonic()
        warm = WORKLOADS[args.workload](
            spark, os.path.join(work, "warmup"), args.seed,
            config.WARMUP_SIZES[args.workload])
        warm.prepare()
        run_loop(warm, probe, work, records, count=config.WARMUP_RUNS)
        setup_s = t_session + statistics.median(prep) + time.monotonic() - t

        timed: list[dict] = []
        traced: list[dict] = []
        with RssSampler() as rss:
            if args.trace:
                # untraced runs before and after the traced ones, so the
                # overhead is not confounded with further warm-up
                third = args.seconds / 3
                run_loop(wl, probe, work, timed, seconds=third)
                with probe.span_layers(wl.wraps()):
                    run_loop(wl, probe, work, traced, seconds=third,
                             traced=True)
                run_loop(wl, probe, work, timed, seconds=third)
            else:
                run_loop(wl, probe, work, timed, seconds=args.seconds)
    finally:
        if probe is not None:
            probe.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))      # only if no other run's

    all_runs = records + timed + traced
    failed = sum(bool(r["errors"]) for r in all_runs)
    if len(digests) != 1:
        print("generator output differed between set-up repeats",
              file=sys.stderr)
        failed += 1
    ok = [r for r in timed if not r["errors"]]
    job_s = statistics.median(r["job_s"] for r in ok) if ok else float("nan")
    loops = [lp for r in ok for lp in r["loops"]]
    steps = [w for lp in loops for w in lp["steps"]]
    tail_s, tail_pct = tail(steps) if steps else (float("nan"), 0.0)
    e2e = {
        "setup_s": setup_s,
        "job_s": job_s,
        "peak_rss_mib": rss.peak,
        "edges_per_s": edges_per_s(wl.edges, loops),
        "superstep_s_tail": tail_s,
    }
    print(f"# {args.workload} seed={args.seed} runs={len(ok)} timed "
          f"(+{len(records)} warm-up), job_s median of {len(ok)}, "
          f"superstep_s_tail = p{tail_pct:.1f} of {len(steps)} supersteps, "
          f"edges_per_s over the post-warm-up supersteps of "
          f"{wl.edges} edges")
    report = dict(e2e, failed_frac=failed / len(all_runs))
    for name in sorted({k for r in ok for k in r["extra"]}):
        report[name] = statistics.median(r["extra"][name] for r in ok)
    if args.trace:
        layer_runs = [r["layers"] for r in traced if "layers" in r]
        layers = {name: statistics.median(lr.get(name, 0.0)
                                          for lr in layer_runs)
                  for name in sorted({k for lr in layer_runs for k in lr})}
        traced_job = [r["job_s"] for r in traced if not r["errors"]]
        if traced_job and ok:
            layers["trace.job_s"] = statistics.median(traced_job)
            layers["trace.overhead_s"] = layers["trace.job_s"] - job_s
        write_spans(probe, args)
        report.update(layers)
        chosen = spec["per_layer"]
    else:
        chosen = spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, value in report.items():
        print(f"{name} = {value:.6g} {units.get(name, unit_of(name))}")
    result = {
        "correct": failed == 0,
        "attempted": len(all_runs),
        "failed": failed,
        "metrics": {m["name"]: {"value": report.get(m["name"], 0.0),
                                "unit": m["unit"]} for m in chosen},
    }
    print(json.dumps(result))
    return 0


def unit_of(name: str) -> str:
    """Unit of a reported number BENCHMARK.json does not list."""
    for suffix, unit in (("edges_per_s", "edges/s"), ("_s", "s"),
                         ("_s_tail", "s"), ("_mib", "MiB"), ("_frac", "1")):
        if name.endswith(suffix):
            return unit
    return "count"


def write_spans(probe, args) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        index = {id(s): i for i, s in enumerate(probe.spans)}
        json.dump([{"name": s.name, "run": s.run,
                    "parent": index.get(id(s.parent)),
                    "start": s.start, "end": s.end, "counters": s.counters,
                    "counts": s.counts} for s in probe.spans], fh)


if __name__ == "__main__":
    sys.exit(main())
