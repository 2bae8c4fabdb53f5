"""Observation for the benchmark: superstep records, spans, Spark stage
counters and resident memory.

* ``Probe`` patches the name ``run_supersteps`` inside each solver module so
  every superstep loop's per-step walls (which the harness already returns)
  are kept, together with the loop's own wall. It forces nothing, so it is
  on for untraced runs too.
* With tracing on, ``Probe.span_layers`` also wraps the public functions a
  workload calls, one span per call (name, start, end, parent, run id).
  Each wrapper forces its layer's output (persist + count where the result
  is lazy) so the boundary can be timed, and takes the Spark stage counters
  of the stages that ran inside it from the status store.
* ``RssSampler`` polls ``/proc`` for the resident memory of every process
  below this one: the driver JVM and its Python workers.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from dataclasses import dataclass, field

MIB = 1024.0 * 1024.0

COUNTERS = ("shuffle_read", "shuffle_write", "spill", "tasks", "gc_ms")


@dataclass
class Span:
    name: str
    run: int
    parent: "Span | None"
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)   # inclusive of children
    counts: dict = field(default_factory=dict)     # layer-specific outputs

    @property
    def wall(self) -> float:
        return self.end - self.start


class StageCounters:
    """Sums of Spark stage metrics between two points in time."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._empty = sc._gateway.new_array(sc._jvm.double, 0)

    def _stages(self):
        self._sc.listenerBus().waitUntilEmpty()
        # newest first: the status store sorts stages by id, descending
        return self._sc.statusStore().stageList(
            None, False, False, self._empty, None
        )

    def mark(self) -> int:
        stages = self._stages()
        return stages.apply(0).stageId() if stages.size() else -1

    def since(self, mark: int) -> dict:
        """Counters of the completed stages numbered above ``mark``."""
        stages = self._stages()
        out = dict.fromkeys(COUNTERS, 0)
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark:
                break
            if s.status().toString() != "COMPLETE":
                continue
            out["shuffle_read"] += s.shuffleReadBytes()
            out["shuffle_write"] += s.shuffleWriteBytes()
            out["spill"] += s.diskBytesSpilled()
            out["tasks"] += s.numCompleteTasks()
            out["gc_ms"] += s.jvmGcTime()
        return out


class Probe:
    """Superstep records always; spans while ``span_layers`` is active."""

    SOLVER_MODULES = (
        "jgtextrank_spark.algos.pagerank",
        "jgtextrank_spark.algos.components",
        "jgtextrank_spark.algos.labelprop",
    )

    def __init__(self, spark):
        import importlib

        self.spark = spark
        self.loops: list[dict] = []      # one per run_supersteps call
        self.spans: list[Span] = []
        self.run_id = 0
        self._stack: list[Span] = []
        self._counters: StageCounters | None = None
        self._restore: list[tuple[object, str, object]] = []
        for name in self.SOLVER_MODULES:
            mod = importlib.import_module(name)
            self._patch(mod, "run_supersteps", self._record_loop(
                mod.run_supersteps))

    def _patch(self, mod, attr: str, new) -> None:
        self._restore.append((mod, attr, getattr(mod, attr)))
        setattr(mod, attr, new)

    def close(self) -> None:
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()

    def _record_loop(self, orig):
        def run_supersteps(spark, initial_state, step, *a, **k):
            with self.span("supersteps.run_supersteps") as sp:
                t0 = time.monotonic()
                res = orig(spark, initial_state, step, *a, **k)
                wall = time.monotonic() - t0
            self.loops.append({
                "label": k.get("label", ""),
                "wall": wall,
                "steps": [m["wall_ms"] / 1000.0 for m in res.metrics
                          if m["event"] in ("step", "checkpoint")],
                "checkpoints": sum(m["event"] == "checkpoint"
                                   for m in res.metrics),
                "span": sp,
            })
            return res
        return run_supersteps

    # ---------------------------------------------------------------- spans

    @contextlib.contextmanager
    def span(self, name: str):
        """A span while tracing; a no-op (yielding None) otherwise."""
        if self._counters is None:
            yield None
            return
        mark = self._counters.mark()
        sp = Span(name, self.run_id, self._stack[-1] if self._stack else None,
                  time.monotonic())
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            sp.counters = self._counters.since(mark)

    def wrap(self, mod, attr: str, name: str, force=None, post=None) -> None:
        """Wrap ``mod.attr`` in a span called ``name``. ``force`` maps the
        result to (result, counts) inside the span; ``post`` maps (args,
        kwargs, result) to extra counts after the span has closed."""
        orig = getattr(mod, attr)

        def wrapper(*a, **k):
            with self.span(name) as sp:
                out = orig(*a, **k)
                if force is not None:
                    out, counts = force(out)
                    sp.counts.update(counts)
            if post is not None:
                sp.counts.update(post(a, k, out))
            return out

        self._patch(mod, attr, wrapper)

    @contextlib.contextmanager
    def span_layers(self, wraps):
        """Tracing on: apply ``wraps`` (a list of ``wrap`` argument tuples)
        for the duration, then restore the originals."""
        self._counters = StageCounters(self.spark)
        keep = len(self._restore)
        for w in wraps:
            self.wrap(*w)
        try:
            yield
        finally:
            for mod, attr, orig in reversed(self._restore[keep:]):
                setattr(mod, attr, orig)
            del self._restore[keep:]
            self._counters = None


def force_df(out):
    """Persist a lazy DataFrame and count it: (cached frame, rows)."""
    out = out.persist()
    return out, {"rows": out.count()}


def self_counters(spans: list[Span]) -> list[dict]:
    """Per span, its counters minus those of its direct children."""
    own = {id(s): dict(s.counters) for s in spans}
    for s in spans:
        if s.parent is not None and id(s.parent) in own:
            parent = own[id(s.parent)]
            for k in COUNTERS:
                parent[k] -= s.counters[k]
    return [own[id(s)] for s in spans]


class RssSampler:
    """Peak summed resident memory (MiB) of this process's descendants."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @staticmethod
    def descendants_rss_mib(root: int) -> float:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total_kib = 0
        todo = list(children.get(root, []))
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total_kib += int(line.split()[1])
                            break
            except OSError:
                continue
        return total_kib / 1024.0

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, self.descendants_rss_mib(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self.descendants_rss_mib(os.getpid()))
