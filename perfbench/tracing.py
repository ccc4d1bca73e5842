"""Spans and counters for the traced run.

Spans have the shape run -> pass -> op -> {construct, execute}; the layer
calls below nest inside them.  Each span records name, start, end, parent
and run id.  Spans stay in memory and are written out when the run ends.

Layer calls are observed from outside the package: ``install`` wraps the
public functions of each layer and rebinds the wrapper wherever callers
look the name up (a module that did ``from x import f`` holds its own
binding, so every binding of the original is replaced).  Nothing under
``nonconsumptive_spark/`` is edited.  When the tracer is off the wrappers
call straight through.

``spark_profile`` reads what Spark itself recorded for the traced jobs
(stage data, SQL metrics of the Python operators), attributing jobs to
operations by job group.
"""

from __future__ import annotations

import importlib
import json
import pkgutil
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sp = Span(len(self.spans), name, stack[-1] if stack else None,
                  self.run_id, time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def count(self, key: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[key] += value

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")

    # -- self time ---------------------------------------------------------
    def children(self) -> dict[int | None, list[Span]]:
        kids: dict[int | None, list[Span]] = defaultdict(list)
        for sp in self.spans:
            kids[sp.parent].append(sp)
        return kids

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids = self.children()
        out = {}
        for sp in self.spans:
            covered, cur_end = 0.0, sp.start
            for c in sorted(kids.get(sp.id, []), key=lambda s: s.start):
                lo, hi = max(c.start, cur_end), min(c.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[sp.id] = sp.end - sp.start - covered
        return out

    def subtree(self, root: int) -> list[Span]:
        kids = self.children()
        out, todo = [], [root]
        while todo:
            i = todo.pop()
            out.append(self.spans[i])
            todo.extend(c.id for c in kids.get(i, []))
        return out


# -- layer wrappers --------------------------------------------------------

PACKAGE = "nonconsumptive_spark"


def import_package() -> None:
    """Import every module of the package (except ``streaming``, which no
    workload runs, and the command line entry point), so that every
    binding of a wrapped name exists before it is replaced."""
    import nonconsumptive_spark as pkg

    skip = (PACKAGE + ".streaming", PACKAGE + ".__main__")
    for m in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        if not m.name.startswith(skip):
            importlib.import_module(m.name)


def _rebind(original, wrapper) -> None:
    """Replace every binding of ``original`` in the package's modules."""
    for name, mod in list(sys.modules.items()):
        if not (name == PACKAGE or name.startswith(PACKAGE + ".")) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)


def _wrap(tracer: Tracer, fn, span_name: str):
    def wrapper(*a, **kw):
        if not tracer.enabled:
            return fn(*a, **kw)
        with tracer.span(span_name):
            return fn(*a, **kw)
    wrapper.__wrapped__ = fn
    return wrapper


def dir_bytes(p: Path) -> int:
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


def install(tracer: Tracer) -> None:
    """Wrap the public calls of each layer; idempotent per process."""
    import_package()
    from nonconsumptive_spark import corpus
    from nonconsumptive_spark.plans import checkpoint, token_cache
    from nonconsumptive_spark.sources import inference, readers

    for mod, name, span_name in [
        (readers, "read_text_folder", "sources.read_text_folder"),
        (readers, "read_catalog", "sources.read_catalog"),
        (inference, "infer_column_plans", "sources.infer_column_plans"),
        (inference, "apply_plans", "sources.apply_plans"),
        (inference, "check_unique_ids", "sources.check_unique_ids"),
        (checkpoint, "materialize_once", "plans.checkpoint.barrier"),
    ]:
        fn = getattr(mod, name)
        if not hasattr(fn, "__wrapped__"):
            _rebind(fn, _wrap(tracer, fn, span_name))

    # token cache: a hit returns a frame the cache already held
    td = token_cache.tokenized_documents
    if not hasattr(td, "__wrapped__"):
        def tokenized_documents(spark, sf_dir):
            if not tracer.enabled:
                return td(spark, sf_dir)
            held = {id(v) for v in token_cache._CACHE.values()}
            with tracer.span("plans.token_cache") as sp:
                out = td(spark, sf_dir)
            hit = id(out) in held
            sp.attrs["hit"] = hit
            tracer.count("plans.token_cache.hits" if hit else "plans.token_cache.builds")
            if not hit:
                tracer.count("plans.token_cache.build_s", sp.end - sp.start)
            return out
        tokenized_documents.__wrapped__ = td
        _rebind(td, tokenized_documents)

    # barriers, counted through the public observer
    checkpoint.set_materialization_observer(
        lambda name, df: tracer.count("plans.checkpoint.barriers"))

    # CheckpointCache and CorpusSession are reached through their classes
    cc = checkpoint.CheckpointCache
    if not hasattr(cc.materialize, "__wrapped__"):
        mat = cc.materialize

        def materialize(self, spark, name, df, fingerprint="", partition_by=None):
            if not tracer.enabled or name not in self.cache_set:
                return mat(self, spark, name, df, fingerprint, partition_by)
            hit = self.is_cached(name, fingerprint or None)
            kind = "read" if hit else "write"
            with tracer.span(f"plans.checkpoint.{kind}", target=name) as sp:
                out = mat(self, spark, name, df, fingerprint, partition_by)
            tracer.count("plans.checkpoint.cache_hits" if hit
                         else "plans.checkpoint.cache_misses")
            tracer.count(f"plans.checkpoint.cache_{kind}_s", sp.end - sp.start)
            if not hit:
                tracer.count("plans.checkpoint.cache_mb_written",
                             dir_bytes(self.path_for(name)) / 2**20)
            return out
        materialize.__wrapped__ = mat
        cc.materialize = materialize

    cs = corpus.CorpusSession
    if not hasattr(cs.__init__, "__wrapped__"):
        init = cs.__init__

        def __init__(self, *a, **kw):
            if not tracer.enabled:
                return init(self, *a, **kw)
            with tracer.span("corpus.init"):
                return init(self, *a, **kw)
        __init__.__wrapped__ = init
        cs.__init__ = __init__

        run = cs.run

        def run_(self, name):
            if not tracer.enabled:
                return run(self, name)
            with tracer.span("corpus.run", target=name):
                return run(self, name)
        run_.__wrapped__ = run
        cs.run = run_


# -- what Spark recorded ---------------------------------------------------

def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
_NUM = re.compile(r"^([\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric -> bytes or seconds or a plain count.
    Timing and size metrics print 'total (min, med, max ...)\\n<total> (...)'."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


_PY_METRICS = {
    "time to start Python workers": "functions.python_boot_s",
    "time to run Python workers": "functions.python_total_s",
    "data sent to Python workers": "functions.python_mb_sent",
}


def spark_profile(spark, groups: set[str]) -> tuple[dict, dict]:
    """Job, stage and Python-operator figures for the jobs whose job group
    is in ``groups``.  Returns (exec figures, Python figures), each keyed by
    job group."""
    store = spark.sparkContext._jsc.sc().statusStore()
    ex: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_label, stage_label = {}, {}
    for j in _iter(store.jobsList(None)):
        g = _opt(j.jobGroup())
        if g in groups:
            job_label[j.jobId()] = g
            ex[g]["jobs"] += 1
            for sid in _iter(j.stageIds()):
                stage_label[sid] = g
    for sid, label in stage_label.items():
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # skipped stage: never ran, nothing recorded
            continue
        if s.numCompleteTasks() == 0 and s.numFailedTasks() == 0:
            continue
        e = ex[label]
        e["stages"] += 1
        e["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        e["task_s"] += s.executorRunTime() / 1e3
        e["cpu_s"] += s.executorCpuTime() / 1e9
        e["gc_s"] += s.jvmGcTime() / 1e3
        e["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
        e["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
        e["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
        e["input_mb"] += s.inputBytes() / 2**20
        e["failed_tasks"] += s.numFailedTasks()
        sub, done = _opt(s.submissionTime()), _opt(s.completionTime())
        if sub is not None and done is not None:
            e["stage_wall_s"] += (done.getTime() - sub.getTime()) / 1e3
            e["longest_task_s"] += max((_opt(t.duration(), 0) for t in _iter(
                store.taskList(sid, s.attemptId(), 100_000))), default=0) / 1e3

    py: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    sql = spark._jsparkSession.sharedState().statusStore()
    for x in _iter(sql.executionsList()):
        labels = {job_label[j] for j in _iter(x.jobs().keySet()) if j in job_label}
        if not labels:
            continue
        label = sorted(labels)[0]
        names = {m.accumulatorId(): m.name() for m in _iter(x.metrics())
                 if m.name() in _PY_METRICS}
        if not names:
            continue
        for kv in _iter(sql.executionMetrics(x.executionId())):
            name = names.get(kv._1())
            if name:
                v = parse_metric(kv._2())
                py[label][_PY_METRICS[name]] += v / 2**20 if "mb" in _PY_METRICS[name] else v
    return ex, py


def planning_phases(df) -> dict[str, float]:
    """Catalyst phase seconds from the executed frame's planning tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {kv._1(): kv._2().durationMs() / 1e3 for kv in _iter(phases)}


def jvm_times(spark) -> tuple[float, float]:
    """(garbage collection, JIT compilation) seconds the driver JVM has
    spent since it started; in local mode the executor runs in it too."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc / 1e3, mf.getCompilationMXBean().getTotalCompilationTime() / 1e3


def python_workers_peak_rss_mb() -> float:
    """Largest VmHWM among live pyspark worker processes."""
    peak = 0
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            cmd = (p / "cmdline").read_bytes()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            peak = max(peak, vm_hwm_kb(p.name))
        except OSError:
            continue
    return peak / 1024


def vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set size of a process, in KiB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return f[7], sum(f)
