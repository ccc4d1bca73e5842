"""The repository's benchmark: one workload per process, closed loop.

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 16

Run it from the root of the repository.  One client runs a closed loop:
each operation starts only after the previous one finished.  An operation
is one query or one corpus build target: construct the frame, then
collect it as Arrow.  A run is

1. set-up: process start until ``get_spark`` returns and a trivial job
   finished (timed; repeated in one fresh process at the end of the run,
   the median of the two is ``setup_s``);
2. inputs: generated from ``--seed`` (cached per seed, never timed);
3. the cold pass: the first pass in the fresh session;
4. warm passes: as many as fit ``--seconds`` at the workload's nominal
   pass time (at least three), the same number in every run, after the
   workload's unmeasured warm-up passes;
5. every output checked outside the timed regions (DuckDB oracle or
   DuckDB token counts, and cold == warm for the corpus cache).

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a traced run.  The line before
it is a JSON record with the environment, the inputs, every end-to-end
figure with its unit, and any failure.  ``--workload all`` runs each
workload untraced and traced in fresh processes and prints a table.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
WORK = ROOT / ".perfbench"
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

# Only the standard library and the tracing module are imported before the
# set-up is timed; numpy, DuckDB and the workloads are imported after it.
from perfbench.tracing import (  # noqa: E402  (needs ROOT on sys.path)
    Span, Tracer, cpu_ticks, install, jvm_times, planning_phases,
    python_workers_peak_rss_mb, spark_profile, vm_hwm_kb,
)

CORPUS_DOCS = 12
HEADLINE_SF = 0.01
R8_BASE_SF, R8_REPLICAS = 0.1, 8
WORKLOADS = ["corpus_build", "headline_sf0.01"]   # what BENCHMARK.json lists
MANUAL_WORKLOADS = ["headline_r8"]                # too long for a timed run
# Three, so that the median warm pass can leave out the first one, which is
# often still slower while the JVM compiles.
MIN_WARM_PASSES = 3
# Warm pass time on a 4-core VM.  A run makes as many warm passes as fit
# --seconds at this pace (at least three), a number fixed per workload, so
# every run of a workload reports medians over the same sample count.
NOMINAL_WARM_PASS_S = {"corpus_build": 4.0, "headline_sf0.01": 7.5, "headline_r8": 44.0}
# Unmeasured warm passes between the cold pass and the measured ones.  On
# corpus_build the first reload of each checkpoint still runs about half
# again as long as later ones (encoded_unigrams 1.3-1.9 s against 0.8 s),
# and a median over four passes does not leave it out.  A headline run's
# median over three warm passes already does.
WARMUP_PASSES = {"corpus_build": 1}
SETUP_SAMPLES = 2          # this process plus a fresh one
RUN_BUDGET_S = 150         # start no warm pass after this (a stalled box)
SELFTIME_TOL = 0.01        # per op: |sum of self times - wall| / wall

E2E_UNITS = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "op_p50_s": "s",
    "op_tail_s": "s", "input_mb_per_s": "MB/s", "peak_rss_mb": "MB",
    "ops_failed_ratio": "ratio",
}


# -- process-level helpers -------------------------------------------------

def process_age() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    stat = Path("/proc/self/stat").read_text()
    start_ticks = int(stat.rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def configure_env() -> None:
    """Keep Spark's temporary files inside the checkout and let Python
    workers import the package."""
    local = WORK / "spark-local"
    tmp = WORK / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # JVM temp files under the checkout; no hsperfdata file under /tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        opts = os.environ.get(var, "")
        if jvm_opts not in opts:
            os.environ[var] = f"{opts} {jvm_opts}".strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)


def setup(tracer=None):
    """Start Spark the way a user does; returns (spark, timings)."""
    configure_env()
    from nonconsumptive_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    if tracer is not None and tracer.enabled:
        # recorded after the fact: the spans are the two calls just timed
        for name, a, b in (("session.get_spark", t0, t1), ("session.first_job", t1, t2)):
            tracer.spans.append(Span(len(tracer.spans), name, 0, tracer.run_id, a, b))
    return spark, {"setup_s": process_age(), "get_spark_s": t1 - t0,
                   "first_job_s": t2 - t1}


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup_probe() -> dict:
    spark, t = setup()
    stop_spark(spark)
    return t


def probe_setups(n: int) -> list[float]:
    out = []
    for _ in range(n):
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--setup-probe"],
                           capture_output=True, text=True, timeout=120, cwd=ROOT)
        if p.returncode != 0:
            raise RuntimeError(f"set-up probe failed: {p.stderr[-2000:]}")
        out.append(json.loads(p.stdout.strip().splitlines()[-1])["setup_s"])
    return out


def environment(seed: int, loadavg_before: list[float]) -> dict:
    head = ROOT / ".git" / "HEAD"
    commit = None
    if head.is_file():
        ref = head.read_text().strip()
        commit = ref
        if ref.startswith("ref: "):
            f = ROOT / ".git" / ref[5:]
            commit = f.read_text().strip() if f.is_file() else ref
    h = hashlib.sha256()
    for f in sorted((ROOT / "nonconsumptive_spark").rglob("*.py")) + [ROOT / "bench.py"]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_before": loadavg_before,
        "python": platform.python_version(),
        "git_commit": commit,
        "source_sha256": h.hexdigest()[:16],
        "seed": seed,
    }


# -- inputs ----------------------------------------------------------------

def prepare_inputs(workload: str, seed: int) -> tuple[Path, dict]:
    """Generated inputs for (workload, seed), cached under .perfbench."""
    from perfbench import gen_corpus, gen_tables

    kind = {"corpus_build": "corpus", "headline_sf0.01": "sf0.01",
            "headline_r8": "r8"}[workload]
    # the cache key covers the generator's code and sizes, so a changed
    # generator never reuses inputs made by an older one
    gen = gen_corpus if kind == "corpus" else gen_tables
    tag = hashlib.sha256(Path(gen.__file__).read_bytes() + repr(
        (CORPUS_DOCS, HEADLINE_SF, R8_BASE_SF, R8_REPLICAS)).encode()).hexdigest()[:10]
    d = WORK / "inputs" / f"{kind}-{seed}-{tag}"
    marker = d / "_inputs.json"
    if marker.is_file():
        return d, {**json.loads(marker.read_text()), "cached": True}
    tmp = d.with_name(d.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    if kind == "corpus":
        info = gen_corpus.generate(tmp, CORPUS_DOCS, seed)
    elif kind == "sf0.01":
        info = gen_tables.generate(tmp, HEADLINE_SF, seed)
    else:
        base = tmp / "_base"
        gen_tables.generate(base, R8_BASE_SF, seed)
        info = gen_tables.replicate(base, tmp, R8_REPLICAS, seed)
        shutil.rmtree(base)
    info = {"generated": info, "gen_s": time.perf_counter() - t0}
    (tmp / "_inputs.json").write_text(json.dumps(info))
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d, {**info, "cached": False}


# -- the closed loop -------------------------------------------------------

class Runner:
    def __init__(self, spark, wl, tracer):
        self.spark, self.wl, self.tracer = spark, wl, tracer
        self.ops: list[dict] = []        # one record per operation
        self.passes: list[dict] = []
        self.groups: set[str] = set()    # job groups of the traced ops

    def run_pass(self, kind: str) -> dict:
        tr, sc = self.tracer, self.spark.sparkContext
        idx = len(self.passes)
        rec = {"kind": kind, "index": idx, "traced": tr.enabled, "ops": []}
        jvm0 = jvm_times(self.spark) if tr.enabled else None
        with tr.span("pass", kind=kind, index=idx) as psp:
            t0 = time.perf_counter()
            unchecked = 0.0
            ops = self.wl.start_pass(kind)
            for name, construct in ops:
                op = {"pass": idx, "kind": kind, "name": name, "traced": tr.enabled}
                with tr.span("op", op=name) as osp:
                    o0 = time.perf_counter()
                    df = table = c1 = None
                    try:
                        if tr.enabled:
                            sc.setJobGroup(f"{idx}|{name}|construct", name)
                        with tr.span("construct"):
                            df = construct()
                        c1 = time.perf_counter()
                        if tr.enabled:
                            sc.setJobGroup(f"{idx}|{name}|execute", name)
                        with tr.span("execute"):
                            table = df.toArrow()
                        op["error"] = None
                    except Exception as e:  # an op that raises is a failed op
                        op["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                    o1 = time.perf_counter()
                    c1 = c1 or o1
                if tr.enabled:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    op["span"] = osp.id
                    self.groups |= {f"{idx}|{name}|construct", f"{idx}|{name}|execute"}
                op["s"] = o1 - o0
                op["construct_s"] = c1 - o0
                op["execute_s"] = o1 - c1
                k0 = time.perf_counter()
                try:
                    op["problems"] = [] if op["error"] else self.wl.check(kind, name, df, table)
                except Exception as e:  # output too malformed to compare
                    op["problems"] = [f"{name}: check raised {type(e).__name__}: {e}"]
                if tr.enabled and not op["error"]:
                    op["phases"] = planning_phases(df)
                unchecked += time.perf_counter() - k0
                op["ok"] = not op["error"] and not op["problems"]
                self.ops.append(op)
                rec["ops"].append(op)
                del df, table
            rec["s"] = time.perf_counter() - t0 - unchecked
        if tr.enabled:
            rec["span"] = psp.id
            rec["worker_peak_rss_mb"] = python_workers_peak_rss_mb()
            rec["jvm_gc_s"], rec["jvm_jit_s"] = (
                b - a for a, b in zip(jvm0, jvm_times(self.spark)))
        self.passes.append(rec)
        return rec


def warm_passes(workload: str, seconds: float) -> int:
    return max(MIN_WARM_PASSES, round(seconds / NOMINAL_WARM_PASS_S[workload]))


def op_medians(passes: list[dict]) -> dict[str, float]:
    """Each operation's median latency over the given passes."""
    by_name: dict[str, list[float]] = {}
    for p in passes:
        for o in p["ops"]:
            by_name.setdefault(o["name"], []).append(o["s"])
    return {n: statistics.median(v) for n, v in by_name.items()}


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least 10 samples beyond it:
    (value, percentile, samples)."""
    n = len(values)
    xs = sorted(values)
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 10              # xs[k-1] has exactly 10 samples above it
    return xs[k - 1], 100.0 * k / n, n


def run_workload(args) -> tuple[dict, dict]:
    steal0, total0 = cpu_ticks()
    load0 = list(os.getloadavg())
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = Tracer(run_id)
    tracer.enabled = bool(args.trace)
    with tracer.span("run", workload=args.workload, seed=args.seed):
        spark, setup_t = setup(tracer)
        env = environment(args.seed, load0)
        import pyspark
        env["pyspark"] = pyspark.__version__
        env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        inputs, input_info = prepare_inputs(args.workload, args.seed)
        from perfbench.workloads import CorpusBuild, Headline

        work = WORK / "work" / run_id
        work.mkdir(parents=True, exist_ok=True)
        cls = CorpusBuild if args.workload == "corpus_build" else Headline
        wl = cls(spark, inputs, work)
        if args.trace:
            install(tracer)
        runner = Runner(spark, wl, tracer)
        t_start = time.perf_counter()
        cold = runner.run_pass("cold")
        tracer.enabled = False
        for _ in range(WARMUP_PASSES.get(args.workload, 0)):
            runner.run_pass("warmup")
        tracer.enabled = bool(args.trace)
        warm = []
        for i in range(warm_passes(args.workload, args.seconds) + args.trace):
            if warm and time.perf_counter() - t_start > RUN_BUDGET_S:
                break
            if args.trace:       # one traced warm pass between untraced ones
                tracer.enabled = i == 1
            warm.append(runner.run_pass("warm"))
            tracer.enabled = bool(args.trace)
        wl.close()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak_rss = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024
    layer = per_layer(runner, tracer, spark, setup_t, wl) if args.trace else None
    if layer is not None:
        layer["exec.peak_rss_mb"] = peak_rss
    stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)

    warm_untraced = [p for p in warm if not p["traced"]] or warm
    per_op = op_medians(warm_untraced)
    tail_v, tail_p, tail_n = tail([o["s"] for p in warm_untraced for o in p["ops"]])
    setups = [setup_t["setup_s"]]
    if not args.trace:
        setups += probe_setups(SETUP_SAMPLES - 1)
    attempted = len(runner.ops)
    failed = sum(not o["ok"] for o in runner.ops)
    e2e = {
        "setup_s": statistics.median(setups),
        "cold_s": cold["s"],
        "warm_s": statistics.median(p["s"] for p in warm_untraced),
        "op_p50_s": statistics.median(per_op.values()),
        "op_tail_s": max(per_op.values()),
        "input_mb_per_s": wl.input_bytes / 2**20 / cold["s"],
        "peak_rss_mb": peak_rss,
        "ops_failed_ratio": failed / attempted,
    }
    env["loadavg_after"] = list(os.getloadavg())
    steal1, total1 = cpu_ticks()
    env["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": env,
        "inputs": {"dir": str(inputs.relative_to(ROOT)), "mb": wl.input_bytes / 2**20,
                   "files": wl.files, **wl.facts, **input_info},
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]}
                       for k, v in e2e.items()},
        "op_median_s": per_op,
        "op_tail_pooled": {"value": tail_v, "percentile": tail_p, "samples": tail_n},
        "setup_samples_s": setups,
        "passes": [{"kind": p["kind"], "s": p["s"], "traced": p["traced"],
                    "ops_s": {o["name"]: o["s"] for o in p["ops"]}}
                   for p in runner.passes],
        "failures": [{k: o[k] for k in ("kind", "pass", "name", "error", "problems")}
                     for o in runner.ops if not o["ok"]],
    }
    if args.trace:
        tracer.write(WORK / "traces" / f"{run_id}.jsonl")
        details["trace_file"] = str((WORK / "traces" / f"{run_id}.jsonl").relative_to(ROOT))
        details["self_time_s"] = {k: v for k, v in layer.items() if k.startswith("self.")}
    correct = failed == 0 and (not args.trace or (
        layer["trace.selftime_max_err"] <= SELFTIME_TOL and layer["trace.orphan_spans"] == 0))
    return details, {"correct": correct, "attempted": attempted, "failed": failed,
                     "e2e": e2e, "layer": layer}


# -- per-layer figures -----------------------------------------------------

def per_layer(runner: Runner, tracer, spark, setup_t: dict, wl) -> dict:
    """Per-layer figures.  Counts and times cover the cold pass plus the
    traced warm pass; ``queries.*`` and ``corpus.<t>.hit_s`` cover that
    warm pass."""
    selft = tracer.self_times()
    spans = tracer.spans
    cold = runner.passes[0]
    warm = [p for p in runner.passes[1:] if p["traced"]]
    first_warm = warm[0]
    traced = [cold, first_warm]
    ids = {p["index"] for p in traced}
    m: dict[str, float] = {}
    m["session.get_spark_s"] = setup_t["get_spark_s"]
    m["session.first_job_s"] = setup_t["first_job_s"]

    def span_sum(prefix: str, pass_ids=ids) -> float:
        inside = set()
        for p in runner.passes:
            if p["index"] in pass_ids and "span" in p:
                inside |= {s.id for s in tracer.subtree(p["span"])}
        return sum(s.end - s.start for s in spans
                   if s.id in inside and s.name.startswith(prefix))

    m["sources.read_text_folder_s"] = span_sum("sources.read_text_folder", {0})
    m["sources.catalog_infer_s"] = sum(span_sum(f"sources.{n}", {0}) for n in (
        "read_catalog", "infer_column_plans", "apply_plans", "check_unique_ids"))
    m["sources.files"] = wl.files if wl.layer == "corpus" else 0
    m["sources.input_mb"] = wl.input_bytes / 2**20 if wl.layer == "corpus" else 0.0
    m["corpus.init_s"] = span_sum("corpus.init", {0})
    from perfbench.workloads import CORPUS_TARGETS
    for t in CORPUS_TARGETS:
        miss = [o["s"] for o in cold["ops"] if o["name"] == t]
        hit = [o["s"] for p in warm for o in p["ops"] if o["name"] == t]
        m[f"corpus.{t}.miss_s"] = miss[0] if miss else 0.0
        m[f"corpus.{t}.hit_s"] = statistics.median(hit) if hit else 0.0
    c = tracer.counters
    hits, misses = c["plans.checkpoint.cache_hits"], c["plans.checkpoint.cache_misses"]
    m["plans.checkpoint.cache_hits"] = hits
    m["plans.checkpoint.cache_misses"] = misses
    m["plans.checkpoint.cache_hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
    m["plans.checkpoint.cache_write_s"] = c["plans.checkpoint.cache_write_s"]
    m["plans.checkpoint.cache_read_s"] = c["plans.checkpoint.cache_read_s"]
    m["plans.checkpoint.cache_mb_written"] = c["plans.checkpoint.cache_mb_written"]
    # barriers and token cache: cold pass plus one warm pass
    m["plans.checkpoint.barriers"] = c["plans.checkpoint.barriers"]
    m["plans.checkpoint.barrier_s"] = span_sum("plans.checkpoint.barrier")
    m["plans.token_cache.builds"] = c["plans.token_cache.builds"]
    m["plans.token_cache.hits"] = c["plans.token_cache.hits"]
    m["plans.token_cache.build_s"] = c["plans.token_cache.build_s"]

    ex, py = spark_profile(spark, runner.groups)
    from bench import HEADLINE
    tot = {"construct_s": 0.0, "execute_s": 0.0, "jobs": 0.0}
    jobs_construct = 0.0
    for q in HEADLINE:
        ops = [o for o in first_warm["ops"] if o["name"] == q]
        o = ops[0] if ops else None
        jc = ex.get(f"{first_warm['index']}|{q}|construct", {}).get("jobs", 0)
        je = ex.get(f"{first_warm['index']}|{q}|execute", {}).get("jobs", 0)
        vals = {"construct_s": o["construct_s"] if o else 0.0,
                "execute_s": o["execute_s"] if o else 0.0, "jobs": float(jc + je)}
        for k, v in vals.items():
            m[f"queries.{q}.{k}"] = v
            tot[k] += v
        jobs_construct += jc
    for k, v in tot.items():
        m[f"queries.{k}"] = v
    m["queries.jobs_construct"] = jobs_construct
    for ph in ("analysis", "optimization", "planning"):
        m[f"queries.{ph}_s"] = sum(o.get("phases", {}).get(ph, 0.0) for o in first_warm["ops"])

    pyt: dict[str, float] = {}
    for label, d in py.items():
        if int(label.split("|")[0]) in ids:
            for k, v in d.items():
                pyt[k] = pyt.get(k, 0.0) + v
    for k in ("functions.python_boot_s", "functions.python_total_s", "functions.python_mb_sent"):
        m[k] = pyt.get(k, 0.0)
    m["functions.worker_peak_rss_mb"] = max(p.get("worker_peak_rss_mb", 0.0) for p in traced)
    m["jvm.gc_s"] = sum(p["jvm_gc_s"] for p in traced)
    m["jvm.jit_s"] = sum(p["jvm_jit_s"] for p in traced)

    ext: dict[str, float] = {}
    for label, d in ex.items():
        if int(label.split("|")[0]) in ids:
            for k, v in d.items():
                ext[k] = ext.get(k, 0.0) + v
    for k in ("stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_mb",
              "shuffle_read_mb", "spill_mb", "input_mb", "failed_tasks"):
        m[f"exec.{k}"] = ext.get(k, 0.0)
    # longest task over stage wall time, summed over stages
    m["exec.max_task_share"] = (ext["longest_task_s"] / ext["stage_wall_s"]
                                if ext.get("stage_wall_s") else 0.0)
    wall = sum(p["s"] for p in traced)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
    m["exec.core_busy"] = m["exec.task_s"] / (wall * cores)

    untraced = [p["s"] for p in runner.passes if p["kind"] == "warm" and not p["traced"]]
    m["trace.cold_s"] = cold["s"]
    m["trace.warm_s"] = statistics.median(p["s"] for p in warm)
    m["trace.warm_overhead_s"] = (m["trace.warm_s"] - statistics.median(untraced)
                                  if untraced else 0.0)
    # the self times under each traced op against the op's wall time as
    # the loop measured it; a span with no parent (opened on another
    # thread, say) is time the tracing lost
    err = 0.0
    for o in runner.ops:
        if o.get("span") is not None:
            total = sum(selft[s.id] for s in tracer.subtree(o["span"]))
            err = max(err, abs(total - o["s"]) / max(o["s"], 1e-9))
    m["trace.selftime_max_err"] = err
    m["trace.orphan_spans"] = sum(s.parent is None and s.name != "run" for s in spans)

    # self time per layer over what was traced: the set-up calls and the
    # traced passes.  The untraced warm passes made no spans, so the run
    # span's own self time holds their wall time and is left out.
    counted = [s for s in spans if s.name.startswith("session.")]
    for p in traced:
        counted += tracer.subtree(p["span"])
    for layer in SELF_TIME_LAYERS:
        m[f"self.{layer}_s"] = 0.0
    for sp in counted:
        m[f"self.{_layer_of(sp.name)}_s"] += selft[sp.id]
    return m


# span name prefix -> layer; the self time of the pass and op spans (the
# loop and the checks between operations) is "harness"
SELF_TIME_LAYERS = ["harness", "construct", "execute", "session", "sources",
                    "corpus", "plans.checkpoint", "plans.token_cache"]


def _layer_of(span_name: str) -> str:
    for layer in SELF_TIME_LAYERS[1:]:
        if span_name == layer or span_name.startswith(layer + "."):
            return layer
    return "harness"


# -- entry point -----------------------------------------------------------

def load_benchmark() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def result_line(res: dict, trace: bool, bench: dict) -> dict:
    if trace:
        metrics = {m["name"]: {"value": res["layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["e2e"][m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def run_all(args) -> int:
    for w in WORKLOADS:
        out, layer = {}, {}
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(trace)],
                capture_output=True, text=True, cwd=ROOT, timeout=600)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                print(f"{w} trace={trace}: failed\n{p.stderr[-3000:]}", file=sys.stderr)
                return 1
            out[trace] = json.loads(lines[-2])
            if trace:
                layer = {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}
        d0, d1 = out[0], out[1]
        e2e = d0["end_to_end"]
        print(f"== {w}  seed={args.seed}  input={d0['inputs']['mb']:.2f} MB "
              f"in {d0['inputs']['files']} files")
        for k, v in e2e.items():
            extra = ""
            if k == "op_tail_s":
                pooled = d0["op_tail_pooled"]
                extra = (f"  (pooled p{pooled['percentile']:.1f} of "
                         f"{pooled['samples']} samples: {pooled['value']:.4f} s)")
            print(f"   {k:<18} {v['value']:>12.4f} {v['unit']}{extra}")
        print(f"   tracing overhead   cold {layer['trace.cold_s'] - e2e['cold_s']['value']:+.3f} s"
              f" (traced run - untraced run), warm {layer['trace.warm_overhead_s']:+.3f} s"
              f" (traced pass - untraced passes, same run)")
        for k, v in d1.get("self_time_s", {}).items():
            print(f"   {k:<28} {v:10.3f} s")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    missing = [p for p in ("nonconsumptive_spark", "bench.py", "tools/check_oracle.py",
                           "BENCHMARK.json") if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}",
              file=sys.stderr)
        return 2
    if args.setup_probe:
        print(json.dumps(setup_probe()))
        return 0
    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS + MANUAL_WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have "
              f"{WORKLOADS + MANUAL_WORKLOADS}", file=sys.stderr)
        return 2
    bench = load_benchmark()
    details, res = run_workload(args)
    print(json.dumps(details))
    print(json.dumps(result_line(res, bool(args.trace), bench)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
