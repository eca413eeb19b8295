"""Session set-up, warm-up, timing, tracing and the result line.

One process runs one workload: start a local session sized for the
machine, build the inputs, run an untimed warm-up pass, then time a fixed
number of passes. Every pass is checked. A traced run does all of that
twice, in two JVMs one after the other: untraced, then with an
uncompressed event log and a job group per wave or query key. It reads
the per-layer numbers from that log.
"""

from __future__ import annotations

import os
import resource
import subprocess
import sys
import time

import eventlog
import workloads
from stats import median

#: untimed passes before timing. The first pass runs cold (Python
#: workers, codegen, class loading: 2x a warm pass). Pass time keeps
#: falling for about four more passes while the JIT compiles; waiting for
#: them would add a minute to every run, so timing starts on that slope.
WARM_PASSES = 1
#: timed passes: one per ``SECONDS_PER_PASS`` of ``--seconds`` (about a
#: warm pass of the workload on a 4-core machine), at least ``TIMED_MIN``.
#: The count never depends on how fast the passes are, so every run, of
#: any version of the program, times the same passes of its JVM's warm-up
#: curve.
TIMED_MIN = 2
SECONDS_PER_PASS = {"crawl_wide": 7.0, "curate_corpus": 10.0}


def timed_passes(name: str, seconds: float) -> int:
    return max(TIMED_MIN, round(seconds / SECONDS_PER_PASS[name]))


def make_workload(name: str, seed: int, work: str):
    if name == "crawl_wide":
        return workloads.CrawlWorkload(
            seed, work, hosts=10, pages_per_host=40, fanout=24, n_seeds=8,
            depth=3)
    if name == "curate_corpus":
        return workloads.CurateWorkload(seed, work, docs=1000, events=20_000)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("crawl_wide", "curate_corpus")


def start_session(work: str, traced: bool):
    """The program's own session (``session.get_spark``) at one local
    thread per core, sized for a small shared machine, with every file it
    writes in the work directory."""
    from xcrawl3r_spark.session import get_spark

    conf = {
        "spark.driver.memory": "4g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
        })
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    return get_spark(app="perfbench", master=f"local[{cores}]",
                     extra_conf=conf)


def stop_jvm() -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def peak_rss_mb(spark) -> float:
    """Driver JVM VmHWM plus the driver Python's peak RSS, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


class Run:
    """The passes of one run, with the per-layer numbers of its set-up."""

    def __init__(self, name: str, work: str):
        self.name, self.work = name, work
        self.passes: list[tuple[str, workloads.PassResult]] = []
        self.n_pass = 0
        self.layers: dict[str, float] = {}

    def log(self, msg: str) -> None:
        print(f"[{self.name}] {msg}", file=sys.stderr, flush=True)

    def one_pass(self, spark, wl, traced: bool, phase: str):
        tag = f"p{self.n_pass}"
        self.n_pass += 1
        t0 = time.perf_counter()
        try:
            # warm-up passes collect their rows for the reference check
            p = wl.run_pass(spark, tag, traced, collect=phase == "warm")
        except Exception as ex:  # the pass failed as a whole
            p = workloads.PassResult(
                job_s=time.perf_counter() - t0, items=0, steps=[],
                ops=wl.ops_per_pass,
                failed={workloads.WHOLE_PASS: f"{type(ex).__name__}: {ex}"})
        self.passes.append((phase, p))
        self.log(f"{phase} {tag}: {p.job_s:.3f}s items={p.items} "
                 f"jobs={p.jobs} steps={[round(s, 2) for s in p.steps]}"
                 + (f" FAILED {p.failed}" if p.failed else ""))
        return p

    def start(self, wl, traced: bool):
        """Start a JVM and session, ship the package, build the inputs
        and run the warm-up passes. The first start's figures are the
        run's per-layer set-up figures."""
        from xcrawl3r_spark.session import ship_package

        t0 = time.perf_counter()
        spark = start_session(self.work, traced)
        t1 = time.perf_counter()
        ship_package(spark)
        t2 = time.perf_counter()
        gen = wl.setup(spark)
        self.layers.setdefault("session.start_s", t1 - t0)
        self.layers.setdefault("session.ship_s", t2 - t1)
        if gen:
            self.log(f"inputs: {gen['rows']} rows, {gen['gen_s']:.2f}s")
            self.layers.setdefault("sources.gen_s", gen["gen_s"])
            self.layers.setdefault("sources.rows", gen["rows"])
        for _ in range(WARM_PASSES):
            self.one_pass(spark, wl, traced, "warm")
        return spark


def run(name: str, seed: int, seconds: float, trace: bool, work: str,
        t_process: float) -> dict:
    r = Run(name, work)
    n_timed = timed_passes(name, seconds)
    wl = make_workload(name, seed, work)
    spark = r.start(wl, traced=False)
    setup_s = time.perf_counter() - t_process
    r.log(f"setup {setup_s:.2f}s")
    timed = [r.one_pass(spark, wl, False, "timed") for _ in range(n_timed)]
    rss = peak_rss_mb(spark)
    traced = []
    if trace:
        # the traced passes run in a second JVM that repeats the first
        # one's set-up and warm-up, so traced pass k sits at the same
        # point of the warm-up curve as untraced pass k
        wl.release()
        stop_jvm()
        spark = r.start(wl, traced=True)
        traced = [r.one_pass(spark, wl, True, "traced")
                  for _ in range(n_timed)]
    verify(r, wl)
    wl.release()
    stop_jvm()
    correct, attempted, failed = tally(r)
    if trace:
        r.layers["peak_rss_mb"] = rss
        metrics = layer_metrics(r, wl, timed, traced)
    else:
        metrics = end_to_end([p for p in timed if not p.failed] or timed,
                             setup_s)
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def verify(r: Run, wl) -> None:
    """Check every pass against the workload's reference and against the
    other passes; failures are marked on the passes."""
    passes = [p for _, p in r.passes]
    t0 = time.perf_counter()
    wl.verify(passes)
    workloads.check_repeats(passes)
    r.log(f"reference check {time.perf_counter() - t0:.1f}s")
    for p in passes:
        for op, why in p.failed.items():
            r.log(f"check failed: {op}: {why}")
    jobs = [p.jobs for phase, p in r.passes]
    r.log(f"jobs per pass: {jobs}")
    for phase in ("timed", "traced"):
        counts = {p.jobs for ph, p in r.passes if ph == phase}
        if len(counts) > 1:
            r.log(f"{phase} passes ran different job counts: "
                  f"{sorted(counts)}")


def tally(r: Run) -> tuple[bool, int, int]:
    """(correct, operations attempted, operations failed) of the run."""
    attempted = sum(p.ops for _, p in r.passes)
    failed = sum(workloads.failed_ops(p) for _, p in r.passes)
    return failed == 0 and attempted > 0, attempted, failed


def end_to_end(passes, setup_s: float) -> dict:
    job_s = median(p.job_s for p in passes)
    steps = [s for p in passes for s in p.steps]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "job_s": {"value": job_s, "unit": "s"},
        "items_per_s": {"value": median(p.items / p.job_s for p in passes),
                        "unit": "1/s"},
        "step_p50_s": {"value": median(steps), "unit": "s"},
    }


# ---------------------------------------------------------------------------
# traced run: per-layer metrics
# ---------------------------------------------------------------------------

SPARK_FIELDS = ("jobs", "stages", "tasks", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "executor_run_s",
                "executor_cpu_s", "gc_s")


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in report order (BENCHMARK.json)."""
    names = ["session.start_s", "session.ship_s",
             "sources.gen_s", "sources.rows",
             "crawl.waves", "crawl.jobs_per_wave", "crawl.stages_per_wave",
             "crawl.loop_other_s", "crawl.frontier_s", "crawl.final_count_s",
             "crawl.new_s", "crawl.new_per_emit",
             "crawl.fetch_extract_s", "crawl.fetch_ok_frac",
             "crawl.store_s", "sinks.commits", "sinks.bytes_written"]
    for key in workloads.CURATE_KEYS:
        names += [f"q.{key}.{m}" for m in
                  ("build_s", "run_s", "jobs", "shuffle_write_bytes",
                   "spill_bytes")]
    names += [f"spark.{f}" for f in SPARK_FIELDS]
    names += ["spark.no_task_s", "spark.wave_no_task_s", "peak_rss_mb",
              "bench.step_samples", "bench.timed_passes", "trace.overhead_s"]
    return names


def layer_unit(name: str) -> str:
    if name == "peak_rss_mb":
        return "MiB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith("_frac") or name.endswith("per_emit"):
        return "ratio"
    return "count"


def layer_metrics(r: Run, wl, timed, traced) -> dict:
    stats = eventlog.parse(eventlog.read_events(
        eventlog.event_files(os.path.join(r.work, "eventlog"))))
    ok = [p for p in traced if not p.failed] or traced
    vals = {n: 0.0 for n in per_layer_names()}
    vals.update({k: v for k, v in r.layers.items() if k in vals})

    def med(values) -> float:  # a layer no traced pass reached reads 0
        values = list(values)
        return median(values) if values else 0.0

    def group_stats(groups) -> eventlog.GroupStats:
        total = eventlog.GroupStats()
        for g in groups:
            total.add(stats.get(g, eventlog.GroupStats()))
        return total

    totals = [group_stats({g for g, _, _ in p.spans}) for p in ok]
    for f in SPARK_FIELDS:
        vals[f"spark.{f}"] = med(getattr(t, f) for t in totals)
    vals["spark.no_task_s"] = med(
        eventlog.no_task_seconds(t.task_intervals, *p.window)
        for p, t in zip(ok, totals))
    for k in {k for p in ok for k in p.layers}:
        vals[k] = med(p.layers[k] for p in ok if k in p.layers)
    if isinstance(wl, workloads.CrawlWorkload):
        # a crawl pass's spans: one per wave, then the loop tail, then the
        # final count
        n_waves = [p.signature["crawl"][2] for p in ok]
        waves = [(group_stats([g]), a, b) for p, n in zip(ok, n_waves)
                 for g, a, b in p.spans[:n]]
        vals["crawl.waves"] = med(n_waves)
        vals["crawl.jobs_per_wave"] = med(s.jobs for s, _, _ in waves)
        vals["crawl.stages_per_wave"] = med(s.stages for s, _, _ in waves)
        vals["spark.wave_no_task_s"] = med(
            eventlog.no_task_seconds(s.task_intervals, a, b)
            for s, a, b in waves)
    else:
        for key in wl.keys:
            per_key = [group_stats([g]) for p in ok for g, _, _ in p.spans
                       if g.endswith(f".q.{key}")]
            for f in ("jobs", "shuffle_write_bytes", "spill_bytes"):
                vals[f"q.{key}.{f}"] = med(getattr(s, f) for s in per_key)
    vals["bench.step_samples"] = sum(len(p.steps) for p in ok)
    vals["bench.timed_passes"] = len(ok)
    # pass k of the traced JVM against pass k of the untraced one
    vals["trace.overhead_s"] = med(t.job_s - u.job_s
                                   for t, u in zip(traced, timed))
    return {n: {"value": float(v), "unit": layer_unit(n)}
            for n, v in vals.items()}
