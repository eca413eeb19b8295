"""The benchmark's workloads, each driven through the program's public API.

A workload builds its inputs from the seed, runs one *pass* at a time and
checks each pass. Crawls go through ``Crawler(spark, cfg).crawl(...)`` with
its ``on_iteration`` hook; the corpus workload builds each registered
``__spark_entry__.queries()`` key and writes it to the ``noop`` sink. The
benchmark tags its own Spark work with job groups so that a traced run can
attribute the event log to waves and keys; nothing inside the program is
instrumented.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field, replace

import corpus


@dataclass
class PassResult:
    job_s: float
    items: int
    steps: list[float]
    #: operations attempted in this pass
    ops: int
    #: failed operations: name -> reason; ``WHOLE_PASS`` fails them all
    failed: dict[str, str] = field(default_factory=dict)
    #: per operation, output facts that must repeat exactly across passes
    signature: dict = field(default_factory=dict)
    #: Spark jobs the pass ran (status tracker, all of the pass's groups)
    jobs: int = 0
    #: epoch-second windows of the pass and of each step, for the trace
    window: tuple[float, float] = (0.0, 0.0)
    spans: list[tuple[str, float, float]] = field(default_factory=list)
    #: workload-specific per-layer numbers of this pass
    layers: dict = field(default_factory=dict)


WHOLE_PASS = "pass"


def failed_ops(p: PassResult) -> int:
    return p.ops if WHOLE_PASS in p.failed else len(p.failed)


def _set_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def _jobs(spark, groups) -> int:
    tracker = spark.sparkContext.statusTracker()
    return sum(len(tracker.getJobIdsForGroup(g)) for g in groups)


class _Clock:
    """Wall time on two clocks: ``perf_counter`` for durations, epoch
    seconds to line up with event-log timestamps."""

    def __init__(self):
        self.perf = time.perf_counter()
        self.epoch = time.time()


# ---------------------------------------------------------------------------
# crawls
# ---------------------------------------------------------------------------

def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs)


def _store_commits(path: str) -> int:
    n = 0
    for table in os.listdir(path):
        manifest = os.path.join(path, table, "_manifest.json")
        if os.path.exists(manifest):
            with open(manifest, encoding="utf-8") as f:
                n += len(json.load(f)["commits"])
    return n


class CrawlWorkload:
    """A durable BFS crawl of the synthetic web graph, one full crawl per
    pass; every wave commits through the snapshot store."""

    name = "crawl_wide"
    ops_per_pass = 1

    def __init__(self, seed: int, work: str, *, hosts: int,
                 pages_per_host: int, fanout: int, n_seeds: int, depth: int):
        from xcrawl3r_spark.config import CrawlConfig
        from xcrawl3r_spark.sources import datagen as G

        self.work = work
        self.params = G.GraphParams(hosts=hosts, pages_per_host=pages_per_host,
                                    fanout=fanout, seed=seed)
        self.n_seeds = n_seeds
        self.cfg = CrawlConfig(
            domains=["test"], include_subdomains=True, depth=depth,
            parallelism=0, bloom_enabled=True, global_dedup=True)
        self.pages = self.seeds = None

    def setup(self, spark) -> dict:
        """Build the pages table (persisted, counted) and the seed list."""
        from xcrawl3r_spark.sources import datagen as G

        self.release()
        t0 = time.perf_counter()
        self.pages = G.pages_df(spark, self.params, distributed=False).persist()
        rows = self.pages.count()
        self.seeds = G.seeds_df(spark, self.params, self.n_seeds).persist()
        rows += self.seeds.count()
        return {"gen_s": time.perf_counter() - t0, "rows": rows}

    def release(self) -> None:
        """Drop the cached inputs (before the session stops)."""
        for df in (self.pages, self.seeds):
            if df is not None:
                df.unpersist()
        self.pages = self.seeds = None

    def run_pass(self, spark, tag: str, traced: bool,
                 collect: bool = False) -> PassResult:
        """One full crawl; every pass is checked through its counts, so
        ``collect`` changes nothing here."""
        from xcrawl3r_spark.plans.crawl import Crawler

        ckpt = os.path.join(self.work, "store", tag)
        shutil.rmtree(ckpt, ignore_errors=True)
        cfg = replace(self.cfg, checkpoint_dir=ckpt)
        groups = [f"{tag}.w1" if traced else tag]
        marks: list[_Clock] = []

        def on_iteration(it, _edges):
            marks.append(_Clock())
            if traced:
                groups.append(f"{tag}.w{it + 1}")
                _set_group(spark, groups[-1])

        _set_group(spark, groups[0])
        start = _Clock()
        res = Crawler(spark, cfg).crawl(
            self.seeds, self.pages, on_iteration=on_iteration)
        loop_end = _Clock()
        if traced:
            groups.append(f"{tag}.final")
            _set_group(spark, groups[-1])
        seen = res.seen.count()
        end = _Clock()

        _set_group(spark, f"{tag}.check")
        edges = res.edges.count()
        bounds = [start] + marks
        # a step is a wave between two successive on_iteration callbacks;
        # the first wave also carries the crawl's set-up, so it is no step
        steps = [b.perf - a.perf for a, b in zip(marks, marks[1:])]
        out = PassResult(
            job_s=end.perf - start.perf, items=seen, steps=steps,
            ops=self.ops_per_pass,
            signature={"crawl": (seen, edges, len(res.metrics))},
            jobs=_jobs(spark, groups),
            window=(start.epoch, end.epoch),
            spans=[(f"{tag}.w{i + 1}", a.epoch, b.epoch)
                   for i, (a, b) in enumerate(zip(bounds, bounds[1:]))]
            + [(f"{tag}.w{len(marks) + 1}", bounds[-1].epoch, loop_end.epoch),
               (f"{tag}.final", loop_end.epoch, end.epoch)],
        )
        if traced:
            out.layers = self._layers(res, marks[-1].perf - start.perf,
                                      loop_end.perf, end.perf, ckpt)
        shutil.rmtree(ckpt, ignore_errors=True)
        return out

    def _layers(self, res, wave_s, loop_end, end, ckpt) -> dict:
        """Per-wave phase times from ``CrawlResult.metrics`` plus the
        counts the phases produced (untimed jobs in the check group)."""
        from pyspark.sql import functions as F

        from xcrawl3r_spark.functions import urls as U

        phases = {k: sum(m.get(k, 0.0) for m in res.metrics)
                  for k in ("t_new", "t_fetch_extract", "t_frontier", "t_store")}
        seen_by = dict(res.seen.groupBy("iter").count().collect())
        edges_by = dict(res.edges.groupBy("iter").count().collect())
        iters = sorted(seen_by)
        emitted = sum(edges_by.get(i, 0) for i in iters[:-1])
        found = sum(seen_by[i] for i in iters[1:])
        attempts = res.seen.filter(~U.is_media_col(F.col("url"))).count()
        fails = res.errors.filter(F.col("stage") == "fetch").count()
        return {
            "crawl.new_s": phases["t_new"],
            "crawl.fetch_extract_s": phases["t_fetch_extract"],
            "crawl.frontier_s": phases["t_frontier"],
            "crawl.store_s": phases["t_store"],
            "crawl.loop_other_s": wave_s - sum(phases.values()),
            "crawl.final_count_s": end - loop_end,
            "crawl.new_per_emit": found / emitted if emitted else 0.0,
            "crawl.fetch_ok_frac": 1.0 - fails / attempts if attempts else 0.0,
            "sinks.commits": _store_commits(ckpt),
            "sinks.bytes_written": _dir_bytes(ckpt),
        }

    def verify(self, passes) -> None:
        """Fail every pass whose seen-URL count differs from the
        simulator's: the union of its per-seed seen sets (the crawl
        dedups globally)."""
        expected = self.reference()
        for p in passes:
            if not p.failed and p.items != expected:
                p.failed["crawl"] = (f"urls seen {p.items} != simulator "
                                     f"{expected}")

    def reference(self) -> int:
        from xcrawl3r_spark import simulator
        from xcrawl3r_spark.sources import datagen as G

        seeds = [(r["seed_id"], r["url"])
                 for r in G.seeds_rows(self.params, self.n_seeds)]
        sim = simulator.simulate_crawl(seeds, G.pages_dict(self.params),
                                       self.cfg)
        return len({url for _, url in sim.seen})


# ---------------------------------------------------------------------------
# corpus curation
# ---------------------------------------------------------------------------

def _norm(v):
    """Engine-neutral form of one output value for digesting: Spark rows
    and lists become tuples, DuckDB decimals floats; floats are rounded to
    6 places and integral floats compare equal to ints."""
    if isinstance(v, (list, tuple)):  # pyspark Row is a tuple
        return tuple(_norm(x) for x in v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return int(v) if v.is_integer() else round(v, 6)
    return v


def content_digest(cols, rows) -> str:
    """Order-insensitive digest of a result: columns by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


#: query keys run by ``curate_corpus``, in registry-independent order
CURATE_KEYS = (
    "dedup_ngram_jaccard",
    "text_winnow_pairs",
    "dedup_minhash_lsh",
    "graph_pagerank",
    "e7_image_verify",
)


class CurateWorkload:
    """One pass builds every key and writes it to the ``noop`` sink."""

    name = "curate_corpus"

    def __init__(self, seed: int, work: str, *, docs: int, events: int):
        import __spark_entry__ as entry

        self.seed = seed
        self.sizes = dict(docs=docs, events=events)
        self.keys = CURATE_KEYS
        self.ops_per_pass = len(self.keys)
        self.builders = entry.queries()
        self.oracles = entry.oracle_sql()
        self.data = os.path.join(work, "tables")
        #: rows of every collecting pass, kept to check against the oracle
        self.collected: list[dict[str, tuple[list, list]]] = []

    def setup(self, spark) -> dict:
        """Write the seeded slices of the test tables (once per run; the
        benchmark's own work, so no per-layer figure of the program)."""
        if not os.path.isdir(self.data):
            corpus.write_tables(self.data, self.seed, **self.sizes)
        return {}

    def release(self) -> None:
        """Nothing is cached: the queries read the parquet files."""

    def run_pass(self, spark, tag: str, traced: bool,
                 collect: bool = False) -> PassResult:
        """Build every key and write it to the noop sink, or, with
        ``collect``, collect its rows for the oracle check."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        rows_of: dict[str, tuple[list, list]] = {}
        if collect:
            self.collected.append(rows_of)
        steps, groups = [], []
        sig, failed = {}, {}
        layers: dict = {}
        spans = []
        start = _Clock()
        for key in self.keys:
            group = f"{tag}.q.{key}" if traced else tag
            if group not in groups:
                groups.append(group)
            _set_group(spark, group)
            k0 = _Clock()
            try:
                df = self.builders[key](spark, self.data)
                t_build = time.perf_counter() - k0.perf
                obs = Observation(f"{tag}.{key}")
                observed = df.observe(
                    obs, F.count(F.lit(1)).alias("n"),
                    F.sum(F.xxhash64(*[F.col(c) for c in df.columns])
                          .bitwiseAND(0xFFFFFFFF)).alias("h"))
                if collect:
                    rows = observed.collect()
                    rows_of[key] = (df.columns, [tuple(r) for r in rows])
                else:
                    observed.write.format("noop").mode("overwrite").save()
                k1 = _Clock()
                got = obs.get
                sig[key] = (got["n"], got["h"])
            except Exception as ex:  # a failed key is a failed operation
                failed[key] = f"{type(ex).__name__}: {ex}"
                continue
            steps.append(k1.perf - k0.perf)
            spans.append((group, k0.epoch, k1.epoch))
            if traced:
                layers[f"q.{key}.build_s"] = t_build
                layers[f"q.{key}.run_s"] = k1.perf - k0.perf - t_build
        end = _Clock()
        _set_group(spark, f"{tag}.check")
        return PassResult(
            job_s=end.perf - start.perf, items=len(steps), steps=steps,
            ops=self.ops_per_pass, failed=failed, signature=sig,
            jobs=_jobs(spark, groups), window=(start.epoch, end.epoch),
            spans=spans, layers=layers)

    def verify(self, passes) -> None:
        """A key whose collected rows disagree with its oracle fails in
        every pass (the other passes must repeat the collected ones; the
        harness checks that)."""
        for key, why in self.reference().items():
            if why:
                for p in passes:
                    p.failed.setdefault(key, why)

    def reference(self) -> dict[str, str | None]:
        """Check every collected pass's rows against each key's DuckDB
        oracle; return the failures by key (``None`` where the key is
        correct)."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("documents", "events"):
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(
                    f"create view {t} as select * from read_parquet('{path}')")
            verdict: dict[str, str | None] = {}
            for key in {k for rows_of in self.collected for k in rows_of}:
                sql = self.oracles.get(key)
                if sql is not None:
                    res = con.execute(sql)
                    ocols = [d[0] for d in res.description]
                    orows = res.fetchall()
                for cols, rows in (r[key] for r in self.collected if key in r):
                    if sql is None:
                        why = _rows_only_check(key, cols, rows)
                    elif sorted(cols) != sorted(ocols):
                        why = f"columns {sorted(cols)} != {sorted(ocols)}"
                    elif len(rows) != len(orows):
                        why = f"rows {len(rows)} != oracle {len(orows)}"
                    elif (content_digest(cols, rows)
                          != content_digest(ocols, orows)):
                        why = "content differs from the oracle"
                    else:
                        why = None
                    verdict[key] = verdict.get(key) or why
            return verdict
        finally:
            con.close()


def _rows_only_check(key: str, cols, rows) -> str | None:
    """Keys without a SQL oracle carry their own invariants."""
    if key == "e7_image_verify":
        r = dict(zip(cols, rows[0])) if len(rows) == 1 else None
        if (r is None or not r["n_rows"]
                or not (r["n_rows"] == r["n_pixel_ok"] == r["n_caption_ok"]
                        == r["n_phash_ok"])
                or r["lossy_psnr_ge_40"] is not True):
            return f"image verify invariants broken: {rows}"
        return None
    return "no oracle and no invariant check"


def check_repeats(passes) -> None:
    """Per operation, fail every pass whose output facts differ from
    those most passes produced (ties: the earliest)."""
    ops = {op for p in passes for op in p.signature}
    for op in sorted(ops):
        vals = [p.signature[op] for p in passes
                if op in p.signature and op not in p.failed]
        if not vals:
            continue
        counts = Counter(vals)
        best = next(v for v in vals if counts[v] == max(counts.values()))
        for p in passes:
            got = p.signature.get(op)
            if got is not None and got != best and op not in p.failed:
                p.failed[op] = f"output {got!r} != other passes {best!r}"
