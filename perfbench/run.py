#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload {crawl,recrawl,queries} \
        --seed N --seconds S --trace {0,1}

Runs from the root of a checkout against the public API of
``distributed_crawler_spark`` at ``local[CORES]``, with load from this one
driver process. Inputs are generated here (see gen.py) and cached under
``.perfbench_cache/``; the first run of a workload in a checkout builds
that workload's inputs. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

from spans import SparkStatus, Tracer, geomean, median, self_times, union_length  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench_cache"
DRIVER_MEM = "3g"
# The run is pinned to this many of the CPUs it may use, with local[CORES].
# A crawl is hundreds of short Spark jobs, each a chain of thread wake-ups;
# on a shared VM an idle vCPU takes a host-dependent time to wake, and at
# local[4] on 4 vCPUs the same crawl took 13-20 s from run to run, against
# 17-18 s pinned to 2 (interleaved runs, same seeds).
CORES = 2

END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "step_geomean_s": "s",
}


@dataclass(frozen=True)
class CrawlSpec:
    """A crawl workload: corpus size, which seeded share of its pages
    seeds the crawl, and the crawl config. The warm-up crawl uses the
    same config without retries, seeded from ``warm_keep`` buckets drawn
    with another seed."""

    docs: int
    buckets: int
    keep: int
    max_depth: int
    max_urls_per_domain: int
    max_retries: int
    warm_keep: int


WORKLOADS = {
    # the bench.py --crawl shape cut to the time budget: small rounds, so
    # the scheduler's fixed per-round cost dominates and parsing barely
    # shows; round 2 only retries
    "crawl": CrawlSpec(
        docs=1000, buckets=5, keep=2, max_depth=1, max_urls_per_domain=100,
        max_retries=1, warm_keep=2,
    ),
    # seed-list recrawl: most pages are seeds, one level deep, no retries;
    # parsing and scheduling at volume dominate each round
    "recrawl": CrawlSpec(
        docs=20000, buckets=10, keep=9, max_depth=1, max_urls_per_domain=10**6,
        max_retries=0, warm_keep=1,
    ),
}
QUERY_DOCS = 1000
# the flagship BFS, the light consumers of the small-table rebalance, the
# map-heavy queries it speeds up, and the live and index-backed search
# paths (frontier_priority, dedup_clusters and curate_corpus are left out
# to keep a run inside the time budget; see README.md)
QUERIES = [
    "crawl_bfs", "pii_scrub", "quality_score", "hourly_history",
    "join_enrich", "search_analytics", "search_bm25", "search_multifield",
    "search_bm25_stemmed", "search_multifield_indexed", "search_phrase_indexed",
]
CRAWL_WRITES = ["seed", "cohort", "seen", "counts", "lineage"]
SPARK_TOTALS = [
    "jobs", "stages", "tasks", "failed_tasks", "input_bytes",
    "shuffle_write_bytes", "spill_bytes", "gc_ms",
]


def per_layer_units() -> dict[str, str]:
    units = {f"{w}.wall_s": "s" for w in CRAWL_WRITES}
    units.update({
        "probe.wall_s": "s",
        "summary.wall_s": "s",
        "round_s_p50": "s",
        "round_s_max": "s",
        "retry_round_s_p50": "s",
        "rounds": "count",
        "driver.idle_s": "s",
        "scheduler.self_s": "s",
        "state.files_written": "count",
        "state.bytes_written": "B",
        "state.bytes_per_url": "B/URL",
        "retry.share": "ratio",
        "extract.wall_s": "s",
        "parse.pages_per_s": "pages/s",
        "plan.fetch_extract_s": "s",
        "fetch.hit_ratio": "ratio",
        "schedule.wall_s": "s",
        "plan.schedule_candidates_s": "s",
        "schedule.shuffle_write_bytes": "B",
        "schedule.fresh_ratio": "ratio",
    })
    units.update({
        f"spark.{k}": "ms" if k == "gc_ms" else
        "count" if k in ("jobs", "stages", "tasks", "failed_tasks") else "B"
        for k in SPARK_TOTALS
    })
    units.update({
        "jvm.peak_rss_mb": "MB",
        "extract.input_bytes": "B",
        "cohort.input_bytes": "B",
        "lineage.input_bytes": "B",
    })
    for q in QUERIES:
        units.update({f"q.{q}.build_s": "s", f"q.{q}.exec_s": "s", f"q.{q}.jobs": "count"})
    units.update({"op.wall_s": "s", "trace.overhead": "ratio"})
    return units


PER_LAYER = per_layer_units()


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- environment


def configure_env(cores: int) -> None:
    """Session environment for a small shared host, set before pyspark or the
    package is imported (EngineConfig reads it at import). Every scratch
    path the session, its JVM and its Python workers use is inside the
    checkout."""
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(CACHE / "spark-local"),
        TMPDIR=str(tmp),
        # the JVM's java.io.tmpdir (native-library extraction, spills);
        # _JAVA_OPTIONS is read after the command line, so it wins. No
        # perf-data file: HotSpot would write it under /tmp regardless.
        _JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.ui.retainedJobs=100000 "
            "--conf spark.ui.retainedStages=100000 pyspark-shell"
        ),
    )
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


# --------------------------------------------------------------------- inputs


class Inputs:
    """The generated tables and corpora, built once per checkout under a
    path keyed by the generator and corpus formats."""

    def __init__(self, spark) -> None:
        import gen
        from distributed_crawler_spark.corpus import CORPUS_FORMAT

        self.spark = spark
        self.dir = CACHE / f"data-g{gen.DATA_FORMAT}-c{CORPUS_FORMAT}"

    def sf(self, docs: int) -> str:
        return str(self.dir / f"sf{docs}")

    def corpus(self, docs: int) -> str:
        return str(self.dir / f"corpus{docs}")

    def oracle_path(self) -> Path:
        return self.dir / f"oracle{QUERY_DOCS}.pkl"

    def tables(self, docs: int) -> str:
        """The base tables for ``docs`` documents, generated if missing."""
        import gen

        sf = self.sf(docs)
        if not (Path(sf) / "_READY").exists():
            shutil.rmtree(sf, ignore_errors=True)
            gen.write_tables(sf, docs)
            (Path(sf) / "_READY").touch()
        return sf

    def html_corpus(self, docs: int) -> str:
        """The HTML corpus over ``docs`` documents, built if missing."""
        from distributed_crawler_spark.corpus import build_html_corpus

        out = self.corpus(docs)
        if not (Path(out) / "robots.parquet" / "_SUCCESS").exists():
            log(f"building the {docs}-page HTML corpus")
            build_html_corpus(self.spark, self.tables(docs), out, text_repeat=40, extra_links=15)
        return out

    def query_tables(self) -> str:
        """The query tables, their index snapshots and the oracle results.
        The registry caches the snapshots under the session temp dir (in
        the cache), keyed on the documents table, so after the first run
        this is a cache check."""
        from distributed_crawler_spark.plans import registry

        sf = self.tables(QUERY_DOCS)
        registry._cached_index(self.spark, sf)
        registry._cached_multifield_raw_index(self.spark, sf)
        if not self.oracle_path().exists():
            log("computing the DuckDB oracle results")
            write_oracle(sf, self.oracle_path())
        return sf


def _norm(v):
    from decimal import Decimal

    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if v != v else round(v, 6)
    return v


def _sort_key(v):
    if v is None:
        return (0, 0, "")
    if isinstance(v, (bool, int, float)):
        return (1, v, "")
    return (2, 0, repr(v))


def normalized_rows(cols: list[str], rows) -> list[tuple]:
    """Rows as order-free comparable data: columns in name order, floats
    rounded to 6 places, rows sorted (tests/test_queries_oracle.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(_sort_key(v) for v in t))


def write_oracle(sf_dir: str, path: Path) -> None:
    import pickle

    import duckdb
    from distributed_crawler_spark.plans import registry

    con = duckdb.connect()
    try:
        for t in sorted(os.listdir(sf_dir)):
            if t.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{sf_dir}/{t}/*.parquet'"
                )
        expected = {}
        for name in QUERIES:
            res = con.execute(registry.ORACLES[name])
            cols = [c[0] for c in res.description]
            expected[name] = (sorted(cols), normalized_rows(cols, res.fetchall()))
    finally:
        con.close()
    tmp = path.with_suffix(".tmp")
    with open(tmp, "wb") as f:
        pickle.dump(expected, f)
    tmp.replace(path)


# ------------------------------------------------------------------ workloads


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    ops: list = field(default_factory=list)  # per op: (wall_s, [step wall_s], summary)
    layers: dict = field(default_factory=dict)


class CrawlWorkload:
    def __init__(self, name: str, spark, inputs: Inputs, seed: int) -> None:
        import gen
        from distributed_crawler_spark.config import CrawlConfig

        self.name, self.spark, self.seed = name, spark, seed
        self.spec = spec = WORKLOADS[name]
        self.cfg = CrawlConfig(
            max_depth=spec.max_depth,
            max_urls_per_domain=spec.max_urls_per_domain,
            max_retries=spec.max_retries,
        )
        self.warm_cfg = CrawlConfig(
            max_depth=spec.max_depth,
            max_urls_per_domain=spec.max_urls_per_domain,
            max_retries=0,
        )
        self.corpus = inputs.html_corpus(spec.docs)
        self.state = str(CACHE / "state" / name)
        self.gen = gen
        self.tracer = Tracer()
        self._time_rounds()

    def _time_rounds(self) -> None:
        """Record a span around each crawl round (CrawlScheduler._run_round)
        into whichever tracer the workload holds: two clock reads per
        round when untraced."""
        from distributed_crawler_spark.operators.scheduler import CrawlScheduler

        run_round = CrawlScheduler._run_round
        workload = self

        def timed(sched, rnd):
            with workload.tracer.span("round") as s:
                s.attrs["round"] = rnd
                return run_round(sched, rnd)

        CrawlScheduler._run_round = timed

    def load(self) -> None:
        """Read the corpus and derive this seed's crawl seeds (the
        repeatable part of set-up)."""
        import pyarrow.dataset as ds

        self.pages = self.spark.read.parquet(f"{self.corpus}/pages.parquet")
        self.robots = self.spark.read.parquet(f"{self.corpus}/robots.parquet")
        urls = ds.dataset(f"{self.corpus}/pages.parquet").to_table(columns=["url"])
        urls = urls.column("url").to_pylist()
        self.seed_list = self.gen.seed_urls(urls, self.seed, self.spec.buckets, self.spec.keep)
        warm = self.gen.seed_urls(urls, self.seed + 1, self.spec.buckets, self.spec.warm_keep)
        self.seeds = self._frame(self.seed_list)
        self.warm_seeds = self._frame(warm)

    def _frame(self, urls):
        return self.spark.createDataFrame([(u,) for u in urls], "url string")

    def scheduler(self, cfg):
        from distributed_crawler_spark.operators.scheduler import CrawlScheduler

        shutil.rmtree(self.state, ignore_errors=True)
        return CrawlScheduler(self.spark, self.pages, self.robots, self.state, cfg)

    def warm_up(self) -> None:
        self.scheduler(self.warm_cfg).run(seeds=self.warm_seeds)

    def op(self):
        """One crawl: CrawlScheduler.run over this seed's seeds. Returns
        (wall_s, per-round wall_s, summary)."""
        sched = self.scheduler(self.cfg)
        tracer = self.tracer
        mark = len(tracer.spans)
        t0 = time.monotonic()
        summary = sched.run(seeds=self.seeds)
        wall = time.monotonic() - t0
        rounds = [s.wall for s in tracer.spans[mark:] if s.name == "round"]
        self.last = sched
        return wall, rounds, summary

    def check(self, summaries) -> list[str]:
        """Every op's summary and the last op's frontier must equal the
        pure-Python oracle simulator on the same seeds and config."""
        from collections import Counter

        from pyspark.sql import functions as F
        from tests import oracle_sim

        pages, robots, _ = oracle_sim.load_corpus(self.corpus)
        _, front, _, _ = oracle_sim.simulate(
            pages, robots, self.seed_list,
            max_depth=self.cfg.max_depth,
            max_urls_per_domain=self.cfg.max_urls_per_domain,
            max_retries=self.cfg.max_retries,
        )
        want_status = dict(Counter(st for _, st in front.values()))
        errors = [
            f"op {i}: by_status {s['by_status']} != oracle {want_status}"
            for i, s in enumerate(summaries)
            if s["by_status"] != want_status
        ]
        got = {
            r["url"]: (r["depth"], r["status"])
            for r in self.last.frontier()
            .select("url", F.col("depth").cast("int").alias("depth"), "status")
            .collect()
        }
        if got != front:
            diff = sorted(set(got.items()) ^ set(front.items()))[:3]
            errors.append(f"frontier differs from the oracle, e.g. {diff}")
        return errors


class QueryWorkload:
    def __init__(self, name: str, spark, inputs: Inputs, seed: int) -> None:
        import gen

        self.spark = spark
        self.sf = inputs.query_tables()
        self.oracle_path = inputs.oracle_path()
        self.order = gen.query_order(QUERIES, seed)
        self.errors: list[str] = []
        self.checked = 0
        self.tracer = Tracer()

    def load(self) -> None:
        import pickle

        from distributed_crawler_spark.plans import registry

        self.fns = {q: registry.QUERIES[q] for q in QUERIES}
        with open(self.oracle_path, "rb") as f:
            self.expected = pickle.load(f)

    def warm_up(self) -> None:
        """One pass that collects every query's output and checks it
        against its DuckDB oracle; it also warms the JVM."""
        for q in self.order:
            self.checked += 1
            try:
                df = self.fns[q](self.spark, self.sf)
                cols = df.columns
                got = (sorted(cols), normalized_rows(cols, df.collect()))
            except Exception:  # noqa: BLE001 - a failing query is a failed operation
                self.errors.append(f"{q}: raised\n{traceback.format_exc()}")
                continue
            if got != self.expected[q]:
                self.errors.append(
                    f"{q}: {len(got[1])} rows differ from the oracle's "
                    f"{len(self.expected[q][1])}"
                )

    def op(self):
        """One pass over the queries in this seed's order, each built by
        its registry function and run into the noop sink."""
        tracer = self.tracer
        steps = []
        for q in self.order:
            t0 = time.monotonic()
            with tracer.span(f"q.{q}.build"):
                df = self.fns[q](self.spark, self.sf)
            with tracer.span(f"q.{q}.exec"):
                df.write.format("noop").mode("overwrite").save()
            steps.append(time.monotonic() - t0)
        return sum(steps), steps, None


# -------------------------------------------------------------------- tracing


def state_table(path: str) -> str:
    """The state table a parquet write targets: the directory above
    ``round=R`` (``pending`` at round 0 is the seed cohort)."""
    parts = Path(str(path)).parts
    for i, p in enumerate(parts):
        if p.startswith("round=") and i > 0:
            table = parts[i - 1]
            if table == "pending":
                return "seed" if p == "round=0" else "pending"
            return table
    return "other"


def install_crawl_spans(tracer) -> None:
    """Wrap the public calls of the crawl layers with spans."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    from distributed_crawler_spark.operators import scheduler

    cls = scheduler.CrawlScheduler
    for meth in ("run", "_seen_and_counts", "summary", "frontier", "_frontier_rollup"):
        tracer.wrap(cls, meth, f"scheduler.{meth.strip('_')}")
    tracer.wrap(scheduler, "fetch_extract", "plan.fetch_extract")
    tracer.wrap(scheduler, "schedule_candidates", "plan.schedule_candidates")
    tracer.wrap(
        DataFrameWriter, "parquet",
        lambda self, *a, **k: f"write.{state_table(a[0] if a else k['path'])}",
    )
    tracer.wrap(DataFrame, "count", "count")


def crawl_layers(w: CrawlWorkload, root, summary) -> dict:
    """Per-layer metrics of one traced crawl op from its spans, plus
    counts read back from its state directory."""
    from pyspark.sql import functions as F

    spans = w.tracer.descendants(root)
    selfs = self_times(spans)

    def wall(name):
        return sum(s.wall for s in spans if s.name == name)

    def spark_sum(name, key):
        return sum(s.spark.get(key, 0) for s in spans if s.name == name)

    m = {f"{t}.wall_s": wall(f"write.{t}") for t in CRAWL_WRITES}
    m["probe.wall_s"] = wall("count")
    m["summary.wall_s"] = wall("scheduler.summary")
    rounds = sorted(s.wall for s in spans if s.name == "round")
    m["rounds"] = len(rounds)
    m["round_s_p50"] = median(rounds)[0]
    m["round_s_max"] = max(rounds)
    job_time = union_length([j for s in spans for j in s.jobs])
    m["driver.idle_s"] = root.wall - job_time
    m["scheduler.self_s"] = sum(
        selfs[s.sid] for s in spans if s.name.startswith("scheduler.") or s.name in ("round", "op")
    )
    m["extract.wall_s"] = wall("write.extracted")
    m["schedule.wall_s"] = wall("write.pending")
    m["plan.fetch_extract_s"] = wall("plan.fetch_extract")
    m["plan.schedule_candidates_s"] = wall("plan.schedule_candidates")
    m["schedule.shuffle_write_bytes"] = spark_sum("write.pending", "shuffle_write_bytes")
    for t in ("extracted", "cohort", "lineage"):
        key = "extract" if t == "extracted" else t
        m[f"{key}.input_bytes"] = spark_sum(f"write.{t}", "input_bytes")
    for k in SPARK_TOTALS:
        m[f"spark.{k}"] = sum(s.spark.get(k, 0) for s in spans)

    files = nbytes = 0
    for d, _, fs in os.walk(w.state):
        for f in fs:
            files += 1
            nbytes += os.path.getsize(os.path.join(d, f))
    m["state.files_written"] = files
    m["state.bytes_written"] = nbytes
    m["state.bytes_per_url"] = nbytes / summary["total_scheduled"]

    # attempts per round, read back outside every span
    root_dir = f"{w.state}/job={w.cfg.job_id}"
    cohort = w.spark.read.parquet(f"{root_dir}/cohort")
    att = cohort.agg(
        F.count("*").alias("n"),
        F.sum((F.col("status") == "completed").cast("long")).alias("hit"),
        F.sum((F.col("retry_count") > 0).cast("long")).alias("retry"),
    ).first()
    m["fetch.hit_ratio"] = att["hit"] / att["n"]
    m["retry.share"] = att["retry"] / att["n"]
    m["parse.pages_per_s"] = att["hit"] / m["extract.wall_s"]
    per_round = cohort.groupBy("round").agg(
        F.max((F.col("retry_count") == 0).cast("int")).alias("fresh")
    ).collect()
    retry_only = {r["round"] for r in per_round if r["fresh"] == 0}
    retry_rounds = [s.wall for s in spans if s.name == "round" and s.attrs["round"] in retry_only]
    m["retry_round_s_p50"] = median(retry_rounds)[0] if retry_rounds else 0.0
    cand = (
        w.spark.read.parquet(f"{root_dir}/extracted")
        .select("round", F.explode("links").alias("url"), (F.col("depth") + 1).alias("d"))
        .filter(F.col("d") <= w.cfg.max_depth)
        .select("round", "url").distinct().count()
    )
    fresh = (
        w.spark.read.parquet(f"{root_dir}/pending")
        .filter((F.col("round") > 0) & (F.col("retry_count") == 0))
        .count()
    )
    m["schedule.fresh_ratio"] = fresh / cand if cand else 0.0
    return m


def query_layers(tracer, root) -> dict:
    spans = tracer.descendants(root)
    m = {}
    for q in QUERIES:
        for part in ("build", "exec"):
            m[f"q.{q}.{part}_s"] = sum(s.wall for s in spans if s.name == f"q.{q}.{part}")
        below = [
            s2
            for s in spans
            if s.name in (f"q.{q}.build", f"q.{q}.exec")
            for s2 in tracer.descendants(s)
        ]
        m[f"q.{q}.jobs"] = sum(s.spark.get("jobs", 0) for s in below)
    m["driver.idle_s"] = root.wall - union_length([j for s in spans for j in s.jobs])
    for k in SPARK_TOTALS:
        m[f"spark.{k}"] = sum(s.spark.get(k, 0) for s in spans)
    return m


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# ----------------------------------------------------------------------- main


def run(args) -> dict:
    cpus = sorted(os.sched_getaffinity(0))[:CORES]
    os.sched_setaffinity(0, cpus)  # inherited by the JVM and its workers
    configure_env(len(cpus))
    from distributed_crawler_spark.session import get_spark

    spark = get_spark(cores=int(os.environ["SPARK_GRAFT_CPUS"]), app_name="perfbench")
    log("session up")
    is_crawl = args.workload in WORKLOADS
    # building the inputs, or finding them in the cache, is part of set-up
    w = (CrawlWorkload if is_crawl else QueryWorkload)(args.workload, spark, Inputs(spark), args.seed)

    # the repeatable part of set-up runs three times and its median counts
    loads = []
    for _ in range(3):
        t0 = time.time()
        w.load()
        loads.append(time.time() - t0)
    log("inputs loaded")
    w.warm_up()
    setup_s = time.time() - T_START - sum(loads) + median(loads)[0]
    log(f"set-up {setup_s:.2f}s (input loads {[round(x, 3) for x in loads]} s)")

    res = Result()

    def one():
        res.attempted += 1
        try:
            wall, steps, summary = w.op()
        except Exception:  # noqa: BLE001 - a failing op is counted, not fatal
            res.failed += 1
            log(f"op failed:\n{traceback.format_exc()}")
            return None
        res.ops.append((wall, steps, summary))
        log(f"op {len(res.ops)}: {wall:.3f}s, steps {[round(x, 2) for x in steps]}")
        return summary

    if not args.trace:
        # back to back while the next op is expected to end inside the
        # window, so a run on a busy host takes no longer than on a quiet
        # one: it measures fewer ops instead
        t_meas = time.monotonic()
        while not res.failed:
            one()
            expected = median([o[0] for o in res.ops])[0] if res.ops else 0.0
            if time.monotonic() - t_meas + expected > args.seconds:
                break
    else:
        # one op untraced, as the overhead reference, then one traced
        if one() is not None or not is_crawl:
            status = SparkStatus(spark)
            w.tracer = tracer = Tracer(status)
            if is_crawl:
                install_crawl_spans(tracer)
            else:
                from pyspark.sql.classic.dataframe import DataFrame

                tracer.wrap(DataFrame, "count", "count")
            with tracer.span("op") as root:
                summary = one()
            status.set_group(None)
            if len(res.ops) == 2:
                res.layers = (
                    crawl_layers(w, root, summary) if is_crawl else query_layers(tracer, root)
                )
            trace_dir = CACHE / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            tracer.dump(str(trace_dir / f"{args.workload}-seed{args.seed}.json"))

    # correctness, outside every timed region
    if is_crawl:
        summaries = [o[2] for o in res.ops]
        errors = w.check(summaries) if summaries else []
        if errors:
            res.failed += len(summaries)
    else:
        errors = w.errors
        res.attempted += w.checked
        res.failed += len(errors)
    for e in errors:
        log(f"CHECK FAILED: {e}")
    res.correct = not errors and res.failed == 0

    ops = res.ops
    if args.trace:
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update(res.layers)
        if len(ops) == 2:
            m["op.wall_s"] = ops[1][0]
            m["trace.overhead"] = ops[1][0] / ops[0][0] - 1.0
        m["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
        metrics = {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": setup_s,
            "op_s": median([o[0] for o in ops])[0] if ops else 0.0,
            "step_geomean_s": median([geomean(o[1]) for o in ops])[0] if ops else 0.0,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        report(args.workload, ops, res, setup_s)
    stop_session(spark)
    return {
        "correct": res.correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit
    (its Python workers exit with it)."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def report(workload: str, ops, res: Result, setup_s: float) -> None:
    """Human-readable lines (stdout, before the JSON) with the
    workload-specific figures."""
    lines = [
        f"workload {workload}: {len(ops)} op(s) measured at local[{os.environ['SPARK_GRAFT_CPUS']}]"
        f" on CPUs {sorted(os.sched_getaffinity(0))}"
    ]
    lines.append(f"  setup_s             {setup_s:.3f} s")
    if ops and ops[0][2] is not None:
        urls = [o[2]["total_scheduled"] / o[0] for o in ops]
        lines.append(f"  crawl_urls_per_s    {median(urls)[0]:.1f} URLs/s (n={len(urls)})")
        lines.append(f"  urls_scheduled      {ops[0][2]['total_scheduled']} URLs in {len(ops[0][1])} rounds")
    elif ops:
        lines.append(f"  queries_total_s     {median([o[0] for o in ops])[0]:.3f} s (n={len(ops)})")
        lines.append(f"  queries_geomean_s   {median([geomean(o[1]) for o in ops])[0]:.3f} s")
    rate = res.failed / res.attempted if res.attempted else 0.0
    lines.append(f"  error_rate          {rate:.4f} ratio ({res.failed}/{res.attempted})")
    print("\n".join(lines), flush=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "queries"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not (ROOT / "distributed_crawler_spark" / "__init__.py").is_file():
        print(f"no distributed_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    out = run(args)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
