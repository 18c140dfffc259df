"""Crawl-order / URL-seen / extracted-text / politeness parity between the
Spark engine and the pure-Python oracle simulator (SURVEY.md §5.2 tests
2-6), plus the resume test."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from distributed_crawler_spark.config import CrawlConfig
from distributed_crawler_spark.operators.scheduler import CrawlScheduler

from .oracle_sim import load_corpus, simulate

MAX_DEPTH = 3
BUDGET = 8  # small budget so the gate actually binds at sf0.001


@pytest.fixture(scope="module")
def oracle(corpus_dir):
    pages, robots, seeds = load_corpus(corpus_dir)
    return simulate(pages, robots, seeds, MAX_DEPTH, BUDGET)


@pytest.fixture(scope="module")
def engine(spark, corpus_dir):
    state = "/tmp/dcs_state_parity"
    shutil.rmtree(state, ignore_errors=True)
    sched = CrawlScheduler(
        spark,
        spark.read.parquet(f"{corpus_dir}/pages.parquet"),
        spark.read.parquet(f"{corpus_dir}/robots.parquet"),
        state,
        CrawlConfig(max_depth=MAX_DEPTH, max_urls_per_domain=BUDGET),
    )
    sched.run(seeds=spark.read.parquet(f"{corpus_dir}/seeds.parquet"))
    return sched


def test_crawl_order_parity(engine, oracle):
    order_oracle, _, _, _ = oracle
    got = [
        (r["seq"], r["round"], r["url"])
        for r in engine.crawl_order().orderBy("seq").collect()
        if r["round"] in {rnd for _, rnd, _ in order_oracle}
    ]
    # compare the processed prefix (oracle order excludes the unprocessed
    # pending tail; engine crawl_order includes it — trim to oracle length)
    assert got[: len(order_oracle)] == order_oracle


def test_url_seen_parity(engine, oracle):
    _, frontier_oracle, _, _ = oracle
    got = {r["url"] for r in engine.url_seen().collect()}
    assert got == set(frontier_oracle)


def test_status_and_depth_parity(engine, oracle):
    _, frontier_oracle, _, _ = oracle
    got = {
        r["url"]: (r["depth"], r["status"])
        for r in engine.frontier().collect()
    }
    assert got == frontier_oracle


def test_extracted_text_byte_parity(engine, oracle):
    _, _, extracted_oracle, _ = oracle
    got = {
        r["url"]: r["text"] for r in engine.extracted_all().select("url", "text").collect()
    }
    assert got == extracted_oracle


def test_politeness_invariants(engine):
    front = engine.frontier()
    # no host over budget (master_node.py:340-343)
    over = front.groupBy("host").count().filter(F.col("count") > BUDGET).count()
    assert over == 0
    # depth never exceeds max_depth (master_node.py:332-334)
    assert front.filter(F.col("depth") > MAX_DEPTH).count() == 0


def test_lineage_shape(engine):
    rows = engine.lineage_all().collect()
    assert {c for c in engine.lineage_all().columns} == {
        "round", "partition_id", "urls_in", "urls_out", "bytes", "wall_ms"
    }
    # urls_in counts ATTEMPTS: every processed url ran retry_count+1 times
    # (its failures plus the final attempt); still-pending urls ran
    # retry_count times so far
    front = engine.frontier().collect()
    want_attempts = sum(
        (r["retry_count"] + 1) if r["status"] != "pending" else r["retry_count"]
        for r in front
    )
    assert sum(r["urls_in"] for r in rows) == want_attempts


def test_resume_equals_uninterrupted(spark, corpus_dir, engine, oracle):
    """Kill after round 1, resume, compare final state (SURVEY §5.2.5)."""
    state = "/tmp/dcs_state_resume"
    shutil.rmtree(state, ignore_errors=True)
    cfg = CrawlConfig(max_depth=MAX_DEPTH, max_urls_per_domain=BUDGET)
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    robots = spark.read.parquet(f"{corpus_dir}/robots.parquet")
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")

    sched = CrawlScheduler(spark, pages, robots, state, cfg)
    sched.run(seeds=seeds, stop_after_round=1)
    assert sched.committed_rounds() == [0, 1]

    resumed = CrawlScheduler(spark, pages, robots, state, cfg)
    resumed.run(resume=True)

    want = {
        (r["url"], r["depth"], r["status"]) for r in engine.frontier().collect()
    }
    got = {(r["url"], r["depth"], r["status"]) for r in resumed.frontier().collect()}
    assert got == want


def test_resume_after_torn_round(spark, corpus_dir, engine):
    """Crash AFTER writing cohort/extracted but BEFORE the lineage commit
    marker: the round must be re-run idempotently and converge to the
    same final state (the lineage write is the commit point)."""
    import os

    state = "/tmp/dcs_state_torn"
    shutil.rmtree(state, ignore_errors=True)
    cfg = CrawlConfig(max_depth=MAX_DEPTH, max_urls_per_domain=BUDGET)
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    robots = spark.read.parquet(f"{corpus_dir}/robots.parquet")
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")

    sched = CrawlScheduler(spark, pages, robots, state, cfg)
    sched.run(seeds=seeds, stop_after_round=1)
    # tear round 1: cohort/extracted/pending(2) exist, lineage removed
    shutil.rmtree(os.path.join(state, f"job={cfg.job_id}", "lineage", "round=1"))
    assert sched.committed_rounds() == [0]

    resumed = CrawlScheduler(spark, pages, robots, state, cfg)
    resumed.run(resume=True)
    want = {(r["url"], r["depth"], r["status"]) for r in engine.frontier().collect()}
    got = {(r["url"], r["depth"], r["status"]) for r in resumed.frontier().collect()}
    assert got == want


@pytest.mark.parametrize(
    "budget,respect_robots", [(3, False), (1, True)]
)
def test_parity_at_config_extremes(spark, corpus_dir, budget, respect_robots):
    """Engine ≡ oracle under tight budgets and robots off — the gate
    interactions (budget starvation, robots-skipped hosts) must agree
    everywhere, not just at defaults."""
    pages_d, robots_d, seeds_d = load_corpus(corpus_dir)
    want_order, want_frontier, _, _ = simulate(
        pages_d, robots_d, seeds_d, MAX_DEPTH, budget, respect_robots
    )

    state = f"/tmp/dcs_state_extreme_{budget}_{respect_robots}"
    shutil.rmtree(state, ignore_errors=True)
    cfg = CrawlConfig(
        max_depth=MAX_DEPTH,
        max_urls_per_domain=budget,
        respect_robots=respect_robots,
    )
    sched = CrawlScheduler(
        spark,
        spark.read.parquet(f"{corpus_dir}/pages.parquet"),
        spark.read.parquet(f"{corpus_dir}/robots.parquet"),
        state,
        cfg,
    )
    sched.run(seeds=spark.read.parquet(f"{corpus_dir}/seeds.parquet"))

    got = {
        r["url"]: (r["depth"], r["status"]) for r in sched.frontier().collect()
    }
    assert got == want_frontier
    got_order = [
        (r["seq"], r["round"], r["url"])
        for r in sched.crawl_order().orderBy("seq").collect()
    ]
    assert got_order[: len(want_order)] == want_order


def test_flaky_fetch_retry_parity(spark, corpus_dir):
    """Transient fetch failures (crc32(url) % 3 initial misses) must be
    retried to completion with the same final frontier, retry counts,
    crawl order, and extracted text as the row-at-a-time oracle running
    the identical retry rule (crawler_node.py:160,887-916)."""
    pages_d, robots_d, seeds_d = load_corpus(corpus_dir)
    want_order, want_frontier, want_text, want_retries = simulate(
        pages_d, robots_d, seeds_d, MAX_DEPTH, BUDGET,
        max_retries=2, flaky_mod=3,
    )

    state = "/tmp/dcs_state_flaky"
    shutil.rmtree(state, ignore_errors=True)
    cfg = CrawlConfig(
        max_depth=MAX_DEPTH, max_urls_per_domain=BUDGET,
        max_retries=2, flaky_mod=3,
    )
    sched = CrawlScheduler(
        spark,
        spark.read.parquet(f"{corpus_dir}/pages.parquet"),
        spark.read.parquet(f"{corpus_dir}/robots.parquet"),
        state,
        cfg,
    )
    sched.run(seeds=spark.read.parquet(f"{corpus_dir}/seeds.parquet"))

    front = sched.frontier().collect()
    got = {r["url"]: (r["depth"], r["status"]) for r in front}
    assert got == want_frontier
    got_retries = {r["url"]: r["retry_count"] for r in front if r["retry_count"]}
    assert got_retries == {u: k for u, k in want_retries.items() if k}

    got_order = [
        (r["seq"], r["round"], r["url"])
        for r in sched.crawl_order().orderBy("seq").collect()
    ]
    assert got_order[: len(want_order)] == want_order

    got_text = {
        r["url"]: r["text"]
        for r in sched.extracted_all().select("url", "text").collect()
    }
    assert got_text == want_text


def test_resend_failed_after_retry_budget_bump(spark, corpus_dir):
    """Crawl with retries OFF (transient failures stay failed), then bump
    max_retries, resend_failed(), resume: previously-failed urls complete.
    Mirrors the master's resend_urls command (master_node.py:994-1062)."""
    pages_d, robots_d, seeds_d = load_corpus(corpus_dir)
    state = "/tmp/dcs_state_resend"
    shutil.rmtree(state, ignore_errors=True)
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    robots = spark.read.parquet(f"{corpus_dir}/robots.parquet")
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")

    cfg0 = CrawlConfig(
        max_depth=MAX_DEPTH, max_urls_per_domain=BUDGET,
        max_retries=0, flaky_mod=3,
    )
    CrawlScheduler(spark, pages, robots, state, cfg0).run(seeds=seeds)
    flaky_failed = {
        r["url"]
        for r in CrawlScheduler(spark, pages, robots, state, cfg0)
        .frontier()
        .filter(F.col("status") == "failed")
        .collect()
    }
    assert flaky_failed, "fault injection should have produced failures"

    cfg1 = CrawlConfig(
        max_depth=MAX_DEPTH, max_urls_per_domain=BUDGET,
        max_retries=3, flaky_mod=3,
    )
    sched1 = CrawlScheduler(spark, pages, robots, state, cfg1)
    n = sched1.resend_failed()
    assert n == len(flaky_failed)
    sched1.run(resume=True)

    still_failed = {
        r["url"]
        for r in sched1.frontier().filter(F.col("status") == "failed").collect()
    }
    # every transiently-failed url whose page exists must now be completed
    recovered = {u for u in flaky_failed if u in pages_d}
    assert recovered.isdisjoint(still_failed)
    # of the ORIGINAL failures only true fetch misses may remain failed
    # (the resumed crawl also discovers new children of recovered pages,
    # which may fail on their own — those are out of scope here)
    assert still_failed & flaky_failed == {
        u for u in flaky_failed if u not in pages_d
    }


def test_two_jobs_share_state_dir_without_collision(spark, corpus_dir):
    """Two crawls with different job_ids in ONE state_dir: each job's
    frontier/dedup/budget is independent (master_node.py:161-170 keys the
    url table on (url, job_id)), and each equals the same crawl run alone
    in its own state_dir."""
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    robots = spark.read.parquet(f"{corpus_dir}/robots.parquet")
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")

    shared = "/tmp/dcs_state_multijob"
    shutil.rmtree(shared, ignore_errors=True)
    cfg_a = CrawlConfig(max_depth=1, max_urls_per_domain=BUDGET, job_id="job-A")
    cfg_b = CrawlConfig(max_depth=2, max_urls_per_domain=3, job_id="job-B")

    # interleave: A runs, then B runs in the same dir, then A resumes —
    # B must neither see A's URLs as duplicates nor consume A's budget
    sa = CrawlScheduler(spark, pages, robots, shared, cfg_a)
    sa.run(seeds=seeds, stop_after_round=0)
    sb = CrawlScheduler(spark, pages, robots, shared, cfg_b)
    sb.run(seeds=seeds)
    sa.run(resume=True)

    def rows(s):
        return {
            (r["url"], r["depth"], r["status"]) for r in s.frontier().collect()
        }

    for cfg, got in ((cfg_a, rows(sa)), (cfg_b, rows(sb))):
        solo_state = f"/tmp/dcs_state_solo_{cfg.job_id}"
        shutil.rmtree(solo_state, ignore_errors=True)
        solo = CrawlScheduler(spark, pages, robots, solo_state, cfg)
        solo.run(seeds=seeds)
        assert got == rows(solo), cfg.job_id

    # and the frontier rows carry their job_id
    assert {r["job_id"] for r in sa.frontier().collect()} == {"job-A"}
    assert {r["job_id"] for r in sb.frontier().collect()} == {"job-B"}


def test_delayed_retry_tail_fully_drained(spark, corpus_dir):
    """ADVICE r02: with transient failures delaying completions, children
    within max_depth can be discovered past the naive
    max_depth+max_retries round bound. The bound is now relative to the
    invocation's start and sized for the worst delayed chain, so one run
    drains everything and a resume finds nothing left."""
    state = "/tmp/dcs_state_delayed_tail"
    shutil.rmtree(state, ignore_errors=True)
    cfg = CrawlConfig(
        max_depth=2, max_urls_per_domain=10, max_retries=3, flaky_mod=4
    )
    s = CrawlScheduler(
        spark,
        spark.read.parquet(f"{corpus_dir}/pages.parquet"),
        spark.read.parquet(f"{corpus_dir}/robots.parquet"),
        state,
        cfg,
    )
    s.run(seeds=spark.read.parquet(f"{corpus_dir}/seeds.parquet"))
    committed = s.committed_rounds()
    # nothing processable may remain parked in a pending round
    assert s.frontier().filter(F.col("status") == "pending").count() == 0
    # and a resume is a no-op
    s.run(resume=True)
    assert s.committed_rounds() == committed


def test_extracted_all_spans_pre_depth_layout(spark, corpus_dir):
    """ADVICE r02: extracted tables written before the depth column
    existed must still union with post-upgrade rounds (shim fills depth
    from the round number, mirroring with_retry_count)."""
    import os

    state = "/tmp/dcs_state_legacy_extracted"
    shutil.rmtree(state, ignore_errors=True)
    cfg = CrawlConfig(max_depth=2, max_urls_per_domain=8)
    s = CrawlScheduler(
        spark,
        spark.read.parquet(f"{corpus_dir}/pages.parquet"),
        spark.read.parquet(f"{corpus_dir}/robots.parquet"),
        state,
        cfg,
    )
    s.run(seeds=spark.read.parquet(f"{corpus_dir}/seeds.parquet"))

    # strip depth from round 0 to simulate a pre-upgrade state dir
    p0 = os.path.join(state, f"job={cfg.job_id}", "extracted", "round=0")
    legacy = spark.read.parquet(p0).drop("depth")
    tmp = p0 + ".legacy"
    legacy.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(p0)
    os.rename(tmp, p0)

    out = s.extracted_all()
    assert "depth" in out.columns
    assert out.filter(F.col("depth").isNull()).count() == 0


def test_frontier_rollup_compaction(engine):
    """Reporting-path compaction (VERDICT r03 next #6): frontier() reads
    ONE rollup table plus the live pending cohort — never the O(R) cohort
    union — and repeat calls reuse the rollup written by the first."""
    from distributed_crawler_spark.operators.scheduler import ROLLUP, _exists, _p

    committed = engine.committed_rounds()
    front = engine.frontier()  # run()'s summary already built the rollup
    assert _exists(_p(engine._root, ROLLUP, committed[-1]))
    inputs = front.inputFiles()
    assert inputs, "frontier plan reports no input files"
    for f in inputs:
        assert f"/{ROLLUP}/" in f or "/pending/" in f, f"non-compacted input {f}"
    # the rollup row count equals the per-url frontier (one row per url)
    n_rollup = engine._read(ROLLUP, committed[-1]).count()
    assert n_rollup == front.count()


def test_frontier_rollup_prunes_superseded_rounds(spark, corpus_dir):
    """Review r04: the rollup is a cache — pruned to at most TWO
    generations (the newest + the immediately-previous one, which a lazy
    frontier() DataFrame captured before the write may still reference),
    never O(rounds) copies."""
    import os

    from distributed_crawler_spark.operators.scheduler import ROLLUP

    state = "/tmp/dcs_rollup_prune_state"
    shutil.rmtree(state, ignore_errors=True)
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    robots = spark.read.parquet(f"{corpus_dir}/robots.parquet")
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")
    cfg = CrawlConfig(max_depth=2, max_urls_per_domain=4, max_retries=0)
    s = CrawlScheduler(spark, pages, robots, state, cfg)
    s.run(seeds=seeds, stop_after_round=0)   # summary() -> rollup round 0
    held = s.frontier()                       # lazy plan over rollup 0
    s.run(resume=True, stop_after_round=1)    # rollup 1; round 0 KEPT
    rdir = os.path.join(s._root, ROLLUP)

    def rounds():
        return sorted(
            int(d.split("=")[1]) for d in os.listdir(rdir) if d.startswith("round=")
        )

    assert rounds() == [0, 1]
    assert held.count() > 0  # pre-write plan still readable
    s.run(resume=True)                        # newest rollup; 0 pruned
    last = s.committed_rounds()[-1]
    assert rounds() == [1, last] and len(rounds()) <= 2


def test_submit_urls_into_existing_crawl(spark, corpus_dir):
    """submit_url.py parity: injecting new URLs into a FINISHED crawl
    and resuming must converge to the same URL-seen set and per-url
    status as one crawl whose seed set was the union from the start
    (generous budget so scheduling order can't change survivors);
    already-seen and robots-blocked submissions are no-ops; a fresh
    job accepts submissions as its round-0 seeds."""
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    robots = spark.read.parquet(f"{corpus_dir}/robots.parquet")
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")
    cfg = lambda job: CrawlConfig(  # noqa: E731
        max_depth=2, max_urls_per_domain=1000, job_id=job
    )
    extra = pages.select("url").join(seeds, "url", "left_anti").limit(3)
    assert extra.count() == 3

    state = "/tmp/dcs_submit_state"
    shutil.rmtree(state, ignore_errors=True)
    a = CrawlScheduler(spark, pages, robots, state, cfg("job-a"))
    a.run(seeds=seeds)
    before = a.summary()

    n = a.submit_urls(extra)
    assert 1 <= n <= 3  # robots may legitimately reject some
    after = a.run(resume=True)
    assert after["total_scheduled"] >= before["total_scheduled"] + n

    # reference crawl seeded with the union from the start
    b = CrawlScheduler(spark, pages, robots, state, cfg("job-b"))
    b.run(seeds=seeds.unionByName(extra.select("url")))
    fa = {
        (r["url"], r["status"]) for r in a.frontier().select("url", "status").collect()
    }
    fb = {
        (r["url"], r["status"]) for r in b.frontier().select("url", "status").collect()
    }
    assert fa == fb

    # idempotent: resubmitting the same urls schedules nothing
    assert a.submit_urls(extra) == 0
    # already-crawled seeds are no-ops too
    assert a.submit_urls(seeds) == 0

    # fresh job: submissions become the round-0 cohort
    c = CrawlScheduler(spark, pages, robots, state, cfg("job-c"))
    n0 = c.submit_urls(extra)
    assert n0 >= 1
    got = c.run(resume=True)
    assert got["total_scheduled"] >= n0


def _jobs_outside_sql(spark, group: str) -> list[int]:
    """Jobs of ``group`` that no SQL execution launched. In a crawl round
    only a parquet footer-inference job (a read without a schema) is one."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    in_sql = set()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    it = execs.iterator()
    while it.hasNext():
        ids = it.next().jobs().keys().iterator()
        while ids.hasNext():
            in_sql.add(ids.next())
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert jobs, f"no jobs recorded for {group}"
    return sorted(j for j in jobs if j not in in_sql)


def test_state_schemas_match_writers(spark, engine, tmp_path):
    """Every declared state schema equals the schema of the file its
    writer produced (a drifted SCHEMAS entry would read NULLs or fail),
    and re-running a round launches no schema-inference job."""
    from pyspark.sql.types import StructType

    from distributed_crawler_spark.operators.scheduler import SCHEMAS, _p

    last = engine.committed_rounds()[-1]
    for table, ddl in SCHEMAS.items():
        rnd = last if table == "frontier_rollup" else 0
        written = spark.read.parquet(_p(engine._root, table, rnd)).schema
        assert written == StructType.fromDDL(ddl), table

    # re-run the last round on a copy of the parity state
    state = str(tmp_path / "state")
    shutil.copytree(engine.state_dir, state)
    sched = CrawlScheduler(spark, engine.pages, engine.robots, state, engine.cfg)
    sc = spark.sparkContext
    sc.setJobGroup("schema-drift-round", "re-run one crawl round")
    try:
        sched._run_round(last)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _jobs_outside_sql(spark, "schema-drift-round") == []


def test_resume_from_pending_without_retry_count(spark, corpus_dir):
    """A round-0 pending written before the retry path existed (no
    retry_count column) reads back NULL under the declared schema; its
    rows are first attempts, so resuming it reaches the oracle frontier."""
    from distributed_crawler_spark.operators.scheduler import (
        PENDING, _p, seed_frontier,
    )

    pages_d, robots_d, seeds_d = load_corpus(corpus_dir)
    _, want, _, _ = simulate(pages_d, robots_d, seeds_d, 1, BUDGET)

    state = "/tmp/dcs_state_legacy_pending"
    shutil.rmtree(state, ignore_errors=True)
    cfg = CrawlConfig(max_depth=1, max_urls_per_domain=BUDGET)
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    robots = spark.read.parquet(f"{corpus_dir}/robots.parquet")
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")
    sched = CrawlScheduler(spark, pages, robots, state, cfg)
    seed_frontier(spark, seeds, robots, cfg).drop("retry_count").write.parquet(
        _p(sched._root, PENDING, 0)
    )
    sched.run(resume=True)
    got = {r["url"]: (r["depth"], r["status"]) for r in sched.frontier().collect()}
    assert got == want


def test_seen_ignores_stray_merge_dirs(spark, corpus_dir):
    """merge_upsert stages pending/round=N.tmp-* (and .bak) siblings; a
    crash can leave one behind. Seen reads named rounds only, so a stray
    holding the submitted urls neither blocks the submission nor changes
    the URL-seen set the resumed crawl converges to (seeds only, with a
    budget that never binds: both batches, robots-gated)."""
    import os

    from distributed_crawler_spark.operators.scheduler import PENDING, _p

    from .oracle_sim import robots_allowed

    pages_d, robots_d, seeds_d = load_corpus(corpus_dir)
    cfg = CrawlConfig(max_depth=0, max_urls_per_domain=1000)
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    robots = spark.read.parquet(f"{corpus_dir}/robots.parquet")
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")

    state = "/tmp/dcs_state_stray_tmp"
    shutil.rmtree(state, ignore_errors=True)
    sched = CrawlScheduler(spark, pages, robots, state, cfg)
    sched.run(seeds=seeds)
    crawled = {r["url"] for r in sched.url_seen().collect()}
    extra = sorted(
        u for u in pages_d if u not in crawled and robots_allowed(u, robots_d)
    )[:3]
    assert extra

    nxt = sched.committed_rounds()[-1] + 1
    stray = _p(sched._root, PENDING, nxt) + ".tmp-x"
    spark.createDataFrame(
        [(u, "stray", 0, 0) for u in extra],
        "url string, host string, depth int, retry_count int",
    ).write.parquet(stray)
    assert os.path.isdir(stray)

    extra_df = spark.createDataFrame([(u,) for u in extra], "url string")
    assert sched.submit_urls(extra_df) == len(extra)
    sched.run(resume=True)

    _, want, _, _ = simulate(pages_d, robots_d, seeds_d + extra, 0, 1000)
    assert {r["url"] for r in sched.url_seen().collect()} == set(want)
