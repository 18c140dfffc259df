"""In-memory spans for the traced run, and the statistics helpers.

A span is one wrapped call: name, start, end, parent. Each open span owns
a Spark job group, so the jobs a call runs directly (not those of its
child spans) are attributed to it from Spark's own status store. Spans
are kept in memory and written out once, at the end of the run.

    python3 perfbench/spans.py .perfbench_cache/traces/crawl-seed1.json

prints the self time and Spark jobs of each span name under the traced
operation, which add up to the operation's wall time.
"""

from __future__ import annotations

import functools
import json
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

TAIL_SAMPLES = 10


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    # Spark totals of the jobs run directly inside this span
    spark: dict = field(default_factory=dict)
    # [start, end] of each of those jobs, in seconds on the span clock
    jobs: list = field(default_factory=list)
    # call details worth keeping (e.g. the round number)
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its wall time minus the part of its
    interval that its child spans cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.sid, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.sid] = s.wall - union_length(clipped)
    return out


def median(samples) -> tuple[float, int]:
    """Median and the sample count it rests on."""
    samples = list(samples)
    if not samples:
        raise ValueError("median of no samples")
    return statistics.median(samples), len(samples)


def percentile(samples, q: float) -> tuple[float, int]:
    """The q-th percentile (nearest rank) and the sample count. Refuses a
    tail percentile that fewer than TAIL_SAMPLES samples lie beyond: such
    a value is one or two outliers, not a percentile."""
    samples = sorted(samples)
    n = len(samples)
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    beyond = math.floor(n * (100 - q) / 100)
    if q > 50 and beyond < TAIL_SAMPLES:
        raise ValueError(
            f"p{q:g} of {n} samples has {beyond} beyond it; "
            f"need {TAIL_SAMPLES}"
        )
    if n == 0:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100 * n))
    return samples[rank - 1], n


def highest_percentile(samples) -> tuple[str, float, int] | None:
    """The highest of p99.9/p99/p90 that the sample count supports."""
    for q in (99.9, 99, 90):
        try:
            value, n = percentile(samples, q)
        except ValueError:
            continue
        return f"p{q:g}", value, n
    return None


def geomean(samples) -> float:
    samples = list(samples)
    return math.exp(sum(math.log(x) for x in samples) / len(samples))


def spread(samples) -> float:
    """Distance between the first and third quartile, as a share of the
    median (statistics.quantiles with n=4)."""
    q1, q2, q3 = statistics.quantiles(samples, n=4)
    return (q3 - q1) / q2


class SparkStatus:
    """Reads job and stage totals for a job group from Spark's status
    store (the data behind the Spark UI), through the py4j gateway."""

    STAGE_FIELDS = {
        "stages": None,
        "tasks": "numTasks",
        "failed_tasks": "numFailedTasks",
        "input_bytes": "inputBytes",
        "shuffle_write_bytes": "shuffleWriteBytes",
        "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
        "gc_ms": "jvmGcTime",
    }

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final state of every job that has returned."""
        self._bus.waitUntilEmpty()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    def group_totals(self, group: str) -> tuple[dict, list]:
        """(totals, job intervals in epoch seconds) of a job group."""
        totals = {"jobs": 0, **{k: 0 for k in self.STAGE_FIELDS}}
        intervals = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(job_id)
            totals["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    stage = self._store.lastStageAttempt(stage_ids.apply(i))
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                totals["stages"] += 1
                for key, getter in self.STAGE_FIELDS.items():
                    if getter is None:
                        continue
                    getters = getter if isinstance(getter, tuple) else (getter,)
                    totals[key] += sum(int(getattr(stage, g)()) for g in getters)
        return totals, intervals


class Tracer:
    """Records spans around wrapped calls. Without a SparkStatus it only
    times; with one, each span runs its jobs under its own job group."""

    def __init__(self, status: SparkStatus | None = None) -> None:
        self.status = status
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # span clock = epoch seconds, so job timestamps share its axis
        self.clock = time.time

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, self.clock())
        self.spans.append(s)
        self._stack.append(s)
        if self.status:
            self.status.set_group(f"perfbench-{s.sid}")
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            if self.status:
                self.status.settle()
                s.spark, s.jobs = self.status.group_totals(f"perfbench-{s.sid}")
                self.status.set_group(
                    f"perfbench-{self._stack[-1].sid}" if self._stack else None
                )

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span around
        each call. ``name`` is a string or a function of the call's
        arguments returning one."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def descendants(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        keep = {root.sid}
        out = [root]
        for s in self.spans[root.sid + 1 :]:
            if s.parent in keep:
                keep.add(s.sid)
                out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def main(path: str) -> None:
    with open(path) as f:
        spans = [Span(**d) for d in json.load(f)]
    root = next(s for s in spans if s.name == "op")
    below = Tracer()
    below.spans = spans
    tree = below.descendants(root)
    selfs = self_times(tree)
    by_name: dict[str, list] = {}
    for s in tree:
        row = by_name.setdefault(s.name, [0, 0.0, 0])
        row[0] += 1
        row[1] += selfs[s.sid]
        row[2] += s.spark.get("jobs", 0)
    print(f"{'span':36s} {'calls':>5s} {'self_s':>8s} {'share':>6s} {'jobs':>5s}")
    for name, (calls, self_s, jobs) in sorted(by_name.items(), key=lambda kv: -kv[1][1]):
        print(f"{name:36s} {calls:5d} {self_s:8.3f} {self_s / root.wall:6.1%} {jobs:5d}")
    idle = root.wall - union_length([j for s in tree for j in s.jobs])
    print(f"{'total (= op wall)':36s} {'':5s} {sum(selfs.values()):8.3f}")
    print(f"no Spark job running (driver.idle_s): {idle:.3f} s of {root.wall:.3f} s")


if __name__ == "__main__":
    import sys

    main(sys.argv[1])
