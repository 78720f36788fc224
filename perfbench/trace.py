"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files, around its calls into the
program's public functions:

* `SeamProxy` times every call the plan makes through the `sink=` /
  `store=` objects that `run_pipeline` and `ingest_shard` accept;
* `Tracer.replay` times a staged replay of one layer function on pinned
  inputs, forced through the DataFrame's own query execution so that the
  SQL metrics of the executed plan can be read back with the UI off;
* `jobs_in_group` counts the Spark jobs one op ran;
* `single_thread_baseline` times the per-page Python layers on the driver.

A replay can be attached to the span whose call forces the same work inside
the op (Spark is lazy, so the seam call that writes also runs the upstream
Python stage).  Self time is a span's duration minus its children's.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float
    replayed: bool = False
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span store; `dump` writes it out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def _new(self, name, layer, parent, start, end, replayed=False) -> Span:
        s = Span(len(self.spans), name, layer, parent, start, end, replayed)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, layer: str, parent: Span | None = None):
        s = self._new(name, layer, None if parent is None else parent.id, time.monotonic(), 0.0)
        try:
            yield s
        finally:
            s.end = time.monotonic()

    def attach(self, replay: Span, parent: Span) -> Span:
        """Record `replay`'s duration as a child of `parent`: the work the
        replay isolated ran inside `parent` during the op."""
        return self._new(replay.name, replay.layer, parent.id, parent.start,
                         parent.start + replay.dur, replayed=True)

    def replay(self, name: str, layer: str, make_df):
        """Build a layer's DataFrame with `make_df()` and force it by pinning
        it (`localCheckpoint`, which runs the DataFrame's own query
        execution, so the executed plan's SQL metrics can be read back).
        Returns the span, with the row count and plan metrics as counts,
        and the pinned DataFrame for the next replay to start from."""
        with self.span(name, layer) as s:
            df = make_df()
            pinned = df.localCheckpoint(eager=True)
        s.counts = plan_metrics(df._jdf.queryExecution().executedPlan())
        s.counts["rows"] = int(pinned.count())
        return s, pinned

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        return s.dur - sum(c.dur for c in self.children(s))

    def subtree(self, root: Span) -> list[Span]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def coverage(self, root: Span, unattributed_layers: set[str]) -> float:
        """Share of `root`'s wall that named layers account for: the sum of
        self times of every span below `root` whose layer is not the plan's
        own (plan self time is the part no layer measurement explains)."""
        covered = sum(
            self.self_time(s)
            for s in self.subtree(root)
            if s is not root and s.layer not in unattributed_layers
        )
        return covered / root.dur

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class SeamProxy:
    """Times every method call on a sink/store object as a span under the
    tracer's current parent; everything else passes through."""

    def __init__(self, inner, tracer: Tracer, layer: str) -> None:
        self._inner = inner
        self._tracer = tracer
        self._layer = layer
        self.parent: Span | None = None

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if not callable(attr):
            return attr

        def timed(*args, **kwargs):
            with self._tracer.span(f"{self._layer}.{name}", self._layer, self.parent):
                return attr(*args, **kwargs)

        return timed

    def spans_named(self, method: str, under: Span) -> list[Span]:
        name = f"{self._layer}.{method}"
        return [s for s in self._tracer.subtree(under) if s.name == name]


# SQL metrics summed over the executed plan, by metric name.
PLAN_METRICS = (
    "shuffleBytesWritten",
    "spillSize",
    "pythonDataSent",
    "pythonDataReceived",
)


def plan_metrics(plan) -> dict:
    """Sum PLAN_METRICS over every node of an executed physical plan,
    descending through adaptive plans and query stages."""
    totals = dict.fromkeys(PLAN_METRICS, 0)
    todo = [plan]
    while todo:
        node = todo.pop()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in totals:
                totals[kv._1()] += int(kv._2().value())
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            ch = node.children().iterator()
            while ch.hasNext():
                todo.append(ch.next())
    return totals


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def single_thread_baseline(pages: list[tuple], reps: int = 5) -> dict:
    """CPU seconds per 1000 pages of the three per-page Python layers of the
    fused stage, run on the driver over a fixed page sample (median of
    `reps` passes), plus the sample's page, null-text and mention counts."""
    from ontology_pipeline_spark.lexicon import lexicon_rows
    from ontology_pipeline_spark.operators.extract_text import extract_text_bytes
    from ontology_pipeline_spark.operators.mentions import _compile, scan_text
    from ontology_pipeline_spark.operators.relations import _pair_triples

    pattern, lookup = _compile(tuple(tuple(r) for r in lexicon_rows()))
    cpu = {"extract_text": [], "mentions": [], "relations": []}
    for _ in range(reps):
        t0 = time.process_time()
        texts = [(p[0], extract_text_bytes(p[2])) for p in pages]
        t1 = time.process_time()
        ments = [scan_text(url, text, pattern, lookup) for url, text in texts]
        t2 = time.process_time()
        triples = [_pair_triples(m) for m in ments]
        t3 = time.process_time()
        for key, dt in (("extract_text", t1 - t0), ("mentions", t2 - t1), ("relations", t3 - t2)):
            cpu[key].append(dt)
    kpages = len(pages) / 1000.0
    out = {f"{k}.cpu_s_per_kpage": statistics.median(v) / kpages for k, v in cpu.items()}
    out["extract_text.pages"] = len(pages)
    out["extract_text.null_pages"] = sum(1 for _, t in texts if t is None)
    out["mentions.count"] = sum(len(m) for m in ments)
    out["relations.sample_triples"] = sum(len(t) for t in triples)
    return out


def udf_profile_top(spark, dump_dir: str, top: int = 10) -> list[tuple[str, float]]:
    """Top functions by self time from the session's `perf` UDF profiles
    (dumped as pstats files into `dump_dir`)."""
    import glob
    import os
    import pstats

    spark.profile.dump(dump_dir, type="perf")
    totals: dict[str, float] = {}
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        for (fname, line, func), (_cc, _nc, tt, _ct, _callers) in pstats.Stats(path).stats.items():
            key = f"{os.path.basename(fname)}:{line}:{func}"
            totals[key] = totals.get(key, 0.0) + tt
    return sorted(totals.items(), key=lambda kv: -kv[1])[:top]
