"""The benchmark's workloads.

Each workload drives the program only through its public entry points
(`plans.pipeline.run_pipeline` / `read_triples`,
`operators.relations.distinct_triples`, `plans.ingest.ingest_shard`) and
hands it only parquet paths.  An op is timed, then its output is checked
outside the timed window before the next op starts (one client, closed
loop).  A traced op also records seam spans, counts its Spark jobs and runs
the staged replays of each layer function on the same inputs.
"""

from __future__ import annotations

import inspect
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from . import checks, inputs
from .trace import SeamProxy, Tracer, jobs_in_group

KG_PAGES = 5_000

INGEST_HISTORY_SHARDS = 3
INGEST_SHARD_DOCS = 1_000
INGEST_HISTORY_SEED = 101

# Layers whose span self time is the plan's (or the client's) own, i.e.
# the part of an op that no layer measurement explains.
PLAN_LAYERS = {"benchmark", "plans.pipeline", "plans.ingest"}


@dataclass
class OpResult:
    wall: float  # the whole op: what the client waits for
    commit: float  # the run_pipeline / ingest_shard call
    rows: int  # rows the commit added: new triples, or shard docs curated
    problems: list[str]
    query: float | None = None
    layers: dict = field(default_factory=dict)


class Context:
    """What an op needs: the session, the directories, and the time spent
    generating inputs and copying state (excluded from set-up time)."""

    def __init__(self, spark, cache: str, run_dir: str, seed: int, excluded_s: float):
        self.spark = spark
        self.cache = cache
        self.run_dir = run_dir
        self.seed = seed
        self.excluded_s = excluded_s
        self.sizes: dict = {}

    def excluded(self, fn, *args):
        t0 = time.monotonic()
        try:
            return fn(*args)
        finally:
            self.excluded_s += time.monotonic() - t0

    def op_dir(self, k) -> str:
        path = os.path.join(self.run_dir, f"op-{k}")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


def _tree(path: str) -> tuple[int, int]:
    """(data files, bytes) under a directory."""
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(base, n))
    return files, size


def _rows(df) -> list[tuple]:
    return list(df.toPandas().itertuples(index=False, name=None))


class _Traced:
    """Per-op tracing scaffolding: the op's job group and the seam proxy."""

    def __init__(self, ctx: Context, tracer: Tracer | None, k):
        self.ctx, self.tracer, self.group = ctx, tracer, f"perfbench-op-{k}"
        if tracer is not None:
            ctx.spark.sparkContext.setJobGroup(self.group, "perfbench op")

    def wrap(self, obj, layer: str):
        return obj if self.tracer is None else SeamProxy(obj, self.tracer, layer)

    def jobs(self) -> int:
        jobs = jobs_in_group(self.ctx.spark, self.group)
        self.ctx.spark.sparkContext.setJobGroup("perfbench-replay", "perfbench replay")
        return jobs


# ---------------------------------------------------------------------------
# kg_fresh
# ---------------------------------------------------------------------------


class KgFresh:
    """A new crawl batch committed by `run_pipeline` into an empty output
    dir, followed by the graph query `distinct_triples(read_triples(out))`."""

    name = "kg_fresh"
    # other names the report also prints these metrics under
    aliases = {"triples_per_s": "rows_per_s"}
    # Ops keep speeding up for several ops after the warm-up while the JIT
    # compiles.  The floor is more ops than fit in the timed window, so every
    # run's median is over the same op positions.
    min_ops = 4

    def prebuild(self, cache: str, code: str):
        return None

    def prepare(self, ctx: Context) -> None:
        self.kg = ctx.excluded(inputs.kg_inputs, ctx.cache, KG_PAGES, ctx.seed)
        ctx.sizes.update(pages=len(self.kg.urls), golden_triples=len(self.kg.expected))

    def op(self, ctx: Context, k, tracer: Tracer | None = None, replay: bool = False) -> OpResult:
        from ontology_pipeline_spark.operators.relations import distinct_triples
        from ontology_pipeline_spark.plans.pipeline import read_triples, run_pipeline
        from ontology_pipeline_spark.sources.tables import ParquetTripleSink

        spark = ctx.spark
        out = os.path.join(ctx.op_dir(k), "kg")
        tr = _Traced(ctx, tracer, k)
        sink = tr.wrap(ParquetTripleSink(out), "sources.tables")
        t0 = time.monotonic()
        with _maybe_span(tracer, "op", "benchmark") as root:
            with _maybe_span(tracer, "run_pipeline", "plans.pipeline", root) as plan:
                if tracer is not None:
                    sink.parent = plan
                summary = run_pipeline(spark, self.kg.pages, sink=sink, run_id=f"op_{k}")
            t1 = time.monotonic()
            with _maybe_span(tracer, "query", "benchmark", root) as query:
                if tracer is not None:
                    sink.parent = query
                query_rows = _rows(
                    distinct_triples(read_triples(spark, sink=sink)).select(
                        "subj", "pred", "obj", "n_pages", "first_url"
                    )
                )
        t2 = time.monotonic()

        committed = _rows(read_triples(spark, out).select("subj", "pred", "obj", "url"))
        problems = checks.check_committed_triples(committed, self.kg.expected)
        lineage = spark.read.parquet(ParquetTripleSink(out).lineage_path).groupBy("url").count()
        problems += checks.check_lineage(_rows(lineage), self.kg.urls)
        problems += checks.check_new_pages(summary, len(self.kg.urls))
        problems += checks.check_query(query_rows, self.kg.expected)

        res = OpResult(wall=t2 - t0, commit=t1 - t0, rows=summary["new_triples"], problems=problems, query=t2 - t1)
        if tracer is not None:
            files, size = _tree(out)
            res.layers = {
                "pipeline.spark_jobs": tr.jobs(),
                "pipeline.new_page_ratio": summary["new_pages"] / summary["total_pages"],
                "tables.files_written": files,
                "tables.bytes_written": size,
            }
            if replay:
                res.layers.update(self._replays(ctx, tracer, sink, root, plan, query, out))
        return res

    def _replays(self, ctx, tracer: Tracer, sink: SeamProxy, root, plan, query, out) -> dict:
        from ontology_pipeline_spark.operators.relations import distinct_triples
        from ontology_pipeline_spark.plans.pipeline import build_triples, read_triples
        from ontology_pipeline_spark.sources.tables import ParquetTripleSink

        spark = ctx.spark
        scan, pages = tracer.replay("tables.scan", "sources.tables", lambda: spark.read.parquet(self.kg.pages))
        tracer.attach(scan, plan)
        fused, _ = tracer.replay("relations.fused_stage", "operators.relations", lambda: build_triples(pages))
        (write,) = sink.spans_named("write_run_triples", plan)
        tracer.attach(fused, write)
        rc, committed = tracer.replay("tables.read_committed", "sources.tables", lambda: read_triples(spark, out))
        tracer.attach(rc, query)
        dist, _ = tracer.replay("relations.distinct", "operators.relations", lambda: distinct_triples(committed))
        tracer.attach(dist, query)
        # The batch's own resume check finds no lineage; time the one the
        # next batch pays against the lineage this op committed.
        done, _ = tracer.replay(
            "tables.done_urls", "sources.tables",
            lambda: ParquetTripleSink(out).read_done_urls(spark, exclude_run_id="next"),
        )
        return {
            "tables.scan_s": scan.dur,
            "tables.write_triples_s": tracer.self_time(write),
            "tables.lineage_s": sum(s.dur for s in sink.spans_named("append_lineage", plan)),
            "tables.metrics_s": sum(s.dur for s in sink.spans_named("append_metrics", plan)),
            "tables.read_committed_s": rc.dur,
            "tables.done_urls_s": done.dur,
            "relations.fused_stage_s": fused.dur,
            "relations.triples": fused.counts["rows"],
            "relations.python_bytes_sent": fused.counts["pythonDataSent"],
            "relations.python_bytes_returned": fused.counts["pythonDataReceived"],
            "relations.distinct_s": dist.dur,
            "relations.shuffle_bytes": dist.counts["shuffleBytesWritten"],
            "relations.spill_bytes": fused.counts["spillSize"] + dist.counts["spillSize"],
            "pipeline.self_s": tracer.self_time(plan),
            "trace.coverage": tracer.coverage(root, PLAN_LAYERS),
            "udf_profile_top": self._profile(ctx, pages),
        }

    @staticmethod
    def _profile(ctx: Context, pages) -> list:
        """Top functions by self time inside the fused Python stage, from
        Spark's built-in `perf` UDF profiler (traced run only)."""
        from ontology_pipeline_spark.plans.pipeline import build_triples

        from .trace import udf_profile_top

        spark = ctx.spark
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            build_triples(pages).write.format("noop").mode("overwrite").save()
        finally:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        return udf_profile_top(spark, os.path.join(ctx.run_dir, "udf-profile"))


# ---------------------------------------------------------------------------
# Incremental ingest
# ---------------------------------------------------------------------------


def _ingest_defaults() -> dict:
    from ontology_pipeline_spark.plans.ingest import ingest_shard

    return {
        k: p.default
        for k, p in inspect.signature(ingest_shard).parameters.items()
        if p.default is not inspect.Parameter.empty
    }


class IngestIncremental:
    """A seeded shard with injected exact and near duplicates, curated by
    `ingest_shard` against a fresh copy of a persisted multi-shard state."""

    name = "ingest_incremental"
    aliases = {"ingest_s": "commit_s", "docs_per_s": "rows_per_s"}
    min_ops = 2

    def prebuild(self, cache: str, code: str):
        """The history inputs, and a builder for the persisted state when it
        is not cached yet.  The harness runs the builder in a session of its
        own, so the measured session is as cold as in every other run."""
        self.history = inputs.history_inputs(cache, INGEST_HISTORY_SHARDS, INGEST_SHARD_DOCS, INGEST_HISTORY_SEED)
        entry = os.path.join(cache, f"state-{os.path.basename(os.path.dirname(self.history[0]))}-c{code}")
        self.state = os.path.join(entry, "state")
        if inputs.is_cached(entry):
            return None
        return lambda spark: inputs.build_ingest_state(spark, entry, self.history)

    def prepare(self, ctx: Context) -> None:
        from ontology_pipeline_spark.plans.ingest import read_curated

        self.history_ids = set(
            ctx.excluded(lambda: read_curated(ctx.spark, self.state).select("doc_id").toPandas()["doc_id"].tolist())
        )
        self.shard = ctx.excluded(
            inputs.shard_inputs, ctx.cache, INGEST_SHARD_DOCS, ctx.seed, INGEST_HISTORY_SEED, self.history
        )
        # only duplicates of history documents that are actually committed
        # must be dropped (a gated-out source leaves nothing to match)
        self.injected = [d for d, src in self.shard.injected if src in self.history_ids]
        self.digest = None
        ctx.sizes.update(
            history_docs=INGEST_HISTORY_SHARDS * INGEST_SHARD_DOCS,
            history_shards=INGEST_HISTORY_SHARDS,
            state_docs=len(self.history_ids),
            shard_docs=self.shard.docs,
            injected_duplicates=len(self.shard.injected),
        )

    def op(self, ctx: Context, k, tracer: Tracer | None = None, replay: bool = False) -> OpResult:
        from ontology_pipeline_spark.plans.ingest import ParquetStateStore, ingest_shard, read_curated

        spark = ctx.spark
        state = os.path.join(ctx.op_dir(k), "state")
        ctx.excluded(shutil.copytree, self.state, state)
        tr = _Traced(ctx, tracer, k)
        store = tr.wrap(ParquetStateStore(state), "plans.ingest")
        t0 = time.monotonic()
        with _maybe_span(tracer, "op", "benchmark") as root:
            with _maybe_span(tracer, "ingest_shard", "plans.ingest", root) as plan:
                if tracer is not None:
                    store.parent = plan
                summary = ingest_shard(spark, spark.read.parquet(self.shard.shard), store=store, shard_id="day_001")
        t1 = time.monotonic()

        ids = read_curated(spark, state).select("doc_id").toPandas()["doc_id"].tolist()
        problems, digest = checks.check_ingest(ids, self.history_ids, self.injected, summary["new_docs"], self.digest)
        if self.digest is None and not problems:
            self.digest = digest
        res = OpResult(wall=t1 - t0, commit=t1 - t0, rows=summary["total_docs"], problems=problems)
        if tracer is not None:
            files, size = _tree(state)
            res.layers = {
                "ingest.spark_jobs": tr.jobs(),
                "ingest.state_bytes": size,
                "ingest.state_partitions": sum(
                    1 for _b, dirs, _f in os.walk(state) for d in dirs if d.startswith("shard_id=")
                ),
            }
            if replay:
                res.layers.update(self._replays(ctx, tracer, store, root, plan))
        return res

    def _replays(self, ctx, tracer: Tracer, store: SeamProxy, root, plan) -> dict:
        from pyspark.sql import functions as F

        from ontology_pipeline_spark.operators.dedup import (
            exact_dedup_against,
            exact_fingerprints,
            minhash_dedup_clusters,
            minhash_index,
            minhash_probe_near_dups,
        )
        from ontology_pipeline_spark.plans.curate import gate_documents
        from ontology_pipeline_spark.plans.ingest import ParquetStateStore

        spark = ctx.spark
        a = _ingest_defaults()
        mh = {k: a[k] for k in ("num_hashes", "bands", "shingle_n")}
        text, ident = a["text_col"], a["id_col"]
        base = ParquetStateStore(self.state)
        shard = spark.read.parquet(self.shard.shard)

        gate, gated = tracer.replay(
            "curate.gate", "plans.curate",
            lambda: gate_documents(shard, text, lang=a["lang"], min_quality=a["min_quality"],
                                   clean=a["clean"], structural_gate=a["structural_gate"]),
        )
        fps = base.read_fingerprints(spark)
        exact, d = tracer.replay("dedup.exact", "operators.dedup", lambda: exact_dedup_against(gated, fps, text, ident))
        intra, clusters = tracer.replay(
            "dedup.intra", "operators.dedup",
            lambda: minhash_dedup_clusters(d, text, ident, threshold=a["dedup_threshold"],
                                           max_bucket_size=a["max_bucket_size"], **mh),
        )
        drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(F.col("doc_id").alias(ident))
        d = d.join(drop, ident, "left_anti").localCheckpoint(eager=True)
        index = base.read_index(spark).drop("shard_id")
        probe, hits = tracer.replay(
            "dedup.probe", "operators.dedup",
            lambda: minhash_probe_near_dups(d, index, text, ident, threshold=a["dedup_threshold"],
                                            max_bucket_size=a["max_bucket_size"], **mh)
            .select(F.col("new_id").alias(ident)).distinct(),
        )
        d = d.join(hits, ident, "left_anti").localCheckpoint(eager=True)
        fp, _ = tracer.replay("dedup.fp_build", "operators.dedup", lambda: exact_fingerprints(d, text, ident))
        ix, _ = tracer.replay("dedup.index_build", "operators.dedup", lambda: minhash_index(d, text, ident, **mh))

        for s in (gate, exact, intra, probe):
            tracer.attach(s, plan)
        (write,) = store.spans_named("write_shard_state", plan)
        for s in (fp, ix):
            tracer.attach(s, write)
        return {
            "curate.gate_s": gate.dur,
            "curate.pass_ratio": gate.counts["rows"] / self.shard.docs,
            "dedup.exact_s": exact.dur,
            "dedup.exact_drop_ratio": 1 - exact.counts["rows"] / max(1, gate.counts["rows"]),
            "dedup.intra_s": intra.dur,
            "dedup.probe_s": probe.dur,
            "dedup.probe_hits": probe.counts["rows"],
            "dedup.fp_build_s": fp.dur,
            "dedup.index_build_s": ix.dur,
            "dedup.shuffle_bytes": sum(s.counts["shuffleBytesWritten"] for s in (exact, intra, probe, fp, ix)),
            "dedup.spill_bytes": sum(s.counts["spillSize"] for s in (exact, intra, probe, fp, ix)),
            "ingest.write_state_s": tracer.self_time(write),
            "ingest.lineage_s": sum(s.dur for s in store.spans_named("append_lineage", plan)),
            "ingest.self_s": tracer.self_time(plan),
            "trace.coverage": tracer.coverage(root, PLAN_LAYERS),
        }


def _maybe_span(tracer: Tracer | None, name: str, layer: str, parent=None):
    return nullcontext() if tracer is None else tracer.span(name, layer, parent)


WORKLOADS = {w.name: w for w in (KgFresh, IngestIncremental)}
