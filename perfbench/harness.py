"""The benchmark's main loop: session, warm-up, inputs, the timed closed
loop of ops, the traced run's layer metrics, and the report."""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from subprocess import TimeoutExpired

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
DRIVER_MEMORY = "2g"
# Give up on a run after this many ops in a row fail.
MAX_CONSECUTIVE_FAILURES = 3

# Per-layer metrics every workload's traced run reports, named after the
# workload's own layer metric they take their value from.
COMMON_LAYERS = {
    "plan.spark_jobs": ("pipeline.spark_jobs", "ingest.spark_jobs"),
    "plan.self_s": ("pipeline.self_s", "ingest.self_s"),
    "seam.write_self_s": ("tables.write_triples_s", "ingest.write_state_s"),
    "seam.lineage_s": ("tables.lineage_s", "ingest.lineage_s"),
}

def unit_of(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_per_kpage", "s/kpage"), ("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB")):
        if leaf.endswith(suffix):
            return unit
    if "bytes" in leaf:
        return "B"
    if leaf in ("coverage", "overhead", "error_rate") or leaf.endswith("ratio"):
        return "ratio"
    return "count"


def tail_percentile(n: int) -> str:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond it."""
    best = None
    for p in (50, 75, 90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            best = f"p{p}"
    return best or "none (fewer than 20 samples)"


def host_info(spark, args, sizes: dict) -> dict:
    cpu = ""
    mem_kb = 0
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal"):
                mem_kb = int(line.split()[1])
    import pyarrow
    import pyspark

    conf = spark.conf
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "cpu_model": cpu,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sizes": sizes,
        "spark": {
            "master": spark.sparkContext.master,
            "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
            "spark.sql.execution.arrow.maxRecordsPerBatch": conf.get(
                "spark.sql.execution.arrow.maxRecordsPerBatch"
            ),
            "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
            "spark.driver.memory": conf.get("spark.driver.memory"),
        },
    }


def _proc_tree(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def peak_rss_mb() -> tuple[float, list[tuple[str, float]]]:
    """Summed VmHWM of this process and every live descendant (the driver
    JVM and its Python workers), and each process's own (name, MB)."""
    procs = []
    for p in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f if line.startswith(("Name:", "VmHWM:")))
        except OSError:
            continue
        if "VmHWM" in fields:
            procs.append((fields["Name"].strip(), int(fields["VmHWM"].split()[0]) / 1024))
    return sum(mb for _, mb in procs), procs


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def start_session(run_dir: str):
    from ontology_pipeline_spark.session import get_spark

    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    spark = get_spark(
        master=f"local[{CORES}]",
        app_name="perfbench",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # A fixed, pre-touched heap: otherwise the JVM's resident size
            # depends on when the GC chose to grow the heap.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, close the JVM gateway, and wait until the JVM and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    procs = [p for p in _proc_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # the JVM may already be gone
                traceback.print_exc()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 15
        while any(_alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in procs:
            if _alive(p):
                os.kill(p, signal.SIGKILL)


def summarize(name: str, values: list[float]) -> dict:
    return {
        "value": statistics.median(values),
        "unit": unit_of(name),
        "samples": len(values),
        "tail": tail_percentile(len(values)),
    }


def bench(args, run_dir: str, report: list[str], t_start: float) -> dict:
    from . import inputs
    from .trace import Tracer, single_thread_baseline
    from .workloads import WORKLOADS, Context

    workload = WORKLOADS[args.workload]()
    cache = os.path.join(ROOT, ".perfbench", "cache")
    t0 = time.monotonic()
    build = workload.prebuild(cache, inputs.code_digest(os.path.join(ROOT, "ontology_pipeline_spark")))
    if build is not None:
        spark = start_session(run_dir)
        try:
            build(spark)
        finally:
            stop_session(spark)
    prebuild = time.monotonic() - t0
    t0 = time.monotonic()
    spark = start_session(run_dir)
    session_start = time.monotonic() - t0
    try:
        ctx = Context(spark, cache, run_dir, args.seed, excluded_s=prebuild)
        workload.prepare(ctx)
        # warm-up: one untimed op on the run's own inputs, checked like the rest
        t0, excluded = time.monotonic(), ctx.excluded_s
        res = workload.op(ctx, "warmup")
        shutil.rmtree(os.path.join(run_dir, "op-warmup"), ignore_errors=True)
        warmup = time.monotonic() - t0 - (ctx.excluded_s - excluded)
        report.append(f"warm-up op: wall={res.wall:.3f} s checks={'ok' if not res.problems else 'FAILED'}")
        failed = 0
        if res.problems:
            failed += 1
            report.append(f"warm-up op: output check failed: {res.problems[:5]}")
        tracer = Tracer() if args.trace else None

        ops: list = []
        consecutive = 0
        window = None
        replayed = False
        k = 0
        while True:
            traced = tracer if (tracer is not None and k % 2 == 1) else None
            if window is None:
                window = time.monotonic()
                setup = (window - t_start) - ctx.excluded_s
                ticks = cpu_ticks()
            try:
                res = workload.op(ctx, k, traced, replay=traced is not None and not replayed)
                replayed = replayed or traced is not None
            except Exception:
                traceback.print_exc()
                failed += 1
                consecutive += 1
                report.append(f"op {k}: raised (see stderr)")
            else:
                consecutive = 0
                if res.problems:
                    failed += 1
                    report.append(f"op {k}: output check failed: {res.problems[:5]}")
                ops.append((traced is not None, res))
                report.append(
                    f"op {k}: {'traced' if traced else 'untraced'} wall={res.wall:.3f} s "
                    f"commit={res.commit:.3f} s rows={res.rows} checks={'ok' if not res.problems else 'FAILED'}"
                )
            finally:
                shutil.rmtree(os.path.join(run_dir, f"op-{k}"), ignore_errors=True)
            k += 1
            if consecutive >= MAX_CONSECUTIVE_FAILURES:
                break
            both = tracer is None or {t for t, _ in ops} == {False, True}
            if time.monotonic() - window >= args.seconds and k >= workload.min_ops and both:
                break
        rss, rss_procs = peak_rss_mb()
        report.append("peak rss by process: " + ", ".join(f"{n}={mb:.0f} MB" for n, mb in rss_procs))
        steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
        info = host_info(spark, args, ctx.sizes)
        if tracer is not None:
            sample = inputs.kg_inputs(ctx.cache, 500, 7)
            import pyarrow.parquet as pq

            pages = pq.read_table(sample.pages).to_pylist()
            baseline = single_thread_baseline([(p["url"], p["warc_ts"], p["html"]) for p in pages])
    finally:
        stop_session(spark)

    report.insert(0, "host: " + json.dumps(info, sort_keys=True))
    plain = [r for t, r in ops if not t]
    traced_ops = [r for t, r in ops if t]
    m: dict = {
        "setup_s": [setup],
        "session.start_s": [session_start],
        "session.warmup_s": [warmup],
        "peak_rss_mb": [rss],
        "error_rate": [failed / (k + 1)],
        # share of CPU time the hypervisor gave to other guests during the
        # timed window: a diagnostic for noisy runs, not a metric of the program
        "host.steal_ratio": [steal / max(1, total)],
    }
    if plain:
        m["op_s"] = [r.wall for r in plain]
        m["commit_s"] = [r.commit for r in plain]
        m["rows_per_s"] = [r.rows / r.commit for r in plain]
        if plain[0].query is not None:
            m["query_s"] = [r.query for r in plain]
    layers: dict = {}
    if tracer is not None:
        if traced_ops and plain:
            m["trace.overhead"] = [
                statistics.median(r.wall for r in traced_ops) / statistics.median(r.wall for r in plain)
            ]
        first = next((r for r in traced_ops if "trace.coverage" in r.layers), None)
        layers = dict(first.layers) if first else {}
        profile = layers.pop("udf_profile_top", None)
        layers.update(baseline)
        for common, sources in COMMON_LAYERS.items():
            for src in sources:
                if src in layers:
                    layers[common] = layers[src]
        for name, value in sorted(layers.items()):
            m[name] = [value]
        if profile:
            report.append("udf profiler, top functions by self time in the fused stage:")
            report.extend(f"  {tt:9.4f} s  {fn}" for fn, tt in profile)
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"))

    summary = {name: summarize(name, vals) for name, vals in m.items()}
    for alias, name in workload.aliases.items():
        if name in summary:
            summary[alias] = summary[name]
    for name, s in summary.items():
        report.append(
            f"{name} = {s['value']:.6g} {s['unit']} (median of {s['samples']}; tail: {s['tail']})"
        )
    # the warm-up op counts as attempted: its output is checked too
    return {"summary": summary, "attempted": k + 1, "failed": failed}


def main(t_start: float, argv: list[str] | None = None) -> int:
    from .workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # Spark's Python workers import the program too
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    report: list[str] = []
    try:
        result = bench(args, run_dir, report, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for line in report:
        print(line)
    missing = [n for n in wanted if n not in result["summary"]]
    if missing:
        print(f"perfbench: run produced no value for {missing}", file=sys.stderr)
        return 1
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    n: {"value": result["summary"][n]["value"], "unit": result["summary"][n]["unit"]}
                    for n in wanted
                },
            }
        )
    )
    return 0
