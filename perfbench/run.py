"""Benchmark of the extraction engine: one workload per run, one seed.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from the seed under .perfbench_run/ (deleted at the end), drives the
package's public functions on local Spark, checks every pass's output
against the generator's plan and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(perfbench/LAYERS.md says which layer each belongs to). The exit code is
1 when any output check fails.

Steadiness (see perfbench/STEADINESS.md): Spark runs with the program's
RECOMMENDED_CONF on local[n-1] of the n usable cores, with a fixed heap,
fixed shuffle partitions and a codegen cache large enough that repeated
passes reuse their compiled query code; two full warm-up passes run
before the timed ones; each end-to-end value is the median over the
run's timed passes (at least three, and at least --seconds of them).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("crawl_mix", "dedup_near")
MIN_PASSES = 3
# both workloads keep compiling over their first passes (STEADINESS.md)
WARMUP_PASSES = 2
HEAP = "2g"

END_TO_END = {
    "docs_per_s": "docs/s",
    "cpu_ms_per_kdoc": "ms",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

# name -> unit; BENCHMARK.json lists the same (test_perfbench checks it)
PER_LAYER = {
    **{f"core.parse_us_per_doc.{t}": "us"
       for t in ("html", "pdf", "pdf_table", "pdf_aes", "docx", "xlsx")},
    "extract.python_run_s": "s",
    "extract.python_init_s": "s",
    "extract.bytes_to_python": "bytes",
    "extract.bytes_from_python": "bytes",
    "extract.rows_us_per_doc": "us",
    "skew.host_stats_s": "s",
    "skew.exchange_write_s": "s",
    "skew.exchange_bytes": "bytes",
    "skew.rows_max_over_mean": "ratio",
    "skew.empty_partitions": "count",
    "run.resume_antijoin_s": "s",
    "run.docs_skipped": "count",
    "catalog.commit_s": "s",
    "catalog.bytes_written": "bytes",
    "catalog.files_written": "count",
    "write_amp": "ratio",
    "lineage.s": "s",
    "dedup.minhash_lsh_s": "s",
    "dedup.clusters_s": "s",
    "dedup.cluster_rounds": "count",
    "dedup.candidate_pairs": "count",
    "dedup.useful_pair_ratio": "ratio",
    "dedup.exchange_bytes": "bytes",
    "scan.time_s": "s",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "shuffle.fetch_wait_s": "s",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def spark_conf(work: str) -> dict[str, str]:
    """The program's own RECOMMENDED_CONF, plus what a steady local run
    needs: local[n-1], a fixed heap, fixed shuffle partitions and a codegen
    cache that keeps every pass's query code."""
    from pdf_document_extractor_spark.plans.run import RECOMMENDED_CONF

    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    tmp = os.path.join(work, "tmp")
    return {
        **RECOMMENDED_CONF,
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(2 * cores),
        # the default 100 entries evict query code between passes, so the
        # JIT recompiles it every pass and the passes never settle
        "spark.sql.codegen.cache.maxEntries": "4000",
        # the output checks collect through Arrow; no timed call does
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }


def start_spark(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop Spark, end the JVM and wait until every child process ended."""
    from pyspark import SparkContext

    from probes import tree_pids

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        rest = [p for p in tree_pids() if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def measure(workload, conf, seconds: float, trace: bool, seed: int):
    """Set up, warm up, time passes; returns (result dict, diagnostics)."""
    from probes import RssSampler, Tracer, engine_delta, host_steal_s, jvm_jit_s, plan_nodes

    diag: dict = {}
    # launch the JVM untimed (Spark's cost, not the program's); set-up is
    # then one session start + input load + WARMUP_PASSES full passes
    start_spark(conf).stop()
    t0 = time.perf_counter()
    spark = start_spark(conf)
    workload.load(spark)
    start_s = time.perf_counter() - t0
    warm = [workload.run_pass(spark, k) for k in range(WARMUP_PASSES)]
    diag["start_s"] = start_s
    diag["warmup_s"] = [p.wall_s for p in warm]
    setup_s = start_s + sum(p.wall_s for p in warm)

    passes, layers, tracer = list(warm), [], Tracer()
    timed, spent = [], 0.0
    # a traced pass is one fused pass plus one layer-by-layer pass
    min_passes = 1 if trace else MIN_PASSES
    steal0 = host_steal_s()
    with RssSampler() as rss:
        while len(timed) < min_passes or spent < seconds:
            k = len(passes)
            if trace:
                p, engine = engine_delta(spark, lambda: workload.run_pass(spark, k))
                fused = workload.fused_layers(plan_nodes(spark, *p.executions), engine)
                fused.update(workload.layered_pass(spark, tracer, k))
                layered = fused.pop("layered_wall_s")
                fused["trace.overhead_s"] = layered - p.wall_s
                layers.append(fused)
                spent += layered
            else:
                jit0, pass_steal0 = jvm_jit_s(spark), host_steal_s()
                p = workload.run_pass(spark, k)
                diag.setdefault("pass_jit_s", []).append(jvm_jit_s(spark) - jit0)
                diag.setdefault("pass_steal_s", []).append(host_steal_s() - pass_steal0)
            passes.append(p)
            timed.append(p)
            spent += p.wall_s
    diag["steal_s"] = host_steal_s() - steal0
    walls = [p.wall_s for p in timed]
    diag["pass_walls_s"] = walls
    diag["wall_quartiles_s"] = quartiles(walls)
    diag["pass_cpu_s"] = [p.cpu_s for p in timed]
    # per doc, since the first pass of crawl_mix also extracts the prior quarter
    diag["first_pass_slowdown"] = (warm[0].wall_s / warm[0].docs) / (
        statistics.median(walls) / timed[0].docs
    ) - 1

    attempted = sum(p.docs for p in passes)
    failed = sum(p.failed for p in passes)
    problems = [msg for p in passes for msg in p.problems]
    for msg in problems:
        log(f"check: {msg}")
    if trace:
        values = {k: statistics.median(d[k] for d in layers) for k in layers[0]}
        values.update(workload.single_core(seed))
        metrics = {}
        for name, unit in PER_LAYER.items():
            if name not in values:
                log(f"{name}: 0, no value on {workload.name} (its layer does no work there)")
            metrics[name] = {"value": values.get(name, 0.0), "unit": unit}
        out = os.path.join(ROOT, ".perfbench_run", f"trace-{workload.name}-seed{seed}.json")
        with open(out, "w", encoding="utf-8") as fh:
            json.dump({"spans": tracer.spans, "diagnostics": diag}, fh, indent=1)
        log(f"spans written to {out}")
    else:
        docs = timed[0].docs
        values = {
            "docs_per_s": docs / statistics.median(walls),
            "cpu_ms_per_kdoc": statistics.median(p.cpu_s / p.docs * 1e6 for p in timed),
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak / 2**20,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, diag


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # the program under test is the checkout's own package
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import pdf_document_extractor_spark as program

    if os.path.dirname(os.path.dirname(os.path.abspath(program.__file__))) != ROOT:
        raise SystemExit(f"the package was imported from {program.__file__}, not this checkout")

    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        from workloads import WORKLOADS

        t0 = time.perf_counter()
        workload = WORKLOADS[args.workload](args.seed, work)
        log(f"inputs generated in {time.perf_counter() - t0:.1f} s")
        result, diag = measure(
            workload, spark_conf(work), args.seconds, bool(args.trace), args.seed
        )
        log("diagnostics: " + json.dumps(diag))
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
