"""The two workloads: what one pass runs, how its output is checked, and
how the traced run splits a pass into layers.

crawl_mix  the whole extraction job (plans.run.run_extraction_job) into a
           fresh copy of a warehouse that already holds a quarter of the
           urls. The only workload that runs resume, placement, commit
           and lineage.
dedup_near operators.dedup.minhash_lsh_pairs then dedup_clusters over a
           text corpus with planted near-copy chains. Exchange-heavy, no
           extraction: an extraction change must not move it.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass

import gen
from probes import last_execution_id, metric_sum, plan_nodes, tree_cpu_s

from pdf_document_extractor_spark.core.dispatch import extract_document
from pdf_document_extractor_spark.operators.dedup import (
    dedup_clusters,
    minhash_lsh_pairs,
)
from pdf_document_extractor_spark.operators.extract import (
    extract_pages,
    extract_rows_py,
)
from pdf_document_extractor_spark.operators.lineage import lineage_rows, run_rollup
from pdf_document_extractor_spark.operators.skew import (
    host_stats,
    salted_repartition,
    split_heavy,
)
from pdf_document_extractor_spark.plans.run import (
    HEAVY_BYTES_DEFAULT,
    run_extraction_job,
)
from pdf_document_extractor_spark.sources.catalog import SnapshotTable


# Every pass writes into its own fresh warehouse, so one run id serves
# them all; a new id per pass would only add freshly generated query code
# (the id is a literal of the lineage plan) for the JIT to compile.
RUN_ID = "bench"


@dataclass
class PassResult:
    wall_s: float
    cpu_s: float
    docs: int
    failed: int
    problems: list[str]  # whole-pass disagreements (counts, lineage)
    executions: tuple[int, int]  # status-store ids bounding the timed job


def _dir_usage(path: str) -> tuple[int, int]:
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def _timed(fn):
    """Run ``fn`` once; (result, wall seconds, process-tree CPU seconds)."""
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    return out, wall, tree_cpu_s() - cpu0


def _norm(v):
    return v if isinstance(v, str) else None


class CrawlMix:
    name = "crawl_mix"

    def __init__(self, seed: int, work: str):
        self.work = work
        self.inp = gen.gen_crawl(seed, os.path.join(work, "inputs"))
        self.todo = self.inp.todo
        self.base_wh = os.path.join(work, "base_warehouse")
        self.pages = None
        self.written: list[tuple[int, int]] = []

    def load(self, spark) -> None:
        self.pages = spark.read.parquet(self.inp.pages_dir)
        self.pages.count()

    def run_pass(self, spark, k: int) -> PassResult:
        """Pass 0, the first warm-up, runs the job over every page into an
        empty warehouse; the quarter of its snapshot that belongs to the
        prior urls is then committed as the base warehouse. Every later
        pass runs the job into a fresh copy of that base, so resume skips
        the quarter."""
        wh = os.path.join(self.work, f"warehouse-{k}")
        if k:
            shutil.copytree(self.base_wh, wh)
        expected = self.todo if k else self.inp.outcomes
        before = _dir_usage(wh)
        first = last_execution_id(spark)
        res, wall, cpu = _timed(
            lambda: run_extraction_job(spark, self.pages, wh, RUN_ID)
        )
        executions = (first, last_execution_id(spark))
        after = _dir_usage(wh)
        self.written.append((after[0] - before[0], after[1] - before[1]))
        failed, problems = self.check(spark, wh, res, expected)
        if not k:
            self._commit_prior(spark, wh, res.snapshot_id)
        shutil.rmtree(wh)
        return PassResult(wall, cpu, len(expected), failed, problems, executions)

    def _commit_prior(self, spark, wh: str, snapshot_id: int) -> None:
        prior = spark.createDataFrame([(u,) for u in self.inp.prior_urls], "url string")
        rows = SnapshotTable(wh, "extracted").read_snapshot(spark, snapshot_id)
        SnapshotTable(self.base_wh, "extracted").commit(
            rows.join(prior, "url", "left_semi"), "prior"
        )

    def check(self, spark, wh: str, res, expected: dict) -> tuple[int, list[str]]:
        """Compare the committed snapshot with the plan: every expected url
        exactly once with its planted status and error_type, no committed
        url extracted again, sampled page hashes equal to the pure-Python
        oracle, and the lineage rollup counting the same docs."""
        from pyspark.sql import functions as F  # noqa: N812

        problems = []
        if res.docs_in != len(expected):
            problems.append(f"job saw {res.docs_in} docs, expected {len(expected)}")
        snap = SnapshotTable(wh, "extracted").read_snapshot(spark, res.snapshot_id)
        sample = self.inp.oracle_hashes
        in_sample = F.col("url").isin(list(sample))
        rows = snap.select(
            "url", "status", "error_type", "page_number", "doc_type", "word_count",
            F.when(in_sample, F.col("content")).alias("content"),
        ).toPandas()
        got: dict[str, set] = {}
        hashes: dict[str, list[str]] = {}
        for r in rows.to_dict("records"):
            got.setdefault(r["url"], set()).add((r["status"], _norm(r["error_type"])))
            if r["url"] in sample:
                hashes.setdefault(r["url"], []).append(gen.page_hash(r))
        bad = {u for u, want in expected.items() if got.get(u) != {want}}
        bad |= set(got) - set(expected)
        bad |= {u for u in sample if sorted(hashes.get(u, [])) != sample[u]}

        lineage = SnapshotTable(wh, "lineage").read(spark)
        roll = lineage.filter(
            (F.col("partition_id") == -1) & (F.col("run_id") == res.run_id)
        ).select("doc_count", "hard_fail_count").collect()
        hard = sum(1 for st, _ in expected.values() if st == "hard_failure")
        if [tuple(r) for r in roll] != [(len(expected), hard)]:
            problems.append(f"lineage rollup {roll} disagrees with the plan")
        return len(bad), problems

    # -- traced run -----------------------------------------------------------

    def fused_layers(self, nodes, engine: dict[str, float]) -> dict[str, float]:
        written, files = self.written[-1]
        return {
            "extract.python_run_s": metric_sum(nodes, "MapInPandas", "time to run Python workers"),
            "extract.python_init_s": metric_sum(nodes, "MapInPandas", "time to start Python workers")
            + metric_sum(nodes, "MapInPandas", "time to initialize Python workers"),
            "extract.bytes_to_python": metric_sum(nodes, "MapInPandas", "data sent to Python workers"),
            "extract.bytes_from_python": metric_sum(nodes, "MapInPandas", "data returned from Python workers"),
            "catalog.bytes_written": written,
            "catalog.files_written": files,
            "write_amp": written / self.inp.todo_payload_bytes,
            "scan.time_s": metric_sum(nodes, "Scan", "scan time"),
            "shuffle.fetch_wait_s": metric_sum(nodes, "", "fetch wait time"),
            **engine,
        }

    def layered_pass(self, spark, tracer, k: int) -> dict[str, float]:
        """The job's public calls one layer at a time, each materialized
        before the next, one span per call."""
        from pyspark.sql import functions as F  # noqa: N812

        wh = os.path.join(self.work, f"warehouse-{k}")
        shutil.copytree(self.base_wh, wh)
        tbl, lin_tbl = SnapshotTable(wh, "extracted"), SnapshotTable(wh, "lineage")
        run_id = f"layered-{k}"
        n_parts = spark.sparkContext.defaultParallelism * 2
        out: dict[str, float] = {}
        held = []
        with tracer.span("crawl_mix.layered") as root:
            with tracer.span("run.resume_antijoin") as s:
                done = tbl.read(spark).select("url").distinct()
                todo = self.pages.join(done, "url", "left_anti").persist()
                n_todo = todo.count()
                held.append(todo)
            out["run.resume_antijoin_s"] = s["end"] - s["start"]
            out["run.docs_skipped"] = len(self.inp.kinds) - n_todo
            with tracer.span("skew.host_stats") as s:
                hot, _ = host_stats(todo)
            out["skew.host_stats_s"] = s["end"] - s["start"]
            first = last_execution_id(spark)
            with tracer.span("skew.salted_repartition"):
                placed = salted_repartition(todo, n_parts, hot=hot).persist()
                placed.count()
                held.append(placed)
                light, heavy = split_heavy(placed, HEAVY_BYTES_DEFAULT)
            placement = (first, last_execution_id(spark))
            with tracer.span("extract.extract_pages"):
                ext = extract_pages(light).unionByName(
                    extract_pages(heavy.repartition(n_parts, "url"))
                ).persist()
                ext.count()
                held.append(ext)
            with tracer.span("catalog.commit") as s:
                snap = tbl.commit(ext, run_id)
            out["catalog.commit_s"] = s["end"] - s["start"]
            this_run = tbl.read_snapshot(spark, snap.snapshot_id)
            with tracer.span("lineage.lineage_rows") as s1:
                lin_tbl.commit(lineage_rows(this_run, run_id), run_id)
            with tracer.span("lineage.run_rollup") as s2:
                run_rollup(this_run).collect()
            out["lineage.s"] = (s1["end"] - s1["start"]) + (s2["end"] - s2["start"])
        out["layered_wall_s"] = root["end"] - root["start"]

        # metrics of the placement exchange and its partition balance, read
        # outside every span
        nodes = plan_nodes(spark, *placement)
        out["skew.exchange_write_s"] = metric_sum(nodes, "Exchange", "shuffle write time")
        out["skew.exchange_bytes"] = metric_sum(nodes, "Exchange", "shuffle bytes written")
        sizes = [
            r["count"]
            for r in placed.groupBy(F.spark_partition_id().alias("p")).count().collect()
        ]
        out["skew.rows_max_over_mean"] = max(sizes) / (sum(sizes) / n_parts)
        out["skew.empty_partitions"] = n_parts - len(sizes)
        for df in held:
            df.unpersist()
        shutil.rmtree(wh)
        return out

    def single_core(self, seed: int) -> dict[str, float]:
        """extract_document per doc type and extract_rows_py over the mix,
        on one core without Spark, over a seeded sample of this run's
        inputs. Median of repeats, microseconds per doc."""
        rng = random.Random(f"single_core/{seed}")
        out: dict[str, float] = {}
        by_kind: dict[str, list[str]] = {}
        for url, kind in self.inp.kinds.items():
            by_kind.setdefault(kind, []).append(url)
        for group, kinds in gen.PARSE_GROUPS.items():
            urls = [u for k in kinds for u in by_kind.get(k, [])]
            urls = rng.sample(urls, min(40, len(urls)))
            docs = [(u, self.inp.payloads[u]) for u in urls]
            out[f"core.parse_us_per_doc.{group}"] = _us_per_doc(extract_document, docs)
        mix = rng.sample(sorted(self.todo), 200)
        out["extract.rows_us_per_doc"] = _us_per_doc(
            extract_rows_py, [(u, self.inp.payloads[u]) for u in mix]
        )
        return out


def _us_per_doc(fn, docs, repeats: int = 5) -> float:
    if not docs:
        return 0.0
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        for url, payload in docs:
            fn(url, payload)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) / len(docs) * 1e6


class DedupNear:
    name = "dedup_near"

    def __init__(self, seed: int, work: str):
        self.work = work
        self.inp = gen.gen_dedup(seed, os.path.join(work, "inputs"))
        self.docs = None
        self.pairs = 0

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(self.inp.docs_dir)
        self.docs.count()

    def _clusters(self):
        pairs = minhash_lsh_pairs(self.docs, tau_pct=gen.JACCARD_PCT)
        return dedup_clusters(pairs.select("id_a", "id_b")).collect()

    def run_pass(self, spark, k: int) -> PassResult:
        first = last_execution_id(spark)
        rows, wall, cpu = _timed(self._clusters)
        executions = (first, last_execution_id(spark))
        return PassResult(wall, cpu, self.inp.n_docs, self.check(rows), [], executions)

    def check(self, rows) -> int:
        """Docs whose cluster disagrees with the planted near-copy chains
        (a doc outside every chain must not appear at all)."""
        got = {r["doc_id"]: r["cluster_id"] for r in rows}
        want = self.inp.expected
        return sum(1 for d in set(got) | set(want) if got.get(d) != want.get(d))

    def fused_layers(self, nodes, engine: dict[str, float]) -> dict[str, float]:
        return {
            "dedup.exchange_bytes": metric_sum(nodes, "Exchange", "shuffle bytes written"),
            "scan.time_s": metric_sum(nodes, "Scan", "scan time"),
            "shuffle.fetch_wait_s": metric_sum(nodes, "", "fetch wait time"),
            **engine,
        }

    def layered_pass(self, spark, tracer, k: int) -> dict[str, float]:
        out: dict[str, float] = {}
        with tracer.span("dedup_near.layered") as root:
            first = last_execution_id(spark)
            with tracer.span("dedup.minhash_lsh_pairs") as s:
                pairs = minhash_lsh_pairs(self.docs, tau_pct=gen.JACCARD_PCT).persist()
                n_pairs = pairs.count()
            out["dedup.minhash_lsh_s"] = s["end"] - s["start"]
            lsh = (first, last_execution_id(spark))
            with tracer.span("dedup.dedup_clusters") as s:
                dedup_clusters(pairs.select("id_a", "id_b")).collect()
            out["dedup.clusters_s"] = s["end"] - s["start"]
            clusters = (lsh[1], last_execution_id(spark))
            pairs.unpersist()
        out["layered_wall_s"] = root["end"] - root["start"]

        # the candidate set is the distinct (id_a, id_b) aggregate; its final
        # (smallest) output is the number of candidate pairs
        cand = [
            n.metrics.get("number of output rows", 0.0)
            for n in plan_nodes(spark, *lsh)
            if n.name == "HashAggregate"
            and "keys=[id_a#" in n.desc
            and ", id_b#" in n.desc
            and "functions=[]" in n.desc
        ]
        # one convergence count over the _changed flag per round
        rounds = {
            n.execution_id
            for n in plan_nodes(spark, *clusters)
            if n.name == "Filter" and "_changed" in n.desc
        }
        out["dedup.cluster_rounds"] = len(rounds)
        if cand:
            out["dedup.candidate_pairs"] = min(cand)
            out["dedup.useful_pair_ratio"] = n_pairs / min(cand) if min(cand) else 0.0
        return out

    def single_core(self, seed: int) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (CrawlMix, DedupNear)}

