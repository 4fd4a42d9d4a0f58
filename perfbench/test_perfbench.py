"""Tests of the benchmark itself (not part of the package's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

The corruption tests start local Spark and take about a minute each.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
from probes import parse_metric  # noqa: E402

from pdf_document_extractor_spark.core.dispatch import extract_document  # noqa: E402


def _digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            path = os.path.join(dirpath, n)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    def make(seed, sub):
        gen.gen_crawl(seed, str(tmp_path / sub), n_docs=400)
        gen.gen_dedup(seed, str(tmp_path / sub), n_base=200)
        return _digests(str(tmp_path / sub))

    first, again, other = make(7, "a"), make(7, "b"), make(8, "c")
    assert first and first == again
    assert all(first[k] != other[k] for k in first)


def test_crawl_plan_matches_the_pure_python_extractor(tmp_path):
    inp = gen.gen_crawl(3, str(tmp_path), n_docs=600)
    kinds = set(inp.kinds.values())
    assert {"pdf_aes", "docx", "xlsx", "bad_pdf", "html"} <= kinds
    for url, want in inp.outcomes.items():
        r = extract_document(url, inp.payloads[url])
        assert (r.status, r.error_type) == want, inp.kinds[url]
    assert len(inp.outcomes) - len(inp.todo) == 600 * gen.PRIOR_SHARE


def _exact_clusters(texts: dict[int, str]) -> dict[int, int]:
    """Connected components of the exact Jaccard >= 0.8 graph over all
    pairs sharing a shingle: doc_id -> min doc_id of its component."""
    sets = {d: gen.shingle_set(t) for d, t in texts.items()}
    postings: dict[str, list[int]] = {}
    for d, s in sets.items():
        for sh in s:
            postings.setdefault(sh, []).append(d)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for docs in postings.values():
        for a, b in itertools.combinations(docs, 2):
            if gen._jaccard_ok(sets[a], sets[b]):
                ra, rb = find(a), find(b)
                parent.setdefault(ra, ra)
                parent.setdefault(rb, rb)
                parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in parent}


@pytest.mark.parametrize("seed", [0, 1])
def test_planted_chains_are_the_exact_clusters(tmp_path, seed):
    import pyarrow.parquet as pq

    inp = gen.gen_dedup(seed, str(tmp_path), n_base=600)
    rows = pq.read_table(inp.docs_dir).to_pylist()
    assert len(rows) == inp.n_docs
    assert _exact_clusters({r["doc_id"]: r["text"] for r in rows}) == inp.expected
    assert any(len(c) >= 3 for c in inp.planted)


def test_parse_metric():
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.5 s (1 ms, 2 ms)") == 1.5
    assert parse_metric("total (min, med, max)\n2.0 KiB (1.0 KiB)") == 2048
    assert parse_metric("40,634") == 40634
    assert parse_metric("12 ms") == pytest.approx(0.012)


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)


def _corrupt_dedup(monkeypatch) -> None:
    """Shift one doc's cluster id in dedup_clusters' output."""
    import workloads
    from pyspark.sql import functions as F  # noqa: N812

    real, victim = workloads.dedup_clusters, {}

    def corrupted(pairs, **kw):
        out = real(pairs, **kw)
        if "id" not in victim:
            victim["id"] = out.agg(F.min("doc_id")).first()[0]
        hit = F.col("doc_id") == victim["id"]
        return out.withColumn(
            "cluster_id", F.when(hit, F.col("cluster_id") - 1).otherwise(F.col("cluster_id"))
        )

    monkeypatch.setattr(workloads, "dedup_clusters", corrupted)
    monkeypatch.setattr(gen, "DEDUP_BASE_DOCS", 300)


def _corrupt_crawl(monkeypatch) -> None:
    """Replace the content of one sampled to-do page in the job's output."""
    from pyspark.sql import functions as F  # noqa: N812

    from pdf_document_extractor_spark.plans import run as job

    real_gen, real_extract, inputs = gen.gen_crawl, job.extract_pages, []

    def recording_gen(*a, **kw):
        inputs.append(real_gen(*a, **kw))
        return inputs[-1]

    def corrupted(df, **kw):
        inp = inputs[-1]
        victim = min(u for u in inp.oracle_hashes if inp.outcomes[u] == gen.SUCCESS)
        hit = F.col("url") == victim
        return real_extract(df, **kw).withColumn(
            "content", F.when(hit, F.lit("corrupted")).otherwise(F.col("content"))
        )

    monkeypatch.setattr(gen, "gen_crawl", recording_gen)
    monkeypatch.setattr(job, "extract_pages", corrupted)
    monkeypatch.setattr(gen, "CRAWL_DOCS", 400)


@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_one_corrupted_output_fails_the_run(workload, monkeypatch, capsys):
    """Corrupt one doc's output: every pass must count it failed, the run
    must report correct=false and exit non-zero."""
    {"dedup_near": _corrupt_dedup, "crawl_mix": _corrupt_crawl}[workload](monkeypatch)
    code = run.main(["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", "0"])
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 1
    assert result["correct"] is False
    assert result["failed"] == run.WARMUP_PASSES + run.MIN_PASSES
