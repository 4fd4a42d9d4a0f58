"""Pipeline tests on local Spark (SURVEY.md §5.2 items 3-4): resume
idempotency, crash-resume, placement output-invariance, the job's shape
(one extraction pass, no schema inference), heavy-doc bounds, lineage
reconciliation."""

from __future__ import annotations

import json
import os

import pytest

from pdf_document_extractor_spark.fixtures.gen import (
    HEAVY_BYTES_TEST,
    gen_scale_corpus,
    gen_unit_corpus,
)
from pdf_document_extractor_spark.plans.run import run_extraction_job
from pdf_document_extractor_spark.sources.catalog import SnapshotTable
from pdf_document_extractor_spark.sources.pages import pages_df_from_fixtures


@pytest.fixture()
def corpus_df(spark):
    return pages_df_from_fixtures(spark, gen_scale_corpus(300))


def _contents(df):
    return {
        (r.url, r.page_number): (r.content, r.status) for r in df.collect()
    }


def test_job_end_to_end_and_lineage_reconciles(spark, tmp_path, corpus_df):
    wh = str(tmp_path / "wh")
    res = run_extraction_job(spark, corpus_df, wh, "r1", num_partitions=8)
    assert res.committed and res.docs_in == 300

    extracted = SnapshotTable(wh, "extracted").read(spark)
    lineage = SnapshotTable(wh, "lineage").read(spark)
    per_doc = extracted.select("url", "status").groupBy("url").count()
    assert per_doc.count() == 300  # every input doc has >=1 output row

    lin = {r.partition_id: r for r in lineage.collect()}
    rollup = lin.pop(-1)
    # per-partition counts reconcile with the rollup row
    assert sum(r.doc_count for r in lin.values()) == rollup.doc_count == 300
    assert sum(r.success_count for r in lin.values()) == rollup.success_count
    assert sum(r.hard_fail_count for r in lin.values()) == rollup.hard_fail_count
    # manifest urls == hard-failure urls
    manifest_urls = {
        e["url"]
        for r in lin.values()
        for e in json.loads(r.failure_manifest or "[]")
    }
    hard_urls = {
        r.url for r in extracted.filter("status='hard_failure'").collect()
    }
    assert manifest_urls == hard_urls
    assert rollup.hard_fail_count == len(hard_urls)


def test_resume_is_idempotent(spark, tmp_path, corpus_df):
    wh = str(tmp_path / "wh")
    res1 = run_extraction_job(spark, corpus_df, wh, "r1", num_partitions=8)
    assert res1.committed
    # same run_id again: no-op
    res2 = run_extraction_job(spark, corpus_df, wh, "r1", num_partitions=8)
    assert not res2.committed
    # new run_id over same input: anti-join leaves nothing to do
    res3 = run_extraction_job(spark, corpus_df, wh, "r2", num_partitions=8)
    assert res3.docs_in == 0 and not res3.committed
    extracted = SnapshotTable(wh, "extracted").read(spark)
    assert extracted.groupBy("url").count().count() == 300  # no duplicates


def test_partial_run_resumes_exactly(spark, tmp_path, corpus_df):
    """Crash simulation: first run saw only half the input (as if the job
    died after committing a partial snapshot); the rerun must process
    exactly the remainder, and the union must equal a clean one-shot run."""
    wh = str(tmp_path / "wh")
    from pyspark.sql import functions as F  # noqa: N812

    half = corpus_df.filter(F.crc32(F.col("url")) % 2 == 0)
    run_extraction_job(spark, half, wh, "r1", num_partitions=8)
    res2 = run_extraction_job(spark, corpus_df, wh, "r2", num_partitions=8)
    assert 0 < res2.docs_in < 300

    resumed = _contents(SnapshotTable(wh, "extracted").read(spark))

    wh2 = str(tmp_path / "wh2")
    run_extraction_job(spark, corpus_df, wh2, "r1", num_partitions=8)
    oneshot = _contents(SnapshotTable(wh2, "extracted").read(spark))
    assert resumed == oneshot  # byte-identical content, same statuses


def test_placement_is_output_invariant(spark, tmp_path):
    """The job at 16 partitions, at 2 and at its default commits
    byte-identical extracted content: url-hash placement never changes
    output. The default places one task per core slot, each with work."""
    docs = gen_unit_corpus()
    pages = pages_df_from_fixtures(spark, docs)

    wh_a = str(tmp_path / "a")
    run_extraction_job(spark, pages, wh_a, "r1", num_partitions=16)
    wh_b = str(tmp_path / "b")
    run_extraction_job(spark, pages, wh_b, "r1", num_partitions=2)
    wh_c = str(tmp_path / "c")
    run_extraction_job(spark, pages, wh_c, "r1")
    a = _contents(SnapshotTable(wh_a, "extracted").read(spark))
    b = _contents(SnapshotTable(wh_b, "extracted").read(spark))
    c = _contents(SnapshotTable(wh_c, "extracted").read(spark))
    assert a == b == c
    tasks = SnapshotTable(wh_c, "lineage").read(spark).filter("partition_id >= 0")
    counts = [r.doc_count for r in tasks.collect()]
    assert len(counts) == spark.sparkContext.defaultParallelism
    assert all(n > 0 for n in counts)


def _spark_work(spark, fn):
    """Run fn; return (its result, the physical plans of the SQL
    executions it ran, in order, the ids of the jobs it ran outside any
    SQL execution, e.g. parquet schema inference), read from the status
    store."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def state():
        bus.waitUntilEmpty()
        execs = conv.asJava(store.executionsList())
        return {e.executionId(): e for e in execs}, set(tracker.getJobIdsForGroup())

    execs0, jobs0 = state()
    out = fn()
    execs1, jobs1 = state()
    new = [e for i, e in sorted(execs1.items()) if i not in execs0]
    in_sql = {int(j) for e in new for j in conv.asJava(e.jobs()).keySet()}
    return out, [e.physicalPlanDescription() for e in new], jobs1 - jobs0 - in_sql


def test_job_runs_no_action_before_the_extraction_write(spark, tmp_path, corpus_df):
    """A resuming run's first Spark work is the extraction write itself
    (no pre-pass, no count), placed by url hash, and no job runs outside
    a SQL execution (no parquet schema inference): write extracted, write
    lineage, read back the rollup row."""
    from pyspark.sql import functions as F  # noqa: N812

    wh = str(tmp_path / "wh")
    half = corpus_df.filter(F.crc32(F.col("url")) % 2 == 0)
    run_extraction_job(spark, half, wh, "r1", num_partitions=8)
    res, plans, outside = _spark_work(
        spark, lambda: run_extraction_job(spark, corpus_df, wh, "r2", num_partitions=8)
    )
    assert res.committed and 0 < res.docs_in < 300
    assert len(plans) == 3, plans
    assert "MapInPandas" in plans[0] and "hashpartitioning(url" in plans[0]
    assert "LeftAnti" in plans[0]
    assert "MapInPandas" not in plans[1] + plans[2]
    assert not outside


def test_default_placement_follows_scan_splits(spark, tmp_path):
    """With no partition count the job places one task per core slot
    until the input spans more scan splits (maxPartitionBytes) than
    that, then the fewest whole waves of slots that keep a task within
    one split. The count is read from the plan, with no Spark work; an
    input Spark cannot size gets one wave."""
    from pdf_document_extractor_spark.plans.run import default_partitions

    slots = spark.sparkContext.defaultParallelism
    pages = pages_df_from_fixtures(spark, gen_unit_corpus())
    assert default_partitions(spark, pages) == slots
    pages.write.parquet(str(tmp_path / "pages"))
    size = sum(f.stat().st_size for f in (tmp_path / "pages").glob("*.parquet"))
    scan = spark.read.parquet(str(tmp_path / "pages"))
    assert default_partitions(spark, scan) == slots

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    # a split count between two whole waves: the last wave is filled up
    split = size // (2 * slots + 1)
    spark.conf.set(key, str(split))
    try:
        n, plans, outside = _spark_work(
            spark, lambda: default_partitions(spark, scan)
        )
    finally:
        spark.conf.set(key, old)
    splits = -(-size // split)
    assert splits % slots and n == slots * -(-splits // slots) > splits
    assert not plans and not outside


def test_all_done_rerun_publishes_nothing(spark, tmp_path, corpus_df):
    """A new run_id over fully extracted input leaves both manifests
    byte-unchanged and no staged snapshot dir behind."""
    wh = str(tmp_path / "wh")
    run_extraction_job(spark, corpus_df, wh, "r1", num_partitions=8)
    tables = [SnapshotTable(wh, n) for n in ("extracted", "lineage")]
    manifests = [t.manifest_path.read_bytes() for t in tables]

    res = run_extraction_job(spark, corpus_df, wh, "r2", num_partitions=8)
    assert not res.committed and res.docs_in == 0 and res.snapshot_id == 1
    assert [t.manifest_path.read_bytes() for t in tables] == manifests
    for t in tables:
        assert sorted(os.listdir(t.data_dir)) == ["snap-000001-r1"]


def test_rerun_recovers_a_failed_lineage_publish(
    spark, tmp_path, corpus_df, lineage_publish_fails_once
):
    """The job dies between the two manifest flips: `extracted` is
    published, the lineage publish raises. The rerun of the same run id
    rebuilds the run's lineage from the published snapshot: one rollup row,
    per-partition rows summing to it, and no orphan staged dir."""
    wh = str(tmp_path / "wh")
    with pytest.raises(OSError, match="lineage publish failed"):
        run_extraction_job(spark, corpus_df, wh, "r1", num_partitions=8)
    lineage_tbl = SnapshotTable(wh, "lineage")
    assert lineage_tbl.read(spark) is None

    res = run_extraction_job(spark, corpus_df, wh, "r1", num_partitions=8)
    assert res.committed and res.docs_in == 300 and res.snapshot_id == 1
    lin = lineage_tbl.read(spark).filter("run_id = 'r1'").collect()
    rollups = [r for r in lin if r.partition_id == -1]
    assert len(rollups) == 1 and rollups[0].doc_count == 300
    assert sum(r.doc_count for r in lin if r.partition_id != -1) == 300
    assert sorted(os.listdir(lineage_tbl.data_dir)) == ["snap-000001-r1"]
    # committed now: a third run of r1 is a no-op
    assert not run_extraction_job(spark, corpus_df, wh, "r1", num_partitions=8).committed


def test_heavy_docs_actually_route(spark, tmp_path):
    docs = gen_unit_corpus()
    pages = pages_df_from_fixtures(spark, docs)
    from pdf_document_extractor_spark.operators.skew import split_heavy

    light, heavy = split_heavy(pages, HEAVY_BYTES_TEST)
    n_heavy = heavy.count()
    assert n_heavy >= 2  # the oversize fixture class
    assert light.count() + n_heavy == 36


def test_arrow_byte_cap_bounds_input_batches(spark):
    """With RECOMMENDED_CONF's row and byte caps (the byte cap scaled to
    the oversize fixture class), a mapInPandas input batch closes at the
    row that reaches the cap: without its last row every batch is under
    the cap, so a doc larger than the cap never shares a batch with more
    than the cap's worth of others, and is the last row of its batch."""
    import pandas as pd

    from pdf_document_extractor_spark.plans.run import RECOMMENDED_CONF

    cap_key = "spark.sql.execution.arrow.maxBytesPerBatch"
    rows_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    assert RECOMMENDED_CONF[cap_key] == str(64 << 20)
    cap = 3 * HEAVY_BYTES_TEST
    heavy = [d for d in gen_unit_corpus() if len(d.html) > HEAVY_BYTES_TEST]
    assert len(heavy) >= 2 and all(len(d.html) < cap for d in heavy)
    giant = heavy[0].html + b"<!--" + b"x" * cap + b"-->"
    light = [
        (f"https://light.example/{i}", b"<p>" + b"y" * (HEAVY_BYTES_TEST // 8) + b"</p>")
        for i in range(40)
    ]
    rows = light[:20] + [(d.url, d.html) for d in heavy] * 3
    rows += [("https://giant.example/0", giant)] + light[20:]
    pages = spark.createDataFrame(rows, "url string, html binary").coalesce(1)

    def probe(batches):
        for b in batches:
            sizes = b["html"].map(len).tolist()
            yield pd.DataFrame({"sizes": [sizes]})

    saved = {k: spark.conf.get(k, None) for k in (cap_key, rows_key)}
    spark.conf.set(rows_key, RECOMMENDED_CONF[rows_key])
    spark.conf.set(cap_key, str(cap))
    try:
        batches = [r.sizes for r in pages.mapInPandas(probe, "sizes array<long>").collect()]
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    assert sorted(n for b in batches for n in b) == sorted(len(h) for _, h in rows)
    assert len(batches) > 3
    for b in batches:
        assert sum(b[:-1]) < cap, b
    assert any(b[-1] == len(giant) for b in batches)


@pytest.mark.parametrize("n_parts", [512, 2048, 4096])
def test_url_repartition_fills_every_partition(spark, n_parts):
    """The job's placement, repartition(P, "url"), leaves no partition
    empty over 200k urls of 5k hosts, also above 1024 partitions."""
    from pyspark.sql import functions as F  # noqa: N812

    urls = spark.range(200_000).select(
        F.format_string("https://host%d.example/doc/%d", F.col("id") % 5000, F.col("id")).alias("url")
    )
    filled = (
        urls.repartition(n_parts, "url")
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert filled == n_parts


def test_time_travel_reads_past_snapshot(spark, tmp_path, corpus_df):
    from pyspark.sql import functions as F  # noqa: N812

    wh = str(tmp_path / "wh")
    half = corpus_df.filter(F.crc32(F.col("url")) % 2 == 0)
    run_extraction_job(spark, half, wh, "r1", num_partitions=4)
    tbl = SnapshotTable(wh, "extracted")
    v1 = tbl.current_snapshot_id()
    n1 = tbl.read(spark).count()
    run_extraction_job(spark, corpus_df, wh, "r2", num_partitions=4)
    assert tbl.read(spark, as_of=v1).count() == n1
    assert tbl.read(spark).count() > n1


def test_incremental_read_since_snapshot(spark, tmp_path, corpus_df):
    """read_since returns exactly the delta committed after a snapshot id
    (the Iceberg incremental-scan / Kafka consume-from-offset analog)."""
    from pyspark.sql import functions as F  # noqa: N812

    wh = str(tmp_path / "wh")
    half = corpus_df.filter(F.crc32(F.col("url")) % 2 == 0)
    run_extraction_job(spark, half, wh, "r1", num_partitions=4)
    tbl = SnapshotTable(wh, "extracted")
    v1 = tbl.current_snapshot_id()
    assert tbl.read_since(spark, v1) is None  # no delta yet

    run_extraction_job(spark, corpus_df, wh, "r2", num_partitions=4)
    delta = tbl.read_since(spark, v1)
    all_rows = tbl.read(spark).count()
    v1_rows = tbl.read(spark, as_of=v1).count()
    assert delta.count() == all_rows - v1_rows
    # delta contains ONLY r2's urls (the unprocessed half)
    r1_urls = {r.url for r in tbl.read(spark, as_of=v1).select("url").collect()}
    assert all(r.url not in r1_urls for r in delta.select("url").collect())


def test_commit_reclaims_orphan_snapshot_dir(spark, tmp_path, corpus_df):
    """A commit that died mid-write leaves a data dir with no manifest
    entry. The replayed commit must reclaim that path (overwrite), not
    crash-loop on PATH_ALREADY_EXISTS."""
    wh = str(tmp_path / "wh")
    tbl = SnapshotTable(wh, "extracted")
    # simulate the torn first attempt: data written, manifest never flipped
    orphan = tbl.data_dir / "snap-000001-r1"
    corpus_df.limit(5).write.parquet(str(orphan))
    assert tbl.current_snapshot_id() == 0  # invisible

    from pdf_document_extractor_spark.operators.extract import extract_pages

    snap = tbl.commit(extract_pages(corpus_df), "r1")
    assert snap is not None and snap.snapshot_id == 1
    n_docs = tbl.read(spark).select("url").distinct().count()
    assert n_docs == corpus_df.count()  # full data, not the torn 5 rows


def test_salting_rebalances_coarse_buckets(spark):
    """With a coarse bucket layout (bucket(8, url), e.g. an Iceberg table
    bucketed for locality) only 8 partition keys exist, so a 32-way
    repartition leaves >= 24 cores idle. Salting hot hosts multiplies the
    key space and rebalances — placement-only, no output change."""
    from pyspark.sql import functions as F  # noqa: N812

    from pdf_document_extractor_spark.operators.skew import salted_repartition

    docs = spark.range(4000).select(
        F.concat(
            F.lit("https://hot.example/"), F.col("id").cast("string")
        ).alias("url"),
        F.lit(b"<p>x</p>").alias("html"),
    )

    def partition_sizes(df):
        rows = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .collect()
        )
        return [r["count"] for r in rows]

    unsalted = salted_repartition(docs, 32, hot=[], buckets=8, salt_buckets=16)
    salted = salted_repartition(
        docs, 32, hot=["hot.example"], buckets=8, salt_buckets=16
    )
    n_un = len(partition_sizes(unsalted))
    n_sa = len(partition_sizes(salted))
    assert n_un <= 8  # coarse buckets cap parallelism
    assert n_sa > n_un * 2  # salting restores it
    # placement only: same rows either way
    assert unsalted.count() == salted.count() == 4000


def test_hash_sampling_is_nested_and_deterministic(spark):
    """sample_hash(pct) slices nest (10% subset of 20%) and replay exactly."""
    from pdf_document_extractor_spark.operators.sampling import sample_hash

    docs = spark.range(2000).withColumnRenamed("id", "doc_id")
    s10 = {r.doc_id for r in sample_hash(docs, "doc_id", 10).collect()}
    s20 = {r.doc_id for r in sample_hash(docs, "doc_id", 20).collect()}
    assert s10 <= s20
    assert 100 <= len(s10) <= 300 and 280 <= len(s20) <= 520
    again = {r.doc_id for r in sample_hash(docs, "doc_id", 10).collect()}
    assert again == s10
    # different salt -> a different (deterministic) slice
    other = {r.doc_id for r in sample_hash(docs, "doc_id", 10, salt="x").collect()}
    assert other != s10


def test_chunk_reassembly_roundtrip(spark):
    """Dropping each chunk's leading `overlap` tokens (except chunk 0) and
    concatenating reproduces the original token stream exactly — no token
    lost, none duplicated (the training-corpus integrity property)."""
    import random

    from pyspark.sql import functions as F  # noqa: N812

    from pdf_document_extractor_spark.operators.chunking import (
        chunk_documents,
    )

    rng = random.Random(7)
    rows = []
    for i in range(50):
        n = rng.randint(1, 130)
        rows.append((i, " ".join(f"w{rng.randint(0, 9)}" for _ in range(n))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = chunk_documents(docs, chunk_size=20, overlap=5).collect()
    by_doc = {}
    for r in sorted(chunks, key=lambda r: (r.doc_id, r.chunk_idx)):
        toks = r.chunk_text.split()
        if r.chunk_idx == 0:
            by_doc[r.doc_id] = toks
        else:
            # overlap region must MATCH the previous chunk's tail...
            assert by_doc[r.doc_id][-5:] == toks[:5] or len(toks) < 5
            # ...then contribute only the novel tail
            by_doc[r.doc_id].extend(toks[5:])
    for doc_id, text in rows:
        assert by_doc[doc_id] == text.split(), doc_id


def test_stratified_sample_rates_are_independent(spark):
    """Changing one stratum's rate must not reshuffle another stratum's
    sample (the hash keys on the row, not the stratum) — the property
    that makes mixture rates independently tunable across reruns."""
    from pdf_document_extractor_spark.operators.sampling import (
        stratified_sample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source"
    )
    a = stratified_sample(docs, "doc_id", "source", {"src0": 50, "src1": 50})
    b = stratified_sample(docs, "doc_id", "source", {"src0": 50, "src1": 90})
    src0_a = {r.doc_id for r in a.filter("source = 'src0'").collect()}
    src0_b = {r.doc_id for r in b.filter("source = 'src0'").collect()}
    assert src0_a == src0_b
    # and raising a rate only ADDS rows within that stratum (nested samples)
    src1_a = {r.doc_id for r in a.filter("source = 'src1'").collect()}
    src1_b = {r.doc_id for r in b.filter("source = 'src1'").collect()}
    assert src1_a <= src1_b and len(src1_b) > len(src1_a)


@pytest.mark.parametrize("output_format", ["markdown", "html"])
def test_job_threads_output_format_to_extraction(
    spark, tmp_path, output_format
):
    """The M4 output format rides the job end-to-end. A markdown run
    commits '# Page' content for PDFs and leaves html content untouched;
    an html run commits, for every html doc, the content the pure-Python
    path renders for that url."""
    from pdf_document_extractor_spark.operators.extract import extract_rows_py

    docs = gen_scale_corpus(30)
    pages = pages_df_from_fixtures(spark, docs)
    res = run_extraction_job(
        spark,
        pages,
        str(tmp_path / "wh"),
        "fmt-run",
        output_format=output_format,
    )
    assert res.committed
    rows = SnapshotTable(str(tmp_path / "wh"), "extracted").read(spark)
    pdf_rows = rows.filter("doc_type = 'pdf' AND status = 'success'")
    html_rows = rows.filter("doc_type = 'html' AND status = 'success'")
    assert pdf_rows.count() > 0
    if output_format == "markdown":
        assert all(
            r.content.startswith("# Page ") for r in pdf_rows.collect()
        )
        assert not any(
            r.content.startswith("# Page") for r in html_rows.collect()
        )
        return
    payloads = {d.url: d.html for d in docs}
    committed = html_rows.select("url", "content").collect()
    assert committed
    for r in committed:
        (want,) = extract_rows_py(
            r.url, payloads[r.url], output_format="html"
        )
        assert r.content == want["content"]
        assert r.content.startswith("<")


def test_content_fallback_chain_m14(spark):
    """M14: extracted content > provided text > metadata JSON terminal
    (reference api_extraction_processor.py:316-344 coalesce chain)."""
    import json

    from pdf_document_extractor_spark.operators.extract import (
        coalesce_content,
        extract_pages,
    )
    from pdf_document_extractor_spark.sources.pages import (
        PAGES_SCHEMA,
        synth_html_payload,
    )

    rows = [
        # extractable html -> 'extracted'
        ("u1", None, synth_html_payload(1, "good body text"), "wet text", "en"),
        # corrupt pdf + provided text -> 'provided_text'
        ("u2", None, b"%PDF-1.4 broken", "salvaged wet text", "en"),
        # corrupt pdf + EMPTY provided text -> terminal metadata json
        ("u3", None, b"%PDF-1.4 broken", "", "en"),
    ]
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    out = {
        r["url"]: r
        for r in coalesce_content(extract_pages(pages), pages).collect()
    }
    assert out["u1"]["content_source"] == "extracted"
    assert out["u1"]["content_final"] == "good body text"
    assert out["u2"]["content_source"] == "provided_text"
    assert out["u2"]["content_final"] == "salvaged wet text"
    assert out["u3"]["content_source"] == "metadata_json"
    meta = json.loads(out["u3"]["content_final"])
    assert meta["url"] == "u3" and meta["error_type"]


def test_content_fallback_no_fanout_on_duplicate_urls(spark):
    """coalesce_content's left join against pages must not fan out
    extracted rows when the pages table carries duplicate urls (round-4
    advice: the provided-text projection is deduplicated on url)."""
    from pdf_document_extractor_spark.operators.extract import (
        coalesce_content,
        extract_pages,
    )
    from pdf_document_extractor_spark.sources.pages import (
        PAGES_SCHEMA,
        synth_html_payload,
    )

    rows = [
        ("dup", None, synth_html_payload(1, "body text"), "wet one", "en"),
        ("dup", None, synth_html_payload(1, "body text"), "wet two", "en"),
    ]
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    extracted = extract_pages(pages.dropDuplicates(["url"]))
    assert extracted.count() == 1
    out = coalesce_content(extracted, pages).collect()
    assert len(out) == 1, "duplicate pages urls fanned out extracted rows"
