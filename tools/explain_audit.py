"""Physical-plan audit: regenerates EXPLAIN.md.

For each load-bearing plan, capture .explain("formatted") and assert the
scale-critical properties (column pruning reaches the scan, predicate
pushdown, broadcast joins where a side is small, no shuffle on the fused
extract path). Run: python tools/explain_audit.py
"""

from __future__ import annotations

import contextlib
import io
import os
import pathlib
import sys
import tempfile

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SECTIONS: list[tuple[str, str, list[str], str]] = []


def capture(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(title: str, df, must_contain: list[str], note: str) -> None:
    plan = capture(df)
    missing = [m for m in must_contain if m not in plan]
    status = "OK" if not missing else f"MISSING {missing}"
    print(f"{title:45s} {status}")
    SECTIONS.append((title, plan, must_contain, note))
    if missing:
        raise SystemExit(f"plan audit failed: {title}: missing {missing}")


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F  # noqa: N812

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.warehouse.dir",
            tempfile.mkdtemp(prefix="explain-audit-wh-"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pdf_document_extractor_spark.operators.extract import extract_pages
    from pdf_document_extractor_spark.plans.run import extraction_plan
    from pdf_document_extractor_spark.sources.catalog import SnapshotTable
    from pdf_document_extractor_spark.sources.pages import (
        synthesize_pages_from_documents,
    )

    tmp = tempfile.mkdtemp()
    pages_path = os.path.join(tmp, "pages.parquet")
    synthesize_pages_from_documents(
        spark, "/root/testdata/sf0.001", "mixed"
    ).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)

    audit(
        "fused extract over pages table",
        extract_pages(pages),
        ["ReadSchema: struct<url:string,html:binary>", "MapInPandas"],
        "Column pruning reaches the parquet scan: only (url, html) are "
        "read even though the table has 5 columns (warc_ts/text/lang are "
        "never deserialized). No Exchange anywhere — the extraction path "
        "is scan -> Arrow -> Python -> output, zero shuffles. At 100 TB "
        "this is the difference between reading ~60% of the table bytes "
        "and reading all of them.",
    )

    committed = pages.select("url").filter(F.length("url") > 30)
    todo = pages.join(committed, "url", "left_anti")
    audit(
        "idempotent resume anti-join",
        extract_pages(todo),
        ["BroadcastHashJoin LeftAnti", "ReadSchema: struct<url:string>"],
        "The committed-urls side scans ONLY the url column and broadcasts; "
        "the pages side is never shuffled by the join. This holds only "
        "while the committed side fits spark.sql.autoBroadcastJoinThreshold. "
        "A larger committed set gives a SortMergeJoin under Exchange "
        "hashpartitioning(url, spark.sql.shuffle.partitions) on the pages "
        "side (200 by default); the job's placement then adds a "
        "REPARTITION_BY_NUM exchange on top, so every payload byte is "
        "shuffled twice.",
    )

    audit(
        "url prefix predicate pushdown",
        pages.filter(F.col("url").startswith("https://synth.example/mi")),
        ["PushedFilters: [IsNotNull(url), StringStartsWith(url"],
        "Predicates on scan columns reach the parquet reader "
        "(row-group/page skip via min-max stats at scale).",
    )

    extracted_tbl = SnapshotTable(os.path.join(tmp, "wh"), "extracted")
    extracted_tbl.commit(extract_pages(pages.limit(50)), "prior")
    audit(
        "extraction job: url placement (the ONE shuffle)",
        extraction_plan(spark, pages, extracted_tbl, num_partitions=8),
        ["LeftAnti", "hashpartitioning(url", "REPARTITION_BY_NUM", "MapInPandas"],
        "plans/run.py's extraction plan after one committed run: the "
        "resume anti-join against the committed urls (each doc's "
        "page_number<=1 row, so the broadcast side needs no distinct and "
        "no exchange), then the placement shuffle hashpartitioning(url, "
        "P) straight over the scan (no host pre-pass, no salt columns: "
        "urls are unique, so their hash already spreads a hot host over "
        "all P partitions), then the one fused MapInPandas. This is the "
        "only wide dependency on the extraction path; the committed side "
        "is read with the schema its manifest entry records, so planning "
        "runs no inference job.",
    )

    # -- LSH joins read one materialized state, keyed on band and doc ids --
    from pdf_document_extractor_spark.operators.dedup import minhash_lsh_pairs

    docs_small = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    lsh_plan = capture(minhash_lsh_pairs(docs_small))
    join_keys = [
        ln for ln in lsh_plan.splitlines()
        if ln.startswith(("Left keys", "Right keys"))
    ]
    assert join_keys, "LSH plan has no keyed join"
    assert not any("shingle" in ln for ln in join_keys), "join keyed on a shingle"
    assert any("[id_a#" in ln for ln in join_keys), "no verify join on id_a"
    assert any("[id_b#" in ln for ln in join_keys), "no verify join on id_b"
    assert "Scan ExistingRDD" in lsh_plan and "Scan parquet" not in lsh_plan, (
        "every LSH branch must read the materialized per-doc state"
    )
    assert "md5(" not in lsh_plan, "verification plan re-hashes shingles"
    # once in the Jaccard filter (pushed into the id_b join condition),
    # once in the output's inter column: the threshold names inter once
    n_intersect = lsh_plan.count("array_intersect(")
    assert n_intersect == 2, f"array_intersect( {n_intersect}x, want 2"
    title = "LSH joins read one per-doc state"
    print(f"{title:45s} OK")
    SECTIONS.append(
        (
            title,
            "\n".join(
                ln
                for ln in lsh_plan.splitlines()
                if "keys" in ln or "Join" in ln or "Scan" in ln
            ),
            [
                "no join keyed on a shingle",
                "verify joins keyed on id_a / id_b",
                "every scan is the materialized state (Scan ExistingRDD)",
                "no md5(",
                "array_intersect( twice: Jaccard filter + inter column",
            ],
            "minhash_lsh_pairs materializes one per-doc state (doc_id, "
            "shingle set, band keys) with an eager localCheckpoint; the "
            "plan that follows reads only that state. The band self-join "
            "is keyed on (band, key); the exact-Jaccard verification joins "
            "candidate pairs to the state on id_a and on id_b and "
            "intersects the two shingle arrays. No join is keyed on a "
            "shingle, so neither the full inverted-index self-join (O(sum_s "
            "df(s)^2), the quadratic cost LSH exists to avoid) nor an "
            "exploded per-pair shingle join can come back, and no md5( "
            "means the shingles are not hashed again after the state is "
            "built. The Jaccard threshold (100+tau)*inter >= tau*(a+b) names "
            "inter once, so the intersection appears once in the join "
            "condition the filter is pushed into and once in the output. "
            "Only join, key and scan lines shown.",
        )
    )

    # -- bucketed co-located join: shuffle-free enrichment ------------------
    spark.sql("DROP TABLE IF EXISTS pages_b")
    spark.sql("DROP TABLE IF EXISTS extracted_b")
    pages.write.bucketBy(8, "url").sortBy("url").saveAsTable("pages_b")
    extract_pages(pages).select("url", "status", "word_count").write.bucketBy(
        8, "url"
    ).sortBy("url").saveAsTable("extracted_b")
    # at sandbox scale both tables fit the broadcast threshold, which would
    # hide the bucket layout — disable it to show the 10^12-row plan shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("pages_b").join(spark.table("extracted_b"), "url")
        plan = capture(joined)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "SortMergeJoin" in plan and "Exchange hashpartitioning" not in plan, (
        "bucketed join must not shuffle"
    )
    assert "Bucketed: true" in plan
    print(f"{'bucketed co-located join (no shuffle)':45s} OK")
    SECTIONS.append(
        (
            "bucketed co-located join (no shuffle)",
            plan,
            ["SortMergeJoin", "Bucketed: true", "NO Exchange hashpartitioning"],
            "Both tables bucketed 8 ways on url (broadcast disabled here "
            "to show the big-table plan shape): the enrichment join "
            "(pages x extracted) runs with ZERO Exchange operators — each "
            "task reads matching buckets from both sides. At 10^12 docs "
            "this is how extracted output joins back to the source table "
            "(or to a prior run) without moving either table across the "
            "network; the same layout serves the resume anti-join once "
            "the committed set outgrows broadcast range.",
        )
    )

    # -- blocklist filter: dimension joins must broadcast --------------------
    from pdf_document_extractor_spark.operators.cleaning import (
        blocklist_filter,
        redact_pii,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .withColumn(
            "url",
            F.concat(F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
                     F.lit(".com/p")),
        )
    )
    hosts = spark.createDataFrame([("h0.com",)], "host string")
    words = spark.createDataFrame([("the",)], "word string")
    bl_plan = capture(blocklist_filter(docs, hosts, words))
    assert "BroadcastHashJoin" in bl_plan and "SortMergeJoin" not in bl_plan, (
        "blocklist dimension joins must broadcast, never sort-merge"
    )
    print(f"{'blocklist dims broadcast (no SMJ)':45s} OK")
    SECTIONS.append(
        (
            "blocklist dims broadcast (no SMJ)",
            bl_plan,
            ["BroadcastHashJoin", "NO SortMergeJoin"],
            "Host and word blocklists are dimension tables: both joins "
            "broadcast (LeftSemi), so the 100 TB corpus is scanned once "
            "and never shuffled on a blocklist key.",
        )
    )

    # -- M14 content fallback: plain equi-join, no nested loop ---------------
    from pdf_document_extractor_spark.operators.extract import (
        coalesce_content,
    )

    fb = coalesce_content(extract_pages(pages), pages)
    fb_plan = capture(fb)
    assert "BroadcastNestedLoopJoin" not in fb_plan and (
        "CartesianProduct" not in fb_plan
    ), "content fallback must be a hash equi-join on url, never a product"
    print(f"{'content fallback is an equi-join on url':45s} OK")
    SECTIONS.append(
        (
            "content fallback is an equi-join on url",
            fb_plan,
            ["NO BroadcastNestedLoopJoin", "NO CartesianProduct"],
            "coalesce_content joins extracted rows back to the pages "
            "table strictly on the url key (hash or sort-merge as AQE "
            "chooses) — under the north rule's url-hash bucketing both "
            "sides are co-partitioned and the join is shuffle-free; the "
            "coalesce/when/to_json chain stays in codegen.",
        )
    )

    # -- PII redaction: pure codegen, zero exchange --------------------------
    red_plan = capture(redact_pii(docs))
    assert "Exchange" not in red_plan and "codegen id" in red_plan, (
        "redaction must stay inside codegen with no shuffle"
    )
    print(f"{'pii redaction stays in codegen, no shuffle':45s} OK")
    SECTIONS.append(
        (
            "pii redaction stays in codegen, no shuffle",
            red_plan,
            ["codegen id", "NO Exchange"],
            "The regexp_replace chain compiles into one whole-stage-"
            "codegen span over the scan: redaction adds zero shuffles "
            "and zero Python crossings.",
        )
    )

    # -- figure render: one Arrow pass, no shuffle ---------------------------
    from pdf_document_extractor_spark.operators.multimodal import (
        render_figures,
    )

    # over the stored pages table: synthesis itself spreads its one-file
    # input with a round-robin exchange, which is not the render's
    figs_plan = capture(render_figures(pages))
    assert "Exchange" not in figs_plan, (
        "figure render must be a single narrow mapInPandas pass"
    )
    assert "MapInPandas" in figs_plan
    print(f"{'figure render is one narrow Arrow pass':45s} OK")
    SECTIONS.append(
        (
            "figure render is one narrow Arrow pass",
            figs_plan,
            ["MapInPandas", "NO Exchange"],
            "render_figures (M11) reads (url, html) once and emits "
            "figure rows via one Arrow-batched mapInPandas — an asset "
            "side-channel with zero shuffles; at 10^12 docs it scales "
            "with the scan, adding no exchange to the job.",
        )
    )

    md = ["# EXPLAIN — physical-plan audit (scale-critical properties)\n"]
    md.append(
        "Regenerate with `python tools/explain_audit.py` (asserts each "
        "property; fails the run if a plan regresses).\n"
    )
    for title, plan, must, note in SECTIONS:
        md.append(f"## {title}\n")
        md.append(note + "\n")
        md.append("Asserted plan properties: " + ", ".join(f"`{m}`" for m in must) + "\n")
        md.append("```\n" + plan.strip() + "\n```\n")
    (REPO / "EXPLAIN.md").write_text("\n".join(md))
    print("wrote EXPLAIN.md")
    spark.stop()


if __name__ == "__main__":
    main()
