"""Skew handling: url-hash bucketing with explicit salting for hot hosts.

North-rule requirement; replaces the reference's serial semaphore
concurrency (kafka_background_service.py:112, settings.py:56) with explicit
data-parallel placement. The Scarlett paper (EUROSYS'11, PAPERS.md)
balances by the popularity of the PLACEMENT UNIT. The extraction job
(plans/run.py) places by url, and urls are unique, so plain
``repartition(P, url)`` already spreads a hot host over every partition:
the job runs none of the salting below.

Salting applies only when the placement key is coarser than the url, e.g.
a table bucketed ``bucket(8, url)`` for locality, where a Zipfian host
distribution concentrates in a few keys (tested in
tests/test_pipeline.py::test_salting_rebalances_coarse_buckets):

  bucket = pmod(xxhash64(url), B)
  salt   = pmod(xxhash64(url, 1), S)   for rows whose host is "hot",
           0                            otherwise
  repartition(P, bucket, salt)

Hot hosts come from a cheap pre-pass ``groupBy(host).count()`` — at 100 TB
this aggregates to ~#distinct-hosts rows (tiny) and the hot set is collected
to the driver and broadcast into the literal filter. All placement columns
are dropped before extraction output, so the result is independent of B, S,
P, and the hot-host set (the extract_salted_invariance registry query).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

# Single-group pattern for the PLACEMENT hot path: evaluated per row in
# the pre-pass and in the salt projection, so it must stay cheap — the
# 5-group anchored regex in functions/url.py belongs to canonicalization,
# not here. Lowercasing still applies (a case-variant host split across
# spellings would fall below hot_fraction and silently dodge salting).
HOST_PATTERN = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)"


def with_host(df: "DataFrame", url_col: str = "url") -> "DataFrame":
    from pyspark.sql import functions as F  # noqa: N812

    return df.withColumn(
        "host",
        F.lower(F.regexp_extract(F.col(url_col), HOST_PATTERN, 1)),
    )


def host_stats(
    pages_df: "DataFrame",
    hot_fraction: float = 0.05,
    url_col: str = "url",
    sample_fraction: float | None = None,
) -> tuple[list[str], int]:
    """(hot hosts, total row count) from ONE scan of the url column.

    The per-host aggregate is tiny (~#distinct hosts rows, stays
    distributed); the total is summed from it rather than re-scanning the
    input, and only above-threshold hosts are collected to the driver.

    ``sample_fraction``: hot-host detection is a FREQUENCY estimate — at
    100 TB you sample the url column (seeded, deterministic), you don't
    scan 10^12 rows to learn that one host holds 20% of them. A host at
    hot_fraction 0.05 appears ~50k times in a 0.1% sample of 10^9 rows;
    the estimate cannot miss it. Placement-only: a borderline host salted
    or not never changes output. Returned total is scaled back up (exact
    when sample_fraction is None).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F  # noqa: N812

    src = pages_df
    scale = 1.0
    if sample_fraction is not None and sample_fraction < 1.0:
        src = pages_df.sample(False, sample_fraction, seed=42)
        scale = 1.0 / sample_fraction
    counts = with_host(src, url_col).groupBy("host").count()
    # ONE action for the common case: the total rides each above-threshold
    # row via a global window over the (tiny, ~#distinct-hosts) aggregate,
    # so hot hosts and the total come back in a single collect instead of
    # the former persist + two jobs (each job re-reads the url scan's
    # shuffle output; on the throughput job this pre-pass is on the timed
    # path). The window's single-partition stage holds only per-host
    # rows, never page rows. A second (cheap, aggregate-only) job runs
    # only when no host clears the threshold.
    total_w = F.sum("count").over(Window.partitionBy())
    rows = (
        counts.withColumn("_total", total_w)
        .filter(F.col("count") > F.col("_total") * hot_fraction)
        .select("host", "_total")
        .collect()
    )
    if rows:
        sampled_total = int(rows[0]["_total"])
        return sorted(r["host"] for r in rows), int(sampled_total * scale)
    row = counts.agg(F.sum("count").alias("t")).collect()[0]
    sampled_total = int(row["t"] or 0)
    return [], int(sampled_total * scale)


def hot_hosts(
    pages_df: "DataFrame",
    hot_fraction: float = 0.05,
    url_col: str = "url",
) -> list[str]:
    """Hosts holding more than ``hot_fraction`` of all rows."""
    hot, _ = host_stats(pages_df, hot_fraction, url_col)
    return hot


def salted_repartition(
    pages_df: "DataFrame",
    num_partitions: int,
    hot: list[str],
    buckets: int = 1024,
    salt_buckets: int = 16,
    url_col: str = "url",
) -> "DataFrame":
    """Repartition by (url-hash bucket, hot-host salt). Placement only —
    never changes output content. Internal columns are dropped."""
    from pyspark.sql import functions as F  # noqa: N812

    df = with_host(pages_df, url_col)
    bucket = F.pmod(F.xxhash64(F.col(url_col)), F.lit(buckets))
    salt = F.when(
        F.col("host").isin(hot) if hot else F.lit(False),
        F.pmod(F.xxhash64(F.col(url_col), F.lit(1)), F.lit(salt_buckets)),
    ).otherwise(F.lit(0))
    out = (
        df.withColumn("_bucket", bucket)
        .withColumn("_salt", salt)
        .repartition(num_partitions, "_bucket", "_salt")
        .drop("_bucket", "_salt", "host")
    )
    return out


def spread_small_input(
    df: "DataFrame", min_partitions: int | None = None
) -> "DataFrame":
    """Input-skew guard (spark_optimization_guide §2.5 "input skew"): a
    table that arrives in fewer scan partitions than the cluster has
    cores — the classic one-big-file shape; a single-file parquet table
    under ``spark.sql.files.maxPartitionBytes`` scans as ONE partition —
    serializes every downstream map stage (synthesis, tokenization,
    shingling) on one core until the first shuffle. Round-robin
    repartition up to the default parallelism.

    Scale-safe by construction: an at-scale table always has at least as
    many scan partitions as the cluster has cores, so this is a no-op
    there; it only fires on the pathological small-input layout, where
    the repartition shuffles a few MB once to unlock every core."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def split_heavy(
    pages_df: "DataFrame",
    heavy_bytes: int,
    html_col: str = "html",
) -> tuple["DataFrame", "DataFrame"]:
    """(light, heavy) split on payload size, for a caller that runs heavy
    docs as their own stage (reference analog: the oversize guards at
    src/utils/image_validator.py:36-150). Both branches produce identical
    output schema; union happens at the sink. The extraction job does not
    split: the Arrow byte cap in plans/run.py RECOMMENDED_CONF bounds its
    batches instead."""
    from pyspark.sql import functions as F  # noqa: N812

    cond = F.length(F.col(html_col)) > heavy_bytes
    return pages_df.filter(~cond), pages_df.filter(cond)
