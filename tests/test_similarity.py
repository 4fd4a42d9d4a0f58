"""Similarity operators: the exact top-k and near-pair paths — planted
duplicates, tie-breaking, the zero-vector clamp, empty inputs, and
grouped-map calls free of PySpark's type-hint warning."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: N812

from pdf_document_extractor_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_pairs,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def test_block_matrix_near_pairs_match_planted_dups(spark):
    emb = _emb(spark)
    scaled = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 3).alias("embedding"),
    )
    corpus = emb.unionByName(scaled)
    got = {(r.id_a, r.id_b) for r in embedding_near_pairs(corpus, 950).collect()}
    want = {
        (r.vec_id, r.vec_id + 100000)
        for r in emb.filter(F.col("vec_id") % 10 == 0).collect()
    }
    assert got == want
    # block count must not affect output (pure placement parameter)
    got5 = {
        (r.id_a, r.id_b)
        for r in embedding_near_pairs(corpus, 950, num_blocks=5).collect()
    }
    assert got5 == want


def test_exact_paths_tie_break_and_zero_vector(spark):
    """Cosine ties rank by neighbor_id; a zero vector scores cos 0 (not
    NaN, which Spark sorts largest), so it never ranks first and never
    forms a near pair; an empty embeddings frame gives no rows."""
    schema = "vec_id long, embedding array<float>"
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0]),
            (10, [0.0, 0.0, 0.0]),
            (11, [2.0, 0.0, 0.0]),
            (12, [1.0, 0.0, 0.0]),
            (13, [0.0, 3.0, 0.0]),
            (14, [1.0, 1.0, 0.0]),
            (15, [0.0, 0.0, 1.0]),
        ],
        schema,
    )
    got = sorted(tuple(r) for r in brute_force_topk(emb, 10, k=6).collect())
    assert got == [
        (0, 1, 11), (0, 2, 12), (0, 3, 14), (0, 4, 10), (0, 5, 13), (0, 6, 15),
        (1, 1, 13), (1, 2, 14), (1, 3, 10), (1, 4, 11), (1, 5, 12), (1, 6, 15),
    ]
    pairs = {tuple(r) for r in embedding_near_pairs(emb, 950).collect()}
    assert pairs == {(0, 11), (0, 12), (1, 13), (11, 12)}
    empty = spark.createDataFrame([], schema)
    assert brute_force_topk(empty).collect() == []
    assert embedding_near_pairs(empty).collect() == []


def test_empty_query_set_returns_no_rows(spark):
    """No vec_id below query_ids_below: the top-k path returns an empty
    result instead of raising."""
    emb = _emb(spark)
    assert brute_force_topk(emb, query_ids_below=0).collect() == []


def test_grouped_map_operators_run_without_type_hint_warning(spark):
    """applyInPandas warns that it cannot infer the eval type when its
    function annotates only some parameters; the grouped-map operator
    (embedding near pairs) must run warning-free."""
    import warnings

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [2.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        pairs = [tuple(r) for r in embedding_near_pairs(emb, 950).collect()]
    assert pairs == [(0, 1)]
