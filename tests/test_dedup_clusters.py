"""Connected-components clustering: pointer-jumping convergence + shape.

The gate oracle (recursive-CTE transitive closure) covers the near-dup
corpus; these tests pin the graph-shape edge cases the synthetic corpus
can't produce: long chains (log-round convergence), multiple components,
and the explicit non-convergence signal.
"""

from __future__ import annotations

import pytest

from pdf_document_extractor_spark.operators.dedup import dedup_clusters


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_long_chain_converges_in_log_rounds(spark):
    """A 33-node path has diameter 32; min-propagation alone needs 32
    rounds, pointer jumping needs ~log2(32)+1. max_iter=8 passes only if
    the jump step works."""
    edges = [(i, i + 1) for i in range(32)]
    got = dedup_clusters(_pairs(spark, edges), max_iter=8).collect()
    assert {r.cluster_id for r in got} == {0}
    assert len(got) == 33


def test_multiple_components_and_min_keeper(spark):
    edges = [(5, 3), (3, 9), (20, 21), (40, 41), (41, 42), (40, 42)]
    got = {r.doc_id: r.cluster_id for r in
           dedup_clusters(_pairs(spark, edges)).collect()}
    assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20,
                   40: 40, 41: 40, 42: 40}


def test_nonconvergence_raises(spark):
    edges = [(i, i + 1) for i in range(64)]  # diameter 64 > 2^2ish rounds
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(_pairs(spark, edges), max_iter=2)
