"""Connected-components clustering: pointer-jumping convergence + shape.

The gate oracle (recursive-CTE transitive closure) covers the near-dup
corpus; these tests pin the graph-shape edge cases the synthetic corpus
can't produce: long chains (log-round convergence), multiple components,
the explicit non-convergence signal, the round the loop stops in, the
number of Spark executions a call runs, and degenerate edge lists.
"""

from __future__ import annotations

import pytest

from pdf_document_extractor_spark.operators.dedup import dedup_clusters
from tests.test_dedup_lsh import _executions

MIXED_EDGES = [(5, 3), (3, 9), (20, 21), (40, 41), (41, 42), (40, 42)]
MIXED_CLUSTERS = {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 40: 40, 41: 40, 42: 40}


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


def _clusters(spark, edges, **kw) -> dict[int, int]:
    return {r.doc_id: r.cluster_id for r in
            dedup_clusters(_pairs(spark, edges), **kw).collect()}


def test_multiple_components_and_min_keeper(spark):
    assert _clusters(spark, MIXED_EDGES) == MIXED_CLUSTERS


def test_nonconvergence_raises(spark):
    edges = [(i, i + 1) for i in range(64)]  # diameter 64 > 2^2ish rounds
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(_pairs(spark, edges), max_iter=2)


def test_stops_in_the_round_whose_labels_are_final(spark):
    """The 33-node path's labels are final after 4 rounds of propagate +
    jump. The loop must see that in round 4 itself: a rule that compares
    a round with the one before needs a 5th round to notice."""
    edges = [(i, i + 1) for i in range(32)]
    assert set(_clusters(spark, edges, max_iter=4).values()) == {0}
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(_pairs(spark, edges), max_iter=3)


def test_one_round_runs_four_executions(spark):
    """Labels of MIXED_EDGES are final after one round, so a call runs the
    edge set, one round's checkpoint, one edge count and the read: the
    label init rides round 1 and the pair plan feeds the edge set
    directly."""
    pairs = _pairs(spark, MIXED_EDGES)
    before = set(_executions(spark))
    assert len(dedup_clusters(pairs).collect()) == len(MIXED_CLUSTERS)
    ran = set(_executions(spark)) - before
    assert len(ran) <= 4, sorted(ran)


def test_empty_pairs_give_empty_clusters(spark):
    assert dedup_clusters(_pairs(spark, [])).collect() == []


def test_self_loops_and_both_orientations_match_clean_edges(spark):
    noisy = (
        MIXED_EDGES
        + [(b, a) for a, b in MIXED_EDGES]
        + [(3, 3), (42, 42), (21, 21)]
        + MIXED_EDGES[:2]
    )
    assert _clusters(spark, noisy) == MIXED_CLUSTERS
