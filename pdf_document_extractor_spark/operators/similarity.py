"""Similarity search over an embedding column (array<float>).

- brute_force_topk: the exact baseline — the (small, bounded) query set is
  collected once and rides the scoring closure; the corpus side is ONE
  Arrow-batched scan that scores every query per batch in vectorized
  numpy, then a window top-k. At 100 TB the corpus streams through a
  single scan with the query set broadcast in the task closure.
- embedding_near_pairs: exact near-duplicate pairs (cosine >= tau) via
  block-matrix decomposition + BLAS matmul per block pair (see its
  docstring).

Float determinism (the oracle contract): cosines are computed in float64
with SEQUENTIAL fold order — ``((0 + x0*y0) + x1*y1) + ...`` — the same
order the previous JVM ``F.aggregate`` expressions used and the same
order DuckDB's list_sum uses, so rankings are byte-stable against the
oracles. The round-6 optimization moved the arithmetic from interpreted
Catalyst higher-order functions (which do not participate in whole-stage
codegen) into numpy loops that keep that exact op order: ``acc = acc +
mat[:, j] * q[j]`` over ascending j is the same IEEE-754 float64
operation sequence per element, vectorized across rows (guide §4.2).
Outputs carry ids (ints), never floats.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Window
from pyspark.sql import functions as F  # noqa: N812

from ..worker import guard_zip_imports

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


def _fold_dot(mat, q):
    """Row-wise dot products in strict left-fold order (see module
    docstring): bit-identical to the old JVM F.aggregate fold."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype="float64")
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j] * q[j]
    return acc


def _fold_norms(mat):
    """Self-dot left-fold -> norm, with the zero-vector clamp: norm 0 ->
    cos = 0/0 = NaN, and NaN sorts LARGEST in Spark, so one zero
    embedding would become the rank-1 neighbor of every query. With norm
    clamped to 1, its dot (0) ranks it last. Bit-identical to the old
    with_norm expression."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype="float64")
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j] * mat[:, j]
    out = np.sqrt(acc)
    out[acc == 0.0] = 1.0
    return out


def _collect_queries(embeddings: "DataFrame", query_ids_below: int):
    """(ids, float64 matrix) of the query rows, sorted by vec_id.

    The query side is BOUNDED by construction (vec_id < query_ids_below,
    ~10 rows) — this is a bounded-cardinality driver collect of the same
    class as the broadcast the old crossJoin performed, not a data-scale
    collect."""
    import numpy as np

    rows = sorted(
        embeddings.filter(F.col("vec_id") < query_ids_below)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    if not rows:  # empty query set: callers score nothing
        return [], np.zeros((0, 0), dtype="float64")
    ids = [int(r["vec_id"]) for r in rows]
    mat = np.array(
        [list(r["embedding"]) for r in rows], dtype="float64"
    ).reshape(len(rows), -1)
    return ids, mat


_SCORE_SCHEMA = "query_id long, neighbor_id long, cos double"


def _topk(scored: "DataFrame", k: int) -> "DataFrame":
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").cast("long"),
            F.col("rank").cast("long"),
            F.col("neighbor_id").cast("long"),
        )
    )


def brute_force_topk(
    embeddings: "DataFrame",
    query_ids_below: int = 10,
    k: int = 5,
) -> "DataFrame":
    """Exact top-k cosine neighbors for queries (vec_id < query_ids_below)
    against the rest of the corpus. Output: (query_id, rank, neighbor_id).

    The query side is tiny by construction -> collected into the scoring
    closure; the corpus side is a single Arrow scan. Ties broken by
    neighbor_id (deterministic). WindowGroupLimit keeps the shuffle at
    O(queries * k) rows per map task."""
    import numpy as np
    import pandas as pd

    q_ids, q_mat = _collect_queries(embeddings, query_ids_below)
    q_norms = _fold_norms(q_mat) if q_ids else None

    def score(batches):
        guard_zip_imports()
        for batch in batches:
            if not len(batch) or not q_ids:
                continue
            mat = np.stack(batch["embedding"].to_numpy()).astype("float64")
            ids = batch["vec_id"].to_numpy()
            c_norms = _fold_norms(mat)
            for qi, qid in enumerate(q_ids):
                cos = _fold_dot(mat, q_mat[qi]) / (q_norms[qi] * c_norms)
                yield pd.DataFrame(
                    {
                        "query_id": np.full(len(ids), qid, dtype="int64"),
                        "neighbor_id": ids,
                        "cos": cos,
                    }
                )

    corpus = embeddings.filter(
        F.col("vec_id") >= query_ids_below
    ).select("vec_id", "embedding")
    scored = corpus.mapInPandas(score, schema=_SCORE_SCHEMA)
    return _topk(scored, k)


def embedding_near_pairs(
    embeddings: "DataFrame",
    tau_times_1000: int = 950,
    num_blocks: int = 8,
) -> "DataFrame":
    """All (id_a < id_b) pairs with cosine >= tau. Output ids only.

    Block-matrix all-pairs: rows are hashed into ``num_blocks`` blocks; each
    row is replicated to every unordered block pair it participates in
    (O(n * B) shuffle), then each block pair is scored as ONE numpy/BLAS
    matrix product inside ``applyInPandas`` (Arrow-batched, no per-row
    Python). This is the canonical exact-all-pairs layout at scale: compute
    is O(n^2 * d / P) spread evenly over P tasks, and a naive JVM cross-join
    with interpreted higher-order-function dot products is ~10x slower.

    Float note: BLAS sums in a different order than a sequential fold, so
    cosines can differ from an exact-fold oracle in the last ulps. Output
    carries ids only; callers must pick tau away from any true pair's cosine
    (our corpus: dups at 1.0, everything else < 0.52).
    """
    import numpy as np
    import pandas as pd

    tau = tau_times_1000 / 1000.0
    pair_keys = F.array_distinct(
        F.array(
            *[
                F.least(F.col("_blk"), F.lit(o)) * num_blocks
                + F.greatest(F.col("_blk"), F.lit(o))
                for o in range(num_blocks)
            ]
        )
    )
    df = (
        embeddings.select("vec_id", "embedding")
        .withColumn("_blk", F.pmod(F.xxhash64("vec_id"), F.lit(num_blocks)))
        .withColumn("_pair", F.explode(pair_keys))
    )

    # no type hints: partial ones make applyInPandas warn on every call
    # that it cannot infer the eval type (grouped map is the default)
    def score(key, pdf):
        guard_zip_imports()
        pair = int(key[0])
        blk_i, blk_j = pair // num_blocks, pair % num_blocks
        left = pdf[pdf["_blk"] == blk_i]
        right = pdf[pdf["_blk"] == blk_j] if blk_j != blk_i else left
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        mat_l = np.stack(left["embedding"].to_numpy()).astype("float64")
        mat_r = np.stack(right["embedding"].to_numpy()).astype("float64")
        # zero-norm clamp (same convention as _fold_norms): a zero
        # embedding scores cos 0 everywhere instead of NaN
        nl = np.linalg.norm(mat_l, axis=1, keepdims=True)
        nr = np.linalg.norm(mat_r, axis=1, keepdims=True)
        nl[nl == 0] = 1.0
        nr[nr == 0] = 1.0
        mat_l /= nl
        mat_r /= nr
        sims = mat_l @ mat_r.T
        ids_l = left["vec_id"].to_numpy()
        ids_r = right["vec_id"].to_numpy()
        rr, cc = np.nonzero(sims >= tau)
        raw_a, raw_b = ids_l[rr], ids_r[cc]
        if blk_i == blk_j:
            # same set on both sides: each unordered pair appears twice
            keep = raw_a < raw_b
            ia, ib = raw_a[keep], raw_b[keep]
        else:
            # disjoint blocks: each unordered pair appears exactly once,
            # in whichever orientation — normalize to (min, max)
            ia = np.minimum(raw_a, raw_b)
            ib = np.maximum(raw_a, raw_b)
        return pd.DataFrame({"id_a": ia, "id_b": ib})

    return df.groupBy("_pair").applyInPandas(score, schema="id_a long, id_b long")

