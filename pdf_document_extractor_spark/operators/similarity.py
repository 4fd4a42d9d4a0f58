"""Similarity search over an embedding column (array<float>).

- brute_force_topk: the exact baseline — the (small, bounded) query set is
  collected once and rides the scoring closure; the corpus side is ONE
  Arrow-batched scan that scores every query per batch in vectorized
  numpy, then a window top-k. At 100 TB the corpus streams through a
  single scan with the query set broadcast in the task closure.
- lsh_bucketed_topk: the scale path — random-hyperplane signs bucket both
  sides; only corpus rows whose bucket is probed by some query are scored
  (multi-probe via sign-flip neighbors). Approximate: recall < 1 by
  design, so it has no equality oracle (driver records the weaker
  rows-only check).
- embedding_near_pairs: exact near-duplicate pairs (cosine >= tau) via
  block-matrix decomposition + BLAS matmul per block pair (see its
  docstring); the LSH bucketing above is the sub-quadratic approximate path.

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

import hashlib
from typing import TYPE_CHECKING

from pyspark.sql import Window
from pyspark.sql import functions as F  # noqa: N812

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

    def score(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
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


# --------------------------------------------------------------------------
# IVF ANN (coarse k-means quantizer + cell-probed search)
# --------------------------------------------------------------------------


def _init_centroids(dim: int, k_cells: int):
    """Deterministic pseudo-random init (md5 bits -> +-1), unit-normalized.
    Wall-clock/RNG-free per the determinism policy."""
    import numpy as np

    cents = np.array(_hyperplanes(dim, k_cells), dtype="float64")
    return cents / np.linalg.norm(cents, axis=1, keepdims=True)


def ivf_train_centroids(
    embeddings: "DataFrame", dim: int, k_cells: int = 16, iters: int = 2
):
    """Distributed Lloyd iterations: assign + per-batch PARTIAL sums in
    ONE fused Arrow pass (map-side combine) -> tiny groupBy(cell) reduce
    -> driver update. Shuffle per iteration is O(batches * k_cells)
    partial rows, not O(n) vectors — the scale-correct layout. (Round 6
    fused the former separate assign and partials stages: they moved the
    full embedding table across the Python boundary twice per iteration
    for values that are consumed immediately.)"""
    import numpy as np
    import pandas as pd

    cent = _init_centroids(dim, k_cells)
    src = embeddings.select("vec_id", "embedding")
    for _ in range(iters):
        cent_now = cent  # bound before the closure pickles (this iter)

        def assign_partials(batches, cent_now=cent_now):
            for batch in batches:
                if not len(batch):
                    continue
                mat = np.stack(batch["embedding"].to_numpy()).astype(
                    "float64"
                )
                norms = np.linalg.norm(mat, axis=1, keepdims=True)
                norms[norms == 0] = 1.0
                cells = np.argmax((mat / norms) @ cent_now.T, axis=1)
                rows = []
                for c in np.unique(cells):
                    sel = mat[cells == c]
                    rows.append(
                        {
                            "cell": int(c),
                            "vec_sum": sel.sum(axis=0),
                            "n": len(sel),
                        }
                    )
                yield pd.DataFrame(rows, columns=["cell", "vec_sum", "n"])

        part = src.mapInPandas(
            assign_partials, schema="cell long, vec_sum array<double>, n long"
        )

        def reduce_cell(key, pdf: pd.DataFrame) -> pd.DataFrame:
            total = np.stack(pdf["vec_sum"].to_numpy()).sum(axis=0)
            return pd.DataFrame(
                [{"cell": int(key[0]), "vec_sum": total, "n": int(pdf["n"].sum())}]
            )

        stats = (
            part.groupBy("cell")
            .applyInPandas(
                reduce_cell, schema="cell long, vec_sum array<double>, n long"
            )
            .collect()
        )
        new_cent = cent.copy()
        for r in stats:
            if r["n"] > 0:
                mean = np.array(r["vec_sum"], dtype="float64") / r["n"]
                nrm = np.linalg.norm(mean)
                if nrm > 0:
                    new_cent[r["cell"]] = mean / nrm
        cent = new_cent
    return cent


def ivf_topk(
    embeddings: "DataFrame",
    dim: int,
    query_ids_below: int = 10,
    k: int = 5,
    k_cells: int = 16,
    nprobe: int = 4,
    iters: int = 2,
) -> "DataFrame":
    """IVF approximate top-k: corpus vectors live in their nearest-centroid
    cell; each query scores only its ``nprobe`` nearest cells (~nprobe/
    k_cells of the corpus). Approximate by design -> rows-only oracle.

    At scale: centroids and the (bounded) probe table are task-closure
    broadcast, the cell assignment + probe scoring run in ONE Arrow pass
    over the corpus — the same inverted-file layout FAISS IVF uses. Cell
    assignment and cosine arithmetic are unchanged from the pre-fusion
    implementation (np.linalg.norm norms, argmax assignment, fold-order
    dots), so emitted neighbor sets are identical.
    """
    import numpy as np
    import pandas as pd

    cent = ivf_train_centroids(embeddings, dim, k_cells, iters)
    q_ids, q_mat = _collect_queries(embeddings, query_ids_below)
    probe_map: dict[int, list[int]] = {}
    if q_ids:
        q_norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
        q_norms[q_norms == 0] = 1.0
        sims = (q_mat / q_norms) @ cent.T
        top = np.argsort(-sims, axis=1)[:, :nprobe]
        q_norms = q_norms[:, 0]
        for qi, cells in enumerate(top):
            for c in cells:
                probe_map.setdefault(int(c), []).append(qi)

    def score(batches):
        for batch in batches:
            if not len(batch) or not probe_map:
                continue
            mat = np.stack(batch["embedding"].to_numpy()).astype("float64")
            ids = batch["vec_id"].to_numpy()
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            cells = np.argmax((mat / norms[:, None]) @ cent.T, axis=1)
            for c, probers in probe_map.items():
                sel = cells == c
                if not sel.any():
                    continue
                sub, sub_ids, sub_norms = mat[sel], ids[sel], norms[sel]
                for qi in probers:
                    cos = _fold_dot(sub, q_mat[qi]) / (
                        q_norms[qi] * sub_norms
                    )
                    yield pd.DataFrame(
                        {
                            "query_id": np.full(
                                len(sub_ids), q_ids[qi], dtype="int64"
                            ),
                            "neighbor_id": sub_ids,
                            "cos": cos,
                        }
                    )

    corpus = embeddings.filter(
        F.col("vec_id") >= query_ids_below
    ).select("vec_id", "embedding")
    scored = corpus.mapInPandas(score, schema=_SCORE_SCHEMA)
    return _topk(scored, k)


# --------------------------------------------------------------------------
# LSH-bucketed ANN (the scale path; approximate by design)
# --------------------------------------------------------------------------

# Default 6 planes (64 buckets). The accuracy/cost dial is the multiprobe
# radius: radius r probes sum_{i<=r} C(6,i) of the 64 buckets. Measured on
# the sandbox's near-orthogonal synthetic vectors (hardest case — top-1
# cosine ~0.5): radius 1 -> recall 0.16 (~11% scanned), radius 2 -> 0.62
# (~34%), radius 3 -> 0.80 (~66%). On a CLUSTERED corpus (the realistic
# regime; 8 gaussian clusters, noise sigma=0.6 of center scale): radius 1
# -> 0.94, radius 2 -> 1.00 — gated at >= 0.8 by
# tests/test_similarity.py::test_lsh_recall_gate_clustered (IVF likewise
# measures 1.00 at the default nprobe=4/16, gated at >= 0.8). Default
# radius 2.
N_PLANES = 6


def _hyperplanes(dim: int, n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic pseudo-random +-1 hyperplanes from md5 bits (seedless
    wall-clock-free construction per the determinism policy)."""
    planes = []
    for p in range(n_planes):
        row: list[float] = []
        need = dim
        counter = 0
        while need > 0:
            digest = hashlib.md5(f"plane:{p}:{counter}".encode()).digest()
            for byte in digest:
                for bit in range(8):
                    if need == 0:
                        break
                    row.append(1.0 if (byte >> bit) & 1 else -1.0)
                    need -= 1
            counter += 1
        planes.append(row)
    return planes


def _sign_buckets(mat, planes) -> "object":
    """Bucket id per row: bit j set iff the (left-fold) dot with plane j
    is > 0 — same arithmetic and comparison as the old per-plane JVM
    fold expressions."""
    import numpy as np

    out = np.zeros(mat.shape[0], dtype="int64")
    for j in range(len(planes)):
        out |= (_fold_dot(mat, planes[j]) > 0).astype("int64") << j
    return out


def lsh_bucketed_topk(
    embeddings: "DataFrame",
    dim: int,
    query_ids_below: int = 10,
    k: int = 5,
    multiprobe_flips: int = 2,
) -> "DataFrame":
    """Approximate top-k: score only corpus vectors whose sign-bucket matches
    the query's bucket or any <= multiprobe_flips-bit flip of it. At 100 TB
    the bucket is a cheap partition/cluster key and the probe table is a
    bounded task-closure broadcast; corpus rows outside every probed bucket
    are never scored."""
    import itertools

    import numpy as np
    import pandas as pd

    planes = np.array(_hyperplanes(dim), dtype="float64")
    q_ids, q_mat = _collect_queries(embeddings, query_ids_below)
    masks = [0] + [
        sum(1 << j for j in combo)
        for r in range(1, multiprobe_flips + 1)
        for combo in itertools.combinations(range(N_PLANES), r)
    ]
    probe_map: dict[int, list[int]] = {}
    if q_ids:
        q_norms = _fold_norms(q_mat)
        q_buckets = _sign_buckets(q_mat, planes)
        for qi, qb in enumerate(q_buckets):
            for m in masks:
                probe_map.setdefault(int(qb) ^ m, []).append(qi)

    def score(batches):
        for batch in batches:
            if not len(batch) or not probe_map:
                continue
            mat = np.stack(batch["embedding"].to_numpy()).astype("float64")
            ids = batch["vec_id"].to_numpy()
            c_norms = _fold_norms(mat)
            buckets = _sign_buckets(mat, planes)
            for b in np.unique(buckets):
                probers = probe_map.get(int(b))
                if not probers:
                    continue
                sel = buckets == b
                sub, sub_ids, sub_norms = mat[sel], ids[sel], c_norms[sel]
                for qi in probers:
                    cos = _fold_dot(sub, q_mat[qi]) / (
                        q_norms[qi] * sub_norms
                    )
                    yield pd.DataFrame(
                        {
                            "query_id": np.full(
                                len(sub_ids), q_ids[qi], dtype="int64"
                            ),
                            "neighbor_id": sub_ids,
                            "cos": cos,
                        }
                    )

    corpus = embeddings.filter(
        F.col("vec_id") >= query_ids_below
    ).select("vec_id", "embedding")
    scored = corpus.mapInPandas(score, schema=_SCORE_SCHEMA)
    return _topk(scored.distinct(), k)
