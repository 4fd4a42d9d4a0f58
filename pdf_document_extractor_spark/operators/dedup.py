"""Deduplication operators: exact copies and n-gram Jaccard near-copies.

Scale design (the whole point of each variant):

- exact_dedup: one hash-groupBy shuffle on md5(text) — the cheapest possible
  full-corpus dedup; AQE coalesces post-shuffle partitions.
- ngram_jaccard_pairs: exact all-pairs similarity via a shingle-inverted
  index (explode -> self-join on shingle -> per-pair intersection counts).
  Quadratic in the worst case — correct baseline, used as the verifier.
- minhash_lsh_pairs: the scale path. One per-doc state (doc_id, shingle
  set, 16 band keys of K=32 minhash values banded 16x2) is materialized
  once; candidate pairs only where a band bucket collides, then EXACT
  Jaccard verification of candidates by intersecting the two docs' shingle
  arrays. Output = verified pairs, so results equal the brute-force oracle
  while touching ~O(n) + collisions instead of O(n^2) (miss probability at
  s>=0.8 is (1-s^2)^16 <= 8.3e-8).
- dedup_clusters: near-dup pairs -> connected components, one keeper
  (min doc_id) per component.

n-gram Jaccard is the one near-duplicate definition; every operator here
runs in Catalyst, with no Python worker stage.

All Jaccard thresholds compare with integer arithmetic: 100*inter >=
tau*union, with union = a+b-inter, written (100+tau)*inter >= tau*(a+b) so
inter is evaluated once per pair — float-free, byte-stable against the
DuckDB oracles.
"""

from __future__ import annotations

import random
from typing import TYPE_CHECKING

from pyspark.sql import functions as F  # noqa: N812

from ..functions.text import h64_sql, tokens

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

# MinHash parameters (fixed seed — Spark-side only; the oracle checks the
# VERIFIED output, which is exact Jaccard and parameter-free).
MINHASH_K = 32
LSH_BANDS = 16
LSH_ROWS = 2
_MH_PRIME = 2_147_483_647  # 2^31 - 1
_mh_rng = random.Random(7)
MH_A = [_mh_rng.randrange(1, _MH_PRIME) for _ in range(MINHASH_K)]
MH_B = [_mh_rng.randrange(0, _MH_PRIME) for _ in range(MINHASH_K)]


def exact_dedup(docs: "DataFrame", key_col: str = "text") -> "DataFrame":
    """Keep min(doc_id) per identical text: (text_md5, keeper_id, dup_count)."""
    return (
        docs.groupBy(F.md5(F.col(key_col)).alias("text_md5"))
        .agg(
            F.min("doc_id").cast("long").alias("keeper_id"),
            F.count("*").cast("long").alias("dup_count"),
        )
    )


def _shingle_base(docs: "DataFrame", n: int):
    """(filtered base frame, shingle-set Column): tokens projected once,
    docs with no n-gram dropped, plus the DISTINCT-per-doc shingle-set
    expression over them. array_distinct per row replaces the old global
    ``.distinct()`` — the (doc_id, shingle) pairs are unique by
    construction once the per-doc list is deduped, so the corpus-wide
    distinct was a pure-overhead full shuffle of the exploded shingle
    stream (guide §2.4: "a distinct on data that is already unique").
    Guarded against short docs (sequence() is descending for
    stop<start, so clamp first)."""
    toks = tokens(F.col("text"))
    df = docs.select("doc_id", toks.alias("toks")).withColumn(
        "n_sh", F.greatest(F.size("toks") - F.lit(n - 1), F.lit(0))
    )
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.col("n_sh")),
            lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, n)),
        )
    )
    return df.filter(F.col("n_sh") > 0), sh


def shingles(docs: "DataFrame", n: int = 3) -> "DataFrame":
    """(doc_id, shingle) distinct word n-grams (exploded row form).

    The generator explodes the shingle expression DIRECTLY: aliasing the
    array in an intermediate projection lets the optimizer infer a
    ``size(arr) > 0`` filter from the Generate and push the whole
    (expensive) array expression below the spread Exchange — evaluating
    the shingle construction twice, once single-threaded (measured ~8x
    on the sf0.1 corpus)."""
    base, sh = _shingle_base(docs, n)
    return base.select("doc_id", F.explode(sh).alias("shingle"))


def shingle_structs(docs: "DataFrame", n: int = 3) -> "DataFrame":
    """(doc_id, shingle, sh_size) exploded rows, one narrow pass.

    The set size rides every exploded row so downstream pair scoring never
    re-derives it (no groupBy(doc_id), no size joins). The set is
    evaluated exactly ONCE per row via lambda binding — wrapping the
    expensive array in ``F.array(...)`` and referencing it through the
    transform's bound variable is the supported way to share one
    evaluation across several consuming subexpressions (a plain column
    alias gets substituted into every consumer by the optimizer)."""
    base, sh = _shingle_base(docs, n)
    wrapped = F.flatten(
        F.transform(
            F.array(sh),  # bind the set once; `arr` below is a variable
            lambda arr: F.transform(
                arr,
                lambda s: F.struct(
                    s.alias("shingle"), F.size(arr).alias("sh_size")
                ),
            ),
        )
    )
    return base.select("doc_id", F.explode(wrapped).alias("w")).select(
        "doc_id",
        F.col("w.shingle").alias("shingle"),
        F.col("w.sh_size").alias("sh_size"),
    )


def _pair_jaccard(sh: "DataFrame") -> "DataFrame":
    """Exact all-pairs intersection/union counts from a (doc_id, shingle,
    sh_size) frame (see :func:`shingle_structs`).

    Set sizes ride the exploded rows and the pair groupBy key instead of
    being re-derived by a groupBy(doc_id) + two joins — the old shape
    paid three extra exchanges to recompute a value that is a narrow
    per-row expression of the source (guide §2.4)."""
    # pre-shuffle the shingle stream by the join key ONCE and rename per
    # side AFTER the exchange: both self-join branches then hang off the
    # same exchange (runtime stage reuse), so the shingle construction +
    # shuffle write happen once instead of per side. This is the exchange
    # the join required anyway — not an extra.
    src = sh.repartition(F.col("shingle"))
    a = src.select(
        F.col("doc_id").alias("id_a"),
        "shingle",
        F.col("sh_size").alias("size_a"),
    )
    b = src.select(
        F.col("doc_id").alias("id_b"),
        "shingle",
        F.col("sh_size").alias("size_b"),
    )
    # shuffled-hash over sort-merge for the inverted-index self-join
    # (guide §3.1): both sides are the same size, neither sorts, and the
    # hash build avoids two full sorts of the shingle stream (measured
    # ~1.5x on the sf0.1 corpus). This exact all-pairs path is the
    # documented VERIFIER, not the 100-TB scale path (minhash_lsh_pairs
    # is): a hot shingle shared by many docs grows its build partition
    # quadratically in pairs, which the LSH path never materializes.
    inter = (
        a.join(b.hint("shuffle_hash"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("inter"))
    )
    return inter.select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        F.col("inter").cast("long"),
        F.col("size_a").cast("long"),
        F.col("size_b").cast("long"),
    )


def _jaccard_at_least(tau_pct: int):
    """inter/(size_a+size_b-inter) >= tau_pct/100 over a pair frame, in
    integers: 100*inter >= tau*(a+b-inter) is (100+tau)*inter >= tau*(a+b),
    which names inter once, so the optimizer substitutes its expression
    (an array_intersect on the LSH path) once."""
    return (100 + tau_pct) * F.col("inter") >= tau_pct * (
        F.col("size_a") + F.col("size_b")
    )


def ngram_jaccard_pairs(
    docs: "DataFrame", tau_pct: int = 80, n: int = 3
) -> "DataFrame":
    """Exact n-gram Jaccard near-dup pairs: jaccard >= tau_pct/100, compared
    in integers (:func:`_jaccard_at_least`). The verifier that
    :func:`minhash_lsh_pairs` must equal."""
    pairs = _pair_jaccard(shingle_structs(docs, n))
    return pairs.filter(_jaccard_at_least(tau_pct))


def _minhash_state(docs: "DataFrame", n: int = 3) -> "DataFrame":
    """(doc_id, sh, keys), materialized: each doc's distinct shingle set
    (:func:`_shingle_base`) and its LSH_BANDS band keys. Band b's key is
    "m0,m1", the mins over the set of (a*h+b) mod P for its LSH_ROWS hash
    functions. h64 is reduced mod P first so a*h stays < 2^62 (ANSI-safe),
    and the hash array is bound once via lambda binding so the md5 work is
    not re-evaluated per hash function. The keys are one SQL expression,
    parsed once in the JVM: built from Column objects, its 32 lambdas
    cost several hundred py4j calls.

    The checkpoint is eager, so one job builds the state before any
    branch of the pair plan reads it."""
    base, sh = _shingle_base(docs, n)

    def mh_min(j: int) -> str:
        return (
            f"CAST(array_min(transform(hs, h -> "
            f"({MH_A[j]} * h + {MH_B[j]}) % {_MH_PRIME})) AS STRING)"
        )

    bands = ", ".join(
        "concat_ws(',', "
        + ", ".join(mh_min(band * LSH_ROWS + r) for r in range(LSH_ROWS))
        + ")"
        for band in range(LSH_BANDS)
    )
    keys = F.expr(
        f"element_at(transform(array(transform(sh, s -> "
        f"{h64_sql('s')} % {_MH_PRIME})), hs -> array({bands})), 1)"
    )
    return (
        base.select("doc_id", sh.alias("sh"))
        .select("doc_id", "sh", keys.alias("keys"))
        .localCheckpoint(eager=True)
    )


def minhash_lsh_pairs(
    docs: "DataFrame", tau_pct: int = 80, n: int = 3
) -> "DataFrame":
    """MinHash+LSH candidate generation + exact verification (see module
    docstring). Output schema/semantics identical to ngram_jaccard_pairs.

    The band self-join and both verification sides read one materialized
    per-doc state (:func:`_minhash_state`), so the shingle and hash work
    runs once per doc instead of once per branch."""
    state = _minhash_state(docs, n)
    bands = state.select("doc_id", F.posexplode("keys").alias("band", "key"))
    candidates = (
        bands.select(F.col("doc_id").alias("id_a"), "band", "key")
        .join(
            bands.select(F.col("doc_id").alias("id_b"), "band", "key"),
            ["band", "key"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sets_a = state.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sets_b = state.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    # exact Jaccard on the shingle strings of each candidate pair: both
    # sets are distinct, so the intersection's size is the shared count
    verified = (
        candidates.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .select(
            F.col("id_a").cast("long"),
            F.col("id_b").cast("long"),
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("inter"),
            F.size("sh_a").cast("long").alias("size_a"),
            F.size("sh_b").cast("long").alias("size_b"),
        )
    )
    return verified.filter(_jaccard_at_least(tau_pct))


def dedup_clusters(pairs: "DataFrame", max_iter: int = 20) -> "DataFrame":
    """Near-dup pairs -> connected components: (doc_id, cluster_id) where
    cluster_id = min doc_id in the component (the canonical keeper).

    Pair output alone under-deduplicates: A~B and B~C must collapse to ONE
    keeper even when A~C missed the threshold. Min-label propagation with
    POINTER JUMPING: labels start at min(id, min neighbor id); each round
    every node takes the min label over (itself, its neighbors), then
    label <- label(label) — the path-halving step that makes rounds
    O(log diameter) instead of O(diameter). Every round moves only
    (long, long) rows — no text.

    Stop rule: after each round, count the edges whose two ends carry
    different labels, and stop at 0. Labels only fall and each is the id
    of a node in the same component, so once every edge agrees each
    component has one label, and that label is its min id. The rule sees
    convergence in the round that reaches it. Labels that are not final
    after ``max_iter`` rounds raise.

    Cost discipline (at near-dup sizes the fixed cost of each Spark
    execution, not the data, is the time):
    - ``sym`` is built straight from ``pairs`` in one eager
      localCheckpoint: both orientations of each pair plus a self-loop
      per end, then distinct. The upstream pair plan (for near-dup input,
      the whole candidate join) runs once, and every round re-joins
      materialized rows.
    - the self-loops make "min over (itself, its neighbors)" one join and
      one groupBy over ``sym``, with no join back to the old labels; the
      initial labels are that same groupBy over ``sym`` alone and run
      inside round 1's execution.
    - each round is two executions: its eager checkpoint and the edge
      count. A call whose labels are final after r rounds runs 1 + 2r
      executions (beyond any of the pair plan's own) before the caller
      reads the result.
    """
    a, b = F.col("id_a").cast("long"), F.col("id_b").cast("long")
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(a.alias("id_a"), b.alias("id_b")),
                    F.struct(b.alias("id_a"), a.alias("id_b")),
                    F.struct(a.alias("id_a"), a.alias("id_b")),
                    F.struct(b.alias("id_a"), b.alias("id_b")),
                )
            ).alias("e")
        )
        .select("e.id_a", "e.id_b")
        .distinct()
        .localCheckpoint(eager=True)  # edges are re-joined every round
    )
    labels = sym.groupBy(F.col("id_a").alias("id")).agg(
        F.min("id_b").alias("label")
    )
    for _ in range(max_iter):
        prop = (
            sym.join(labels, sym["id_b"] == labels["id"])
            .groupBy(F.col("id_a").alias("id"))
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: label <- min(label, label's current label). Labels
        # are node ids, so every label has a row; left join for safety.
        jump = prop.select(
            F.col("id").alias("_jid"), F.col("label").alias("_jlabel")
        )
        labels = (
            prop.join(jump, prop["label"] == jump["_jid"], "left")
            .select(
                prop["id"],
                F.least(
                    prop["label"], F.coalesce("_jlabel", prop["label"])
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        if _split_edges(sym, labels) == 0:
            return labels.select(
                F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
            )
    # silently returning partial labels would under-deduplicate with no
    # signal; the caller must see it (raise max_iter, or pre-split giant
    # components)
    raise RuntimeError(
        f"dedup_clusters did not converge in {max_iter} rounds: labels "
        f"were not final after round {max_iter}"
    )


def _split_edges(sym: "DataFrame", labels: "DataFrame") -> int:
    """Edges of ``sym`` whose two ends carry different labels."""
    la = labels.select(F.col("id").alias("id_a"), F.col("label").alias("_la"))
    lb = labels.select(F.col("id").alias("id_b"), F.col("label").alias("_lb"))
    return (
        sym.join(la, "id_a")
        .join(lb, "id_b")
        .filter(F.col("_la") != F.col("_lb"))
        .count()
    )
