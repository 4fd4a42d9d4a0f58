"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All four are pure Catalyst expressions (whole-stage codegen; zero Python) —
at 100 TB these run at scan speed with full predicate pushdown. Outputs are
integer-only (ratios as exact integer-division millis) so value hashes are
precision-proof against the DuckDB oracles.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F  # noqa: N812

from ..functions.text import (
    BPE_PATTERN,
    FP_MOD,
    H64_MOD,
    ID_TO_LANG,
    LANG_IDS,
    LANG_MARKERS,
    h64,
    marker_score,
    stopword_count,
    tokens,
)

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


def token_stats(docs: "DataFrame") -> "DataFrame":
    """(doc_id, ws_tokens, bpe_tokens, char_count) — whitespace + BPE-ish
    regex token counts."""
    return docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), 0))
        .cast("long")
        .alias("bpe_tokens"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("long")
        .alias("char_count"),
    )


def language_id(docs: "DataFrame") -> "DataFrame":
    """Marker-word language ID with deterministic alphabetical tie-break.

    argmax is encoded arithmetically (key = score*8 + lang_id, take
    greatest, decode id = key % 8) so the DuckDB oracle can replay it
    without struct-ordering semantics.
    """
    df = docs.withColumn("_toks", tokens(F.col("text")))
    keys = [
        (marker_score("_toks", lang) * 8 + F.lit(LANG_IDS[lang]))
        for lang in sorted(LANG_MARKERS)
    ]
    best = F.greatest(*keys)
    pred = best % 8
    mapping = F.create_map(
        *[x for i, l in ID_TO_LANG.items() for x in (F.lit(i), F.lit(l))]
    )
    return df.select(
        "doc_id",
        mapping[pred].alias("pred_lang"),
        (best / F.lit(8)).cast("long").alias("best_score"),
    )


def quality_scores(docs: "DataFrame") -> "DataFrame":
    """Length/stopword/word-shape quality signals, integer-exact:
    mean_word_len_millis = (1000*chars) div words;
    stopword_ratio_millis = (1000*stopword_tokens) div words;
    is_quality = plausible-document heuristic over those signals."""
    df = docs.withColumn("_toks", tokens(F.col("text"))).select(
        "doc_id",
        F.size("_toks").cast("long").alias("word_count"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("long")
        .alias("char_count"),
        # long, so that stop_count * 1000 cannot overflow int
        stopword_count("_toks").cast("long").alias("stop_count"),
    )
    return df.select(
        "doc_id",
        "word_count",
        "char_count",
        F.expr("char_count * 1000 div word_count").alias("mean_word_len_millis"),
        F.expr("stop_count * 1000 div word_count").alias("stopword_ratio_millis"),
        (
            (F.col("word_count") >= 5)
            & (F.col("word_count") <= 100000)
            & (F.expr("char_count * 1000 div word_count").between(1500, 12000))
        )
        .cast("long")
        .alias("is_quality"),
    )


def repetition_scores(docs: "DataFrame") -> "DataFrame":
    """Intra-document repetition signals (Gopher/RefinedWeb-style filters):

    - dup_token_ratio_millis: 1000 * (1 - distinct/total tokens) — natural
      text sits low; keyword-stuffed/boilerplate pages spike.
    - top_bigram_millis: 1000 * (occurrences of the most frequent bigram *
      2) div total tokens — catches "foo bar foo bar ..." repetition that
      token-level dedup misses.

    dup ratio is a pure projection; the bigram mode needs one groupBy
    (doc_id, bigram) + one max per doc — both map-side-combining counts,
    never the text itself.
    """
    toked = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).withColumn("n", F.size("toks"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.col("n") - 1, F.lit(1))),
        lambda i: F.concat_ws(
            " ", F.element_at("toks", i), F.element_at("toks", i + 1)
        ),
    )
    top_bigram = (
        toked.filter(F.col("n") >= 2)
        .select("doc_id", "n", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "n", "bg")
        .count()
        .groupBy("doc_id", "n")
        .agg(F.max("count").alias("top_bg"))
        .select(
            "doc_id",
            F.expr("top_bg * 2 * 1000 div n").alias("top_bigram_millis"),
        )
    )
    dup = toked.select(
        "doc_id",
        F.expr(
            "1000 - size(array_distinct(toks)) * 1000 div n"
        ).alias("dup_token_ratio_millis"),
    )
    return (
        dup.join(top_bigram, "doc_id", "left")
        .select(
            "doc_id",
            F.col("dup_token_ratio_millis").cast("long"),
            F.coalesce("top_bigram_millis", F.lit(0))
            .cast("long")
            .alias("top_bigram_millis"),
        )
    )


def fingerprints(docs: "DataFrame") -> "DataFrame":
    """Position-sensitive document fingerprint (rolling-hash family):
    fp = sum_i ((h64(word_i) mod 1000003) * i) mod 1000000007, i 1-based.

    Pure codegen: posexplode + sum; one shuffle on doc_id.
    """
    df = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "word")
    )
    # reduce each term mod FP_MOD BEFORE summing: (sum t_i) mod M ==
    # (sum (t_i mod M)) mod M, and the raw term is ~1e6 * position — an
    # un-reduced int64 sum overflows around 4M tokens/doc (ANSI mode would
    # abort the job on one huge document). Reduced terms stay < 1e9+7, so
    # the sum is safe to ~9e9 tokens.
    term = ((h64(F.col("word")) % H64_MOD) * (F.col("pos") + 1)) % FP_MOD
    return (
        df.groupBy("doc_id")
        .agg((F.sum(term) % FP_MOD).cast("long").alias("fingerprint"))
    )
