"""MinHash+LSH: the per-doc state, its exact verification and its cost.

The entry gate checks ``dedup_minhash_lsh`` against the DuckDB oracle on
one corpus. These tests pin the pieces under it: the band keys against a
pure-Python reference of the MinHash formula (whitespace and short-doc
edge cases the corpus lacks), LSH output against the exact all-pairs
path, that the shingle sets are built once per call, and that the dedup
family and the text family run without a Python worker stage.
"""

from __future__ import annotations

import ast
import hashlib
import pathlib
import random
import re

from pdf_document_extractor_spark.operators.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MH_A,
    MH_B,
    MINHASH_K,
    _minhash_state,
    dedup_clusters,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)

P = 2_147_483_647

EDGE_TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "tab\tseparated\twords here\tand there",
    "runs   of    spaces   between    words",
    "  leading and trailing spaces  ",
    "\tleading tab then words",
    "trailing tab after words\t",
    "two words",
    "one",
    "",
    "a b c a b c a b c a b c",  # repeated shingles
    "x y z x y z",
]


def _shingle_set(text: str, n: int = 3) -> set[str]:
    """Spark's tokens(): trim spaces (only 0x20), then split on Java's
    ASCII \\s runs, keeping empty leading/trailing tokens."""
    toks = re.split(r"[ \t\n\x0b\f\r]+", text.strip(" "))
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _ref_keys(shingles: set[str]) -> list[str]:
    hs = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % P for s in shingles]
    mins = [min((MH_A[j] * h + MH_B[j]) % P for h in hs) for j in range(MINHASH_K)]
    return [
        ",".join(str(mins[b * LSH_ROWS + r]) for r in range(LSH_ROWS))
        for b in range(LSH_BANDS)
    ]


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def test_state_band_keys_match_python_reference(spark):
    state = {
        r.doc_id: (set(r.sh), list(r.keys))
        for r in _minhash_state(_docs(spark, EDGE_TEXTS)).collect()
    }
    want = {
        i: (sh, _ref_keys(sh))
        for i, sh in ((i, _shingle_set(t)) for i, t in enumerate(EDGE_TEXTS))
        if sh
    }
    assert state == want
    # the edge cases are really there: short docs drop, a tab-led doc
    # carries an empty first token, repeated shingles collapse
    assert {6, 7, 8} & set(state) == set()
    assert " leading tab" in state[4][0]
    assert len(state[9][0]) == 3


def _near_copy_corpus(seed: int = 11) -> list[str]:
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(400)]
    texts = []
    for _ in range(60):
        base = [rng.choice(vocab) for _ in range(rng.randint(30, 60))]
        texts.append(" ".join(base))
        for _ in range(rng.randint(0, 3)):
            copy = list(base)
            for _ in range(rng.randint(0, 3)):
                copy[rng.randrange(len(copy))] = rng.choice(vocab)
            texts.append(" ".join(copy))
    return texts + EDGE_TEXTS


# every doc shares the 'common filler words' shingle; docs 1 and 2 are
# identical, the rest unrelated
FILLER_ROWS = [
    (1, "common filler words alpha bravo charlie delta"),
    (2, "common filler words alpha bravo charlie delta"),
    (3, "common filler words echo foxtrot golf hotel"),
    (4, "common filler words india juliet kilo lima"),
]


def _lsh_and_exact(docs, tau: int):
    return [
        sorted(tuple(r) for r in pairs(docs, tau_pct=tau).collect())
        for pairs in (minhash_lsh_pairs, ngram_jaccard_pairs)
    ]


def test_lsh_equals_exact_jaccard_on_near_copies(spark):
    docs = _docs(spark, _near_copy_corpus())
    for tau in (80, 90):
        lsh, exact = _lsh_and_exact(docs, tau)
        assert lsh == exact
        # near copies, not only identical ones
        assert any(i < sa + sb - i for _, _, i, sa, sb in lsh), lsh
    # a shingle shared by every doc does not pair unrelated docs
    filler = spark.createDataFrame(FILLER_ROWS, "doc_id long, text string")
    lsh, exact = _lsh_and_exact(filler, 80)
    assert [(a, b) for a, b, *_ in exact] == [(1, 2)]
    assert lsh == exact


def _executions(spark) -> list[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    return [e.executionId() for e in conv.asJava(store.executionsList())]


def _plan_nodes(spark, ids) -> list[tuple[int, str]]:
    """(execution id, node description) of every plan node of the given
    SQL executions, read from the status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    return [
        (i, node.desc())
        for i in ids
        for node in conv.asJava(store.planGraph(i).allNodes())
    ]


def test_lsh_builds_shingle_sets_once(spark):
    docs = _docs(spark, _near_copy_corpus())
    before = set(_executions(spark))
    assert minhash_lsh_pairs(docs).count() > 0
    nodes = _plan_nodes(spark, sorted(set(_executions(spark)) - before))
    building = [i for i, desc in nodes if "sequence(" in desc]
    assert len(building) == 1, building
    # the later executions read the materialized state: no re-hashing
    hashing = {i for i, desc in nodes if "md5(" in desc}
    assert hashing == set(building)


PYTHON_NODES = (
    "MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
)


def test_dedup_family_starts_no_python_worker(spark):
    """A Python stage in dedup costs peak RSS (one was measured at +11-18%
    on the dedup_near benchmark): every dedup operator stays in Catalyst."""
    docs = _docs(spark, _near_copy_corpus())
    before = set(_executions(spark))
    assert exact_dedup(docs).count() > 0
    assert ngram_jaccard_pairs(docs).count() > 0
    pairs = minhash_lsh_pairs(docs)
    assert pairs.count() > 0
    assert dedup_clusters(pairs).count() > 0
    nodes = _plan_nodes(spark, sorted(set(_executions(spark)) - before))
    assert nodes
    python = [d for _, d in nodes if d.startswith(PYTHON_NODES)]
    assert python == []


OPERATORS_DIR = pathlib.Path(__file__).resolve().parents[1].joinpath(
    "pdf_document_extractor_spark", "operators"
)

# The operator modules whose Arrow stages run Python on purpose: the
# extraction stage and the figure render. Every other operator family is
# Catalyst-only.
PANDAS_OPERATORS = {"extract.py", "multimodal.py"}


def _top_level_imports(path: pathlib.Path) -> set[str]:
    """Top-level package names a module imports absolutely (relative
    imports of the package itself excluded)."""
    imported = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            imported |= {alias.name.split(".")[0] for alias in node.names}
        elif isinstance(node, ast.ImportFrom) and not node.level:
            imported.add(node.module.split(".")[0])
    return imported


def test_text_family_starts_no_python_worker(spark):
    """The text operators (stats, sampling, chunking, cleaning) are all
    Catalyst: collecting every output column runs no Python plan node."""
    from pdf_document_extractor_spark.operators.chunking import chunk_documents
    from pdf_document_extractor_spark.operators.cleaning import (
        blocklist_filter,
        line_dedup_c4,
        redact_pii,
    )
    from pdf_document_extractor_spark.operators.sampling import (
        contamination_flags,
        sample_hash,
        stratified_sample,
        train_val_split,
    )
    from pdf_document_extractor_spark.operators.textstats import (
        fingerprints,
        language_id,
        quality_scores,
        repetition_scores,
        token_stats,
    )

    texts = _near_copy_corpus() + ["mail a@b.io from 10.0.0.1\nthe line"]
    docs = spark.createDataFrame(
        [(i, t, f"https://www.h{i % 4}.example/{i}", f"s{i % 2}")
         for i, t in enumerate(texts)],
        "doc_id long, text string, url string, source string",
    )
    hosts = spark.createDataFrame([("h1.example",)], "host string")
    words = spark.createDataFrame([("w7",)], "word string")
    outputs = [
        op(docs)
        for op in (token_stats, language_id, quality_scores,
                   repetition_scores, fingerprints, chunk_documents,
                   line_dedup_c4, redact_pii)
    ] + [
        train_val_split(docs, "doc_id"),
        sample_hash(docs, "doc_id", 50),
        stratified_sample(docs, "doc_id", "source", {"s0": 50, "s1": 100}),
        contamination_flags(docs, docs.filter("doc_id < 3").select("text")),
        blocklist_filter(docs, hosts, words),
    ]
    before = set(_executions(spark))
    for out in outputs:
        assert out.collect()
    nodes = _plan_nodes(spark, sorted(set(_executions(spark)) - before))
    assert nodes
    python = [d for _, d in nodes if d.startswith(PYTHON_NODES)]
    assert python == []


def test_only_extraction_operators_import_pandas_or_numpy():
    """A pandas/numpy import invites a Python stage back into a Catalyst
    family, so every operator module outside PANDAS_OPERATORS must import
    neither — including a module added later."""
    modules = list(OPERATORS_DIR.glob("*.py"))
    assert {m.name for m in modules} >= PANDAS_OPERATORS
    importing = {
        m.name for m in modules if _top_level_imports(m) & {"pandas", "numpy"}
    }
    assert importing <= PANDAS_OPERATORS
