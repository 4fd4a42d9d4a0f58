"""Mergeable count-min sketch over corpus n-grams (Cormode & Muthukrishnan
2005) — frequency estimation without shuffling a single n-gram.

The 100-TB problem: corpus-wide n-gram counts via groupBy shuffle the
full exploded gram stream (orders of magnitude larger than the corpus).
The sketch path moves only FIXED-SIZE state: every Arrow batch folds its
grams into a local (depth x width) counter array, partials merge by
sketch row through one tiny groupBy (shuffle volume = partitions x depth
rows, each a width-length array — the treeAggregate shape in DataFrame
clothes), and the driver receives exactly ``depth`` rows.

Estimates are upper bounds (min over depth rows); overestimation
probability decays as (distinct_grams / width) ** depth. With width >>
distinct grams the sketch is collision-free and estimates are EXACT —
which is what makes the gate query oracle-checkable against true SQL
counts while the pytest suite pins the >= property at adversarially
narrow widths.

Hashing is the deterministic md5 family (no seeds, no wall clock) per
the repo determinism policy.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from collections.abc import Iterator
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd

from ..worker import guard_zip_imports

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

CMS_DEPTH = 4
CMS_WIDTH = 1 << 18  # collision-free headroom for the gate corpora


def _cell(row: int, term: str, width: int) -> int:
    # one md5 digest feeds TWO sketch rows (16 bytes = two independent
    # 8-byte hashes) — halves the digests on the hot path
    digest = hashlib.md5(f"{row // 2}:{term}".encode("utf-8")).digest()
    half = digest[8:] if row % 2 else digest[:8]
    return int.from_bytes(half, "big") % width


def _grams(text: str, n: int) -> list[str]:
    toks = text.split()
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def cms_ngram_sketch(
    docs: "DataFrame", n: int = 2, width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> np.ndarray:
    """Build the (depth, width) sketch over every n-gram OCCURRENCE in
    ``docs.text`` (duplicates count). Returns the merged numpy array."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        guard_zip_imports()
        # fold the WHOLE partition into one Counter first: grams repeat
        # heavily across documents, and hashing once per distinct gram
        # per partition beats once per distinct gram per document by the
        # corpus's duplication factor (100-1000x at sf0.1)
        totals: Counter = Counter()
        for batch in batches:
            for text in batch["text"]:
                if text is None or (isinstance(text, float)):
                    continue  # NULL text contributes nothing
                totals.update(_grams(text, n))
        # SPARSE partials (guide §2.3 — shuffle fewer bytes): one
        # (cells, counts) pair list per sketch row. A dense (depth,
        # width) array per partition is depth*width*8 bytes (8 MB at the
        # gate dimensions) regardless of content; the occupied cells per
        # partition are bounded by its distinct grams, typically orders
        # of magnitude fewer. The dense accumulate happens once per
        # sketch row in the merge task, not per map partition.
        counts = np.fromiter(totals.values(), dtype=np.int64,
                             count=len(totals))
        rows = []
        for d in range(depth):
            cells = np.fromiter(
                (_cell(d, g, width) for g in totals),
                dtype=np.int64,
                count=len(totals),
            )
            rows.append({"row": d, "cells": cells, "counts": counts})
        yield pd.DataFrame(rows, columns=["row", "cells", "counts"])

    parts = docs.select("text").mapInPandas(
        partials, schema="row int, cells array<long>, counts array<long>"
    )

    # no type hints: partial ones make applyInPandas warn on every call
    # that it cannot infer the eval type (grouped map is the default)
    def merge_row(key, pdf):
        guard_zip_imports()
        dense = np.zeros(width, dtype=np.int64)
        for cells, counts in zip(pdf["cells"], pdf["counts"]):
            np.add.at(
                dense,
                np.asarray(cells, dtype=np.int64),
                np.asarray(counts, dtype=np.int64),
            )
        return pd.DataFrame([{"row": int(key[0]), "counts": dense}])

    merged = parts.groupBy("row").applyInPandas(
        merge_row, schema="row int, counts array<long>"
    )
    out = np.zeros((depth, width), dtype=np.int64)
    for r in merged.collect():  # exactly `depth` rows reach the driver
        out[r["row"]] = np.array(r["counts"], dtype=np.int64)
    return out


def cms_estimate(sketch: np.ndarray, term: str) -> int:
    depth, width = sketch.shape
    return int(min(sketch[d, _cell(d, term, width)] for d in range(depth)))


def cms_estimates_df(
    spark: "SparkSession", sketch: np.ndarray, terms: list[str]
) -> "DataFrame":
    probe = sorted({t for t in terms if t is not None})
    rows = [(t, cms_estimate(sketch, t)) for t in probe]
    return spark.createDataFrame(rows, "term string, est_count long")
