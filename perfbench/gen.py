"""Seeded input generator for the benchmark workloads.

Everything a run feeds the program is derived from ``--seed``: the format
mix, the planted corrupt documents, the Zipf host popularity, the quarter
of urls committed before the run, and the near-copy chains. The same seed
gives byte-identical parquet files (see test_perfbench.py).

The generator also returns the *plan*: what every document must come out
as. The run checks the program's output against it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import itertools
import os
import random
from dataclasses import dataclass, field
from functools import lru_cache

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_document_extractor_spark.operators.extract import extract_rows_py
from pdf_document_extractor_spark.sources import pages as synth

CRAWL_DOCS = 12_000
DEDUP_BASE_DOCS = 1_500
FILES_PER_TABLE = 6
SAMPLE_DOCS = 240  # docs whose content hashes are checked against the oracle
# Host popularity: with Zipf(1.2) over 2 000 hosts the top three hold 22%,
# 9.7% and 6.0% of the urls and the fourth 4.2%, each several standard
# errors from the job's 5% hot-host threshold, so every seed salts the same
# three hosts.
ZIPF_HOSTS = 2_000
ZIPF_S = 1.2
PRIOR_SHARE = 0.25
JACCARD_PCT = 80
SHINGLE_N = 3

EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

SUCCESS = ("success", None)
CORRUPT = ("hard_failure", "CorruptedFileError")

# (kind, weight in percent, expected (status, error_type)).
# About 76% html variants, a 14% pdf tail, a 4% office tail and 6% planted
# corrupt documents.
CRAWL_KINDS = (
    ("html", 40.0, SUCCESS),
    ("html_table", 12.0, SUCCESS),
    ("html_fig", 8.0, SUCCESS),
    ("gzip_html", 6.0, SUCCESS),
    ("html_charset", 5.0, SUCCESS),
    ("txt", 5.0, SUCCESS),
    ("pdf", 4.0, SUCCESS),
    ("pdf_xs", 3.0, SUCCESS),
    ("pdf_table", 3.0, SUCCESS),
    ("pdf_tounicode", 2.0, SUCCESS),
    ("pdf2", 1.0, SUCCESS),
    ("pdf_aes", 1.0, SUCCESS),
    ("docx", 2.0, SUCCESS),
    ("xlsx", 1.5, SUCCESS),
    ("pptx", 0.5, SUCCESS),
    ("bad_pdf", 1.5, CORRUPT),
    ("bad_zip", 1.0, CORRUPT),
    ("bad_png", 1.0, CORRUPT),
    ("bad_gzip", 1.0, CORRUPT),
    ("bad_gif", 0.5, CORRUPT),
    ("bad_ole", 0.5, CORRUPT),
    ("empty_html", 0.5, ("hard_failure", "EmptyContentError")),
)

# Doc-type groups timed one at a time on a single core in the traced run.
PARSE_GROUPS = {
    "html": ("html", "html_table", "html_fig"),
    "pdf": ("pdf", "pdf_xs", "pdf_tounicode", "pdf2"),
    "pdf_table": ("pdf_table",),
    "pdf_aes": ("pdf_aes",),
    "docx": ("docx",),
    "xlsx": ("xlsx",),
}

_LANGS = ("en", "en", "en", "de", "fr")
_SOURCES = ("web", "news", "forum", "shop")


@lru_cache(maxsize=1)
def vocabulary() -> tuple[str, ...]:
    """20k distinct lowercase words, the same for every seed. Large enough
    that unrelated documents share no 3-gram by accident."""
    rng = random.Random(0)
    onsets = "b c d f g h j k l m n p r s t v w z br ch dr fl gr kr pl st tr".split()
    vowels = "a e i o u ai ea io ou".split()
    seen: set[str] = set()
    while len(seen) < 20_000:
        seen.add(
            "".join(
                rng.choice(onsets) + rng.choice(vowels)
                for _ in range(rng.randint(2, 4))
            )
        )
    return tuple(sorted(seen))


def _words(rng: random.Random, n: int) -> list[str]:
    return rng.choices(vocabulary(), k=n)


def _payload(kind: str, doc_id: int, rng: random.Random) -> bytes:
    text = " ".join(_words(rng, rng.randint(20, 120)))
    lang, source = rng.choice(_LANGS), rng.choice(_SOURCES)
    if kind == "bad_pdf":
        return b"%PDF-1.4\n" + text.encode()
    if kind == "bad_zip":
        good = synth.synth_docx_payload(doc_id, text, lang, source)
        return good[: len(good) // 3]
    if kind == "bad_png":
        return b"\x89PNG\r\n\x1a\n" + bytes([rng.randrange(256)])
    if kind == "bad_gzip":
        return b"\x1f\x8b\x08\x00" + text.encode()
    if kind == "bad_gif":
        return b"GIF89a" + bytes([rng.randrange(256)])
    if kind == "bad_ole":
        return synth.synth_doc_payload(text)[:300]
    if kind == "empty_html":
        return b"<html><body></body></html>"
    return synth.synth_payload(doc_id, text, kind, lang=lang, source=source)


def _zipf_cum_weights(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (r**s) for r in range(1, n + 1)))


def _write_table(table: pa.Table, out_dir: str) -> None:
    """Split ``table`` into FILES_PER_TABLE equal parquet files, so the
    scan has several splits the way a crawl table does."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // FILES_PER_TABLE)
    for k in range(FILES_PER_TABLE):
        part = table.slice(k * step, step)
        pq.write_table(part, os.path.join(out_dir, f"part-{k:03d}.parquet"))


def page_hash(row: dict) -> str:
    """Content hash of one extracted page row (oracle and program side)."""
    key = "\x1f".join(
        str(row[c]) for c in ("page_number", "doc_type", "content", "word_count")
    )
    return hashlib.md5(key.encode("utf-8")).hexdigest()


@dataclass
class CrawlInputs:
    pages_dir: str  # every page the job reads
    prior_urls: list[str]  # the quarter committed before the run
    outcomes: dict[str, tuple]  # url -> planted (status, error_type)
    kinds: dict[str, str]  # url -> generator kind
    oracle_hashes: dict[str, list[str]]  # sampled to-do url -> page hashes
    todo_payload_bytes: int
    payloads: dict[str, bytes] = field(repr=False)

    @property
    def todo(self) -> dict[str, tuple]:
        """Planted outcomes of the urls the job must extract."""
        prior = set(self.prior_urls)
        return {u: o for u, o in self.outcomes.items() if u not in prior}


def gen_crawl(seed: int, out_dir: str, n_docs: int | None = None) -> CrawlInputs:
    n_docs = n_docs or CRAWL_DOCS
    rng = random.Random(f"crawl_mix/{seed}")
    kinds, weights, outcomes = zip(*CRAWL_KINDS)
    cum = list(itertools.accumulate(weights))
    outcome = dict(zip(kinds, outcomes))
    host_cum = _zipf_cum_weights(ZIPF_HOSTS, ZIPF_S)
    hosts = rng.choices(range(ZIPF_HOSTS), cum_weights=host_cum, k=n_docs)
    prior = set(rng.sample(range(n_docs), int(n_docs * PRIOR_SHARE)))

    urls, payloads, langs, doc_kinds = [], [], [], []
    for i in range(n_docs):
        kind = rng.choices(kinds, cum_weights=cum)[0]
        host = f"h{hosts[i]:04d}.crawl{hosts[i] % 7}.example"
        urls.append(f"https://{host}/p/{rng.getrandbits(32):08x}/{i}")
        payloads.append(_payload(kind, i, rng))
        langs.append(rng.choice(_LANGS))
        doc_kinds.append(kind)

    table = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(
                [EPOCH + dt.timedelta(seconds=i) for i in range(n_docs)],
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array(payloads, pa.binary()),
            "text": pa.array([""] * n_docs, pa.string()),
            "lang": pa.array(langs, pa.string()),
        }
    )
    pages_dir = os.path.join(out_dir, "pages")
    _write_table(table, pages_dir)

    todo = [i for i in range(n_docs) if i not in prior]
    sample = rng.sample(todo, min(SAMPLE_DOCS, len(todo)))
    return CrawlInputs(
        pages_dir=pages_dir,
        prior_urls=[urls[i] for i in sorted(prior)],
        outcomes={u: outcome[k] for u, k in zip(urls, doc_kinds)},
        kinds=dict(zip(urls, doc_kinds)),
        oracle_hashes={
            urls[i]: sorted(
                page_hash(r) for r in extract_rows_py(urls[i], payloads[i])
            )
            for i in sample
        },
        todo_payload_bytes=sum(len(payloads[i]) for i in todo),
        payloads=dict(zip(urls, payloads)),
    )


# -- dedup_near -------------------------------------------------------------


def shingle_set(text: str, n: int = SHINGLE_N) -> frozenset[str]:
    """Distinct word n-grams, as operators.dedup builds them."""
    toks = text.split()
    return frozenset(
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    )


def _near_copy(rng: random.Random, toks: list[str]) -> list[str]:
    """One small edit: drop leading words, replace one word, or append."""
    op = rng.randrange(3)
    if op == 0:
        return toks[rng.randint(1, 3) :]
    if op == 1:
        out = list(toks)
        out[rng.randrange(3, len(out) - 3)] = _words(rng, 1)[0]
        return out
    return toks + _words(rng, 2)


def _jaccard_ok(a: frozenset, b: frozenset) -> bool:
    inter = len(a & b)
    return 100 * inter >= JACCARD_PCT * (len(a) + len(b) - inter)


@dataclass
class DedupInputs:
    docs_dir: str
    n_docs: int
    planted: list[list[int]]  # near-copy chains, doc ids
    expected: dict[int, int]  # doc_id -> cluster_id (min id of its chain)


def gen_dedup(seed: int, out_dir: str, n_base: int | None = None) -> DedupInputs:
    """Random texts, a quarter of which grow a near-copy chain of 2-4
    members (each a small edit of the one before, so neighbours stay above
    the 0.8 Jaccard threshold while the chain's ends may fall below it),
    plus a share of far copies (40% of words replaced) that must stay out
    of every cluster."""
    n_base = n_base or DEDUP_BASE_DOCS
    rng = random.Random(f"dedup_near/{seed}")
    families: list[list[list[str]]] = []
    for _ in range(n_base):
        toks = _words(rng, rng.randint(40, 100))
        fam = [toks]
        if rng.random() < 0.25:
            for _ in range(rng.randint(1, 3)):
                fam.append(_near_copy(rng, fam[-1]))
        elif rng.random() < 0.05:
            far = list(toks)
            for j in rng.sample(range(len(far)), int(len(far) * 0.4)):
                far[j] = _words(rng, 1)[0]
            fam.append(far)
        families.append(fam)

    texts = [" ".join(t) for fam in families for t in fam]
    ids = rng.sample(range(len(texts)), len(texts))  # scatter families
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    docs_dir = os.path.join(out_dir, "docs")
    _write_table(table, docs_dir)

    planted, pos = [], 0
    for fam in families:
        members = ids[pos : pos + len(fam)]
        pos += len(fam)
        sets = [shingle_set(" ".join(t)) for t in fam]
        if len(fam) > 1 and _jaccard_ok(sets[0], sets[1]):
            planted.append(sorted(members))
    return DedupInputs(
        docs_dir=docs_dir,
        n_docs=len(texts),
        planted=planted,
        expected={d: chain[0] for chain in planted for d in chain},
    )
