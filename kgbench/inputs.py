"""Benchmark inputs, generated from ``jamie_spark.fixtures`` with the run's
seed and landed as parquet before any clock starts.

The program only ever sees the landed parquet. The generators stay here, in
plain Python and pyarrow, so generation needs no Spark job and its time can
be kept out of ``setup_s``. Each page comes with the fixture's gold triples;
the standin extractor reproduces them exactly, so they are the oracle the
output checks compare against.
"""

from __future__ import annotations

import hashlib
import random

import pyarrow as pa
import pyarrow.parquet as pq

from jamie_spark import fixtures

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

#: columns that identify a triple independently of linking; the multiset of
#: these over the written graph must equal the fixture's gold triples
TRIPLE_KEY = ("url", "sent_id", "subj_surface", "pred", "obj_surface")
SEP = "\x1f"
#: input seeds whose results are pinned in expected.json; a run's --seed
#: picks one of them, so every run's outputs are checked against a pin
SEED_POOL = 16


def input_seed(seed: int) -> int:
    """The input seed a run's ``--seed`` selects."""
    return seed % SEED_POOL


def row_hash(values) -> int:
    """32-bit md5 prefix of the SEP-joined values; summed over rows this is
    an order-independent multiset hash. ``table_hash`` computes the same
    thing over an Arrow table."""
    key = SEP.join(str(v) for v in values)
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:8], 16)


def gold_summary(triples: list[dict]) -> tuple[int, int]:
    """(count, multiset hash) of gold triple rows."""
    return len(triples), sum(row_hash(t[c] for c in TRIPLE_KEY) for t in triples)


def table_hash(table: pa.Table, cols=TRIPLE_KEY) -> int:
    columns = [table.column(c).to_pylist() for c in cols]
    return sum(row_hash(vals) for vals in zip(*columns))


def write_pages(path: str, pages: list[dict]) -> None:
    pq.write_table(pa.Table.from_pylist(pages, schema=PAGES_SCHEMA), path)


def backfill_corpus(seed: int, n_docs: int) -> tuple[list[dict], list[dict]]:
    """(pages, gold triples) of the skewed backfill corpus: doc ids
    0..n_docs-1 under ``seed``, with the head disease forced into ~30% of
    sentences (``fixtures.gen_doc(..., skew=True)``)."""
    pages: list[dict] = []
    gold: list[dict] = []
    for i in range(n_docs):
        page, _, _, triples = fixtures.gen_doc(i, seed, skew=True)
        pages.append(page)
        gold.extend(triples)
    return pages, gold


class CrawlDrops:
    """Crawl drops for the incremental-ingest workload.

    Drop 0 holds ``size`` fresh pages. Every later drop holds ``size // 2``
    fresh pages and ``size // 2`` mirrors: exact copies, under a new url, of
    pages that survived earlier drops, which near-dup dedup must drop.
    Fresh pages of drop k are fixture docs with their own id range,
    re-hosted under ``d{k}.test`` so no two drops share a url. The fixture
    text is templated, so dedup also drops some fresh pages as near-dups of
    each other; the survivor counts per seed are pinned in expected.json.
    """

    def __init__(self, seed: int, size: int):
        self.seed = seed
        self.size = size
        self.survived: list[dict] = []  # pages committed by earlier drops

    def drop(self, k: int) -> tuple[list[dict], dict[str, list[dict]], set[str]]:
        """(pages, gold triples by fresh url, mirror urls) of drop ``k``."""
        n_fresh = self.size if k == 0 else self.size // 2
        first = 0 if k == 0 else self.size + (k - 1) * (self.size // 2)
        fresh: list[dict] = []
        gold: dict[str, list[dict]] = {}
        for i in range(first, first + n_fresh):
            page, _, _, triples = fixtures.gen_doc(i, self.seed)
            url = page["url"].replace("fixture.test", f"d{k}.test")
            fresh.append(dict(page, url=url))
            gold[url] = [dict(t, url=url) for t in triples]
        mirrors: list[dict] = []
        if k > 0:
            rng = random.Random(f"{self.seed}:mirrors:{k}")
            n = min(self.size - n_fresh, len(self.survived))
            for page in rng.sample(self.survived, n):
                url = page["url"].replace("https://", f"https://mirror{k}.")
                mirrors.append(dict(page, url=url))
        return fresh + mirrors, gold, {m["url"] for m in mirrors}


def doc_id_of(url: str) -> int:
    """The streaming store's doc id of a url: the first 15 hex digits of
    md5(url) as an integer (``streaming._page_doc_ids``)."""
    return int(hashlib.md5(url.encode("utf-8")).hexdigest()[:15], 16)
