"""The benchmark's workloads: closed loops with one caller.

Each workload lands its inputs (``prepare``), then runs operations one at a
time; the next one starts when the previous one has committed. ``op`` is
the timed part, ``check`` verifies what the op wrote and runs off the clock.
Why each workload exists, and the warm-up pass counts, are in NOTES.md.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq

from jamie_spark import fixtures, graph, pipeline, streaming

from . import inputs

#: the graph table layout both workloads write with
N_BUCKETS, N_SALTS = 8, 4


class OpFailed(Exception):
    """An op finished without a correct, committed output."""


def parquet_files(path: str) -> list[str]:
    out = []
    for root, _, files in os.walk(path):
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    return out


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))


def load_pins(workload: str, size: int, seed: int, pinned: bool):
    """The pinned results of (workload, size, input seed) from
    expected.json, written by pin.py; None when ``pinned`` is false (pin.py
    itself runs unpinned). A missing pin is an error: every output check
    is total."""
    if not pinned:
        return None
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "expected.json")
    with open(path) as fh:
        pins = json.load(fh).get(workload, {}).get(str(size), {})
    if str(seed) not in pins:
        raise OpFailed(f"{workload}: no pin for size {size}, input seed {seed}"
                       " in expected.json (pin.py)")
    return pins[str(seed)]


class KgBackfill:
    """One op: ``run_kg`` over the whole skewed corpus with a fresh
    checkpoint dir, then ``graph.materialize`` of the canonical triples."""

    name = "kg_backfill"
    warmup_ops = 2
    min_timed_ops = 2
    #: no cap: one pin covers every op
    max_ops = None

    def __init__(self, spark, work: str, seed: int, size: int = 4000,
                 pinned: bool = True):
        self.spark, self.work, self.n_docs = spark, work, size
        self.seed = inputs.input_seed(seed)
        # hash of the linked triples (subj_id, obj_id included)
        self.linked_hash = load_pins(self.name, size, self.seed, pinned)
        self.out = None

    def prepare(self) -> None:
        pages, gold = inputs.backfill_corpus(self.seed, self.n_docs)
        self.gold_n, self.gold_hash = inputs.gold_summary(gold)
        os.makedirs(self.work, exist_ok=True)
        path = os.path.join(self.work, "pages.parquet")
        inputs.write_pages(path, pages)
        self.pages = self.spark.read.parquet(path)
        self.concepts = fixtures.concept_df(self.spark)

    def op(self, i: int) -> int:
        """Runs op ``i``; returns the number of input docs."""
        self.out = os.path.join(self.work, f"graph{i}")
        result = pipeline.run_kg(
            self.pages, self.concepts,
            checkpoint_dir=os.path.join(self.work, f"ck{i}"),
        )
        graph.materialize(
            result["canonical_triples"], self.out,
            n_buckets=N_BUCKETS, n_salts=N_SALTS,
        )
        pipeline.release(result)
        return self.n_docs

    def check(self, i: int) -> dict:
        """Triple multiset equals the gold triples; the linked ids match
        the pin for this seed."""
        table = pq.read_table(self.out)
        n = table.num_rows
        if n != self.gold_n or inputs.table_hash(table) != self.gold_hash:
            raise OpFailed(
                f"op {i}: {n} triples, expected {self.gold_n} gold triples"
            )
        linked = inputs.table_hash(
            table, inputs.TRIPLE_KEY + ("subj_id", "obj_id")
        )
        if self.linked_hash is not None and linked != self.linked_hash:
            raise OpFailed(f"op {i}: linked ids differ from the pinned ones")
        return {"triples": n, "linked_hash": linked, "out": self.out,
                "stored_bytes": dir_bytes(self.out),
                "stored_files": len(parquet_files(self.out))}

    def probe(self) -> None:
        """The read side of the graph table, for the traced run only: one
        pass of connected components, PageRank, label propagation and
        k-core over the entity graph the last op wrote."""
        from pyspark.sql import functions as F

        from jamie_spark import canon, kgstats

        edges = (
            self.spark.read.parquet(self.out)
            .select(F.col("subj_id").alias("src"), F.col("obj_id").alias("dst"))
        )
        canon.connected_components(edges, small_graph_edges=0).count()
        kgstats.pagerank_weighted(edges.withColumn("w", F.lit(1)),
                                  iters=3).count()
        kgstats.label_propagation(edges, iters=3).count()
        kgstats.kcore(edges, k=3, iters=3).count()

    def cleanup(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"ck{i}"), ignore_errors=True)
        if i > 0:
            shutil.rmtree(os.path.join(self.work, f"graph{i - 1}"),
                          ignore_errors=True)


class CrawlIncrements:
    """One op: a crawl drop lands in the input dir, then
    ``streaming.stream_kg_dedup`` runs with ``availableNow`` until it has
    committed the drop's triples and signatures."""

    name = "crawl_increments"
    warmup_ops = 1
    min_timed_ops = 2
    #: drops per run, and pinned per seed: the warm-up and the three timed
    #: drops a traced run needs
    max_ops = warmup_ops + 3
    #: seconds ``awaitTermination`` may take before the op counts as hung
    hang_s = 150

    def __init__(self, spark, work: str, seed: int, size: int = 1000,
                 pinned: bool = True):
        self.spark, self.work = spark, work
        self.drops = inputs.CrawlDrops(inputs.input_seed(seed), size)
        self.dirs = {
            k: os.path.join(work, k)
            for k in ("staging", "in", "out", "ckpt", "store")
        }
        self.staged: dict[int, tuple] = {}
        # survivor count per drop
        pins = load_pins(self.name, size, self.drops.seed, pinned)
        self.survivors = None if pins is None else {
            int(k): v for k, v in pins.items()
        }

    def prepare(self) -> None:
        for d in (self.dirs["staging"], self.dirs["in"]):
            os.makedirs(d, exist_ok=True)
        self.concepts = fixtures.concept_df(self.spark)
        self.stage(0)

    def stage(self, k: int) -> None:
        """Generates drop ``k`` into the staging dir (off the clock)."""
        pages, gold, mirrors = self.drops.drop(k)
        path = os.path.join(self.dirs["staging"], f"drop{k}.parquet")
        inputs.write_pages(path, pages)
        by_url = {p["url"]: p for p in pages}
        self.staged[k] = (path, len(pages), gold, mirrors, by_url)

    def op(self, k: int) -> int:
        path, n_pages = self.staged[k][:2]
        self.before = self._batches()
        os.replace(path, os.path.join(self.dirs["in"], f"drop{k}.parquet"))
        query = streaming.stream_kg_dedup(
            streaming.read_page_stream(
                self.spark, self.dirs["in"], max_files_per_trigger=9999
            ),
            self.concepts, self.dirs["out"], self.dirs["ckpt"],
            self.dirs["store"],
        )
        try:
            finished = query.awaitTermination(self.hang_s)
        finally:
            if query.isActive:
                query.stop()
        if not finished:
            raise OpFailed(f"drop {k}: stream still running after {self.hang_s}s")
        if query.exception() is not None:
            raise OpFailed(f"drop {k}: {query.exception()}")
        self.progress = query.lastProgress
        return n_pages

    def _batches(self) -> set[str]:
        store = self.dirs["store"]
        return set(os.listdir(store)) if os.path.isdir(store) else set()

    def check(self, k: int) -> dict:
        """Every mirror is dropped, the survivor count matches the pin for
        this seed, and the committed triples are exactly the survivors'
        gold triples."""
        _, n_pages, gold, mirrors, pages = self.staged.pop(k)
        new = sorted(b for b in self._batches() - self.before
                     if b.startswith("batch="))
        if len(new) != 1:
            raise OpFailed(f"drop {k}: {len(new)} committed batches, expected 1")
        batch = new[0]
        survivors = set(
            pq.read_table(os.path.join(self.dirs["store"], batch),
                          columns=["doc_id"]).column("doc_id").to_pylist()
        )
        mirror_ids = {inputs.doc_id_of(u) for u in mirrors}
        fresh_ids = {inputs.doc_id_of(u): u for u in gold}
        if survivors & mirror_ids:
            raise OpFailed(f"drop {k}: {len(survivors & mirror_ids)} mirrors kept")
        if not survivors <= set(fresh_ids):
            raise OpFailed(f"drop {k}: survivors that were never landed")
        if self.survivors is not None and len(survivors) != self.survivors[k]:
            raise OpFailed(
                f"drop {k}: {len(survivors)} survivors,"
                f" pinned {self.survivors[k]}"
            )
        kept = sorted(fresh_ids[d] for d in survivors)
        self.drops.survived.extend(pages[u] for u in kept)
        gold = {u: gold[u] for u in kept}
        expected = [t for u in gold for t in gold[u]]
        n_gold, gold_hash = inputs.gold_summary(expected)
        out = os.path.join(self.dirs["out"], batch)
        table = pq.read_table(out, columns=list(inputs.TRIPLE_KEY))
        if table.num_rows != n_gold or inputs.table_hash(table) != gold_hash:
            raise OpFailed(
                f"drop {k}: {table.num_rows} triples, expected {n_gold}"
            )
        return {
            "triples": n_gold,
            "out": out,
            "stored_bytes": dir_bytes(out),
            "stored_files": len(parquet_files(out)),
            "survivors": len(survivors),
            "store_bytes": dir_bytes(self.dirs["store"]),
        }

    def cleanup(self, k: int) -> None:
        self.stage(k + 1)


WORKLOADS = {w.name: w for w in (KgBackfill, CrawlIncrements)}
