"""Pins per-seed results into expected.json.

    python3 kgbench/pin.py

For every input seed of the pool (``inputs.SEED_POOL``), at the benchmark's
sizes and at the self-test's size:

- ``kg_backfill``: the hash of the linked triples (with ``subj_id`` and
  ``obj_id``) of one op. The gold triples fix the extracted triples per
  seed, but not what linking and canonicalization resolve them to.
- ``crawl_increments``: the survivor count of every drop a run can make
  (``CrawlIncrements.max_ops``). The fixture text is templated, so near-dup
  dedup also drops fresh pages that resemble each other, and the count has
  no closed form.

Runs compare their outputs with these pins and fail without one. Pins
already in expected.json are kept; delete the file to pin everything anew.
Run it from the repository root on a commit whose outputs are known to be
right.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the workloads' own sizes, and the self-test's (kgbench/tests, --size 60)
SIZE_ARGS = ({}, {"size": 60})


def main() -> int:
    from kgbench.inputs import SEED_POOL
    from kgbench.run import start_spark, stop_spark
    from kgbench.workloads import CrawlIncrements, KgBackfill

    path = os.path.join(ROOT, "kgbench", "expected.json")
    pins: dict = {}
    if os.path.exists(path):
        with open(path) as fh:
            pins = json.load(fh)

    def pinned(wl, size: int, seed: int) -> bool:
        return str(seed) in pins.get(wl.name, {}).get(str(size), {})

    def pin(wl, size: int, seed: int, value) -> None:
        print(wl.name, size, seed, value, flush=True)
        pins.setdefault(wl.name, {}).setdefault(str(size), {})[str(seed)] = value

    work = os.path.join(ROOT, ".kgbench_work", f"pin-{os.getpid()}")
    spark = start_spark(work, None)
    try:
        for size_arg in SIZE_ARGS:
            for seed in range(SEED_POOL):
                data = os.path.join(work, f"seed{seed}")
                wl = KgBackfill(spark, data, seed, pinned=False, **size_arg)
                if not pinned(wl, wl.n_docs, seed):
                    wl.prepare()
                    wl.op(0)
                    pin(wl, wl.n_docs, seed, wl.check(0)["linked_hash"])
                    shutil.rmtree(data, ignore_errors=True)

                wl = CrawlIncrements(spark, data, seed, pinned=False, **size_arg)
                if not pinned(wl, wl.drops.size, seed):
                    wl.prepare()
                    counts = {}
                    for k in range(wl.max_ops):
                        wl.op(k)
                        counts[str(k)] = wl.check(k)["survivors"]
                        wl.cleanup(k)
                    pin(wl, wl.drops.size, seed, counts)
                    shutil.rmtree(data, ignore_errors=True)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(path, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
