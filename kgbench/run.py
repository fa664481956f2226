"""KG-construction benchmark: one closed-loop workload per run.

    python3 kgbench/run.py --workload kg_backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` and
landed as parquet, the workload warms up, then ops run one after another
until ``--seconds`` of op time have been measured. Every op's output is
checked. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (see NOTES.md).
The end-to-end times are at a reference host speed: a child process
measures how fast the shared host runs while the ops do (hostspeed.py).
Everything the run writes goes to ``.kgbench_work/`` under the root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Spark settings shared by every workload. Two task slots: each Python
#: task also keeps a JVM thread busy, so local[2] runs as fast as local[4]
#: on a 4-core box and leaves headroom against other load.
SPARK_CONF = {
    "spark.master": "local[2]",
    "spark.sql.shuffle.partitions": "4",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "1g",
}


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    ticks = os.sysconf("SC_CLK_TCK")
    return time.time() - uptime + start_ticks / ticks


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class RssSampler(threading.Thread):
    """Samples the resident memory of the whole process tree (the JVM
    and Python workers included) every ``period`` seconds and keeps the
    peak. ``getrusage(RUSAGE_CHILDREN)`` cannot see the JVM while it runs,
    because it is not reaped until the end. Processes in ``exclude`` (the
    benchmark's host speed probe) are left out."""

    def __init__(self, period: float = 0.2, exclude: frozenset = frozenset()):
        super().__init__(daemon=True)
        self.period = period
        self.exclude = exclude
        self.peak = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        total = 0
        for pid in descendants(os.getpid()):
            if pid in self.exclude:
                continue
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                continue
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_event.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def start_spark(work: str, event_log: str | None):
    """SparkSession with every scratch path inside ``work``; workers
    import the program from the repository root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("kgbench")
    conf = dict(
        SPARK_CONF,
        **{
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: the JVM's resident size then does
            # not depend on when G1 decides to grow the heap. C1 only: with
            # C2, ops kept getting faster for several ops after the warm-up,
            # by up to a third; C1's default 48 MB code cache fills in
            # under a minute and then stops compilation (NOTES.md). No perf
            # data file: the JVM would write it under /tmp, outside the run
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch"
                " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"
                " -XX:-UsePerfData",
        },
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stops the session and the JVM it runs in, and waits for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_heap_peaks(spark) -> dict:
    """Peak used bytes of each JVM heap pool since the JVM started. The
    heap is pre-touched, so its growth does not show in the resident size;
    the traced run reports it from here."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return {
        str(pool.getName()): pool.getPeakUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if str(pool.getType()) == "Heap memory"
    }


def wait_for_children(timeout: float = 30.0) -> None:
    deadline = time.time() + timeout
    while len(descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def measure(wl, seconds: float, tracer, rss: RssSampler, t_process: float) -> dict:
    """Warm-up, then the timed closed loop. Returns the raw record."""
    ops: list[dict] = []
    off_clock = 0.0  # input generation, excluded from setup_s

    def run_op(i: int, timed: bool, traced: bool) -> dict:
        nonlocal off_clock
        rec = {"op": i, "timed": timed, "traced": traced, "ok": False}
        scope = tracer.op(i) if traced else contextlib.nullcontext()
        t0 = time.perf_counter()
        rec["t0_epoch"] = time.time()
        try:
            with scope:
                rec["docs"] = wl.op(i)
            rec["latency_s"] = time.perf_counter() - t0
            rec["t1_epoch"] = time.time()
            rec.update(wl.check(i))
            rec["ok"] = True
        except Exception:
            rec.setdefault("latency_s", time.perf_counter() - t0)
            traceback.print_exc(file=sys.stderr)
        if tracer is not None and traced:
            tracer.after_op(i, wl, rec)
        t1 = time.perf_counter()
        wl.cleanup(i)
        off_clock += time.perf_counter() - t1
        ops.append(rec)
        return rec

    t0 = time.perf_counter()
    wl.prepare()
    off_clock += time.perf_counter() - t0
    for i in range(wl.warmup_ops):
        run_op(i, timed=False, traced=False)
    t_setup_end = time.time()
    setup_s = t_setup_end - t_process - off_clock
    i, measured = wl.warmup_ops, 0.0
    n_timed = 0
    # every run times at least min_timed_ops, so a run on a slower machine
    # does not report the median of fewer ops; a traced run needs three
    min_timed = max(wl.min_timed_ops, 3 if tracer is not None else 0)
    while ((measured < seconds or n_timed < min_timed)
           and (wl.max_ops is None or i < wl.max_ops)):
        # traced runs alternate untraced and traced ops (U, T, U, ...), so
        # each traced op is compared with the untraced ops on either side
        # of it in the same process, which cancels a drift between ops
        traced = tracer is not None and n_timed % 2 == 1
        rec = run_op(i, timed=True, traced=traced)
        measured += rec["latency_s"]
        i += 1
        n_timed += 1
    rss.sample()
    return {"ops": ops, "setup_s": setup_s,
            "setup_window": (t_process, t_setup_end),
            "peak_rss_bytes": rss.peak,
            "warmup_ops": wl.warmup_ops}


def end_to_end(record: dict) -> dict:
    """The end-to-end metrics of an untraced run. Times are seconds at the
    reference host's speed: wall time ÷ the host's slowness over it
    (hostspeed.py)."""
    ops = record["ops"]
    # a failed op is never a timing
    good = [o for o in ops if o["timed"] and o["ok"]]
    # storage over the ops every run has (the warm-up and the first timed
    # op), so it does not depend on how many ops fit into --seconds
    first = ops[: record["warmup_ops"] + 1]
    written = [o for o in first if o["ok"]]
    triples = sum(o["triples"] for o in written)
    stored = sum(o["stored_bytes"] for o in written)
    ref = sum(o["ref_s"] for o in good)
    return {
        "docs_per_s": (sum(o["docs"] for o in good) / ref if ref else 0.0,
                       "docs/s"),
        "latency_p50_s": (
            statistics.median(o["ref_s"] for o in good) if good else 0.0,
            "s"),
        "setup_s": (record["setup_s"] / record["setup_slowness"], "s"),
        "peak_rss_mb": (record["peak_rss_bytes"] / 2**20, "MB"),
        "stored_bytes_per_triple": (stored / max(triples, 1), "B"),
        "ok_ops_share": (sum(o["ok"] for o in ops) / len(ops), "ratio"),
    }


def main(argv=None) -> int:
    from kgbench.hostspeed import Probe
    from kgbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None,
                    help="docs per op (default: the workload's own size)")
    args = ap.parse_args(argv)
    t_process = process_start_time()

    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    probe = Probe(os.path.join(work, "hostspeed.txt"))
    rss = RssSampler(exclude=frozenset({probe.proc.pid}))
    rss.start()
    spark = None
    try:
        event_log = os.path.join(work, "eventlog") if args.trace else None
        spark = start_spark(work, event_log)
        kwargs = {} if args.size is None else {"size": args.size}
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"),
                                      args.seed, **kwargs)
        tracer = None
        if args.trace:
            from kgbench.tracing import Tracer

            tracer = Tracer(spark)
        record = measure(wl, args.seconds, tracer, rss, t_process)
        if tracer is not None:
            tracer.finish(wl)
        record["heap_peaks"] = jvm_heap_peaks(spark)
        stop_spark(spark)
        spark = None
        probe.stop()
        wait_for_children()
        for o in record["ops"]:
            if o["ok"]:
                o["slowness"] = probe.slowness(o["t0_epoch"], o["t1_epoch"])
                o["ref_s"] = o["latency_s"] / o["slowness"]
        record["setup_slowness"] = probe.slowness(*record["setup_window"])
        if tracer is not None:
            metrics = tracer.metrics(event_log, record)
            slow = [o["slowness"] for o in record["ops"]
                    if o["ok"] and o["timed"]]
            metrics["host.slowness"] = (
                statistics.median(slow) if slow else 0.0, "ratio")
            tracer.write(os.path.join(ROOT, ".kgbench_work",
                                      f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = end_to_end(record)
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()
        probe.stop()
        shutil.rmtree(work, ignore_errors=True)

    ops = record["ops"]
    failed = sum(not o["ok"] for o in ops)
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload}: wall setup {record['setup_s']:.3f} s,"
          f" host slowness {record['setup_slowness']:.3f} in setup, per op "
          + " ".join(f"{o.get('slowness', 0.0):.3f}" for o in ops))
    print(f"{args.workload}: op latencies (warm-up | timed) "
          + " ".join(f"{o['latency_s']:.3f}" + ("" if o["ok"] else "!")
                     + (" |" if o["op"] == wl.warmup_ops - 1 else "")
                     for o in ops) + " s")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, "jamie_spark")):
        sys.exit("kgbench: run from a checkout of the repository "
                 "(jamie_spark/ not found next to kgbench/)")
    sys.path.insert(0, ROOT)
    sys.exit(main())
