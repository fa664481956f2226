"""Per-layer tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side: while a traced op runs, every
public function of each layer module is replaced by a wrapper that opens a
span named ``<module>.<function>`` around the call, and the originals are
put back when the op ends. Spark evaluates lazily, so a call that returns a
DataFrame keeps its span open until the caller's next traced call or the
end of the caller's span: the action that consumes the frame is charged to
the layer that built it. Each span sets the thread's Spark job group, so the
event log attributes every Spark job, and its tasks, to the innermost open
span. Spans stay in memory and are written once, after the run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import statistics
import threading
import time
from collections import defaultdict

from pyspark.sql import DataFrame

#: the program's layers, by module name
LAYERS = (
    "infer", "mentions", "link", "canon", "graph", "pipeline", "textstats",
    "streaming", "kgstats",
)
#: Spark task metrics reported for every layer
SPARK_METRICS = (
    "jobs", "task_s", "shuffle_write_bytes", "spill_bytes",
    "max_task_over_median",
)
#: phases of a streaming query's ``lastProgress["durationMs"]``
PROGRESS_PHASES = (
    "addBatch", "commitOffsets", "getBatch", "latestOffset", "queryPlanning",
    "triggerExecution", "walCommit",
)
#: spans of the benchmark's own counting; removed from their ancestors' time
OWN = "kgbench"
#: op id of the graph read-side probe (``Tracer.finish``); it reports only
#: ``kgstats.*`` and ``canon.cc_s``, so the canon work of the workload's own
#: ops is not averaged with connected components
PROBE = "probe"
GROUP_KEY = "spark.jobGroup.id"


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, in order."""
    names = [
        "infer.annotate_s", "infer.docs_in", "infer.rows_out",
        "mentions.triples_out", "mentions.mentions_out",
        "link.link_s", "link.surfaces_in", "link.links_out", "link.hit_ratio",
        "canon.dict_s", "canon.calls", "canon.cc_s",
        "graph.resolve_s", "graph.materialize_s", "graph.bytes_written",
        "graph.files_written", "graph.bucket_skew",
        "pipeline.persisted_rdds_after",
        "textstats.signature_s", "textstats.dedup_probe_s",
        "streaming.batch_s", "streaming.commit_s", "streaming.docs_in",
        "streaming.dropped_share", "streaming.store_bytes",
        *[f"streaming.progress_{p}_ms" for p in PROGRESS_PHASES],
        "kgstats.pagerank_s", "kgstats.lpa_s", "kgstats.kcore_s",
        "kgstats.persisted_rdds_after",
        "jvm.heap_peak_mb", "jvm.old_gen_peak_mb",
    ]
    for layer in LAYERS:
        names.append(f"{layer}.self_s")
        names.extend(f"{layer}.{m}" for m in SPARK_METRICS)
    names += ["trace.traced_op_s", "trace.untraced_op_s",
              "trace.overhead_share", "trace.count_s", "trace.spans_per_op"]
    return names


#: unit by metric-name suffix; anything else is a count
UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_bytes": "B",
         "bytes_written": "B", "_share": "ratio", "_ratio": "ratio",
         "_skew": "ratio", "_median": "ratio"}


def unit_of(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)),
                "count")


class Span:
    __slots__ = ("id", "name", "module", "start", "end", "parent", "op",
                 "lazy", "thread", "prev_group")

    def __init__(self, sid, name, parent, op):
        self.id, self.name, self.parent, self.op = sid, name, parent, op
        self.module = name.split(".", 1)[0]
        self.start, self.end = time.time(), None
        self.lazy = False
        self.thread = threading.get_ident()
        self.prev_group = None

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent, "op": self.op}


def self_time(span, children) -> float:
    """The span's duration minus the part of it its children cover (the
    children of an op can run on two threads and overlap)."""
    covered, reach = 0.0, span.start
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, reach), min(c.end, span.end)
        if hi > lo:
            covered += hi - lo
            reach = hi
    return span.end - span.start - covered


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stacks: dict[int, list[Span]] = defaultdict(list)
        self._op_span: Span | None = None
        self.lock = threading.RLock()
        self.op_id = None
        self.counts: dict = defaultdict(lambda: defaultdict(float))
        self._patched: list[tuple] = []
        self._surfaces = None  # link input, counted at release
        self.jobs: list[dict] = []

    # -- spans -------------------------------------------------------------

    def _open(self, name: str, lazy: bool = False) -> Span:
        with self.lock:
            # one stack per thread: a streaming batch runs on its own thread
            # and its first span hangs off the op span
            stack = self._stacks[threading.get_ident()]
            while stack and stack[-1].lazy:
                self._close(stack[-1])
            parent = stack[-1] if stack else self._op_span
            span = Span(len(self.spans), name,
                        parent.id if parent else None, self.op_id)
            span.lazy = lazy
            span.prev_group = self.sc.getLocalProperty(GROUP_KEY)
            self.sc.setLocalProperty(GROUP_KEY, f"kgspan-{span.id}")
            self.spans.append(span)
            stack.append(span)
            return span

    def _close(self, span: Span) -> None:
        with self.lock:
            if span.end is not None:
                return
            stack = self._stacks[span.thread]
            while stack and stack[-1] is not span:
                self._close(stack[-1])
            if stack:
                stack.pop()
            span.end = time.time()
            if span.thread == threading.get_ident():
                self.sc.setLocalProperty(GROUP_KEY, span.prev_group)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self._open(name)
            try:
                self._before(name, args)
                result = fn(*args, **kwargs)
            except BaseException:
                self._close(span)
                raise
            if isinstance(result, DataFrame):
                span.lazy = True
            else:
                self._close(span)
            self._after_closed(name)
            return result

        return traced

    def install(self) -> None:
        for layer in LAYERS:
            mod = importlib.import_module(f"jamie_spark.{layer}")
            for name, fn in list(vars(mod).items()):
                if (inspect.isfunction(fn) and not name.startswith("_")
                        and fn.__module__ == mod.__name__):
                    setattr(mod, name, self._wrap(f"{layer}.{name}", fn))
                    self._patched.append((mod, name, fn))

    def uninstall(self) -> None:
        for mod, name, fn in self._patched:
            setattr(mod, name, fn)
        self._patched.clear()

    @contextlib.contextmanager
    def op(self, op_id):
        """Traces everything op ``op_id`` calls inside the ``with`` block."""
        self.op_id = op_id
        self.install()
        self._op_span = self._open("op")
        try:
            yield
        finally:
            with self.lock:
                for stack in list(self._stacks.values()):
                    while stack:
                        self._close(stack[-1])
            self._op_span = None
            self.uninstall()
            self.op_id = None

    # -- hooks at layer boundaries ----------------------------------------

    def _count(self, key: str, value: float) -> None:
        self.counts[self.op_id][key] += value

    def _snapshot(self, key: str, value: float) -> None:
        self.counts[self.op_id][key] = value

    def _persisted(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def _before(self, name: str, args) -> None:
        if name == "link.link_surfaces":
            self._surfaces = args[0]
        elif name == "streaming.process_kg_batch":
            # its first action, the survivors' emptiness check, runs the
            # near-dup probe against the signature store (and computes the
            # batch signatures it reads); charged here until run_kg starts
            self._open("textstats.dedup_probe", lazy=True)
        elif name == "pipeline.release":
            self._count_result(args[0])

    def _after_closed(self, name: str) -> None:
        if name == "pipeline.release":
            self._snapshot("pipeline.persisted_rdds_after", self._persisted())
        elif name.startswith("kgstats."):
            self._snapshot("kgstats.persisted_rdds_after", self._persisted())
        elif name == "streaming.process_kg_batch":
            # the rest of process_kg_dedup_batch commits the signatures
            self._open("streaming.commit", lazy=True)
        elif name == "canon.canonicalize_concepts":
            self._count("canon.calls", 1)

    def _count_result(self, result: dict) -> None:
        """Row counts of a run_kg result, taken before release frees it."""
        span = self._open(f"{OWN}.count")
        try:
            kinds = dict(
                result["annotations"].groupBy("kind").count().collect()
            )
            self._count("mentions.mentions_out", kinds.get("m", 0))
            self._count("mentions.triples_out", kinds.get("t", 0))
            self._count("infer.rows_out", sum(kinds.values()))
            if self._surfaces is not None:
                self._count("link.surfaces_in", self._surfaces.count())
                self._surfaces = None
            self._count("link.links_out", result["links"].count())
        finally:
            self._close(span)

    def after_op(self, op_id, wl, rec: dict) -> None:
        """Counts read from what the op committed; off the clock."""
        self.op_id = op_id
        c = self.counts[op_id]
        c["infer.docs_in"] += rec.get("survivors", rec.get("docs", 0))
        c["graph.bytes_written"] += rec.get("stored_bytes", 0)
        c["graph.files_written"] += rec.get("stored_files", 0)
        out = rec.get("out")
        if out:
            from jamie_spark import graph

            from .workloads import N_BUCKETS, N_SALTS

            hist = graph.partition_histogram(
                self.spark.read.parquet(out), N_BUCKETS, N_SALTS
            ).groupBy("bucket").sum("rows").collect()
            rows = [r[1] for r in hist]
            if rows:
                c["graph.bucket_skew"] = max(rows) / statistics.median(rows)
        if "survivors" in rec:
            c["streaming.docs_in"] += rec["docs"]
            c["streaming.dropped_share"] = (
                (rec["docs"] - rec["survivors"]) / rec["docs"]
            )
            c["streaming.store_bytes"] = rec["store_bytes"]
            progress = getattr(wl, "progress", None) or {}
            for phase in PROGRESS_PHASES:
                c[f"streaming.progress_{phase}_ms"] = (
                    progress.get("durationMs", {}).get(phase, 0)
                )
        self.op_id = None

    def finish(self, wl) -> None:
        """Runs the workload's probe, if it has one, once to warm it up
        and once traced, as one more op."""
        probe = getattr(wl, "probe", None)
        if probe is not None:
            probe()
            with self.op(PROBE):
                probe()

    # -- metrics -----------------------------------------------------------

    def _read_event_log(self, path: str) -> None:
        """Spark jobs with their task metrics, from the JSON event log."""
        stage_job: dict[int, dict] = {}
        for fname in sorted(os.listdir(path)):
            with open(os.path.join(path, fname)) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        job = {
                            "id": ev["Job ID"],
                            "submit": ev["Submission Time"] / 1000.0,
                            "group": (ev.get("Properties") or {}).get(GROUP_KEY),
                            "task_ms": 0, "shuffle_write": 0, "spill": 0,
                            "stages": defaultdict(list),
                        }
                        self.jobs.append(job)
                        for sid in ev["Stage IDs"]:
                            stage_job[sid] = job
                    elif kind == "SparkListenerTaskEnd":
                        job = stage_job.get(ev["Stage ID"])
                        m = ev.get("Task Metrics") or {}
                        if job is None or not m:
                            continue
                        info = ev["Task Info"]
                        job["task_ms"] += m.get("Executor Run Time", 0)
                        job["shuffle_write"] += (
                            m.get("Shuffle Write Metrics") or {}
                        ).get("Shuffle Bytes Written", 0)
                        job["spill"] += m.get("Disk Bytes Spilled", 0)
                        job["stages"][ev["Stage ID"]].append(
                            info["Finish Time"] - info["Launch Time"]
                        )

    def _attribute(self, job: dict) -> Span | None:
        group = job["group"] or ""
        if group.startswith("kgspan-"):
            return self.spans[int(group.split("-", 1)[1])]
        # a job submitted from a thread the span could not label: the
        # innermost span open at its submission time
        best = None
        for span in self.spans:
            if span.start <= job["submit"] <= (span.end or span.start):
                if best is None or span.start >= best.start:
                    best = span
        return best

    def metrics(self, event_log: str, record: dict) -> dict:
        by_id = {s.id: s for s in self.spans}
        own: dict[int, float] = defaultdict(float)  # kgbench time below a span
        for s in self.spans:
            if s.module == OWN:
                p = s.parent
                while p is not None:
                    own[p] += s.end - s.start
                    p = by_id[p].parent
        dur = {s.id: s.end - s.start - own[s.id] for s in self.spans}
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)

        per_op: dict = defaultdict(lambda: defaultdict(float))
        for op_id, c in self.counts.items():
            per_op[op_id].update(c)

        def probe_key(key):
            return key.startswith("kgstats.") or key == "canon.cc_s"

        def add(op, key, value):
            if op != PROBE or probe_key(key):
                per_op[op][key] += value

        span_names = {
            "infer.annotate_s": ("infer.annotate_pages_flat",),
            "link.link_s": ("link.link_surfaces",),
            "canon.dict_s": ("canon.canonicalize_concepts",),
            "graph.resolve_s": ("graph.canonical_triples",),
            "graph.materialize_s": ("graph.materialize", "graph.salted"),
            "textstats.signature_s": ("textstats.minhash_signature_table",),
            "textstats.dedup_probe_s": ("textstats.dedup_probe",
                                        "textstats.dedup_against_signatures"),
            "streaming.batch_s": ("streaming.process_kg_dedup_batch",),
            "streaming.commit_s": ("streaming.commit",),
            "kgstats.pagerank_s": ("kgstats.pagerank_weighted",),
            "kgstats.lpa_s": ("kgstats.label_propagation",),
            "kgstats.kcore_s": ("kgstats.kcore",),
        }
        by_name = {n: metric for metric, ns in span_names.items() for n in ns}
        for s in self.spans:
            if s.name == "op":
                continue
            add(s.op, "trace.spans_per_op", 1)
            if s.module != OWN:
                add(s.op, f"{s.module}.self_s", self_time(s, kids[s.id]))
            metric = by_name.get(s.name)
            parent = by_id.get(s.parent)
            # graph.materialize calls graph.salted: count the outer span only
            if metric and not (parent and by_name.get(parent.name) == metric):
                add(s.op, metric, dur[s.id])
            if (s.name == "canon.connected_components" and s.parent is not None
                    and by_id[s.parent].name != "canon.canonicalize_concepts"):
                add(s.op, "canon.cc_s", dur[s.id])

        self._read_event_log(event_log)
        for job in self.jobs:
            span = self._attribute(job)
            if span is None or span.op is None:
                continue
            layer = span.module if span.module in LAYERS else None
            if layer is None:
                continue
            add(span.op, f"{layer}.jobs", 1)
            add(span.op, f"{layer}.task_s", job["task_ms"] / 1000.0)
            add(span.op, f"{layer}.shuffle_write_bytes", job["shuffle_write"])
            add(span.op, f"{layer}.spill_bytes", job["spill"])
            skew = [max(t) / statistics.median(t)
                    for t in job["stages"].values() if len(t) > 1]
            key = f"{layer}.max_task_over_median"
            if skew and (span.op != PROBE or probe_key(key)):
                per_op[span.op][key] = max(per_op[span.op][key], max(skew))

        for c in per_op.values():
            if c.get("link.surfaces_in"):
                c["link.hit_ratio"] = c["link.links_out"] / c["link.surfaces_in"]
        out = {}
        for name in per_layer_names():
            # mean over the ops that exercised the layer
            vals = [c[name] for c in per_op.values() if name in c]
            out[name] = (statistics.fmean(vals) if vals else 0.0, unit_of(name))

        # a traced op's latency without the benchmark's own counting spans,
        # against the mean of the untraced ops just before and after it
        own_by_op: dict = defaultdict(float)
        for s in self.spans:
            if s.module == OWN:
                own_by_op[s.op] += s.end - s.start
        timed = [o for o in record["ops"] if o["timed"]]
        lat = [o["latency_s"] - own_by_op[o["op"]] for o in timed]
        traced, plain, overhead = [], [], []
        for j, o in enumerate(timed):
            if not o["ok"]:
                continue
            if not o["traced"]:
                plain.append(lat[j])
                continue
            traced.append(lat[j])
            around = [lat[k] for k in (j - 1, j + 1)
                      if 0 <= k < len(timed) and timed[k]["ok"]]
            if around:
                base = statistics.fmean(around)
                overhead.append((lat[j] - base) / base)
        out["trace.traced_op_s"] = (
            statistics.median(traced) if traced else 0.0, "s")
        out["trace.untraced_op_s"] = (
            statistics.median(plain) if plain else 0.0, "s")
        out["trace.overhead_share"] = (
            statistics.median(overhead) if overhead else 0.0, "ratio")
        heap = record["heap_peaks"]
        out["jvm.heap_peak_mb"] = (sum(heap.values()) / 2**20, "MB")
        out["jvm.old_gen_peak_mb"] = (
            sum(v for k, v in heap.items() if "Old Gen" in k) / 2**20, "MB")
        out["trace.count_s"] = (
            statistics.fmean(own_by_op[o["op"]] for o in timed if o["traced"])
            if traced else 0.0, "s")
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({
                "spans": [s.as_dict() for s in self.spans],
                "counts": {str(k): dict(v) for k, v in self.counts.items()},
                "jobs": [
                    {k: v for k, v in j.items() if k != "stages"}
                    for j in self.jobs
                ],
            }, fh)
