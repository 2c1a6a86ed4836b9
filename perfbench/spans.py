"""Span tracer for the benchmark's traced runs.

Spans are recorded around the program's public functions by wrapping
them from outside: ``Tracer.wrap`` replaces a function or method
wherever a loaded module of the package refers to it, so no program
file changes.  Each span gets its own Spark job group (nested spans
nest groups, and the parent's group is restored on exit), which lets
``read_event_log`` attribute every Spark job, stage and task in the
event log to exactly one span.  Spans are kept in memory and written out when
the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import time

from orders_gen import UNIQUE_KEYS

JOB_GROUP = "spark.jobGroup.id"
COUNTS = ("jobs", "stages", "tasks", "run_ms", "shuffle_write_bytes", "input_bytes")
PACKAGE = "shopify_youtube_etl_spark"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op: int | None = None  # index of the timed op being run
        self.bookkeeping_s = 0.0  # time spent in the tracer's own code
        self._kids: dict = {}
        self._indexed = 0

    @contextlib.contextmanager
    def span(self, name: str):
        b0 = time.perf_counter()
        prev_group = self.sc.getLocalProperty(JOB_GROUP)
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "op": self.op,
            "group": f"span-{len(self.spans)}",
        }
        self.sc.setLocalProperty(JOB_GROUP, rec["group"])
        self.spans.append(rec)
        self.stack.append(rec)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - b0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, prev_group)
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def wrap(self, owner, attr: str, name: str, keep=None) -> None:
        """Trace ``owner.attr`` (a class or module attribute) as ``name``.
        ``keep(result)``, when given, is stored on the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                result = orig(*args, **kwargs)
                if keep is not None:
                    rec["result"] = keep(result)
                return result

        if isinstance(owner, type):
            setattr(owner, attr, traced)
            return
        # Module-level function: rebind every package module that
        # imported it by name, so calls through any alias are traced.
        for mod in list(sys.modules.values()):
            if mod is not None and getattr(mod, "__name__", "").startswith(PACKAGE):
                if getattr(mod, attr, None) is orig:
                    setattr(mod, attr, traced)

    def children(self, span_id: int) -> list[dict]:
        if self._indexed != len(self.spans):
            self._kids = {}
            for s in self.spans:
                self._kids.setdefault(s["parent"], []).append(s)
            self._indexed = len(self.spans)
        return self._kids.get(span_id, [])

    def subtree(self, span_id: int) -> list[dict]:
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            kids = self.children(sid)
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it its child spans cover."""
        covered = 0.0
        end = span["start"]
        for k in sorted(self.children(span["id"]), key=lambda s: s["start"]):
            lo, hi = max(k["start"], end), min(k["end"], span["end"])
            if hi > lo:
                covered += hi - lo
                end = hi
        return span["end"] - span["start"] - covered

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, default=str)


def read_event_log(path: str) -> dict:
    """Per job group: job, stage and task counts plus summed task metrics."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, dict] = {}

    def g(name):
        return groups.setdefault(name, dict.fromkeys(COUNTS, 0))

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get(JOB_GROUP)
                g(grp)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = grp
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                grp = stage_group.get(info["Stage ID"])
                if "Completion Time" in info and "Submission Time" in info:
                    g(grp)["stages"] += 1
                    g(grp)["tasks"] += info.get("Number of Tasks", 0)
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics") or {}
                rec = g(grp)
                rec["run_ms"] += m.get("Executor Run Time", 0)
                rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                rec["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return groups


def subtree_counts(tracer: Tracer, root: dict, groups: dict) -> dict:
    """Spark counts of ``root`` and every span below it."""
    out = dict.fromkeys(COUNTS, 0)
    for s in [root] + tracer.subtree(root["id"]):
        for k, v in groups.get(s["group"], {}).items():
            out[k] += v
    return out


SYNC_SPANS = [
    "streaming.pipeline.execute",
    "sources.read_raw_orders",
    "normalize.normalize_orders",
    "operators.upsert.append",
    "operators.upsert.merge_from",
    "operators.upsert.truncate",
    "operators.upsert.overwrite",
    "operators.upsert.compact",
    "operators.watermark.start_date",
    "operators.watermark.record_run",
    "operators.verify.verify_table_data",
]


def layer_names(queries: list[str]) -> dict[str, str]:
    """Every per-layer metric, name -> unit.  Both workloads report all
    of them; a layer a workload does not exercise reads 0."""
    names = {f"{s}_s": "s" for s in SYNC_SPANS}
    names.update({
        "streaming.pipeline.execute_self_s": "s",
        "trace.attribution_error_s": "s",
        "operators.upsert.compactions": "count",
        "spark.jobs_per_batch": "count",
        "spark.stages_per_batch": "count",
        "spark.tasks_per_batch": "count",
        "operators.upsert.bytes_on_disk_per_input_byte": "ratio",
        "plans.build_s": "s",
        "plans.exec_s": "s",
        "spark.jobs_per_query": "count",
        "spark.shuffle_write_bytes_per_query": "bytes",
        "sources.input_bytes_per_query": "bytes",
        "spark.task_busy_ratio": "ratio",
        "operators.upsert.segments_for_point_s": "s",
        "operators.upsert.segments_kept_ratio": "ratio",
        "operators.upsert.bloom_false_positive_ratio": "ratio",
        "spark.jobs_per_lookup": "count",
        "lookup_p50_s": "s",
        "trace.op_p50_s": "s",
        "trace.op_cpu_s": "s",
        "trace.bookkeeping_per_op_s": "s",
        "error_rate": "ratio",
        "peak_rss_mb": "MB",
    })
    names.update({f"operators.upsert.live_segments.{t}": "count" for t in UNIQUE_KEYS})
    names.update({f"query.{q}_s": "s" for q in queries})
    return names


def install(tracer: Tracer) -> None:
    """Wrap the public functions of each layer the workloads call."""
    from shopify_youtube_etl_spark import normalize
    from shopify_youtube_etl_spark.operators.upsert import ParquetTable
    from shopify_youtube_etl_spark.operators.watermark import SyncControl
    from shopify_youtube_etl_spark.plans.registry import all_queries
    from shopify_youtube_etl_spark.sources import tables
    from shopify_youtube_etl_spark.streaming.pipeline import IncrementalPipeline

    all_queries()  # import every plan module, so their aliases get rebound too
    tracer.wrap(IncrementalPipeline, "execute", "streaming.pipeline.execute")
    tracer.wrap(IncrementalPipeline, "verify_table_data", "operators.verify.verify_table_data")
    tracer.wrap(normalize, "read_raw_orders", "sources.read_raw_orders")
    tracer.wrap(normalize, "normalize_orders", "normalize.normalize_orders")
    tracer.wrap(tables, "load_table", "sources.load_table")
    tracer.wrap(SyncControl, "start_date", "operators.watermark.start_date")
    tracer.wrap(SyncControl, "record_run", "operators.watermark.record_run")
    for m in ("append", "merge_from", "truncate", "compact", "overwrite", "read_point",
              "read_range", "segments_for_range"):
        tracer.wrap(ParquetTable, m, f"operators.upsert.{m}")
    tracer.wrap(ParquetTable, "segments_for_point", "operators.upsert.segments_for_point",
                keep=lambda segs: [os.path.basename(s) for s in segs])


def _outermost(tracer: Tracer, root: dict, name: str) -> list[dict]:
    """Spans called ``name`` under ``root`` with no ``name`` ancestor below it."""
    out, todo = [], list(tracer.children(root["id"]))
    while todo:
        s = todo.pop()
        if s["name"] == name:
            out.append(s)
        else:
            todo.extend(tracer.children(s["id"]))
    return out


def _dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def layer_metrics(tracer: Tracer, event_log: str, wl, latencies: list[float], cpu: list[float],
                  labels: list[str], primary: list[bool], wall: float, cpus: int,
                  bookkeeping_s: float, queries: list[str]) -> dict:
    groups = read_event_log(event_log)
    for s in tracer.spans:  # the span's own Spark work, written out with it
        s["spark"] = groups.get(s["group"], {})
    units = layer_names(queries)
    values = {name: 0.0 for name in units}
    ops = {s["op"]: s for s in tracer.spans if s["name"] == "op"}
    counts = {i: subtree_counts(tracer, root, groups) for i, root in ops.items()}
    busy_ms = sum(c["run_ms"] for c in counts.values())
    values["spark.task_busy_ratio"] = busy_ms / 1000.0 / (wall * cpus)
    values["trace.op_p50_s"] = _med(x for x, p in zip(latencies, primary) if p)
    values["trace.op_cpu_s"] = statistics.mean(x for x, p in zip(cpu, primary) if p)
    values["trace.bookkeeping_per_op_s"] = bookkeeping_s / len(latencies)

    batches = [i for i, lab in enumerate(labels) if lab == "batch"]
    if batches:
        for name in SYNC_SPANS:
            values[f"{name}_s"] = _med(_dur(_outermost(tracer, ops[i], name)) for i in batches)
        values["operators.upsert.compactions"] = _med(
            len(_outermost(tracer, ops[i], "operators.upsert.compact")) for i in batches
        )
        for k in ("jobs", "stages", "tasks"):
            values[f"spark.{k}_per_batch"] = _med(counts[i][k] for i in batches)
        self_s, err = [], []
        for i in batches:
            (ex,) = _outermost(tracer, ops[i], "streaming.pipeline.execute")
            parts = [tracer.self_time(s) for s in [ex] + tracer.subtree(ex["id"])]
            self_s.append(parts[0])
            err.append(abs(sum(parts) - (ex["end"] - ex["start"])))
        values["streaming.pipeline.execute_self_s"] = _med(self_s)
        values["trace.attribution_error_s"] = max(err)

    query_ops = [i for i, lab in enumerate(labels) if lab in queries]
    if query_ops:
        values["plans.build_s"] = _med(
            _dur(_outermost(tracer, ops[i], "plans.build")) for i in query_ops)
        values["plans.exec_s"] = _med(
            _dur(_outermost(tracer, ops[i], "plans.exec")) for i in query_ops)
        values["spark.jobs_per_query"] = _med(counts[i]["jobs"] for i in query_ops)
        values["spark.shuffle_write_bytes_per_query"] = _med(
            counts[i]["shuffle_write_bytes"] for i in query_ops)
        values["sources.input_bytes_per_query"] = _med(counts[i]["input_bytes"] for i in query_ops)
        for q in queries:
            values[f"query.{q}_s"] = _med(
                latencies[i] for i, lab in enumerate(labels) if lab == q)

    lookup_ops = [i for i, lab in enumerate(labels) if lab.endswith("_lookup")]
    if lookup_ops:
        values["lookup_p50_s"] = _med(latencies[i] for i in lookup_ops)
        values["spark.jobs_per_lookup"] = _med(counts[i]["jobs"] for i in lookup_ops)
        probes = [
            (i, s) for i in lookup_ops
            for s in _outermost(tracer, ops[i], "operators.upsert.segments_for_point")
        ]
        values["operators.upsert.segments_for_point_s"] = _med(
            s["end"] - s["start"] for _i, s in probes)
        holders = wl.segment_key_sets()
        live = len(holders)
        specs = {i: spec for i, spec, _rows in wl.lookups}
        kept = sum(len(s["result"]) for _i, s in probes)
        wasted = sum(
            1 for i, s in probes for seg in s["result"]
            if specs[i][2] not in holders[seg][specs[i][1]]
        )
        values["operators.upsert.segments_kept_ratio"] = kept / (live * len(probes)) if probes else 0.0
        values["operators.upsert.bloom_false_positive_ratio"] = wasted / kept if kept else 0.0
    return {k: (v, units[k]) for k, v in values.items()}
