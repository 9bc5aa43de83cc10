"""Spans and counts recorded from outside the program.

A :class:`Tracer` wraps the benchmark's calls into the program's public API
in spans (name, layer, start, end, parent, query id). Each span runs under
its own Spark job group, so the jobs a call launched are counted through
``statusTracker`` once the run ends. After a query's action, the executed
plan's SQL metrics (rows scanned, Python time, shuffle bytes) are read and
stored on the span. Nothing here changes or times code inside the program.

With tracing off, :meth:`Tracer.span` does nothing and costs one branch.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from stats import median_or_zero

STAGES = ("docoffsets", "partials", "docmap", "stats", "postings", "termstats", "lineage")
STORAGE_TABLES = ("partials", "postings", "docmap", "termstats")
SHAPES = ("term", "or", "and", "phrase")
QUERY_METRICS = (
    "plan_s", "plan_jobs", "exec_s", "exec_jobs",
    "scan_rows", "scan_rows_per_hit", "python_s", "shuffle_bytes",
)
#: layers that own spans; ``bench`` is the harness itself (set-up, ops)
LAYERS = ("index.builder", "index.deletes", "query.parser", "query.engine", "bench")
#: layers every gated workload calls; only their self time is a per-layer
#: metric, because a metric must be reported (and not a constant 0) by
#: every workload
SELF_LAYERS = ("index.builder", "query.parser", "query.engine", "bench")


def _unit(name: str) -> str:
    kind = next(part for part in name.split(".")[1:] if part not in SHAPES)
    if kind.endswith("_s") or name.startswith("self_s."):
        return "s"
    if kind.endswith("jobs"):
        return "count"
    if kind == "bytes" or kind.endswith("_bytes"):
        return "bytes"
    if kind.endswith("per_hit"):
        return "rows/hit"
    if kind.endswith("per_probe"):
        return "ratio"
    return "rows"


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name the traced run reports, with its unit."""
    names = [f"builder.stage_s.{s}" for s in STAGES]
    names += ["builder.jobs"]
    names += [f"storage.bytes.{t}" for t in STORAGE_TABLES]
    names += ["deletes.jobs", "parser.parse_s", "engine.open_s"]
    for m in QUERY_METRICS:
        names.append(f"engine.{m}")
        names += [f"engine.{m}.{shape}" for shape in SHAPES]
    names += ["compact.jobs"]
    names += [f"self_s.{layer}" for layer in SELF_LAYERS]
    names += ["trace.overhead_s", "trace.op_p50_s", "trace.op_cpu_s", "trace.op_cpu_per_probe"]
    return {n: _unit(n) for n in names}


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its child
    spans cover (children are clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {sp["id"]: sp for sp in spans}
    for sp in spans:
        p = sp["parent"]
        if p is not None and p in by_id:
            ps, pe = by_id[p]["start"], by_id[p]["end"]
            kids.setdefault(p, []).append((max(sp["start"], ps), min(sp["end"], pe)))
    return {
        sp["id"]: (sp["end"] - sp["start"]) - _union_length(kids.get(sp["id"], []))
        for sp in spans
    }


def plan_metrics(df) -> dict:
    """Sums over the executed physical plan of ``df`` (after its action):
    rows the Parquet scans emitted, Python UDF time and shuffle bytes."""
    out = {"scan_rows": 0, "python_s": 0.0, "shuffle_bytes": 0}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        if cls == "FileSourceScanExec":
            out["scan_rows"] += int(metrics.get("numOutputRows", 0))
        out["python_s"] += metrics.get("pythonTotalTime", 0) / 1000.0  # ms metric
        out["shuffle_bytes"] += int(metrics.get("shuffleBytesWritten", 0))
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        ch = node.children().iterator()
        while ch.hasNext():
            todo.append(ch.next())
    return out


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: seconds spent in the tracer's own bookkeeping
        self.overhead_s = 0.0

    def _group(self, sid: int | None) -> str:
        return "perfbench-idle" if sid is None else f"perfbench-{sid}"

    @contextmanager
    def span(self, name: str, layer: str, qid: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "layer": layer, "qid": qid,
            "parent": self._stack[-1] if self._stack else None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(self._group(sid), name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(self._group(rec["parent"]), "")
            self.overhead_s += time.perf_counter() - rec["end"]

    def annotate(self, rec: dict | None, df, hits: int) -> None:
        """Store the plan metrics of ``df``'s finished action on ``rec``."""
        if rec is None:
            return
        t0 = time.perf_counter()
        rec.update(plan_metrics(df))
        rec["hits"] = hits
        self.overhead_s += time.perf_counter() - t0

    def finish(self) -> None:
        """Resolve job counts once Spark's listener has caught up. A span's
        ``jobs`` include its children's."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        st = self.sc.statusTracker()
        for rec in self.spans:
            rec["jobs_self"] = len(st.getJobIdsForGroup(self._group(rec["id"])))
            rec["jobs"] = rec["jobs_self"]
        for rec in reversed(self.spans):  # children have larger ids
            if rec["parent"] is not None:
                self.spans[rec["parent"]]["jobs"] += rec["jobs"]
        selfs = self_times(self.spans)
        for rec in self.spans:
            rec["self_s"] = selfs[rec["id"]]
        self.overhead_s += time.perf_counter() - t0


def layer_metrics(spans: list[dict], build_summaries: list[dict],
                  storage_bytes: dict[str, int], overhead_s: float,
                  op_p50_s: float, op_cpu_s: float,
                  op_cpu_per_probe: float) -> dict[str, float]:
    """Per-layer metrics of one traced run: every name of
    :func:`per_layer_units` plus the batch and deletes-self-time figures
    that only one workload produces. Medians over calls; 0 for a layer the
    workload never calls."""

    def of(name: str, key: str, shape: str | None = None) -> list[float]:
        return [
            sp[key] for sp in spans
            if sp["name"] == name and (shape is None or sp.get("shape") == shape)
        ]

    def dur(sp: dict) -> float:
        return sp["end"] - sp["start"]

    m: dict[str, float] = {}
    for s in STAGES:
        m[f"builder.stage_s.{s}"] = median_or_zero(
            [b["stages"][s]["wall_sec"] for b in build_summaries
             if "wall_sec" in b["stages"].get(s, {})]
        )
    m["builder.jobs"] = median_or_zero(of("build", "jobs"))
    for t in STORAGE_TABLES:
        m[f"storage.bytes.{t}"] = storage_bytes.get(t, 0)
    m["deletes.jobs"] = median_or_zero(of("delete", "jobs"))
    m["parser.parse_s"] = median_or_zero([dur(sp) for sp in spans if sp["name"] == "parse"])
    m["engine.open_s"] = median_or_zero([dur(sp) for sp in spans if sp["name"] == "open"])
    for shape in (None, *SHAPES):
        sfx = "" if shape is None else "." + shape
        plans = [sp for sp in spans if sp["name"] == "plan" and shape in (None, sp.get("shape"))]
        execs = [sp for sp in spans if sp["name"] == "exec" and shape in (None, sp.get("shape"))]
        m["engine.plan_s" + sfx] = median_or_zero([dur(sp) for sp in plans])
        m["engine.plan_jobs" + sfx] = median_or_zero([sp["jobs"] for sp in plans])
        m["engine.exec_s" + sfx] = median_or_zero([dur(sp) for sp in execs])
        m["engine.exec_jobs" + sfx] = median_or_zero([sp["jobs"] for sp in execs])
        for key in ("scan_rows", "python_s", "shuffle_bytes"):
            m[f"engine.{key}{sfx}"] = median_or_zero([sp[key] for sp in execs])
        m["engine.scan_rows_per_hit" + sfx] = median_or_zero(
            [sp["scan_rows"] / max(1, sp["hits"]) for sp in execs]
        )
    m["compact.jobs"] = median_or_zero(of("compact", "jobs"))
    # build workload only: kept in the full result, not per-layer metrics
    m["engine.batch_s"] = median_or_zero([dur(sp) for sp in spans if sp["name"] == "batch"])
    m["engine.batch_jobs"] = median_or_zero(of("batch", "jobs"))
    for layer in LAYERS:
        m[f"self_s.{layer}"] = sum(sp["self_s"] for sp in spans if sp["layer"] == layer)
    m["trace.overhead_s"] = overhead_s
    m["trace.op_p50_s"] = op_p50_s
    m["trace.op_cpu_s"] = op_cpu_s
    m["trace.op_cpu_per_probe"] = op_cpu_per_probe
    return m
