"""Layer spans for the traced run, recorded from outside the engine.

Spans are opened around calls into each layer's public functions by
rebinding the names ``cdc_data_lake_pyspark_spark.pipeline`` imports
(``table_op_inventory``, ``slice_table``, ``infer_and_parse_json``,
``infer_json_schema``), by a delegating :class:`TracingSink`, and by
wrapping the ``foreachBatch`` callable.  A span records name, start, end,
parent and batch id in memory; :func:`batch_report` joins them with
Spark's event log after the run.

Spark jobs are attributed to the innermost open span through the job
description, which each span sets on its calling thread and restores on
exit.  The pipeline's per-table thread pool does not copy local
properties, so every span sets the description itself rather than
relying on inheritance.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

DESC_KEY = "spark.job.description"
DESC_PREFIX = "cdcbench:"

#: span names, in the per-layer table's row order
LAYERS = [
    "runner.foreach_batch",
    "router.inventory",
    "pipeline.table",
    "schema.infer",
    "apply.catalog",
    "apply.create",
    "apply.append",
    "apply.merge",
    "apply.delete",
    "apply.flush",
]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    batch: int | None
    start_ns: int
    end_ns: int | None = None

    @property
    def dur_s(self) -> float:
        return (self.end_ns - self.start_ns) / 1e9


@dataclass
class Tracer:
    """In-memory span recorder; one per traced run."""

    sc: object  # SparkContext
    spans: list[Span] = field(default_factory=list)
    batch: int | None = None
    root: int | None = None
    on: bool = False  # whether the current micro-batch is traced

    def __post_init__(self):
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> Span:
        st = self._stack()
        parent = st[-1][0].sid if st else self.root
        span = Span(next(self._ids), name, parent, self.batch, time.time_ns())
        prev = self.sc.getLocalProperty(DESC_KEY)
        self.sc.setLocalProperty(DESC_KEY, f"{DESC_PREFIX}{span.sid}")
        st.append((span, prev))
        return span

    def end(self, name: str) -> None:
        st = self._stack()
        span, prev = st.pop()
        if span.name != name:
            raise RuntimeError(f"span {span.name} closed as {name}")
        span.end_ns = time.time_ns()
        self.sc.setLocalProperty(DESC_KEY, prev)
        with self._lock:
            self.spans.append(span)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.on:
                return fn(*args, **kwargs)
            self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(name)

        return traced


class TracingSink:
    """Delegating sink: every method call is an ``apply.*`` span; ``flush``
    also closes the table span opened at ``slice_table``."""

    _NAMES = {
        "exists": "apply.catalog",
        "read": "apply.catalog",
        "create_if_not_exists": "apply.create",
        "append": "apply.append",
        "merge": "apply.merge",
        "delete": "apply.delete",
    }

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer
        for method, span in self._NAMES.items():
            setattr(self, method, tracer.wrap(span, getattr(inner, method)))

    def flush(self, cfg):
        try:
            self._tracer.wrap("apply.flush", self._inner.flush)(cfg)
        finally:
            if self._tracer.on:
                self._tracer.end("pipeline.table")

    def __getattr__(self, name):
        return getattr(self._inner, name)


def install(tracer: Tracer, pipeline) -> callable:
    """Instrument ``pipeline`` (a CdcPipeline) and the pipeline module's
    imported layer functions for every second micro-batch from now on,
    starting with the second; the others run through untraced.  Return a
    function that undoes it."""
    from cdc_data_lake_pyspark_spark import pipeline as mod

    originals = {n: getattr(mod, n) for n in (
        "table_op_inventory", "slice_table", "infer_and_parse_json", "infer_json_schema")}
    mod.table_op_inventory = tracer.wrap("router.inventory", originals["table_op_inventory"])
    mod.infer_and_parse_json = tracer.wrap("schema.infer", originals["infer_and_parse_json"])
    mod.infer_json_schema = tracer.wrap("schema.infer", originals["infer_json_schema"])

    def slice_table(*args, **kwargs):
        if tracer.on:
            tracer.begin("pipeline.table")  # closed by TracingSink.flush
        return originals["slice_table"](*args, **kwargs)

    mod.slice_table = slice_table
    sink = pipeline.sink
    pipeline.sink = TracingSink(sink, tracer)
    process = pipeline.process_batch

    calls = itertools.count()

    def process_batch(batch_df, batch_id):
        if next(calls) % 2 == 0:  # untraced: the overhead ratio's baseline
            return process(batch_df, batch_id)
        tracer.batch = batch_id
        tracer.on = True
        span = tracer.begin("runner.foreach_batch")
        tracer.root = span.sid
        try:
            return process(batch_df, batch_id)
        finally:
            tracer.end("runner.foreach_batch")
            tracer.root = None
            tracer.on = False

    pipeline.process_batch = process_batch

    def uninstall():
        for n, fn in originals.items():
            setattr(mod, n, fn)
        pipeline.sink = sink
        del pipeline.process_batch

    return uninstall


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

_ACC = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_mem",
    "internal.metrics.diskBytesSpilled": "spill_disk",
    "internal.metrics.output.recordsWritten": "records_written",
    "internal.metrics.output.bytesWritten": "bytes_written",
}


def read_event_log(path: str) -> dict:
    """Jobs (description, start, end) and completed-stage metrics."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    stage_desc: dict[int, str | None] = {}
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "desc": props.get(DESC_KEY),
                        "start_ms": ev["Submission Time"],
                        "end_ms": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_desc[ev["Stage Info"]["Stage ID"]] = props.get(DESC_KEY)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    m = {v: 0 for v in _ACC.values()}
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key:
                            m[key] += int(acc.get("Value") or 0)
                    m["tasks"] = info.get("Number of Tasks", 0)
                    m["desc"] = stage_desc.get(info["Stage ID"])
                    m["submit_ms"] = info.get("Submission Time")
                    stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = m
    return {"jobs": jobs, "stages": stages}


def _sid(desc: str | None) -> int | None:
    if desc and desc.startswith(DESC_PREFIX):
        return int(desc[len(DESC_PREFIX):])
    return None


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi] (seconds)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def batch_report(spans: list[Span], log: dict, progress: dict[int, float],
                 events: dict[int, int]) -> list[dict]:
    """Per traced batch: per-layer rows and the per-layer metrics.

    ``progress`` maps batch id → Spark's ``triggerExecution`` (s);
    ``events`` maps batch id → applied change events."""
    by_id = {s.sid: s for s in spans}
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    roots = sorted((s for s in spans if s.name == "runner.foreach_batch"), key=lambda s: s.batch)

    def root_of(s: Span) -> Span | None:
        while s is not None and s.name != "runner.foreach_batch":
            s = by_id.get(s.parent)
        return s

    # attribute stages and jobs to spans (innermost open span that set the
    # description; otherwise the foreach span whose window holds the job)
    def owner(desc, t_ms):
        sid = _sid(desc)
        if sid in by_id:
            return by_id[sid]
        t = t_ms / 1000.0
        return next((r for r in roots if r.start_ns / 1e9 <= t <= r.end_ns / 1e9), None)

    stage_owner = {k: owner(m["desc"], m["submit_ms"] or 0) for k, m in log["stages"].items()}
    job_owner = {j: owner(m["desc"], m["start_ms"]) for j, m in log["jobs"].items()}

    out = []
    for r in roots:
        b = r.batch
        lo, hi = r.start_ns / 1e9, r.end_ns / 1e9
        in_batch = [s for s in spans if s is not r and root_of(s) is r]
        layers = {}
        for name in LAYERS:
            mine = [r] if name == r.name else [s for s in in_batch if s.name == name]
            row = {"calls": len(mine), "wall_s": 0.0, "self_s": 0.0, "cpu_s": 0.0, "jobs": 0,
                   "stages": 0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                   "records_written": 0, "bytes_written": 0, "gc_s": 0.0}
            ids = {s.sid for s in mine}
            for s in mine:
                kids = [(c.start_ns / 1e9, c.end_ns / 1e9) for c in children.get(s.sid, [])]
                row["wall_s"] += s.dur_s
                row["self_s"] += s.dur_s - _union_s(kids, s.start_ns / 1e9, s.end_ns / 1e9)
            for k, m in log["stages"].items():
                o = stage_owner[k]
                if o is not None and o.sid in ids:
                    row["stages"] += 1
                    row["tasks"] += m["tasks"]
                    row["cpu_s"] += m["cpu_ns"] / 1e9
                    row["gc_s"] += m["gc_ms"] / 1e3
                    row["shuffle_write_bytes"] += m["shuffle_write_bytes"]
                    row["spill_bytes"] += m["spill_mem"] + m["spill_disk"]
                    row["records_written"] += m["records_written"]
                    row["bytes_written"] += m["bytes_written"]
            row["jobs"] = sum(1 for j, o in job_owner.items() if o is not None and o.sid in ids)
            layers[name] = row
        job_iv = [
            (m["start_ms"] / 1e3, (m["end_ms"] or m["start_ms"]) / 1e3)
            for j, m in log["jobs"].items()
            if job_owner[j] is not None and root_of(job_owner[j]) is r
        ]
        tables = [s for s in in_batch if s.name == "pipeline.table"]
        inv = [s for s in in_batch if s.name == "router.inventory"]
        inv_end = max((s.end_ns for s in inv), default=r.start_ns) / 1e9
        covered = _union_s([(s.start_ns / 1e9, s.end_ns / 1e9) for s in in_batch], lo, hi)
        apply_rows = ["apply.catalog", "apply.create", "apply.append", "apply.merge",
                      "apply.delete", "apply.flush"]
        total = {k: sum(layers[n][k] for n in LAYERS) for k in
                 ("jobs", "stages", "tasks", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")}
        n_events = events.get(b, 0)
        metrics = {
            "runner.overhead_s": progress.get(b, r.dur_s) - r.dur_s,
            "pipeline.tables": len(tables),
            "pipeline.table_busy_s": sum(s.dur_s for s in tables),
            "pipeline.table_wait_s": sum(max(s.start_ns / 1e9 - inv_end, 0.0) for s in tables),
            "pipeline.driver_gap_s": r.dur_s - _union_s(job_iv, lo, hi),
            "router.inventory_s": layers["router.inventory"]["wall_s"],
            "router.inventory_cpu_s": layers["router.inventory"]["cpu_s"],
            "schema.infer_calls": layers["schema.infer"]["calls"],
            "schema.infer_s": layers["schema.infer"]["wall_s"],
            "schema.infer_cpu_s": layers["schema.infer"]["cpu_s"],
            "apply.append_s": layers["apply.append"]["wall_s"],
            "apply.merge_s": layers["apply.merge"]["wall_s"],
            "apply.delete_s": layers["apply.delete"]["wall_s"],
            "apply.create_s": layers["apply.create"]["wall_s"],
            "apply.catalog_s": layers["apply.catalog"]["wall_s"],
            "apply.rows_written_per_event": (
                sum(layers[n]["records_written"] for n in apply_rows) / n_events if n_events else 0.0
            ),
            "apply.bytes_written": sum(layers[n]["bytes_written"] for n in apply_rows),
            "spark.jobs": total["jobs"],
            "spark.stages": total["stages"],
            "spark.tasks": total["tasks"],
            "spark.executor_cpu_s": total["cpu_s"],
            "spark.gc_s": total["gc_s"],
            "spark.shuffle_write_bytes": total["shuffle_write_bytes"],
            "spark.spill_bytes": total["spill_bytes"],
            "trace.unattributed_s": r.dur_s - covered,
            "trace.coverage": covered / r.dur_s if r.dur_s else 0.0,
        }
        out.append({"batch": b, "events": n_events, "foreach_s": r.dur_s,
                    "trigger_s": progress.get(b), "layers": layers, "metrics": metrics})
    return out


def median_metrics(batches: list[dict]) -> dict[str, float]:
    keys = batches[0]["metrics"].keys() if batches else []
    return {k: float(statistics.median(b["metrics"][k] for b in batches)) for k in keys}


def format_table(batch: dict) -> str:
    """The per-layer table of one traced batch, as fixed-width text."""
    cols = ["calls", "wall_s", "self_s", "cpu_s", "jobs", "stages", "tasks",
            "shuffle_write_bytes", "spill_bytes"]
    head = f"{'layer':<22}" + "".join(f"{c:>12}" for c in cols)
    lines = [f"batch {batch['batch']}: {batch['events']} events, foreachBatch "
             f"{batch['foreach_s']:.3f}s, trigger {batch['trigger_s'] or 0:.3f}s, "
             f"coverage {batch['metrics']['trace.coverage']:.1%}", head]
    for name, row in batch["layers"].items():
        cells = "".join(
            f"{row[c]:>12.3f}" if isinstance(row[c], float) else f"{row[c]:>12d}" for c in cols
        )
        lines.append(f"{name:<22}{cells}")
    return "\n".join(lines)
