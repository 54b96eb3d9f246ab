"""Traced run: spans around calls into each engine layer.

Nothing here is imported by the engine. ``Tracer.install`` wraps the
layers' public functions in the modules that call them, so every call
becomes a span (name, start, end, parent) and runs under its own Spark
job group. After the traced pass, outside its timing, each group's jobs
are read from Spark's status store (``statusStore().lastStageAttempt``),
which works with the UI disabled.

Lazy operators (those returning a DataFrame) do their work later, in
the caller's actions. Their wrapper therefore opens an ``<name>.exec``
span when they return; it stays the job group until the caller's next
layer call or its own end. So a phase-1 checksum collect is billed to
``checksum.compare_chunks.exec``, not to compare mode itself.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import time
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

from workloads import CORPUS_PHASES, quantile

# (module, attribute, span name, lazy?) for every wrapped call site
TARGETS = [
    ("transferdb_spark.sources.registry", "load_table", "sources.load_table", False),
    ("transferdb_spark.sources.registry", "load_tables", "sources.load_tables", False),
    ("__spark_entry__", "load_table", "sources.load_table", False),
    ("transferdb_spark.plans.chunker", "elect_split_key", "plans.elect_split_key", False),
    ("transferdb_spark.plans.chunker", "plan_chunks", "plans.plan_chunks", False),
    ("transferdb_spark.modes.full", "plan_chunks", "plans.plan_chunks", False),
    ("transferdb_spark.modes.full", "plan_chunks_quantile", "plans.plan_chunks", False),
    ("transferdb_spark.modes.compare_mode", "elect_split_key", "plans.elect_split_key", False),
    ("transferdb_spark.modes.compare_mode", "plan_chunks", "plans.plan_chunks", False),
    ("transferdb_spark.modes.full", "full_migrate", "full.full_migrate", False),
    ("transferdb_spark.modes.full", "full_migrate_table", "full.full_migrate_table", False),
    ("transferdb_spark.modes.full", "full_migrate_keyless", "full.full_migrate_table", False),
    ("transferdb_spark.modes.compare_mode", "shared_chunk_bounds", "checksum.shared_chunk_bounds", False),
    ("transferdb_spark.modes.compare_mode", "compare_chunks", "checksum.compare_chunks", True),
    ("transferdb_spark.modes.compare_mode", "dataset_diff", "diff.dataset_diff", True),
    ("transferdb_spark.modes.compare_mode", "repair_statements", "diff.repair_statements", True),
    ("transferdb_spark.modes.compare_mode", "compare_tables", "compare.compare_tables", False),
    ("transferdb_spark.streaming.incr", "stream_events", "incr.stream_events", False),
    ("transferdb_spark.streaming.incr", "apply_cdc_stream", "incr.apply_cdc_stream", False),
    ("transferdb_spark.streaming.incr", "cdc_current_state", "incr.cdc_current_state", True),
    ("transferdb_spark.streaming.incr", "compact_cdc_log", "incr.compact_cdc_log", False),
]
STATE_METHODS = ("init_table", "mark")

STAT_KEYS = (
    "jobs", "stages", "cpu_s", "run_s", "input_bytes", "input_records", "output_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    kind: str  # "call", "exec" (a lazy operator's actions) or "region"
    pass_no: int
    group: str | None = None  # Spark job group; None when the span runs no jobs
    end: float = 0.0
    stats: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)
    open_exec: "Span | None" = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of traced passes: benchmark regions record while ``enabled``
    is set, engine calls once ``install`` has wrapped them as well."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.enabled = False
        self.pass_no = -1

    # ------------------------------------------------------------ wiring

    def install(self) -> None:
        for mod_name, attr, name, lazy in TARGETS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            # a module imported after its source was patched holds the wrapper
            setattr(mod, attr, self._wrap(getattr(fn, "__wrapped__", fn), name, lazy))
        from transferdb_spark.state.store import StateStore

        for meth in STATE_METHODS:
            setattr(StateStore, meth, self._wrap(getattr(StateStore, meth), f"state.{meth}", False, store=True))

    def _wrap(self, fn, name: str, lazy: bool, store: bool = False):
        """``store`` marks a StateStore method: pure driver work that
        runs no Spark job, so it gets a span but no job group."""
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self._begin(name, "call", jobs=not store)
            try:
                out = fn(*args, **kwargs)
            finally:
                if store:  # every init_table/mark rewrites the meta file
                    path = args[0].path
                    span.attrs["meta_bytes"] = os.path.getsize(path) if os.path.exists(path) else 0
                self._end(span)
            if name == "compare.compare_tables":
                span.attrs["repair_rows"] = out.insert_rows + out.delete_rows
                span.attrs["fixsql_bytes"] = os.path.getsize(out.fix_sql_path) if out.fix_sql_path else 0
            if lazy and self.stack:
                frame = self.stack[-1]
                frame.open_exec = self._new(f"{name}.exec", "exec", frame.id)
                self._set_group(frame.open_exec.group)
            return out

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def region(self, name: str):
        """A benchmark-side span: one operation, or a whole pass."""
        if not self.enabled:
            yield
            return
        span = self._begin(name, "region")
        try:
            yield span
        finally:
            self._end(span)
            span.attrs["persisted_rdds_after"] = len(self.sc._jsc.getPersistentRDDs())

    # ------------------------------------------------------------- spans

    def _new(self, name: str, kind: str, parent: int | None, jobs: bool = True) -> Span:
        span = Span(len(self.spans), name, parent, time.time(), kind, self.pass_no)
        if jobs:
            span.group = f"perfbench-{span.id}"
        self.spans.append(span)
        return span

    def _begin(self, name: str, kind: str, jobs: bool = True) -> Span:
        parent = self.stack[-1] if self.stack else None
        if parent is not None and parent.open_exec is not None:
            self._end_exec(parent)
        span = self._new(name, kind, parent.id if parent else None, jobs)
        self.stack.append(span)
        if jobs:
            self._set_group(span.group)
        return span

    def _end(self, span: Span) -> None:
        if span.open_exec is not None:
            self._end_exec(span)
        self.stack.pop()
        span.end = time.time()
        if span.group is not None:
            self._set_group(self.stack[-1].group if self.stack else None)

    def _end_exec(self, frame: Span) -> None:
        ex, frame.open_exec = frame.open_exec, None
        ex.end = time.time()
        self._set_group(frame.group)

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    # ------------------------------------------------------ status store

    def collect(self, first: int = 0) -> None:
        """Fill in the stage metrics of ``spans[first:]``. Called after a
        pass, outside its timed region: the status store keeps the last
        1000 jobs, more than any pass runs."""
        for span in self.spans[first:]:
            if span.group is not None:
                span.stats = self._group_stats(span.group)

    def _group_stats(self, group: str) -> dict:
        """Sum the stage metrics of the jobs run under ``group``.

        A stage counts only for the job that ran it: stages reused from
        an earlier job, or skipped by AQE, carry no attempt submitted
        after the job was, and read as zero work."""
        stats = dict.fromkeys(STAT_KEYS, 0)
        stats["last_job_end"] = 0.0
        seen: set[int] = set()
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            self._add_job(jid, tracker.getJobInfo(jid).stageIds, stats, seen)
        return stats

    def _add_job(self, jid: int, stage_ids: list[int], stats: dict, seen: set[int]) -> None:
        job = self.status.job(jid)
        stats["jobs"] += 1
        if job.completionTime().isDefined():
            stats["last_job_end"] = max(stats["last_job_end"], job.completionTime().get().getTime() / 1000)
        job_start = job.submissionTime().get().getTime() if job.submissionTime().isDefined() else 0
        for sid in stage_ids:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = self.status.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # never attempted: skipped
            sub = st.submissionTime()
            if str(st.status()) != "COMPLETE" or not sub.isDefined() or sub.get().getTime() < job_start:
                continue
            stats["stages"] += 1
            stats["cpu_s"] += st.executorCpuTime() / 1e9
            stats["run_s"] += st.executorRunTime() / 1e3
            stats["input_bytes"] += st.inputBytes()
            stats["input_records"] += st.inputRecords()
            stats["output_bytes"] += st.outputBytes()
            stats["shuffle_read_bytes"] += st.shuffleReadBytes()
            stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
            stats["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()

    def stream_progress(self, query, progress, feed_rows: int, landed_rows: int) -> None:
        """Record a finished stream's batches as one span: the phases of
        each batch from ``recentProgress`` and the stage metrics of the
        jobs Spark ran under the query's run id."""
        if not self.enabled:
            return
        parent = self.stack[-1].id if self.stack else None
        span = self._new("incr.batches", "exec", parent)
        span.end = span.start
        span.group = str(query.runId)  # Spark runs a query's batches under its run id
        span.attrs = {
            "batches": [dict(p.durationMs) for p in progress],
            "input_rows": sum(p.numInputRows for p in progress),
            "feed_rows": feed_rows,
            "landed_rows": landed_rows,
        }

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [{k: v for k, v in asdict(s).items() if k != "open_exec"} for s in self.spans]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1)


# ------------------------------------------------------ per-layer metrics

EXT_OPS = [op for _, ops in CORPUS_PHASES for op in ops]
INCR_PHASES = {
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
    "query_planning_ms": "queryPlanning",
}


def _spec() -> dict[str, tuple[str, str]]:
    lower = {
        "s": ["session.start_s", "sources.load_s", "plans.elect_split_key_s", "plans.plan_chunks_s",
              "state.mark_s", "full.write_s", "full.cpu_s", "checksum.bounds_s", "checksum.phase1_s",
              "checksum.cpu_s", "diff.phase2_s", "compare.fixsql_write_s", "incr.current_state_s",
              "incr.compact_s", "trace.overhead_s"],
        "bytes": ["sources.input_bytes", "state.meta_bytes_written", "full.shuffle_write_bytes",
                  "full.output_bytes", "checksum.shuffle_bytes", "diff.shuffle_bytes", "compare.fixsql_bytes"],
        "count": ["plans.jobs", "state.mark_calls", "full.jobs", "incr.batches", "incr.jobs_per_batch",
                  "cache.persisted_rdds_after"],
        "rows": ["diff.rows_scanned", "diff.repair_rows", "incr.input_rows", "incr.gated_rows"],
        "ms": [f"incr.{m}.{q}" for m in INCR_PHASES for q in ("p50", "max")]
        + ["incr.trigger_ms.p50", "incr.trigger_ms.p90"],
        "ratio": ["trace.overhead_ratio"],
    }
    spec = {name: (unit, "lower") for unit, names in lower.items() for name in names}
    spec.update({name: ("ratio", "higher") for name in ("diff.useful_ratio", "incr.useful_ratio")})
    for op in EXT_OPS:
        for metric, unit in (("wall_s", "s"), ("cpu_s", "s"), ("jobs", "count"),
                             ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes")):
            spec[f"ext.{op}.{metric}"] = (unit, "lower")
    return spec


# every per-layer metric of the traced run: name -> (unit, better)
PER_LAYER = _spec()


def layer_metrics(spans: list[Span]) -> dict[str, float]:
    """Per-layer figures of one traced pass; a layer the workload does
    not reach reads 0."""
    by_id = {s.id: s for s in spans}
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def named(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    def total(ss: list[Span], key: str) -> float:
        return sum(s.stats.get(key, 0) for s in ss)

    def subtree(s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(children.get(x.id, []))
        return out

    def outermost(prefix: str) -> list[Span]:
        return [
            s for s in spans
            if s.name.startswith(prefix) and s.kind == "call"
            and not (s.parent is not None and by_id[s.parent].name.startswith(prefix))
        ]

    m: dict[str, float] = {}
    m["sources.load_s"] = sum(s.dur for s in outermost("sources."))
    m["sources.input_bytes"] = total(spans, "input_bytes")

    elect, plan = named("plans.elect_split_key"), named("plans.plan_chunks")
    m["plans.elect_split_key_s"] = sum(s.dur for s in elect)
    m["plans.plan_chunks_s"] = sum(s.dur for s in plan)
    m["plans.jobs"] = total(elect + plan, "jobs")

    marks = named("state.mark")
    m["state.mark_calls"] = len(marks)
    m["state.mark_s"] = sum(s.dur for s in marks)
    m["state.meta_bytes_written"] = sum(s.attrs.get("meta_bytes", 0) for s in marks + named("state.init_table"))

    fmt = named("full.full_migrate_table")
    m["full.write_s"] = sum(s.dur - sum(c.dur for c in children.get(s.id, [])) for s in fmt)
    m["full.jobs"] = total(fmt, "jobs")
    m["full.cpu_s"] = total(fmt, "cpu_s")
    m["full.shuffle_write_bytes"] = total(fmt, "shuffle_write_bytes")
    m["full.output_bytes"] = total(fmt, "output_bytes")

    bounds, phase1 = named("checksum.shared_chunk_bounds"), named("checksum.compare_chunks.exec")
    m["checksum.bounds_s"] = sum(s.dur for s in bounds)
    m["checksum.phase1_s"] = sum(s.dur for s in phase1)
    m["checksum.cpu_s"] = total(bounds + phase1, "cpu_s")
    m["checksum.shuffle_bytes"] = total(bounds + phase1, "shuffle_write_bytes")

    # phase 2 runs in the repair_statements actions; the fix-SQL file is
    # assembled on the driver after its last job has finished
    repair = named("diff.repair_statements.exec")
    phase2 = named("diff.dataset_diff.exec") + repair
    fixsql = sum(s.end - s.stats["last_job_end"] for s in repair if s.stats.get("last_job_end"))
    compares = named("compare.compare_tables")
    m["diff.phase2_s"] = sum(s.dur for s in phase2) - fixsql
    m["diff.rows_scanned"] = total(phase2, "input_records")
    m["diff.repair_rows"] = sum(s.attrs.get("repair_rows", 0) for s in compares)
    m["diff.useful_ratio"] = m["diff.repair_rows"] / m["diff.rows_scanned"] if m["diff.rows_scanned"] else 0.0
    m["diff.shuffle_bytes"] = total(phase2, "shuffle_write_bytes")
    m["compare.fixsql_write_s"] = fixsql
    m["compare.fixsql_bytes"] = sum(s.attrs.get("fixsql_bytes", 0) for s in compares)

    streams = named("incr.batches")
    batches = [b for s in streams for b in s.attrs["batches"]]
    for metric, key in INCR_PHASES.items():
        xs = [b.get(key, 0) for b in batches]
        m[f"incr.{metric}.p50"] = quantile(xs, 0.5)
        m[f"incr.{metric}.max"] = max(xs, default=0)
    trig = [b.get("triggerExecution", 0) for b in batches]
    m["incr.trigger_ms.p50"] = quantile(trig, 0.5)
    m["incr.trigger_ms.p90"] = quantile(trig, 0.9)
    m["incr.batches"] = len(batches)
    m["incr.jobs_per_batch"] = total(streams, "jobs") / len(batches) if batches else 0.0
    # numInputRows counts every scan of a batch, so a batch DataFrame
    # read by two actions reports its rows twice: useful_ratio is rows
    # landed per row the source read
    m["incr.input_rows"] = sum(s.attrs["input_rows"] for s in streams)
    landed = sum(s.attrs["landed_rows"] for s in streams)
    m["incr.gated_rows"] = sum(s.attrs["feed_rows"] for s in streams) - landed
    m["incr.useful_ratio"] = landed / m["incr.input_rows"] if m["incr.input_rows"] else 0.0
    # the benchmark's own read of the live image, not compaction's
    state = [
        s for s in named("incr.cdc_current_state") + named("incr.cdc_current_state.exec")
        if by_id[s.parent].kind == "region"
    ]
    m["incr.current_state_s"] = sum(s.dur for s in state)
    m["incr.compact_s"] = sum(s.dur for s in named("incr.compact_cdc_log"))

    for op in EXT_OPS:
        regions = named(f"ext.{op}")
        tree = [x for r in regions for x in subtree(r)]
        m[f"ext.{op}.wall_s"] = sum(r.dur for r in regions)
        m[f"ext.{op}.cpu_s"] = total(tree, "cpu_s")
        m[f"ext.{op}.jobs"] = total(tree, "jobs")
        m[f"ext.{op}.shuffle_bytes"] = total(tree, "shuffle_write_bytes")
        m[f"ext.{op}.spill_bytes"] = total(tree, "spill_bytes")

    m["cache.persisted_rdds_after"] = max(
        (s.attrs.get("persisted_rdds_after", 0) for s in spans if s.kind == "region"), default=0
    )
    return m
