"""Outside-in tracing for the benchmark's traced runs.

Nothing here edits the engine. :class:`Tracer` swaps wrappers in for the
public functions of each engine layer, at every name they are looked up
through (a function bound at import time by another module is patched in
that module too), and removes them again after the unit. Each wrapper
records a span — name, start, end, parent span, unit id — and tags the
Spark jobs its thread submits through the ``spark.job.description`` local
property, so every job is charged to the innermost span that caused it.
Spans stay in memory until the run ends.

:class:`SparkCounters` reads Spark's own app status store through the
Spark UI's REST view of it (all jobs, whatever their job group), and
:func:`stream_listener` collects ``StreamingQueryListener`` progress.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import time
import urllib.request
from dataclasses import dataclass

PKG = "building_and_operating_data_pipelines_at_scale_using_ci_cd_spark"
DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    start: float
    unit: str
    parent: int | None
    thread: int
    end: float = 0.0
    tag: str = ""

    def to_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "start": self.start, "end": self.end,
                "parent": self.parent, "unit": self.unit, "thread": self.thread,
                "tag": self.tag}


@dataclass
class Patch:
    owner: object
    attr: str
    name: str
    tag: object = None  # callable(args, kwargs) -> str


class Tracer:
    """Span recorder over monkey-patched layer entry points."""

    def __init__(self, spark):
        import importlib

        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.confs_not_applied = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 1
        self._unit = ""
        self._main_thread = threading.get_ident()
        #: innermost open span of the unit's own thread
        self._main_stack_top: Span | None = None
        #: add to a span time to get wall-clock seconds since the epoch
        self.wall_offset = time.time() - time.perf_counter()
        self._saved: list = []
        self._sessions: list = []
        self.progress = stream_listener()
        #: unit id -> its wall time; filled in by the benchmark loop
        self.unit_wall: dict[str, float] = {}
        #: pipeline slot count and task -> dependencies, for slot metrics
        self.concurrency = 1
        self.task_deps: dict[str, list] = {}

        def mod(name):
            return importlib.import_module(f"{PKG}.{name}")

        engine, pipeline, writers = mod("plans.engine"), mod("plans.pipeline"), mod("sinks.writers")
        config, readers, validate = mod("config"), mod("sources.readers"), mod("plans.validate")
        validation, registry, delta = mod("operators.validation"), mod("operators.registry"), mod("sources.delta_lite")
        scd2, session = mod("operators.scd2"), mod("session")
        df_class = type(spark.range(0))

        def target_tag(args, kwargs):
            spec = args[2] if len(args) > 2 else kwargs.get("spec")
            return f"{spec.load_type}.{spec.file_format}"

        def run_tag(args, kwargs):
            cfg = args[1] if len(args) > 1 else kwargs.get("config")
            if isinstance(cfg, dict):
                return str((cfg.get("configs") or {}).get("name") or cfg.get("name") or "")
            return str(getattr(cfg, "name", cfg))

        self.patches = [
            Patch(engine, "apply_job_confs", "session.apply_job_confs"),
            Patch(session, "apply_job_confs", "session.apply_job_confs"),
            Patch(engine.Orchestrator, "__init__", "session.orchestrator_init"),
            Patch(config.JobConfig, "from_dict", "config.parse"),
            Patch(config.JobConfig, "from_json", "config.parse"),
            Patch(validate, "validate_config", "plans.validate"),
            Patch(engine.Orchestrator, "run", "plans.engine.run", tag=run_tag),
            Patch(pipeline.Pipeline, "run", "plans.pipeline.run"),
            Patch(readers, "read_input", "sources.readers.read_input"),
            Patch(engine, "null_pk_split", "operators.validation.split"),
            Patch(engine, "dedup_split", "operators.validation.split"),
            Patch(validation, "null_pk_split", "operators.validation.split"),
            Patch(validation, "dedup_split", "operators.validation.split"),
            Patch(registry, "apply_operator", "operators.registry.apply_operator"),
            Patch(writers, "scd2_merge", "operators.scd2.merge"),
            Patch(scd2, "scd2_merge", "operators.scd2.merge"),
            Patch(engine, "write_target", "sinks.writers.write_target", tag=target_tag),
            Patch(writers, "write_target", "sinks.writers.write_target", tag=target_tag),
            Patch(engine, "write_error_records", "sinks.writers.write_error_records"),
            Patch(writers, "write_error_records", "sinks.writers.write_error_records"),
            Patch(delta, "merge_scd2_delta_lite", "sources.delta_lite.merge_scd2"),
            Patch(delta, "load_snapshot", "sources.delta_lite.load_snapshot"),
            Patch(delta, "write_delta_lite", "sources.delta_lite.write"),
            Patch(df_class, "count", "pyspark.count"),
        ]
        self._session_class = type(spark)
        self._root_session = spark

    # -- install / remove ------------------------------------------------------

    def install(self, unit: str) -> None:
        self._unit = unit
        self._local.stack = []
        for p in self.patches:
            raw = p.owner.__dict__.get(p.attr)
            self._saved.append((p.owner, p.attr, raw))
            fn = getattr(p.owner, p.attr) if raw is None else raw
            if isinstance(fn, classmethod):
                setattr(p.owner, p.attr, classmethod(self._wrap(p, fn.__func__)))
            else:
                setattr(p.owner, p.attr, self._wrap(p, fn))
        # streaming progress: listeners are per session, and the pipeline
        # runs every task on a child session
        tracer = self
        orig_new = self._session_class.newSession
        self._saved.append((self._session_class, "newSession",
                            self._session_class.__dict__.get("newSession")))

        def new_session(this):
            child = orig_new(this)
            child.streams.addListener(tracer.progress)
            tracer._sessions.append(child)
            return child

        self._session_class.newSession = new_session
        self._root_session.streams.addListener(self.progress)
        self._sessions.append(self._root_session)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._saved):
            if raw is None:  # the name was inherited: drop the override
                delattr(owner, attr)
            else:
                setattr(owner, attr, raw)
        self._saved.clear()
        for s in self._sessions:
            s.streams.removeListener(self.progress)
        self._sessions.clear()
        self._unit = ""

    # -- spans -----------------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _wrap(self, patch: Patch, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tag = patch.tag(args, kwargs) if patch.tag else ""
            span = tracer._open(patch.name, tag)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(span)
                if patch.name == "session.apply_job_confs":
                    tracer._check_confs(args, kwargs)

        return wrapper

    def _open(self, name: str, tag: str) -> Span:
        st = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
            parent = st[-1].id if st else self._orphan_parent(name)
            span = Span(sid, name, time.perf_counter(), self._unit, parent,
                        threading.get_ident(), tag=tag)
            self.spans.append(span)
        st.append(span)
        if threading.get_ident() == self._main_thread:
            self._main_stack_top = span
        self.sc.setLocalProperty(DESC, f"pb:{sid}")
        return span

    def _orphan_parent(self, name: str) -> int | None:
        """Parent of the first span on a thread with none open: a pipeline
        task's thread belongs to what the unit's own thread is blocked in
        (the Pipeline.run span); a streaming ``foreachBatch`` callback
        belongs to the job run whose query it serves."""
        main = self._main_stack_top
        if name not in ("session.orchestrator_init", "plans.engine.run"):
            runs = [s for s in self.spans if s.name == "plans.engine.run" and not s.end
                    and s.unit == self._unit]
            if runs:
                return runs[-1].id
        return main.id if main else None

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is span:
            st.pop()
        parent = st[-1] if st else None
        if threading.get_ident() == self._main_thread:
            self._main_stack_top = parent
        self.sc.setLocalProperty(DESC, f"pb:{parent.id}" if parent else None)

    def _check_confs(self, args, kwargs) -> None:
        spark = args[0] if args else kwargs.get("spark")
        confs = args[1] if len(args) > 1 else kwargs.get("confs", {})
        for k, v in (confs or {}).items():
            if spark.conf.get(k, None) != str(v):
                self.confs_not_applied += 1

    def unit_spans(self, unit: str) -> list[Span]:
        return [s for s in self.spans if s.unit == unit]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([s.to_dict() for s in self.spans], fh)


# -- interval arithmetic --------------------------------------------------------


def union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((max(s.start, 0.0), s.end))
    out = {}
    for s in spans:
        cover = [(max(a, s.start), min(b, s.end)) for a, b in kids.get(s.id, [])]
        out[s.id] = (s.end - s.start) - union_len([c for c in cover if c[1] > c[0]])
    return out


def outermost(spans: list[Span], name: str) -> list[Span]:
    """Spans of ``name`` not nested in another span of the same name."""
    by_id = {s.id: s for s in spans}
    out = []
    for s in spans:
        if s.name != name:
            continue
        p = by_id.get(s.parent)
        while p is not None and p.name != name:
            p = by_id.get(p.parent)
        if p is None:
            out.append(s)
    return out


def inside(span: Span, ancestor: str, by_id: dict) -> bool:
    p = by_id.get(span.parent)
    while p is not None:
        if p.name == ancestor:
            return True
        p = by_id.get(p.parent)
    return False


# -- Spark's status store --------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(value: str) -> float:
    """A SQL metric as the status store formats it: a plain count
    ("100,000") or the total line of a size/time summary."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


class SparkCounters:
    """Per-unit job, stage, task and SQL-metric counts from the app status
    store. Every job is seen, whatever job group it ran under."""

    def __init__(self, spark):
        sc = spark.sparkContext
        url = sc.uiWebUrl
        if not url:
            raise RuntimeError("the Spark UI is disabled; the status store REST view is needed")
        port = url.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.bus = sc._jsc.sc().listenerBus()
        self.jsc = sc._jsc
        self.last_job = -1
        self.last_exec = -1

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def collect(self) -> dict:
        """Counters of everything that ran since the previous call."""
        self.bus.waitUntilEmpty()
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self.last_job]
        if jobs:
            self.last_job = max(j["jobId"] for j in jobs)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("/stages")
                  if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")]
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numTasks"] for s in stages),
            "spark.failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spark.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
            "spark.jvm_gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
            "spark.persisted_rdds": self.jsc.getPersistentRDDs().size(),
        }
        py = {"rows": 0.0, "bytes": 0.0, "run_s": 0.0}
        execs = self._get(f"/sql?details=true&planDescription=false&offset={self.last_exec + 1}&length=100000")
        for e in execs:
            self.last_exec = max(self.last_exec, e["id"])
            for node in e.get("nodes", []):
                if "Python" not in node["nodeName"] and "Pandas" not in node["nodeName"]:
                    continue
                for m in node.get("metrics", []):
                    if m["name"] == "number of output rows":
                        py["rows"] += parse_metric(m["value"])
                    elif m["name"] in ("data sent to Python workers", "data returned from Python workers"):
                        py["bytes"] += parse_metric(m["value"])
                    elif m["name"] == "time to run Python workers":
                        py["run_s"] += parse_metric(m["value"])
        out["functions.python_rows"] = py["rows"]
        out["functions.python_bytes"] = py["bytes"]
        out["functions.python_worker_run_s"] = py["run_s"]
        out["_jobs"] = [(j.get("description") or "", _epoch(j["submissionTime"])) for j in jobs]
        return out


def _epoch(stamp: str) -> float:
    """The status store's ``2026-01-02T03:04:05.678GMT`` as epoch seconds."""
    import datetime as dt

    t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def jobs_by_span(jobs: list, spans: list[Span], wall_offset: float) -> dict[int, int]:
    """Span id -> jobs charged to it or to any span beneath it. A job the
    benchmark tagged is charged to its span; an untagged one (a streaming
    batch, which sets its own description) to the deepest span open when
    it was submitted."""
    by_id = {s.id: s for s in spans}

    def depth(s):
        d = 0
        while s.parent in by_id:
            s, d = by_id[s.parent], d + 1
        return d

    counts: dict[int, int] = {}
    for desc, submitted in jobs:
        m = re.match(r"pb:(\d+)$", desc)
        if m:
            s = by_id.get(int(m.group(1)))
        else:
            at = submitted - wall_offset
            covering = [x for x in spans if x.start <= at <= x.end]
            s = max(covering, key=depth) if covering else None
        while s is not None:
            counts[s.id] = counts.get(s.id, 0) + 1
            s = by_id.get(s.parent)
    return counts


# -- streaming progress ----------------------------------------------------------


def stream_listener():
    """A ``StreamingQueryListener`` that keeps every progress event until
    :meth:`drain` hands them over."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress: list[dict] = []
            self.started: set = set()
            self.terminated: set = set()

        def onQueryStarted(self, event):
            with self.lock:
                self.started.add(str(event.id))

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.progress.append({
                    "durationMs": dict(p.durationMs),
                    "numInputRows": p.numInputRows,
                    "stateRows": sum(s.numRowsTotal for s in p.stateOperators),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated.add(str(event.id))

        def drain(self, timeout: float = 10.0) -> list[dict]:
            """Wait for every started query's terminated event, then hand
            over and forget the progress collected so far."""
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self.lock:
                    if self.started <= self.terminated:
                        break
                time.sleep(0.02)
            with self.lock:
                out, self.progress = self.progress, []
                self.started.clear()
                self.terminated.clear()
            return out

    return Listener()
