"""End-to-end benchmark of the pipeline engine.

    python3 perfbench/run.py --workload etl_quarantine --seed 1 --seconds 1 --trace 0

Run from the repository root. One run is one fresh process, as a scheduled
job is: generate the workload's inputs from the seed, set up the engine
(``get_session`` + ``Orchestrator``), run one cold unit, then warm units
back to back (a closed loop with one client) until ``--seconds`` of warm
unit time have passed and at least ``MIN_WINDOW_UNITS`` ran, then the CI
gate (``Orchestrator.validate``) on every config of the workload. Every
unit's outputs are checked against DuckDB.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced units, and reports the per-layer metrics of the
traced ones (see ``tracing.py``); the span log is written to
``.perfbench_out/``. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the lines
before it are a readable table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "building_and_operating_data_pipelines_at_scale_using_ci_cd_spark"
WORKLOAD_NAMES = ("etl_quarantine", "pipeline_fanout", "nightly_increments")

#: units (cold one included) after which stored bytes are measured
STORED_AFTER_UNITS = 2
#: fewest warm units a timed window runs. One fresh process per run costs
#: a JVM start and a cold unit, so two warm units per run is what the
#: benchmark's time budget affords; they are always the first two, so every
#: run measures the same stretch of the JVM's warm-up.
MIN_WINDOW_UNITS = 2
#: warm units of a traced window: one untraced unit past the steepest
#: warm-up, then untraced and traced units in the order U T T U, so the
#: remaining warm-up weighs on both sides of the overhead estimate alike
TRACED_WINDOW_UNITS = 5

#: the CI gate validates every config once per pass, and runs passes until
#: it has made at least this many calls and spent this many seconds: the
#: first few calls still pay the validate path's JIT warm-up, and the
#: median over passes settles only once most calls are past it
VALIDATE_CALLS = 8
VALIDATE_SECONDS = 4.0


def process_start() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + int(fields[19]) / os.sysconf("SC_CLK_TCK")


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
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


def tree_rss_bytes(root: int) -> int:
    """Resident memory of a process and all its descendants, each shared
    page counted once (the sum of their proportional set sizes): forked
    Python workers share most of their pages with the worker daemon."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            continue
    return total


class PeakRss:
    """Samples :func:`tree_rss_bytes` of this process tree (this Python
    process, the JVM and the Python workers) every 100 ms, keeping the peak."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(0.1)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def dir_files(paths: list[str]) -> dict[str, int]:
    out = {}
    for root in paths:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    continue
    return out


@dataclass
class Unit:
    index: int
    seconds: float
    error: str | None
    input_rows: int
    input_bytes: int
    traced: bool
    layers: dict = field(default_factory=dict)


def run_unit(wl, i: int, tracer=None) -> tuple[Unit, object]:
    wl.prepare_unit(i)
    unit_id = f"unit-{i}"
    if tracer:
        tracer.install(unit_id)
    result, error = None, None
    t0 = time.perf_counter()
    try:
        result = wl.run_unit(i)
    except Exception as exc:  # noqa: BLE001 - a failed unit is counted, not fatal
        error = f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"
    seconds = time.perf_counter() - t0
    if tracer:
        tracer.uninstall()
    if error is None:
        error = wl.check_unit(i, result)
    return Unit(i, seconds, error, *wl.unit_input(i), tracer is not None), result


#: every span name the tracer records, for the per-layer self times
SPAN_NAMES = (
    "session.apply_job_confs", "session.orchestrator_init", "config.parse", "plans.engine.run",
    "plans.pipeline.run", "sources.readers.read_input", "operators.validation.split",
    "operators.registry.apply_operator", "operators.scd2.merge", "sinks.writers.write_target",
    "sinks.writers.write_error_records", "sources.delta_lite.merge_scd2",
    "sources.delta_lite.load_snapshot", "sources.delta_lite.write", "pyspark.count",
)


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(tracer, unit_id: str, counters: dict, result, progress: list,
                  written: dict) -> dict[str, float]:
    """Per-layer numbers of one traced unit."""
    from tracing import inside, jobs_by_span, outermost, self_times, union_len

    spans = tracer.unit_spans(unit_id)
    by_id = {s.id: s for s in spans}
    jobs = jobs_by_span(counters["_jobs"], spans, tracer.wall_offset)
    m: dict[str, float] = {}

    def total(name: str, tag: str | None = None) -> float:
        return sum(s.end - s.start for s in outermost(spans, name) if tag is None or s.tag == tag)

    def jobs_in(name: str) -> int:
        return sum(jobs.get(s.id, 0) for s in outermost(spans, name))

    m["config.parse_s"] = total("config.parse")
    runs = outermost(spans, "plans.engine.run")
    m["plans.engine.spark_jobs"] = jobs_in("plans.engine.run")
    m["plans.engine.count_actions"] = sum(
        1 for s in spans if s.name == "pyspark.count" and inside(s, "plans.engine.run", by_id))
    job_results = _job_results(result)
    for phase in ("ingest", "validate", "transform", "load"):
        m[f"plans.engine.{phase}_s"] = sum(r.phase_secs.get(phase, 0.0) for r in job_results)
    m["plans.pipeline.run_s"] = total("plans.pipeline.run")
    m.update(_pipeline_slots(spans, runs, tracer))
    m["sources.readers.read_input_s"] = total("sources.readers.read_input")
    m["sources.readers.calls"] = len(outermost(spans, "sources.readers.read_input"))
    m["sources.readers.spark_jobs"] = jobs_in("sources.readers.read_input")
    m["operators.validation.split_s"] = total("operators.validation.split")
    good = sum(r.input_count for r in job_results)
    bad = sum(r.bad_count for r in job_results)
    m["operators.validation.bad_rows"] = bad
    m["operators.validation.good_frac"] = good / (good + bad) if good + bad else 1.0
    m["operators.registry.apply_operator_s"] = total("operators.registry.apply_operator")
    m["operators.scd2.merge_s"] = total("operators.scd2.merge")
    m["sinks.writers.write_target_s"] = total("sinks.writers.write_target")
    for tag in ("truncateInsert.parquet", "simpleInsert.parquet", "scdType2Insert.parquet",
                "scdType2Insert.deltalake"):
        m[f"sinks.writers.write_target.{tag}_s"] = total("sinks.writers.write_target", tag)
    m["sinks.writers.write_error_records_s"] = total("sinks.writers.write_error_records")
    m.update(written)
    m["sources.delta_lite.merge_scd2_s"] = total("sources.delta_lite.merge_scd2")
    m["sources.delta_lite.load_snapshot_s"] = total("sources.delta_lite.load_snapshot")
    m["streaming.batch_s"] = sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1000.0
    m["streaming.trigger_overhead_s"] = sum(
        p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)
        for p in progress) / 1000.0
    for key, name in (("walCommit", "wal_commit_ms"), ("queryPlanning", "query_planning_ms"),
                      ("latestOffset", "latest_offset_ms")):
        m[f"streaming.{name}"] = float(sum(p["durationMs"].get(key, 0) for p in progress))
    m["streaming.batches"] = len(progress)
    m["streaming.state_rows"] = progress[-1]["stateRows"] if progress else 0
    for k, v in counters.items():
        if not k.startswith("_"):
            m[k] = v
    selfs = self_times(spans)
    m["trace.spans"] = len(spans)
    # coverage: the unit's wall time that no layer span covers
    m["trace.uncovered_frac"] = (
        1.0 - union_len([(s.start, s.end) for s in spans]) / tracer.unit_wall[unit_id]
        if tracer.unit_wall.get(unit_id) else 0.0)
    for name in SPAN_NAMES:
        m[f"{name}.self_s"] = sum(selfs[s.id] for s in spans if s.name == name)
    return m


def _job_results(result) -> list:
    """The JobResults of a unit: an Orchestrator result or a pipeline's."""
    if result is None:
        return []
    if isinstance(result, dict):
        return [o.result for o in result.values() if hasattr(o.result, "phase_secs")]
    return [result]


def _pipeline_slots(spans, runs, tracer) -> dict[str, float]:
    """Ready-to-start wait and slot use of a Pipeline.run, from its spans:
    a task holds a slot from its Orchestrator construction to the end of
    its run; it became ready when the pipeline started or, for a task with
    dependencies, when the last of them finished."""
    pipes = [s for s in spans if s.name == "plans.pipeline.run"]
    if not pipes:
        return {"plans.pipeline.ready_wait_s": 0.0, "plans.pipeline.slot_busy_frac": 0.0}
    pipe = pipes[0]
    inits = sorted((s for s in spans if s.name == "session.orchestrator_init"), key=lambda s: s.start)
    deps = tracer.task_deps
    ends = {r.tag: r.end for r in runs}
    wait = busy = 0.0
    for r in runs:
        init = [s for s in inits if s.thread == r.thread and s.start <= r.start]
        start = init[-1].start if init else r.start
        ready = max([pipe.start] + [ends.get(d, pipe.start) for d in deps.get(r.tag, [])])
        wait += max(0.0, start - ready)
        busy += r.end - start
    slots = tracer.concurrency * (pipe.end - pipe.start)
    return {"plans.pipeline.ready_wait_s": wait,
            "plans.pipeline.slot_busy_frac": busy / slots if slots else 0.0}


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for every
    process this one started, the JVM's Python workers included."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in process_tree(me) if p != me]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in started:
        if _alive(pid):
            os.kill(pid, 9)


def main(argv: list[str] | None = None) -> int:
    started = process_start()
    t_main = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"engine package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep Spark's local dirs and every temp file inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the engine's JVM heap knob: 2g holds these inputs with room to spare
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    try:
        return _run(args, work, tmp, started, t_main)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, tmp: str, started: float, t_main: float) -> int:
    inputs = os.path.join(work, "inputs")
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), args.workload,
                    str(args.seed), inputs], check=True)
    with open(os.path.join(inputs, "expected.json"), encoding="utf-8") as fh:
        expected = json.load(fh)

    # -- set-up: what every scheduled job pays before its first unit --------
    ncpu = len(os.sched_getaffinity(0))
    t0 = time.time()
    sys.path.insert(0, ROOT)
    from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark import (
        Orchestrator,
        get_session,
    )

    spark = get_session(
        app_name=f"perfbench-{args.workload}", master=f"local[{ncpu}]",
        extra_confs={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"},
    )
    t1 = time.time()
    orch = Orchestrator(spark)
    t2 = time.time()
    setup_s = (t_main - started) + (t2 - t0)
    try:
        return _measure(args, work, spark, orch, expected, ncpu, setup_s, t1 - t0, t2 - t1)
    finally:
        shutdown_spark(spark)


def _measure(args, work, spark, orch, expected, ncpu, setup_s, session_s, init_s) -> int:
    from tracing import SparkCounters, Tracer
    from workloads import WORKLOADS

    spark.sparkContext.setLogLevel("ERROR")
    wl = WORKLOADS[args.workload](spark, orch, work, args.seed, expected, ncpu)
    tracer = counters = None
    if args.trace:
        tracer = Tracer(spark)
        if hasattr(wl, "manifest"):
            man = wl.manifest()
            tracer.concurrency = int(man.get("concurrency", 4))
            tracer.task_deps = {t["name"]: t.get("dependsOn", []) for t in man["tasks"]}
        counters = SparkCounters(spark)
    try:
        with PeakRss() as rss:
            units, stored_ratio, per_unit = _timed_units(wl, args.seconds, tracer, counters)
        gate = _ci_gate(wl, orch, tracer, counters)
    finally:
        wl.close()

    # -- report ---------------------------------------------------------------
    warm = [u for u in units[1:] if not u.traced]
    failed = sum(1 for u in units if u.error) + sum(1 for ok in gate["ok"] if not ok)
    attempted = len(units) + len(gate["ok"])
    warm_s = sum(u.seconds for u in warm)
    e2e = {
        "setup_s": (setup_s, "s"),
        "first_job_s": (units[0].seconds, "s"),
        "job_s_p50": (median([u.seconds for u in warm]), "s"),
        "rows_per_s": (sum(u.input_rows for u in warm) / warm_s, "rows/s"),
        "validate_s": (median(gate["pass_means"]), "s"),
        "error_rate": (failed / attempted, "ratio"),
        "peak_rss_mb": (rss.peak / 2 ** 20, "MiB"),
        "stored_bytes_per_input_byte": (stored_ratio, "ratio"),
    }
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(units)} units ({len(warm)} untraced warm), {len(gate['ok'])} validate calls")
    print("  unit seconds: " + " ".join(f"{u.seconds:.3f}{'t' if u.traced else ''}" for u in units))
    for u in units:
        if u.error:
            print(f"  unit {u.index} FAILED: {u.error}")
    for name, (v, unit) in e2e.items():
        print(f"  {name:48s} {v:14.6g} {unit}")

    if args.trace:
        layers = _layer_report(units, gate["layers"], per_unit, tracer, session_s, init_s)
        layers["peak_rss_mb"] = e2e["peak_rss_mb"]
        for name in sorted(layers):
            print(f"  {name:48s} {layers[name][0]:14.6g} {layers[name][1]}")
        tracer.dump(os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-spans.json"))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        # error_rate is 0 at a healthy commit and travels as attempted/failed;
        # peak_rss_mb follows the JVM's heap sizing, which is too unsteady
        # from run to run to gate on, so it is a traced (ungated) number
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()
                   if k not in ("error_rate", "peak_rss_mb")}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _timed_units(wl, seconds: float, tracer, counters):
    """The cold unit, then warm units back to back until ``seconds`` of
    warm unit time and the minimum count are reached. Returns the units,
    the stored-bytes ratio and, when tracing, each unit's Spark counters."""
    units: list[Unit] = []
    per_unit: list[dict] = []
    stored_ratio = 0.0
    min_units = 1 + (TRACED_WINDOW_UNITS if tracer else MIN_WINDOW_UNITS)
    window = 0.0
    while len(units) < min_units or window < seconds:
        i = len(units)
        traced = tracer is not None and i >= 2 and i % 4 in (3, 0)
        before = dir_files([wl.out]) if traced else None
        unit, result = run_unit(wl, i, tracer if traced else None)
        units.append(unit)
        if i > 0:
            window += unit.seconds
        if counters:
            c = counters.collect()
            per_unit.append(c)
            if traced:
                tracer.unit_wall[f"unit-{i}"] = unit.seconds
                unit.layers = layer_metrics(tracer, f"unit-{i}", c, result,
                                            tracer.progress.drain(), _written(wl, i, before))
        if len(units) == STORED_AFTER_UNITS:
            stored_ratio = sum(dir_files([wl.out]).values()) / sum(u.input_bytes for u in units)
    return units, stored_ratio, per_unit


def _ci_gate(wl, orch, tracer, counters) -> dict:
    """``Orchestrator.validate`` over every config of the workload, in
    passes, until the minimum calls and seconds are reached. Returns each
    pass's mean time per config, every call's verdict and, when tracing,
    the per-layer numbers of the traced calls (every second call)."""
    from tracing import jobs_by_span, outermost, self_times

    cfgs = wl.configs()
    out: dict = {"pass_means": [], "ok": [], "layers": []}
    spent = 0.0
    while not out["pass_means"] or len(out["ok"]) < VALIDATE_CALLS or spent < VALIDATE_SECONDS:
        pass_s = 0.0
        for cfg, params in cfgs:
            k = len(out["ok"])
            traced = tracer is not None and k % 2 == 1
            if traced:
                tracer.install(f"validate-{k}")
            t0 = time.perf_counter()
            try:
                ok = orch.validate(cfg, params=params).ok
            except Exception:  # noqa: BLE001 - a crashed gate is a failed call
                ok = False
            dt = time.perf_counter() - t0
            if traced:
                tracer.uninstall()
            out["ok"].append(ok)
            pass_s += dt
            if counters:
                c = counters.collect()
                if traced:
                    spans = tracer.unit_spans(f"validate-{k}")
                    jobs = jobs_by_span(c["_jobs"], spans, tracer.wall_offset)
                    selfs = self_times(spans)
                    out["layers"].append({
                        "plans.validate.s": dt,
                        "plans.validate.self_s": sum(selfs[s.id] for s in spans if s.name == "plans.validate"),
                        "plans.validate.spark_jobs": sum(jobs.get(s.id, 0) for s in outermost(spans, "plans.validate")),
                        "plans.validate.read_input_jobs": sum(
                            jobs.get(s.id, 0) for s in outermost(spans, "sources.readers.read_input")),
                    })
        spent += pass_s
        out["pass_means"].append(pass_s / len(cfgs))
    return out


def _written(wl, i: int, before: dict | None) -> dict[str, float]:
    """Bytes, files and rows the unit added to the workload's outputs."""
    import pyarrow.parquet as pq

    after = dir_files([wl.out])
    new = [p for p in after if p not in before]
    data = [p for p in new if p.endswith(".parquet")]
    rows = 0
    for p in data:
        try:
            rows += pq.read_metadata(p).num_rows
        except OSError:
            continue
    logs = {p: n for p, n in after.items() if "/_delta_log/" in p}
    added = removed = 0
    for p in new:
        if "/_delta_log/" in p and p.endswith(".json"):
            with open(p, encoding="utf-8") as fh:
                actions = [json.loads(line) for line in fh if line.strip()]
            added += sum("add" in a for a in actions)
            removed += sum("remove" in a for a in actions)
    changed = wl.changed_rows(i)
    return {
        "sinks.writers.bytes_written": float(sum(after[p] for p in new)
                                             + sum(max(0, after[p] - before[p]) for p in after if p in before)),
        "sinks.writers.files_written": float(len(data)),
        "sinks.writers.rows_written_per_changed_row": rows / changed if changed else 0.0,
        "sources.delta_lite.files_added": float(added),
        "sources.delta_lite.files_removed": float(removed),
        "sources.delta_lite.log_bytes": float(sum(logs.values())),
    }


UNITS = {"_s": "s", ".s": "s", "_ms": "ms", "_frac": "ratio", "_bytes": "bytes",
         "bytes_written": "bytes"}


def _unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith("_row") else "count"


def _layer_report(units, val_layers, per_unit_counters, tracer, session_s, init_s) -> dict:
    traced = [u for u in units if u.traced and u.layers]
    untraced = [u.seconds for u in units[2:] if not u.traced]
    out: dict[str, tuple[float, str]] = {}
    names = sorted({k for u in traced for k in u.layers})
    for name in names:
        out[name] = (median([u.layers.get(name, 0.0) for u in traced]), _unit_of(name))
    for name in val_layers[0]:
        out[name] = (median([v[name] for v in val_layers]), _unit_of(name))
    out["spark.failed_tasks_all_units"] = (sum(c["spark.failed_tasks"] for c in per_unit_counters), "count")
    out["spark.persisted_rdds"] = (per_unit_counters[-1]["spark.persisted_rdds"], "count")
    out["session.get_session_s"] = (session_s, "s")
    out["session.orchestrator_init_s"] = (init_s, "s")
    out["session.confs_not_applied"] = (tracer.confs_not_applied / max(1, len(traced)), "count")
    out["trace.overhead_s"] = (median([u.seconds for u in traced]) - median(untraced), "s")
    out["trace.traced_units"] = (len(traced), "count")
    return out


if __name__ == "__main__":
    sys.exit(main())
