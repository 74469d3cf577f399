"""Tracing for the ``--trace 1`` run: spans around the public functions
of the program's layers, a py4j command counter, and an offline parser
for Spark's event log.

Nothing here changes what the program computes. ``install`` replaces
the traced functions with wrappers in their defining modules *and* in
every already-imported module of the package that bound them by name,
so a ``from ... import f`` made before or after installation calls the
wrapper.

Spans are kept in memory. Each span sets the Spark local property
``perfbench.span`` on the calling thread, so the event log ties every
job submitted from that thread to its span; jobs submitted from other
threads (the package overlaps some jobs with plan assembly) are
attributed by submission time to the innermost span open at that time.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"
PKG = "bbdc20_submission_spark"

# plans.bbdc stages and the short names their per-layer metrics use
BBDC_STAGES = {
    "expand_targets": "expand_targets",
    "prepare_emg": "prepare_emg",
    "prepare_mocap": "prepare_mocap",
    "repair_channels": "repair_channels",
    "subject_scaler_stats": "scaler_stats",
    "build_features": "build_features",
    "predictions_to_intervals": "intervals",
}


def _on_main_thread() -> bool:
    """Spans form one stack, so only the main thread records them; a
    traced function called from a worker thread runs untraced."""
    return threading.current_thread() is threading.main_thread()


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    inputs: list[int] = field(default_factory=list)
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Py4jCounter:
    """Counts py4j commands sent to the JVM while ``active`` is set.
    Memory-release commands (sent by Python's garbage collector at
    times that do not repeat) and the tracer's own calls are skipped."""

    def __init__(self) -> None:
        self.active = False
        self.calls = 0
        self.local = threading.local()
        self._orig = None

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = self._orig = GatewayClient.send_command
        counter = self

        @functools.wraps(orig)
        def send_command(client, command, *args, **kwargs):
            if (counter.active and not command.startswith("m\n")
                    and not getattr(counter.local, "muted", False)):
                counter.calls += 1
            return orig(client, command, *args, **kwargs)

        GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            from py4j.java_gateway import GatewayClient

            GatewayClient.send_command = self._orig


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.py4j = Py4jCounter()
        self.sc = None
        self.outputs: dict[int, int] = {}  # id(DataFrame) -> span id
        self.pinned: list = []  # stage outputs persisted by the tracer
        self.counts: dict[str, float] = {}
        self.replaced: dict[int, object] = {}  # id(original) -> wrapper

    # -- spans ---------------------------------------------------------
    def _set_prop(self, value: str | None) -> None:
        if self.sc is None:
            return
        self.py4j.local.muted = True
        try:
            self.sc.setLocalProperty(SPAN_PROP, value)
        finally:
            self.py4j.local.muted = False

    def open(self, name: str) -> Span:
        parent = self.stack[-1].sid if self.stack else None
        sp = Span(len(self.spans), name, time.time(), parent)
        self.spans.append(sp)
        self.stack.append(sp)
        self._set_prop(str(sp.sid))
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        self.stack.pop()
        if self.stack:
            self.stack[-1].child_s += sp.dur
        self._set_prop(str(self.stack[-1].sid) if self.stack else None)

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.sp = tracer.open(name)
                return self.sp

            def __exit__(self, *exc):
                tracer.close(self.sp)
                return False

        return _Ctx()

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    # -- wrappers ------------------------------------------------------
    def _timed(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not _on_main_thread():
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _forced_stage(self, name: str, fn):
        """Lazy stage: build, then persist and force the output so its
        work is paid here, once. Later stages read it from the cache,
        so a stage's span holds its own work; its inclusive time adds
        the self time of the traced stages it was given as inputs."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not _on_main_thread():
                return fn(*args, **kwargs)
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                frames = out if isinstance(out, tuple) else (out,)
                for df in frames:
                    df.persist()
                    df.write.mode("overwrite").format("noop").save()
                    tracer.pinned.append(df)
            sp.inputs = sorted({tracer.outputs[id(a)] for a in
                                (*args, *kwargs.values()) if id(a) in tracer.outputs})
            for df in frames:
                tracer.outputs[id(df)] = sp.sid
            return out

        return wrapper

    def release_pinned(self) -> None:
        for df in self.pinned:
            df.unpersist(blocking=True)
        self.pinned.clear()
        self.outputs.clear()

    def install(self) -> None:
        """Wrap the traced functions. Must run before the query modules,
        ``plans.pipeline`` and ``__main__`` are imported; ``rebind``
        fixes up any module that imported a name earlier."""
        import importlib

        mod = lambda m: importlib.import_module(f"{PKG}.{m}")  # noqa: E731
        caching, harness = mod("caching"), mod("sources.harness")
        native, layout = mod("sources.native"), mod("sources.layout")
        models, bbdc, curation = mod("plans.models"), mod("plans.bbdc"), mod("plans.curation")
        tracer = self

        def put(module, attr, wrapper):
            self.replaced[id(getattr(module, attr))] = wrapper
            setattr(module, attr, wrapper)

        orig_persist = caching.managed_persist
        orig_release = caching.release_managed

        @functools.wraps(orig_persist)
        def managed_persist(df, *a, **k):
            tracer.add("caching.persist_calls", 1)
            return orig_persist(df, *a, **k)

        @functools.wraps(orig_release)
        def release_managed(*a, **k):
            n = orig_release(*a, **k)
            tracer.add("caching.released", n)
            return n

        put(caching, "managed_persist", managed_persist)
        put(caching, "release_managed", release_managed)
        put(harness, "load_table", self._timed("sources.harness.load_table", harness.load_table))
        for attr in ("load_labels", "load_sensor_csv_dir"):
            put(native, attr, self._timed("sources.native.load", getattr(native, attr)))
        put(native, "write_submission_csv",
            self._timed("sources.native.write", native.write_submission_csv))
        put(layout, "write_training_shards",
            self._timed("sources.layout.write", layout.write_training_shards))
        orig_train = models.train_ensemble

        @functools.wraps(orig_train)
        def train_ensemble(x, *a, **k):
            if "bbdc.train_rows" not in tracer.counts:
                tracer.counts["bbdc.train_rows"] = len(x)
            with tracer.span("models.train_ensemble"):
                return orig_train(x, *a, **k)

        put(models, "train_ensemble", train_ensemble)
        put(models, "predict_vote", self._forced_stage("models.predict_vote", models.predict_vote))
        for attr, short in BBDC_STAGES.items():
            put(bbdc, attr, self._forced_stage(f"bbdc.{short}", getattr(bbdc, attr)))
        put(curation, "curate", self._timed("curation.curate", curation.curate))
        self.py4j.install()

    def rebind(self) -> None:
        """Point every package-module global that still names an
        original traced function at its wrapper."""
        for name, module in list(sys.modules.items()):
            if module is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, value in list(vars(module).items()):
                wrapper = self.replaced.get(id(value))
                if wrapper is not None:
                    setattr(module, attr, wrapper)

    # -- derived figures -----------------------------------------------
    def inclusive_s(self, sp: Span) -> float:
        """Self time of ``sp`` plus that of every distinct traced stage
        upstream of it through its inputs."""
        seen, todo, total = set(), [sp.sid], 0.0
        while todo:
            s = self.spans[todo.pop()]
            if s.sid in seen:
                continue
            seen.add(s.sid)
            total += s.self_s
            todo.extend(s.inputs)
        return total


# -- event log -----------------------------------------------------------

@dataclass
class EventLog:
    jobs: dict[int, dict]
    stages: dict[int, dict]
    tasks: dict[int, list[dict]]


def parse_event_log(path: str) -> EventLog:
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "submit_ms": ev["Submission Time"],
                    "stage_ids": ev["Stage IDs"],
                    "span": props.get(SPAN_PROP),
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = {"tasks": info["Number of Tasks"]}
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "sw": sw.get("Shuffle Bytes Written", 0),
                })
    return EventLog(jobs, stages, tasks)


def attribute_jobs(log: EventLog, tracer: Tracer) -> dict[int, int | None]:
    """job id -> span id: by the span property when the submitting
    thread carried one, else the innermost span open at submission."""
    out: dict[int, int | None] = {}
    for jid, job in log.jobs.items():
        if job["span"] is not None:
            out[jid] = int(job["span"])
            continue
        t = job["submit_ms"] / 1000.0
        best = None
        for sp in tracer.spans:
            if sp.start <= t <= sp.end and (best is None or sp.start >= best.start):
                best = sp
        out[jid] = best.sid if best is not None else None
    return out


def executor_metrics(log: EventLog, t0: float, t1: float, wall_s: float,
                     cores: int) -> dict[str, float]:
    """Task metrics of the jobs submitted inside [t0, t1] (epoch s)."""
    stage_ids = set()
    for job in log.jobs.values():
        if t0 * 1000 <= job["submit_ms"] <= t1 * 1000:
            stage_ids.update(s for s in job["stage_ids"] if s in log.stages)
    tasks = [t for s in stage_ids for t in log.tasks.get(s, ())]
    skew = 1.0
    for s in stage_ids:
        runs = [t["run_ms"] for t in log.tasks.get(s, ())]
        if len(runs) >= 2 and statistics.median(runs) > 0:
            skew = max(skew, max(runs) / statistics.median(runs))
    task_s = sum(t["run_ms"] for t in tasks) / 1000.0
    mb = 1024.0 * 1024.0
    return {
        "exec.task_s": task_s,
        "exec.cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "exec.shuffle_read_mb": sum(t["sr"] for t in tasks) / mb,
        "exec.shuffle_write_mb": sum(t["sw"] for t in tasks) / mb,
        "exec.spill_mb": sum(t["spill"] for t in tasks) / mb,
        "exec.tasks": float(len(tasks)),
        "exec.stages": float(len(stage_ids)),
        "exec.busy_ratio": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "exec.worst_stage_skew": skew,
    }


def jobs_and_stages(log: EventLog, attribution: dict[int, int | None],
                    span_ids: set[int]) -> tuple[int, int]:
    """Jobs attributed to any of ``span_ids`` and the stages they ran."""
    jobs = [j for j, s in attribution.items() if s in span_ids]
    stages = {s for j in jobs for s in log.jobs[j]["stage_ids"] if s in log.stages}
    return len(jobs), len(stages)


def newest_event_log(directory: str) -> str:
    files = [os.path.join(directory, f) for f in os.listdir(directory)
             if not f.endswith(".inprogress")]
    return max(files, key=os.path.getmtime)
