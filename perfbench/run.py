#!/usr/bin/env python3
"""Benchmark of the bbdc20_submission_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. One run is one fresh
process:

1. generate the workload's inputs from ``--seed`` (``gen.py``);
2. set up ``SETUPS`` times: import the package, ``get_spark`` and ship
   the package to the workers, then stop the session and start over.
   The first set-up also starts the JVM; ``setup_s`` is the median;
3. a fixed warm-up job on the last session;
4. timed passes over the workload until ``--seconds`` have gone by (at
   least one; exactly one when traced). Before each pass every cache is
   dropped and the outputs are removed. After each pass its outputs are
   checked, untimed;
5. stop Spark and wait for the JVM and the Python workers to exit.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (``END_TO_END``); ``setup_s`` and ``wall_s`` are elapsed
seconds less the host's CPU steal over the same interval divided by the
CPU count (``less_steal``). With ``--trace 1`` the pass runs with the
wrappers of ``spans.py`` installed and the metrics are the per-layer
ones (``PER_LAYER``). Everything the run did — settings, raw times,
per-operation times and host steal, fingerprints, spans — is written to
``.perfbench/details/<workload>-seed<N>-trace<T>.json``; all files the
run writes stay under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "bbdc20_submission_spark"
sys.path.insert(0, HERE)

import pandas as pd  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import hostmon  # noqa: E402
import spans  # noqa: E402

SETUPS = 3
DRIVER_MEM = "2g"
# curation-dupheavy: harness-shaped base corpus read by c1 (fixed, so
# c1's expected output is one recorded value) and the base size of
# the seed-driven duplicate-heavy corpus
C1_DOCS = 500
C1_DATA_SEED = 42
DUPHEAVY_BASE = 2000
# bbdc-pipeline: input shape; trial length is what interpolation cost
# depends on, so it is fixed here and reported with the results
BBDC_TRIALS = 1
BBDC_SPAN_S = 1.6
BBDC_MODELS = 11

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
TRACED_QUERIES = ("c1_curation_dag",)
BBDC_METRIC_STAGES = tuple(spans.BBDC_STAGES.values())
CURATION_ROWS = ("raw", "exact_unique", "near_unique", "quality_lang_pass", "chunks")
PER_LAYER = {
    "queries.build_s": "s",
    "queries.force_s": "s",
    "queries.build_jobs": "count",
    "queries.build_stages": "count",
    "queries.force_jobs": "count",
    "queries.force_stages": "count",
    "queries.py4j_calls": "count",
    **{f"q.{q}.s": "s" for q in TRACED_QUERIES},
    **{f"q.{q}.build_jobs": "count" for q in TRACED_QUERIES},
    "sources.harness.load_table_s": "s",
    "sources.harness.load_table_calls": "count",
    "sources.native.load_s": "s",
    "sources.native.load_jobs": "count",
    "sources.native.write_s": "s",
    "sources.layout.write_s": "s",
    "sources.layout.bytes_written_mb": "MB",
    "sources.layout.files": "count",
    "caching.persist_calls": "count",
    "caching.released": "count",
    "caching.cached_mb": "MB",
    **{f"bbdc.{s}.{k}": "s" for s in BBDC_METRIC_STAGES for k in ("incl_s", "self_s")},
    "bbdc.train_rows": "count",
    "models.train_ensemble_s": "s",
    "models.predict_vote_s": "s",
    "curation.curate_s": "s",
    "curation.build_jobs": "count",
    **{f"curation.rows.{k}": "count" for k in CURATION_ROWS},
    "curation.near_unique_ratio": "1",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.tasks": "count",
    "exec.stages": "count",
    "exec.busy_ratio": "1",
    "exec.worst_stage_skew": "1",
    "host.steal_s": "s",
    "host.nproc": "count",
    "host.cpus": "count",
    "trace.wall_s": "s",
    "trace.overhead_ratio": "1",
}
# per-layer metrics where a larger value is the better one; every
# other metric is better lower
HIGHER_IS_BETTER = {
    "caching.released", "bbdc.train_rows", "curation.near_unique_ratio",
    "exec.busy_ratio", "host.nproc", "host.cpus",
    *(f"curation.rows.{k}" for k in CURATION_ROWS),
}


# -- environment ---------------------------------------------------------

def pin_environment(work: str, traced: bool) -> dict:
    """Settings for the program, all recorded in the detail file: one
    local executor sized to this host, a fixed driver heap well below
    physical RAM, every scratch path inside ``work``, no console
    progress bar, and Spark's event log (traced runs only)."""
    cpus = hostmon.nproc()
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        # a fixed, pre-touched heap: the JVM's resident size no longer
        # follows the timing of heap resizing, so peak RSS repeats;
        # no perf-data file, which the JVM would put in /tmp
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
                                         " -XX:-UsePerfData"
                                         f" -Djava.io.tmpdir={dirs['tmp']}"
                                         f" -Dderby.system.home={dirs['tmp']}",
    }
    if traced:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {k}={v}" if " " not in v else f'--conf "{k}={v}"'
            for k, v in confs.items()) + " pyspark-shell",
    }
    os.environ.update(env)
    tempfile.tempdir = dirs["tmp"]
    return {"env": env, "confs": confs, "nproc": cpus, "eventlog": dirs["eventlog"]}


def warm_up(spark, cpus: int) -> None:
    """Fixed warm-up: one job through an Arrow Python UDF (which starts
    the Python workers), a shuffle and an aggregation."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    plus = pandas_udf(plus_one, "long")
    (spark.range(0, 1 << 16, 1, cpus).select(plus("id").alias("x"))
     .groupBy((F.col("x") % 16).alias("k")).agg(F.sum("x")).collect())


def less_steal(timed: dict, cpus: int) -> float:
    """Seconds of a timed span less the host's CPU steal during it,
    spread over the CPUs. Steal is time the hypervisor gave this VM's
    CPUs to other guests: on a shared 4-vCPU VM it swung between 0 and
    50 CPU-seconds per 40-second pass of the same code."""
    return timed["s"] - timed["steal_s"] / cpus


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)


# -- workloads -----------------------------------------------------------

class Workload:
    """Inputs, operations and checks of one workload. ``ops`` are
    (name, callable) pairs run in order inside the timed pass; each
    callable returns the value ``check`` judges after the pass."""

    name = ""

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.inp = os.path.join(work, "in")
        self.out = os.path.join(work, "out")
        os.makedirs(self.inp, exist_ok=True)

    def clear_outputs(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)


class CurationDupheavy(Workload):
    """c1 through the query registry over a harness-shaped corpus, then
    ``plans.curation.curate`` with c1's config over a duplicate-heavy
    corpus, written with ``sources.layout.write_training_shards``."""

    name = "curation-dupheavy"
    CONFIG = dict(strip_boilerplate_min_docs=2, blocked_sources=("src19",),
                  keeper_score_col="doc_len")

    def generate(self) -> dict:
        gen.write_documents(os.path.join(self.inp, "documents.parquet"),
                            gen.base_documents(C1_DATA_SEED, C1_DOCS))
        self.rows = gen.dupheavy_documents(self.seed, DUPHEAVY_BASE)
        gen.write_documents(os.path.join(self.inp, "dupheavy.parquet"), self.rows)
        return {"c1_docs": C1_DOCS, "c1_data_seed": C1_DATA_SEED,
                "dupheavy_base": DUPHEAVY_BASE, "dupheavy_docs": len(self.rows)}

    def ops(self, spark, run_query):
        from pyspark.sql import functions as F

        harness = sys.modules[f"{PKG}.sources.harness"]
        curation = sys.modules[f"{PKG}.plans.curation"]
        layout = sys.modules[f"{PKG}.sources.layout"]

        def curate_dupheavy():
            docs = harness.load_table(spark, "dupheavy", self.inp).withColumn(
                "doc_len", F.length("text"))
            out, obs = curation.curate(docs, curation.CurationConfig(**self.CONFIG),
                                       observe=True)
            layout.write_training_shards(out, os.path.join(self.out, "shards"))
            return curation.observed_counts(obs)

        return [("c1_curation_dag", lambda: run_query("c1_curation_dag", self.inp)),
                ("curate_dupheavy", curate_dupheavy)]

    def check(self, op: str, value, expected: dict) -> dict:
        if op == "c1_curation_dag":
            return check.expect_fingerprint(check.table_fingerprint(value),
                                            expected.get("c1_curation_dag"))
        shards = os.path.join(self.out, "shards")
        res = check.curation_counts(value, self.rows, self.CONFIG["blocked_sources"])
        shard_rows, fp = check.parquet_dir_fingerprint(shards)
        if shard_rows != value.get("chunks"):
            res["errors"].append(f"shard rows {shard_rows} != chunks {value.get('chunks')}")
        res["fingerprint"] = fp
        if not res["errors"]:
            res.update(check.expect_fingerprint(
                fp, expected.get(self.name, {}).get(str(self.seed))))
        return res


class BbdcPipeline(Workload):
    """``__main__.main(["pipeline", ...])`` from native CSVs to the
    submission CSV."""

    name = "bbdc-pipeline"

    def generate(self) -> dict:
        self.layout = gen.write_bbdc_native(self.inp, self.seed, BBDC_TRIALS, BBDC_SPAN_S)
        return {"train_subjects": list(gen.TRAIN_SUBJECTS), "test_subject": gen.TEST_SUBJECT,
                "trials": BBDC_TRIALS, "trial_s": BBDC_SPAN_S, "emg_hz": 600,
                "mocap_hz": 100, "null_share": 0.02, "n_models": BBDC_MODELS}

    def ops(self, spark, run_query):
        cli = sys.modules[f"{PKG}.__main__"]
        train, test = os.path.join(self.inp, "train"), os.path.join(self.inp, "test")
        out = os.path.join(self.out, "submission")

        def pipeline():
            rc = cli.main([
                "pipeline", "--labels", os.path.join(train, "labels.csv"),
                "--emg", os.path.join(train, "emg"), "--mocap", os.path.join(train, "mocap"),
                "--emg-test", os.path.join(test, "emg"),
                "--mocap-test", os.path.join(test, "mocap"),
                "--out", out, "--n-models", str(BBDC_MODELS),
            ])
            if rc != 0:
                raise RuntimeError(f"pipeline exited with {rc}")
            return out

        return [("pipeline", pipeline)]

    def check(self, op: str, value, expected: dict) -> dict:
        res = check.submission(value, self.layout)
        if not res["errors"]:
            res.update(check.expect_fingerprint(
                res["fingerprint"], expected.get(self.name, {}).get(str(self.seed))))
        return res


WORKLOADS = {w.name: w for w in (CurationDupheavy, BbdcPipeline)}


# -- the run -------------------------------------------------------------

def setup_session(tracer) -> object:
    """One set-up: a fresh import of the package (its modules are first
    dropped from ``sys.modules``, so import-time work repeats),
    ``get_spark`` and package shipping. With a tracer, the wrappers go
    in before the query modules are imported."""
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]
    if tracer is not None:
        tracer.install()
    importlib.import_module(f"{PKG}.registry").load_all()
    for m in ("plans.pipeline", "plans.curation", "__main__", "sources.harness",
              "sources.layout"):
        importlib.import_module(f"{PKG}.{m}")
    if tracer is not None:
        tracer.rebind()
    session = sys.modules[f"{PKG}.session"]
    spark = session.get_spark(f"perfbench-{os.getpid()}")
    session.ensure_package_shipped(spark)
    return spark


def stop_spark(spark) -> list[int]:
    """Stop Spark, shut the JVM down and wait for the process tree to
    end; returns the pids still alive afterwards."""
    from pyspark import SparkContext

    pids = [p for p in hostmon.tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            proc.wait(timeout=60)
    return hostmon.wait_gone(pids, 60)


def run(args) -> tuple[dict, dict]:
    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    settings = pin_environment(work, traced)
    cpus = settings["nproc"]
    wl = WORKLOADS[args.workload](work, args.seed)
    t = time.perf_counter()
    inputs = wl.generate()
    gen_s = time.perf_counter() - t
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)

    tracer = None
    if traced:
        tracer = spans.Tracer()
    setups = []
    spark = None
    for i in range(SETUPS):
        steal, t = hostmon.steal_s(), time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = setup_session(tracer if i == SETUPS - 1 else None)
        setups.append({"s": time.perf_counter() - t, "steal_s": hostmon.steal_s() - steal})
    t = time.perf_counter()
    warm_up(spark, cpus)
    warm_up_s = time.perf_counter() - t
    if tracer is not None:
        tracer.sc = spark.sparkContext
    caching = sys.modules[f"{PKG}.caching"]
    release_managed = getattr(caching.release_managed, "__wrapped__", caching.release_managed)
    registry = sys.modules[f"{PKG}.registry"]

    def run_query(name: str, sf_dir: str):
        if tracer is None:
            df = registry.QUERIES[name](spark, sf_dir)
            return df.toArrow()
        with tracer.span(f"q.{name}.build"):
            tracer.py4j.active = True
            try:
                df = registry.QUERIES[name](spark, sf_dir)
            finally:
                tracer.py4j.active = False
        with tracer.span(f"q.{name}.force"):
            return df.toArrow()

    ops = wl.ops(spark, run_query)
    passes, checks = [], {}
    t_start = time.perf_counter()
    while True:
        spark.catalog.clearCache()
        release_managed(spark)
        if persisted_rdds(spark):
            raise RuntimeError("persisted RDDs remain before the pass")
        wl.clear_outputs()
        rec = {"ops": {}, "epoch0": time.time()}
        results, errors = {}, {}
        cpu0, steal0, t0 = hostmon.tree_cpu_s(), hostmon.steal_s(), time.perf_counter()
        peak_cached = 0.0
        for name, fn in ops:
            o_steal, o_t = hostmon.steal_s(), time.perf_counter()
            try:
                with tracer.span(f"op.{name}") if tracer else contextlib.nullcontext():
                    results[name] = fn()
            except Exception:
                errors[name] = traceback.format_exc(limit=4)
            rec["ops"][name] = {"s": time.perf_counter() - o_t,
                                "steal_s": hostmon.steal_s() - o_steal}
            if tracer is not None:
                tracer.release_pinned()
                peak_cached = max(peak_cached, cached_mb(spark))
        rec.update(wall_s=time.perf_counter() - t0, cpu_s=hostmon.tree_cpu_s() - cpu0,
                   steal_s=hostmon.steal_s() - steal0, epoch1=time.time(),
                   peak_rss_mb=hostmon.tree_peak_rss_mb(), cached_mb=peak_cached)
        # untimed: judge this pass's outputs before the next pass
        # removes them
        for name, _ in ops:
            if name in errors:
                checks[name] = {"errors": ["raised: " + errors[name].strip().splitlines()[-1]],
                                "traceback": errors[name]}
                continue
            try:
                checks[name] = wl.check(name, results[name], expected)
            except Exception:
                checks[name] = {"errors": ["check raised: " + traceback.format_exc(limit=3)]}
        rec["failed"] = sorted(k for k, c in checks.items() if c["errors"])
        passes.append(rec)
        # a traced run attributes one pass
        if tracer is not None or time.perf_counter() - t_start >= args.seconds:
            break
    attempted = len(ops) * len(passes)
    failed = sum(len(p["failed"]) for p in passes)

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "settings": settings, "inputs": inputs, "gen_s": gen_s,
        "setups": setups, "warm_up_s": warm_up_s, "passes": passes, "checks": checks,
        "fail_ratio": failed / attempted,
        "host": {"nproc": cpus, "steal_s_per_pass": [p["steal_s"] for p in passes]},
    }
    if tracer is None:
        metrics = {
            "setup_s": statistics.median(less_steal(x, cpus) for x in setups),
            "wall_s": statistics.median(
                less_steal({"s": p["wall_s"], "steal_s": p["steal_s"]}, cpus) for p in passes),
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "peak_rss_mb": max(p["peak_rss_mb"] for p in passes),
        }
        units = END_TO_END
    else:
        metrics = None  # needs the event log, complete only after stop
        units = PER_LAYER
    leftover = stop_spark(spark)
    if leftover:
        raise RuntimeError(f"processes still running after stop: {leftover}")
    if tracer is not None:
        metrics = layer_metrics(tracer, settings["eventlog"], passes[-1], checks,
                                work, cpus, args.workload)
        detail["spans"] = [vars(s) | {"self_s": s.self_s} for s in tracer.spans]
        tracer.py4j.uninstall()
    elif failed == 0:
        record_history(args.workload, metrics["wall_s"])
    detail["metrics"] = metrics
    details = os.path.join(ROOT, ".perfbench", "details")
    os.makedirs(details, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(details, name), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    return result, detail


def record_history(workload: str, wall_s: float) -> None:
    """Untraced pass times of this checkout, which the traced run
    compares itself with to report tracing overhead."""
    path = os.path.join(ROOT, ".perfbench", "history.jsonl")
    with open(path, "a") as fh:
        fh.write(json.dumps({"workload": workload, "wall_s": wall_s}) + "\n")


def untraced_median(workload: str) -> float | None:
    path = os.path.join(ROOT, ".perfbench", "history.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        walls = [r["wall_s"] for r in map(json.loads, fh) if r["workload"] == workload]
    return statistics.median(walls) if walls else None


def layer_metrics(tracer, eventlog_dir: str, rec: dict, checks: dict,
                  work: str, cpus: int, workload: str) -> dict:
    log = spans.parse_event_log(spans.newest_event_log(eventlog_dir))
    attribution = spans.attribute_jobs(log, tracer)
    traced = tracer.spans
    kids: dict[int, list[int]] = {}
    for s in traced:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.sid)

    def subtree(sids):
        out, todo = set(), list(sids)
        while todo:
            s = todo.pop()
            if s not in out:
                out.add(s)
                todo.extend(kids.get(s, ()))
        return out

    def named(name):
        return [s for s in traced if s.name == name]

    def total(name):
        return sum(s.dur for s in named(name))

    def jobs(name):
        return spans.jobs_and_stages(log, attribution, subtree(s.sid for s in named(name)))

    m = {k: 0.0 for k in PER_LAYER}
    builds = [s for s in traced if s.name.startswith("q.") and s.name.endswith(".build")]
    forces = [s for s in traced if s.name.startswith("q.") and s.name.endswith(".force")]
    bj, bs = spans.jobs_and_stages(log, attribution, subtree(s.sid for s in builds))
    fj, fs = spans.jobs_and_stages(log, attribution, subtree(s.sid for s in forces))
    m.update({
        "queries.build_s": sum(s.dur for s in builds),
        "queries.force_s": sum(s.dur for s in forces),
        "queries.build_jobs": bj, "queries.build_stages": bs,
        "queries.force_jobs": fj, "queries.force_stages": fs,
        "queries.py4j_calls": tracer.py4j.calls,
    })
    for q in TRACED_QUERIES:
        m[f"q.{q}.s"] = total(f"q.{q}.build") + total(f"q.{q}.force")
        m[f"q.{q}.build_jobs"] = jobs(f"q.{q}.build")[0]
    m["sources.harness.load_table_s"] = total("sources.harness.load_table")
    m["sources.harness.load_table_calls"] = len(named("sources.harness.load_table"))
    m["sources.native.load_s"] = total("sources.native.load")
    m["sources.native.load_jobs"] = jobs("sources.native.load")[0]
    m["sources.native.write_s"] = total("sources.native.write")
    m["sources.layout.write_s"] = total("sources.layout.write")
    shards = os.path.join(work, "out", "shards")
    if named("sources.layout.write") and os.path.isdir(shards):
        files = [os.path.join(d, f) for d, _, fs_ in os.walk(shards) for f in fs_
                 if f.startswith("part-")]
        m["sources.layout.files"] = len(files)
        m["sources.layout.bytes_written_mb"] = sum(map(os.path.getsize, files)) / 1048576.0
    m["caching.persist_calls"] = tracer.counts.get("caching.persist_calls", 0)
    m["caching.released"] = tracer.counts.get("caching.released", 0)
    m["caching.cached_mb"] = rec["cached_mb"]
    for short in BBDC_METRIC_STAGES:
        stage = named(f"bbdc.{short}")
        m[f"bbdc.{short}.self_s"] = sum(s.self_s for s in stage)
        m[f"bbdc.{short}.incl_s"] = sum(tracer.inclusive_s(s) for s in stage)
    m["bbdc.train_rows"] = tracer.counts.get("bbdc.train_rows", 0)
    m["models.train_ensemble_s"] = total("models.train_ensemble")
    m["models.predict_vote_s"] = total("models.predict_vote")
    m["curation.curate_s"] = total("curation.curate")
    m["curation.build_jobs"] = jobs("curation.curate")[0]
    counts = checks.get("curate_dupheavy", {}).get("counts")
    if counts:
        for k in CURATION_ROWS:
            m[f"curation.rows.{k}"] = counts[k]
        m["curation.near_unique_ratio"] = counts["near_unique"] / counts["exact_unique"]
    m.update(spans.executor_metrics(log, rec["epoch0"], rec["epoch1"], rec["wall_s"], cpus))
    m["host.steal_s"] = rec["steal_s"]
    m["host.nproc"] = hostmon.nproc()
    m["host.cpus"] = cpus
    m["trace.wall_s"] = rec["wall_s"]
    base = untraced_median(workload)
    traced = less_steal({"s": rec["wall_s"], "steal_s": rec["steal_s"]}, cpus)
    m["trace.overhead_ratio"] = traced / base - 1.0 if base else 0.0
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG} package next to {HERE}; run from a checkout"
              " of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result, detail = run(args)
    print(json.dumps({"settings": detail["settings"]["env"], "inputs": detail["inputs"],
                      "setups": detail["setups"],
                      "ops": {k: v for p in detail["passes"] for k, v in p["ops"].items()},
                      "pass_steal_s": detail["host"]["steal_s_per_pass"],
                      "failed": detail["passes"][-1]["failed"]}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
