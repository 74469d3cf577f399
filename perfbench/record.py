#!/usr/bin/env python3
"""Record the expected outputs the benchmark checks against.

    python3 perfbench/record.py oracle
        Run c1_curation_dag on the benchmark's fixed base corpus with
        Spark and with its DuckDB oracle SQL, require the two results to
        be equal, and record the fingerprint.
    python3 perfbench/record.py seeds
        Record, per workload and seed, the output fingerprints of the
        runs under ``.perfbench/`` whose invariant checks passed. A seed
        already recorded with another value is an error.

Both write ``perfbench/expected.json``. Run from the root of a checkout.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.json")
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)


def _load() -> dict:
    with open(EXPECTED) as fh:
        return json.load(fh)


def _save(expected: dict) -> None:
    with open(EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


def record_oracle() -> None:
    import duckdb

    import check
    import gen
    import run

    work = os.path.join(ROOT, ".perfbench", "record")
    os.makedirs(work, exist_ok=True)
    run.pin_environment(work, traced=False)
    path = os.path.join(work, "documents.parquet")
    gen.write_documents(path, gen.base_documents(run.C1_DATA_SEED, run.C1_DOCS))
    from bbdc20_submission_spark import registry
    from bbdc20_submission_spark.session import get_spark

    registry.load_all()
    spark = get_spark("perfbench-record")
    try:
        got = registry.QUERIES["c1_curation_dag"](spark, work).toArrow()
    finally:
        spark.stop()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    want = con.execute(registry.ORACLE["c1_curation_dag"]).fetch_arrow_table()
    fp_spark, fp_oracle = check.table_fingerprint(got), check.table_fingerprint(want)
    if fp_spark != fp_oracle:
        raise SystemExit(f"c1_curation_dag: spark {fp_spark} != oracle {fp_oracle}")
    expected = _load()
    expected["c1_curation_dag"] = fp_spark
    _save(expected)
    print(f"c1_curation_dag {fp_spark} (equal to the DuckDB oracle)")


def record_seeds() -> None:
    expected = _load()
    for path in sorted(glob.glob(os.path.join(ROOT, ".perfbench", "details", "*.json"))):
        with open(path) as fh:
            d = json.load(fh)
        for op, c in d["checks"].items():
            if op == "c1_curation_dag" or c["errors"] or not c.get("fingerprint"):
                continue
            seeds = expected.setdefault(d["workload"], {})
            old = seeds.setdefault(str(d["seed"]), c["fingerprint"])
            if old != c["fingerprint"]:
                raise SystemExit(f"{d['workload']} seed {d['seed']}: {c['fingerprint']}"
                                 f" != recorded {old}")
    _save(expected)
    print(json.dumps({k: len(v) for k, v in expected.items() if isinstance(v, dict)}))


if __name__ == "__main__":
    {"oracle": record_oracle, "seeds": record_seeds}[sys.argv[1]]()
