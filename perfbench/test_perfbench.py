"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the root of a checkout. The trace test judges the traced runs
found under ``.perfbench/``; when there is none it makes one traced
run of ``curation-dupheavy`` first (about a minute).
"""

from __future__ import annotations

import filecmp
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _tree_equal(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _tree_equal(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def _stage(tmp, seed: int, tag: str) -> str:
    out = os.path.join(tmp, tag)
    os.makedirs(out)
    gen.write_documents(os.path.join(out, "documents.parquet"),
                        gen.base_documents(seed, 200))
    gen.write_documents(os.path.join(out, "dupheavy.parquet"),
                        gen.dupheavy_documents(seed, 200))
    gen.write_bbdc_native(os.path.join(out, "bbdc"), seed, 1, 1.6)
    return out


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = (_stage(tmp_path, s, t) for s, t in ((7, "a"), (7, "b"), (8, "c")))
    assert _tree_equal(a, b)
    for rel in ("documents.parquet", "dupheavy.parquet", "bbdc/train/labels.csv",
                "bbdc/train/emg/s01t01.csv", "bbdc/test/mocap/s06t01.csv"):
        assert not filecmp.cmp(os.path.join(a, rel), os.path.join(c, rel), shallow=False), rel


def test_dupheavy_shape():
    rows = gen.dupheavy_documents(1, 1000)
    assert len({r[0] for r in rows}) == len(rows)
    # every base document, one exact copy for ~25%, two near-copies for ~50%
    assert 2100 < len(rows) < 2400
    assert len({r[1] for r in rows}) < len(rows)


def test_printed_metric_names_equal_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {m["name"] for m in bench["per_layer"] if m["better"] == "higher"} \
        == run.HIGHER_IS_BETTER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for p in glob.glob(os.path.join(ROOT, ".perfbench", "details", "*.json")):
        with open(p) as fh:
            d = json.load(fh)
        assert set(d["metrics"]) == set(run.PER_LAYER if d["trace"] else run.END_TO_END), p


def test_fingerprint_ignores_row_order():
    rows = [(1, "a", 0.1234567), (2, "b", None), (3, "c", 2.0)]
    assert check.rows_fingerprint(rows) == check.rows_fingerprint(rows[::-1])
    assert check.rows_fingerprint(rows) != check.rows_fingerprint(rows[:2])


def _traced_details() -> list[dict]:
    paths = glob.glob(os.path.join(ROOT, ".perfbench", "details", "*-trace1.json"))
    if not paths:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             "curation-dupheavy", "--seed", "1", "--seconds", "1", "--trace", "1"],
            cwd=ROOT, check=True, stdout=subprocess.DEVNULL, timeout=600)
        paths = glob.glob(os.path.join(ROOT, ".perfbench", "details", "*-trace1.json"))
    details = []
    for p in paths:
        with open(p) as fh:
            details.append(json.load(fh))
    return details


def test_traced_self_times_nonnegative_and_within_wall():
    for d in _traced_details():
        wall = d["metrics"]["trace.wall_s"]
        selfs = [s["self_s"] for s in d["spans"]]
        assert min(selfs) >= 0, d["workload"]
        assert sum(selfs) <= wall, d["workload"]
        for stage in run.BBDC_METRIC_STAGES:
            m = d["metrics"]
            assert m[f"bbdc.{stage}.incl_s"] >= m[f"bbdc.{stage}.self_s"] >= 0
