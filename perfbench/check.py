"""Output checks of the benchmark workloads (run untimed, after a pass).

Fingerprints are order-insensitive: the row count plus a hash over the
sorted per-row digests, with columns taken in name order and floats
rounded to 6 decimals (list elements to 5), the same canonical form
the repository's oracle comparison uses.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import math
import os

import pyarrow.dataset as ds

ARM_VOCAB = {
    "la": {"la-nothing", "la-lift", "la-pour"},
    "ra": {"ra-nothing", "ra-hold", "ra-stir"},
}


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 6) + 0.0)
    if isinstance(v, (list, tuple)):
        return tuple(round(x, 5) + 0.0 if isinstance(x, float) else x for x in v)
    return v


def rows_fingerprint(rows) -> str:
    digests = sorted(
        hashlib.sha256(repr(tuple(_canon(v) for v in row)).encode()).digest()
        for row in rows
    )
    h = hashlib.sha256()
    for d in digests:
        h.update(d)
    return f"{len(digests)}:{h.hexdigest()[:24]}"


def table_fingerprint(table) -> str:
    """Fingerprint of a ``pyarrow.Table``."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return rows_fingerprint(zip(*data))


def parquet_dir_fingerprint(path: str) -> tuple[int, str]:
    """(rows, fingerprint) of a hive-partitioned parquet directory."""
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    return table.num_rows, table_fingerprint(table)


def expect_fingerprint(fp: str, expected: str | None) -> dict:
    """Compare with the recorded value; an unrecorded input is judged
    by the workload's invariants alone."""
    errors = [] if expected is None or fp == expected else [
        f"fingerprint {fp} != recorded {expected}"]
    return {"errors": errors, "fingerprint": fp, "recorded": expected}


def curation_counts(counts: dict, rows: list, blocked: tuple) -> dict:
    """Stage counts of ``curate(observe=True)`` against what the
    generator knows: the raw and post-blocklist sizes and the number of
    distinct texts; the later stages only shrink the corpus."""
    kept = [r for r in rows if r[3] not in blocked]
    want = {"raw": len(rows), "source_pass": len(kept),
            "exact_unique": len({r[1] for r in kept})}
    errors = [f"{k}: {counts.get(k)} != {v}" for k, v in want.items() if counts.get(k) != v]
    chain = ("exact_unique", "near_unique", "quality_lang_pass")
    for a, b in zip(chain, chain[1:]):
        if not 0 < counts.get(b, 0) <= counts.get(a, 0):
            errors.append(f"{b} {counts.get(b)} not in (0, {a} {counts.get(a)}]")
    if counts.get("chunks", 0) < counts.get("quality_lang_pass", 0):
        errors.append("fewer chunks than documents")
    return {"errors": errors, "counts": counts}


def submission(out_dir: str, layout: dict) -> dict:
    """The submission CSV: one part file; every test key present; per
    key, intervals start at 0 or later, are non-empty, contiguous and
    in order, and carry an action of that key's arm."""
    errors = []
    parts = glob.glob(os.path.join(out_dir, "part-*.csv"))
    if len(parts) != 1:
        return {"errors": [f"{len(parts)} part files, want 1"], "fingerprint": None}
    with open(parts[0], newline="") as fh:
        rows = [(k, float(s), float(e), a) for k, s, e, a in csv.reader(fh)]
    by_key: dict[str, list] = {}
    for k, s, e, a in rows:
        by_key.setdefault(k, []).append((s, e, a))
        arm = k.rsplit(".", 1)[-1]
        if a not in ARM_VOCAB.get(arm, ()):
            errors.append(f"{k}: action {a!r} not of arm {arm!r}")
    if sorted(by_key) != sorted(layout["test_keys"]):
        errors.append(f"keys {sorted(by_key)} != {sorted(layout['test_keys'])}")
    for k, segs in by_key.items():
        segs.sort()
        if segs[0][0] < 0:
            errors.append(f"{k}: starts before 0")
        for (s, e, _), nxt in zip(segs, segs[1:] + [None]):
            if not e > s:
                errors.append(f"{k}: empty interval {s}-{e}")
            if nxt is not None and nxt[0] != e:
                errors.append(f"{k}: gap or overlap at {e}")
        if segs[-1][1] > layout["span_s"] + 1e-9:
            errors.append(f"{k}: ends after the trial ({segs[-1][1]})")
    return {"errors": errors[:10], "fingerprint": rows_fingerprint(rows), "rows": len(rows)}
