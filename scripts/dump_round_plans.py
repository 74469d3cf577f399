#!/usr/bin/env python
"""Dump .explain("formatted") for every declared query into
plans/<round>/<query>_<tag>.txt.

Usage: python scripts/dump_round_plans.py <round> [tag] [queries]
  round    output subdirectory under plans/, e.g. r14
  tag      file-name suffix, default "before"
  queries  comma-list of query names to restrict to, default all

The optimization-round evidence artifact: plan-shape claims (Exchange
counts, join strategies, PushedFilters, Python-eval nodes) are checked
against these files, and two dumps of the same queries diff to the
plan changes between trees once expression ids (#\\d+) are masked.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bbdc20_submission_spark import registry
from bbdc20_submission_spark.session import get_spark

registry.load_all()


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    rnd = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = (
        {q for q in sys.argv[3].split(",") if q}
        if len(sys.argv) > 3
        else None
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        rnd,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"dump_{rnd}_plans")
    for name in sorted(registry.QUERIES):
        if only is not None and name not in only:
            continue
        buf = io.StringIO()
        try:
            df = registry.QUERIES[name](spark, sf_dir)
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
        except Exception as exc:  # noqa: BLE001 — record, keep going
            buf.write(f"ERROR building/explaining {name}: {exc}\n")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"== {name} ({tag}, sf_dir={sf_dir}) ==\n")
            fh.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
