#!/usr/bin/env python
"""Capture .explain("formatted") for every declared + tier-2 query (or
the named ones) into plans/<round>/<query>_<tag>.txt.

Usage: python tools/capture_plans.py <round> [tag] [query ...]
e.g.   python tools/capture_plans.py r16 before
The catalog is $SPARK_GRAFT_SF_DIR (required).
"""
from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from toymapreduce_go_spark.plans.queries import (  # noqa: E402
    DECLARED, QUERIES, TIER2_QUERIES)
from toymapreduce_go_spark.session import build_session  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if len(sys.argv) < 2 or not sf_dir:
        sys.exit(__doc__)
    rnd = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or list(DECLARED) + TIER2_QUERIES
    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(f"capture-plans-{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # noqa: BLE001
            text = f"ERROR {type(exc).__name__}: {exc}\n"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(text)
        print(f"captured {name}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
