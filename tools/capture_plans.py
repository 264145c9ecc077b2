#!/usr/bin/env python
"""Capture .explain("formatted") for every declared + tier-2 query (or
the named ones) into plans/<round>/<query>_<tag>.txt.

Usage: python tools/capture_plans.py <round> [tag] [query ...]
e.g.   python tools/capture_plans.py r16 before
The catalog is $SPARK_GRAFT_SF_DIR, as for bench.py.
"""
from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import SF_DIR, TIER2_QUERIES  # noqa: E402
from toymapreduce_go_spark.plans.queries import DECLARED, QUERIES  # noqa: E402
from toymapreduce_go_spark.session import build_session  # noqa: E402


def main() -> None:
    if len(sys.argv) < 2:
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
            df = QUERIES[name](spark, SF_DIR)
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
