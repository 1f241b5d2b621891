"""Capture .explain("formatted") for headline queries into plans/<tag>/.

Usage: python tools/capture_plans.py <tag>/<suffix> [query ...]
e.g. ``capture_plans.py r14/before`` writes plans/r14/<query>_before.txt
for each query (default: all 40 headline queries); a bare ``<suffix>``
writes plans/<suffix>/<query>_<suffix>.txt.
Plans are captured against $SPARK_GRAFT_SF_DIR (default sf0.1) on the
engine's own session — the same shape the bench times. Explain only,
with one exception: q_join_bloom_prefilter runs its bounded bloom-build
job at DataFrame-construction time (freq.py build_bloom(...).head()),
so capturing it executes that one job (the bench times construction +
execution, so this stays faithful to what is measured).
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nrtwithdeltalake_spark.session import build_spark
from nrtwithdeltalake_spark.operators.registry import all_queries
from bench import HEADLINE, SF_DIR


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r14/before"
    if "/" in tag:
        subdir, suffix = tag.rsplit("/", 1)
    else:  # bare suffix: keep old behaviour of a flat plans/<suffix> dir
        subdir, suffix = tag, tag
    names = sys.argv[2:] or HEADLINE
    spark = build_spark(app_name="plan_capture")
    queries = all_queries()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        subdir,
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = queries[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        print(f"captured {name}_{suffix}.txt")


if __name__ == "__main__":
    main()
