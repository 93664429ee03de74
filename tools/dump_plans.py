"""Dump .explain("formatted") for headline queries to plans/<tag>/.

Usage: python tools/dump_plans.py <tag> <suffix> [name ...]
Writes plans/<tag>/<query>_<suffix>.txt, e.g. ``r12 before tpcds_q14_1``
→ plans/r12/tpcds_q14_1_before.txt.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]

    import bench
    import __spark_entry__ as entry
    from facebook_presto_spark.session import get_spark

    spark = get_spark("dump_plans")
    queries = entry.queries()
    picked = names or bench.HEADLINE
    outdir = os.path.join(ROOT, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in picked:
        if name not in queries:
            print(f"skip {name}")
            continue
        try:
            df = queries[name](spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as exc:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {exc}"
        with open(f"{outdir}/{name}_{suffix}.txt", "w") as f:
            f.write(plan)
        print(f"wrote {name} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
