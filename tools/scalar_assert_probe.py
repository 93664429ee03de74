"""Exploratory runner for the harvested scalar assertion corpus.

Runs every harvested (expr, expected) through engine.sql in batches,
classifies outcomes, and prints mismatches/errors for triage.  The
frozen gate lives in tests/test_scalar_assertions.py.

Usage: python tools/scalar_assert_probe.py [file-substring]
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


from facebook_presto_spark.compat.scalar_assertions import match, to_py  # noqa: E402


def main() -> None:
    filt = sys.argv[1] if len(sys.argv) > 1 else ""
    from facebook_presto_spark.compat.scalar_assertions import harvest
    from facebook_presto_spark.engine import PrestoSparkEngine
    from facebook_presto_spark.session import get_spark

    eng = PrestoSparkEngine.for_dir(
        "/root/testdata/sf0.001", spark=get_spark("scalar-assert"))
    cases = [(cid, e, x) for cid, e, x in harvest()[0] if filt in cid]
    ok = 0
    mismatches: list[tuple[str, str, object, object]] = []
    errors: list[tuple[str, str, str]] = []

    B = 40
    for i in range(0, len(cases), B):
        batch = cases[i:i + B]
        sel = ", ".join(f"({e}) AS c{j}" for j, (_, e, _x) in enumerate(batch))
        rows = None
        try:
            rows = eng.sql(f"SELECT {sel}").collect()[0]
        except Exception:
            pass
        if rows is not None:
            for j, (cid, e, want) in enumerate(batch):
                got = to_py(rows[j])
                if match(got, want):
                    ok += 1
                else:
                    mismatches.append((cid, e, got, want))
            continue
        for cid, e, want in batch:  # isolate
            try:
                got = to_py(eng.sql(f"SELECT ({e}) AS c0").collect()[0][0])
            except Exception as ex:
                errors.append((cid, e, f"{type(ex).__name__}: "
                               + str(ex).split("\n")[0][:160]))
                continue
            if match(got, want):
                ok += 1
            else:
                mismatches.append((cid, e, got, want))

    print(f"\n=== {ok} ok / {len(mismatches)} mismatch / "
          f"{len(errors)} error of {len(cases)}")
    from collections import Counter
    print("mismatch by file:",
          Counter(c.split('#')[0] for c, *_ in mismatches))
    print("error by file:", Counter(c.split('#')[0] for c, *_ in errors))
    for cid, e, got, want in mismatches[:60]:
        print(f"MM {cid}: {e[:90]!r}\n   got={got!r} want={want!r}")
    for cid, e, msg in errors[:40]:
        print(f"ERR {cid}: {e[:90]!r}\n   {msg}")


if __name__ == "__main__":
    main()
