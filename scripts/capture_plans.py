"""Capture .explain('formatted') for bench queries into
docs/history/plans/r<ROUND>/.

Usage: python scripts/capture_plans.py <suffix> [query ...]

Writes docs/history/plans/r<ROUND>/<query>_<suffix>.txt (ROUND defaults
to 09) for each query (default: the full bench set, headline +
extended). Plan capture is build-only — the query
is compiled, never executed — so it is cheap and safe to run alongside
other work. SPARK_GRAFT_SF_DIR selects the fixture (default sf0.1 so the
captured plans match the benched configuration byte-for-byte).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROUND = os.environ.get("ROUND", "09")


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    from bench import EXTENDED, HEADLINE

    names = sys.argv[2:] or (HEADLINE + EXTENDED)

    from warp10_platform_spark.queries import QUERIES
    from warp10_platform_spark.session import get_spark

    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")

    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "docs", "history", "plans", f"r{ROUND}")
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        fn = QUERIES.get(name)
        if fn is None:
            print(f"SKIP {name}: not registered", file=sys.stderr)
            continue
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
