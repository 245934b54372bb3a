"""Generate QUERIES.md: one row per registered query with its name,
module and first docstring line, under a count of the queries and their
oracles. Rerun after adding or moving a query:
python scripts/gen_query_index.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    lines = [
        "# Query index",
        "",
        f"{len(q)} registered queries; {len(o)} with a DuckDB oracle "
        "(every one — the driver's bit-exact correctness gate). Generated "
        "by scripts/gen_query_index.py.",
        "",
        "| query | module | what it proves |",
        "|---|---|---|",
    ]
    for name in sorted(q):
        fn = q[name]
        mod = fn.__module__.rsplit(".", 1)[-1]
        doc = (fn.__doc__ or "").strip().splitlines()
        first = doc[0].strip() if doc else ""
        lines.append(f"| {name} | {mod} | {first} |")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(repo, "QUERIES.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {len(q)} queries")


if __name__ == "__main__":
    main()
