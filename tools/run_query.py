"""User-facing CLI: run any registered query by name and print results.

    python tools/run_query.py q1_pricing_summary
    python tools/run_query.py geo_flagship /root/testdata/sf0.01 --limit 5
    python tools/run_query.py --list            # names + descriptions
    python tools/run_query.py --explain q6_forecast_revenue

The registry (posting_lines_spark/queries) is the library's public
surface: every operator is a named (PySpark callable, oracle SQL) pair.
This wrapper is the smallest possible driver around it.
"""

from __future__ import annotations

import os
import sys

SF_DEFAULT = "/root/testdata/sf0.001"


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    args = [a for a in sys.argv[1:]]
    explain = "--explain" in args
    listing = "--list" in args
    limit = 20
    if "--limit" in args:
        i = args.index("--limit")
        if i + 1 >= len(args) or not args[i + 1].lstrip("-").isdigit():
            print("usage: --limit <N>")
            return 2
        limit = int(args[i + 1])
        del args[i : i + 2]
    args = [a for a in args if not a.startswith("--")]

    from posting_lines_spark.queries import load_all

    registry = load_all()
    if listing:
        for name, spec in sorted(registry.items()):
            print(f"{name:36s} {spec.description[:90]}")
        return 0

    if not args:
        print(__doc__)
        return 2
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else SF_DEFAULT
    if name not in registry:
        import difflib

        close = difflib.get_close_matches(name, registry, n=5)
        print(f"unknown query {name!r}; did you mean: {close}")
        return 2

    from posting_lines_spark.session import get_spark

    spark = get_spark(app=f"run_{name}")
    df = registry[name].fn(spark, sf_dir)
    if explain:
        df.explain("formatted")
        return 0
    # queries return unordered multisets; order what is shown by every
    # orderable output column so the printed prefix is deterministic
    df = df.orderBy(*[c for c, t in df.dtypes if not t.startswith("map<")])
    df.persist()  # show + count share one execution
    try:
        df.show(limit, truncate=False)
        print(f"({df.count()} rows total)")
    finally:
        df.unpersist()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
