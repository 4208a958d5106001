"""Local mirror of the driver's correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` on DuckDB
against the same parquet, then compares row count, column names, and
values (order-insensitive, exact after query-side canonicalization —
stricter than a hash, and it prints the first differing row).

At a dir `tools/degeneracy_manifest.json` names, the same rows are also
checked against the query's degeneracy pin (`check_degeneracy.py`).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

SF_DEFAULT = "/root/testdata/sf0.01"


def canon(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v!r}"
    if isinstance(v, Decimal):
        return f"d:{v.normalize()}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, datetime):
        return f"t:{v.isoformat()}"
    if isinstance(v, date):
        return f"D:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return f"s:{v}"


def rows_canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def duck_views(sf_dir: str):
    """A DuckDB connection with the testdata tables at `sf_dir` as views."""
    import duckdb

    from posting_lines_spark.sources import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # Spark-layout table dirs (tools/make_sf.py output) need a glob
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from posting_lines_spark.session import get_spark
    from tools.check_degeneracy import SF_DIRS, check_profile, load_manifest, profile

    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else SF_DEFAULT
    only = [a for a in args if "/" not in a]

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = [n for n in only if n not in qs]
    if unknown:
        print(f"ERROR: unknown queries: {unknown}; known: {sorted(qs)}")
        return 2

    con = duck_views(sf_dir)
    spark = get_spark(app="check_oracle", cpus=os.cpu_count())

    # the degeneracy pins at this SF, if the manifest names the dir
    manifest = load_manifest()
    pins = manifest["queries"]
    real = os.path.realpath(sf_dir)
    label = next((k for k, d in manifest["sf_dirs"].items() if os.path.realpath(d) == real), None)
    failures = npinned = 0
    if label and set(pins) - set(qs):
        print(f"FAIL  degeneracy manifest has unregistered queries: {sorted(set(pins) - set(qs))}")
        failures += 1
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        # type audit (warning only): normalize both engines' type names and
        # flag derived-column divergence (e.g. INT vs BIGINT, HUGEINT)
        norm = {
            "bigint": "i64", "int64": "i64", "long": "i64",
            "integer": "i32", "int": "i32", "int32": "i32",
            "smallint": "i16", "tinyint": "i8", "hugeint": "i128",
            "double": "f64", "float": "f32", "real": "f32",
            "varchar": "str", "string": "str", "boolean": "bool",
            "date": "date", "timestamp": "ts", "timestamp_ns": "ts",
        }
        stypes = {f.name.lower(): norm.get(f.dataType.simpleString(), f.dataType.simpleString())
                  for f in sdf.schema.fields}
        try:
            dd = con.execute(f"DESCRIBE {oracles[name]}")
            dtypes = {r[0].lower(): norm.get(r[1].lower(), r[1].lower()) for r in dd.fetchall()}
            for c in stypes:
                if c in dtypes and stypes[c] != dtypes[c]:
                    print(f"  TYPE-WARN {name}.{c}: spark={stypes[c]} duckdb={dtypes[c]}")
        except Exception:  # noqa: BLE001 — DESCRIBE quirks never fail the gate
            pass
        status = []
        if len(srows) != len(drows):
            status.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            status.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not status:
            sc = rows_canon(srows, [c.lower() for c in scols])
            dc = rows_canon(drows, [c.lower() for c in dcols])
            if sc != dc:
                ndiff = sum(1 for a, b in zip(sc, dc) if a != b) + abs(len(sc) - len(dc))
                status.append(f"values differ ({ndiff} rows)")
                for a, b in zip(sc, dc):
                    if a != b:
                        status.append(f"  first diff:\n   spark : {a}\n   duckdb: {b}")
                        break
        # every query is pinned at the SF_DIRS SFs, only some at sf01
        if label in SF_DIRS or label in pins.get(name, {}):
            npinned += 1
            bad = check_profile(pins.get(name, {}).get(label), profile(srows, sdf.schema))
            if bad:
                status.append(f"degeneracy {label}: " + "; ".join(bad))
        if status:
            print(f"FAIL  {name}: " + "; ".join(status[:1]))
            for s in status[1:]:
                print(s)
            failures += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows, {len(scols)} cols ({time.time()-t0:.1f}s)")

    spark.stop()
    if label:
        print(f"\ndegeneracy pins checked at {label}: {npinned}")
    print(f"\n{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
