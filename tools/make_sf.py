"""Scale-up generator for the sf1 scaling measurement (round-3 verdict
#2): replicates an existing sf dir N× with disjoint key spaces, writing
to a repo-local dir (testdata itself is read-only).

    python tools/make_sf.py path/to/sf0.1 .benchdata/sf1 10

Replication rules (per replica i, key offset i·10⁹):
- every entity/foreign key shifts by the SAME offset on both sides, so
  join fan-outs and group counts scale exactly linearly;
- region/nation are fixed dimensions (real TPC-H keeps them constant
  across SF) — copied once, and c_nationkey/s_nationkey stay unshifted;
- documents text is word-salted per replica (identical transform within
  a replica): near-dup/exact-dup STRUCTURE replicates — without the
  salt every doc would gain 10 exact copies and the pair graph would
  grow quadratically, a distribution change rather than a scale-up;
- embeddings/events values are kept verbatim (10× vectors per query,
  10× users ⇒ 10× sessions — linear work growth everywhere).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OFFSET = 10**9

# table -> columns shifted by replica offset
SHIFT = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY = ["region", "nation"]


def main() -> int:
    from pyspark.sql import functions as F

    from posting_lines_spark.session import get_spark

    argv = list(sys.argv[1:])
    tables: list[str] | None = None
    offset = OFFSET
    if "--tables" in argv:
        i = argv.index("--tables")
        tables = argv[i + 1].split(",")
        del argv[i : i + 2]
    if "--offset" in argv:
        # scaling an ALREADY-SCALED dir (second decade): the offset must
        # exceed the max key in the source or replicas collide — e.g.
        # sf1 keys reach 9·10⁹+, so sf1→sf10 needs --offset 1e10+
        i = argv.index("--offset")
        offset = int(float(argv[i + 1]))
        del argv[i : i + 2]
    src, dst, n = argv[0], argv[1], int(argv[2])
    shift = {t: k for t, k in SHIFT.items() if tables is None or t in tables}
    copy = [t for t in COPY if tables is None or t in tables]
    spark = get_spark(app="make_sf")
    for t in copy:
        spark.read.parquet(f"{src}/{t}.parquet").write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )
        print(f"{t}: copied")
    for t, keys in shift.items():
        base = spark.read.parquet(f"{src}/{t}.parquet")
        parts = []
        for i in range(n):
            rep = base
            for k in keys:
                rep = rep.withColumn(k, (F.col(k) + F.lit(i * offset)).cast("long"))
            if t == "documents" and i > 0:
                # salt every word so replicas are not cross-replica
                # (near-)duplicates; within-replica dup structure is
                # preserved because the transform is doc-independent
                rep = rep.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", f"r{i}$1")
                )
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(max(4, n * 2)).write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )
        rows = spark.read.parquet(f"{dst}/{t}.parquet").count()
        print(f"{t}: {rows} rows ({n}x)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
