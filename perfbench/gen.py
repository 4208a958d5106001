"""Seeded input generator.

Every workload reads a directory laid out like a testdata scale dir
(one `<table>.parquet` file per table). The generator derives it from
the sf0.1 source tables (`$PERFBENCH_SOURCE`, default
`~/testdata/sf0.1`, see TESTDATA.md) and never downloads anything.

The seed changes values, never structure:
- entity keys shift by a seed-derived multiple of 10**6, so every
  `key % m` the derivations use (plans/ais.py, m | 1000) is unchanged and
  join fan-outs, group counts and the duration-0 / needs_geom splits
  repeat exactly;
- document text gets a seed-derived word salt (the per-replica salt of
  tools/make_sf.py), so shingle hashes change while every Jaccard
  similarity stays the same; `doc_id` is not shifted because the dedup
  queries split the corpus at `doc_id` 100000;
- embeddings are copied verbatim: `sim_topk_ivf` picks fixed query ids.

`lineitem` for the AIS workload is a shipdate window replicated with
disjoint key spaces (replica i adds i * 10**6 on top of the seed's
offset), in the style of tools/make_sf.py: more segments per day, so the
enrichment kernel has work to do, while the day-partitioned write stays
at one file per day of the window.

Generated dirs are cached by (workload, seed, generator version) under
the checkout's `.perfbench/inputs`; only the newest few are kept.
"""

from __future__ import annotations

import hashlib
import os
import pwd
import shutil
import time
from datetime import datetime

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# the account's home from the password database, so a HOME pointed
# elsewhere (e.g. at the checkout) still finds the source tables
SOURCE = os.environ.get("PERFBENCH_SOURCE") or os.path.join(
    pwd.getpwuid(os.getuid()).pw_dir, "testdata", "sf0.1")
KEEP = 4  # generated dirs kept per workload
with open(__file__, "rb") as _fh:
    VERSION = hashlib.sha1(_fh.read()).hexdigest()[:8]  # a changed recipe misses the cache

# table -> key columns shifted by the seed's offset (and each replica's)
SHIFT = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": [],
    "embeddings": [],
}

# (workload, table) -> (column, low, high, replicas): a half-open range on
# source values, then that many key-shifted copies. The AIS window holds
# REFRESH_SINCE (1995-06-17, queries/pipeline_q.py) so both refresh
# populations stay non-empty; the near-dup ranges keep the iterative
# queries at a size a run can repeat (doc_id < 500 keeps the 100000
# near-copy split, which the queries derive inline).
SUBSET = {
    ("ais_batch", "lineitem"): ("l_shipdate", datetime(1995, 4, 1), datetime(1995, 8, 1), 4),
    ("near_dup", "lineitem"): ("l_orderkey", 0, 10000, 1),
    ("near_dup", "documents"): ("doc_id", 0, 500, 1),
}


def key_offset(seed: int) -> int:
    return (1 + seed % 9973) * 10**6 * 64


def word_salt(seed: int) -> str:
    """Three lower-case letters: tokenizers that split on non-letters
    still see one token per salted word."""
    n = seed % 26**3
    return "".join(chr(ord("a") + (n // 26**i) % 26) for i in range(3))


def _shift(t: pa.Table, cols: list[str], off: int) -> pa.Table:
    for col in cols:
        i = t.schema.get_field_index(col)
        t = t.set_column(i, col, pc.add(t[col], pa.scalar(off, t.schema.field(col).type)))
    return t


def _derive(workload: str, table: str, seed: int) -> pa.Table:
    t = pq.read_table(os.path.join(SOURCE, f"{table}.parquet"))
    replicas = 1
    if (workload, table) in SUBSET:
        col, lo, hi, replicas = SUBSET[workload, table]
        t = t.filter(pc.and_(pc.greater_equal(t[col], lo), pc.less(t[col], hi)))
    off = key_offset(seed)
    t = pa.concat_tables([_shift(t, SHIFT[table], off + i * 10**6) for i in range(replicas)])
    if table == "documents":
        text = pc.replace_substring_regex(t["text"], r"(\S+)", word_salt(seed) + r"\1")
        t = t.set_column(t.schema.get_field_index("text"), "text", text)
        n_chars = pc.cast(pc.utf8_length(text), pa.int64())
        t = t.set_column(t.schema.get_field_index("n_chars"), "n_chars", n_chars)
    return t


def generate(root: str, workload: str, tables: list[str], seed: int) -> str:
    """Return the generated input dir for (workload, seed), building it
    on a cache miss. Prints rows and bytes of each table."""
    base = os.path.join(root, ".perfbench", "inputs")
    out = os.path.join(base, f"{workload}-s{seed}-{VERSION}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        t0 = time.perf_counter()
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name in tables:
            pq.write_table(_derive(workload, name, seed), os.path.join(tmp, f"{name}.parquet"))
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        print(f"# generated {out} in {time.perf_counter() - t0:.2f}s", flush=True)
        _evict(base, workload)
    for name in tables:
        p = os.path.join(out, f"{name}.parquet")
        print(f"# input {name}: {input_rows(out, name)} rows, {os.path.getsize(p)} bytes",
              flush=True)
    return out


def _evict(base: str, workload: str) -> None:
    mine = [
        os.path.join(base, d)
        for d in os.listdir(base)
        if d.startswith(f"{workload}-s") and ".tmp" not in d
    ]
    mine.sort(key=os.path.getmtime, reverse=True)
    for d in mine[KEEP:]:
        shutil.rmtree(d, ignore_errors=True)


def input_rows(sf_dir: str, table: str) -> int:
    return pq.ParquetFile(os.path.join(sf_dir, f"{table}.parquet")).metadata.num_rows
