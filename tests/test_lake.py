"""Lake-layout semantics the oracle can't see: pruning must actually
skip files, and the evolved read must NULL-fill old batches."""

from __future__ import annotations

import datetime
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF0001


def test_manifest_prune_skips_files_and_is_sound(spark):
    from posting_lines_spark.queries.lake_q import file_manifest, prune_files
    from posting_lines_spark.sources import load_table

    o = load_table(spark, SF0001, "orders")
    path = tempfile.mkdtemp(prefix="pls_manifest_t_")
    o.repartitionByRange(8, "o_orderdate").write.mode("overwrite").parquet(path)
    full = spark.read.parquet(path)
    manifest = file_manifest(full, "o_orderdate").collect()
    assert len(manifest) == 8  # one stats row per file

    lo, hi = datetime.datetime(1995, 1, 1), datetime.datetime(1995, 12, 31)
    files = prune_files(manifest, lo, hi)
    # one year of a 7-year uniform range clustered into 8 files → must skip
    assert 0 < len(files) < 8

    pred = F.col("o_orderdate").between(F.lit("1995-01-01"), F.lit("1995-12-31"))
    n_pruned = spark.read.parquet(*files).filter(pred).count()
    n_full = full.filter(pred).count()
    assert n_pruned == n_full  # pruning never drops a matching row


def test_schema_evolution_null_fills_old_batch(spark):
    from posting_lines_spark.queries.lake_q import schema_evolution_read

    rows = {r.batch: r for r in schema_evolution_read(spark, SF0001).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_priced == 0  # column didn't exist in batch 1
    assert rows[2].n_priced == rows[2].n_rows  # fully populated in batch 2
    assert rows[1].price_sum == 0.0


def test_bloom_manifest_prunes_absent_key(spark):
    """Deterministic data + md5 positions ⇒ fixed outcome: a custkey that
    does not occur anywhere must prune at least one file (in practice
    nearly all — fpp ≈ (1-e^(-2n/m))² per file), and a present key must
    keep every file that holds its rows (no false negatives: the kept
    rowcount equals the unpruned filter)."""
    import tempfile

    from pyspark.sql import functions as F

    from posting_lines_spark.queries.lake_q import (
        bloom_probe_files,
        file_bloom_manifest,
    )
    from posting_lines_spark.sources import load_table
    from tests.conftest import SF0001

    o = load_table(spark, SF0001, "orders")
    path = tempfile.mkdtemp(prefix="pls_bloomtest_")
    o.repartitionByRange(4, "o_orderdate").write.mode("overwrite").parquet(path)
    full = spark.read.parquet(path)
    manifest = file_bloom_manifest(full, "o_custkey").localCheckpoint(eager=False)
    n_files = manifest.select("file").distinct().count()

    def kept(key):
        return bloom_probe_files(manifest, str(key))

    absent = 10_000_000  # far outside the custkey domain
    assert full.filter(F.col("o_custkey") == absent).count() == 0
    assert len(kept(absent)) < n_files, "absent key pruned nothing"

    present = 7
    want = full.filter(F.col("o_custkey") == present).count()
    assert want > 0
    got = (
        spark.read.parquet(*kept(present))
        .filter(F.col("o_custkey") == present)
        .count()
    )
    assert got == want, "bloom pruning dropped real rows (false negative?)"


def test_targeted_delete_rewrites_only_matching_files(spark):
    """The deletion contract: files whose [min,max] can't contain the
    erased keys are returned as the PHYSICAL originals (same paths, never
    rewritten), matching files lose exactly the matching rows."""
    import tempfile

    from pyspark.sql import functions as F

    from posting_lines_spark.queries.lake_q import file_manifest, targeted_delete
    from posting_lines_spark.sources import load_table
    from tests.conftest import SF0001

    o = load_table(spark, SF0001, "orders")
    path = tempfile.mkdtemp(prefix="pls_deltest_")
    o.repartitionByRange(8, "o_custkey").write.mode("overwrite").parquet(path)
    keys = [7]
    table, n_files, n_rewritten = targeted_delete(spark, path, "o_custkey", keys)
    assert n_files == 8
    assert 1 <= n_rewritten < n_files, "delete should touch few files, not all"
    # logical result = anti-filter
    want = o.filter(~F.col("o_custkey").isin(keys)).count()
    assert table.count() == want
    assert table.filter(F.col("o_custkey").isin(keys)).count() == 0
    # the source dir is never mutated: originals still hold the key (the
    # swap-in of untouched ∪ rewritten is the table-format commit's job),
    # and the untouched file set really is the non-matching manifest rows
    assert spark.read.parquet(path).filter(F.col("o_custkey").isin(keys)).count() > 0
    hits = [
        r.file
        for r in file_manifest(spark.read.parquet(path), "o_custkey").collect()
        if r.min_v <= keys[0] <= r.max_v
    ]
    assert len(hits) == n_rewritten


def test_targeted_delete_preserves_null_key_rows(spark):
    """NULL keys never match a delete predicate; they must survive the
    rewrite exactly as identical rows in untouched files do (round-3
    advice: bare ~isin() is NULL for NULL input → silent drop)."""
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from posting_lines_spark.queries.lake_q import targeted_delete

    rows = [(i if i % 5 else None, f"v{i}") for i in range(100)]
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), True),
            T.StructField("v", T.StringType(), False),
        ]
    )
    path = tempfile.mkdtemp(prefix="pls_delnull_")
    spark.createDataFrame(rows, schema).repartition(4).write.mode(
        "overwrite"
    ).parquet(path)
    n_null = sum(1 for k, _ in rows if k is None)
    keys = [7, 13]
    table, _, n_rewritten = targeted_delete(spark, path, "k", keys)
    assert n_rewritten >= 1
    assert table.filter(F.col("k").isin(keys)).count() == 0
    assert table.filter(F.col("k").isNull()).count() == n_null
    assert table.count() == len(rows) - len(keys)


@pytest.fixture(scope="module")
def hilbert_layouts(spark):
    """Both Hilbert-write layouts written once, the source rows, and
    their occupied (cx, cy) extent at sf0.001."""
    from posting_lines_spark.queries.lake_q import _hilbert_rows_sql, _hilbert_write_layouts
    from posting_lines_spark.sources import load_table

    load_table(spark, SF0001, "lineitem").createOrReplaceTempView("lineitem")
    rows = spark.sql(_hilbert_rows_sql())
    ext = rows.agg(F.min("cx"), F.max("cx"), F.min("cy"), F.max("cy")).first()
    return _hilbert_write_layouts(spark, SF0001), rows, tuple(ext)


@pytest.mark.parametrize(
    "bbox_name", ["corner", "edge_strip", "center", "HILB_BBOX", "full_extent"]
)
def test_hilbert_clustered_write_prunes_more_files(spark, hilbert_layouts, bbox_name):
    """The write-side clustering claim with actual counts, over predicate
    shapes from the occupied extent: for every bbox the pruned scan of
    the Hilbert range-clustered layout loses no rows, and for the
    registered HILB_BBOX it keeps strictly fewer files than the hash
    layout (whose every file spans the whole grid and so never prunes)."""
    from posting_lines_spark.queries.lake_q import HILB_BBOX, HILB_FILES, _bbox_kept_files

    (p_clustered, p_hashed), rows, (cx0, cx1, cy0, cy1) = hilbert_layouts
    mx, my = (cx0 + cx1) // 2, (cy0 + cy1) // 2
    bbox = {
        "corner": (cx0, cx0 + 1, cy0, cy0 + 1),
        "edge_strip": (cx0, cx1, cy0, cy0),
        "center": (mx - 1, mx + 1, my - 1, my + 1),
        "HILB_BBOX": HILB_BBOX,
        "full_extent": (cx0, cx1, cy0, cy1),
    }[bbox_name]
    cx_lo, cx_hi, cy_lo, cy_hi = bbox
    pred = F.col("cx").between(cx_lo, cx_hi) & F.col("cy").between(cy_lo, cy_hi)
    keep_c = _bbox_kept_files(spark, p_clustered, bbox)
    # soundness: pruned scan count == full filter count for the same bbox
    pruned = spark.read.parquet(*keep_c).filter(pred).count() if keep_c else 0
    assert pruned == rows.filter(pred).count(), (bbox, len(keep_c))
    if bbox_name == "HILB_BBOX":
        n_hashed = len(_bbox_kept_files(spark, p_hashed, bbox))
        # hash layout: every file spans the grid → bbox overlaps all 16
        assert n_hashed == HILB_FILES
        assert 0 < len(keep_c) < n_hashed, (len(keep_c), n_hashed)


def test_vacuum_orphans_counts(spark):
    """8 registered files, orphan rows == the uncommitted filter's
    exact count, registered rows == the full table."""
    import pyarrow.parquet as pq

    from posting_lines_spark.queries import load_all
    from posting_lines_spark.queries.lake_q import VAC_FILES, VAC_ORPHAN_MOD

    got = load_all()["lake_vacuum_orphans"].fn(spark, SF0001).collect()[0]
    orders = pq.read_table(SF0001 + "/orders.parquet").to_pylist()
    want_orphans = sum(1 for r in orders if r["o_orderkey"] % VAC_ORPHAN_MOD == 0)
    assert got["n_registered"] == VAC_FILES
    assert got["orphan_rows"] == want_orphans
    assert got["registered_rows"] == len(orders)
