"""OPTIMIZE maintenance on the txlog: compaction and Z-order clustering."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bigdataingestion_spark.sinks.txlog import TxLogTable


def _live_files(t):
    """Absolute paths of the files the current snapshot reads (rewritten
    files stay on disk for time travel until vacuum)."""
    return [os.path.join(t.path, f) for f in t.snapshot().files]


def _bytes_per_file(t, n_files):
    """``target_file_bytes`` that makes a full rewrite emit ``n_files``."""
    size = sum(os.path.getsize(f) for f in _live_files(t))
    return -(-size // n_files)


def _col_span(f, col_idx):
    meta = pq.ParquetFile(f).metadata
    stats = [
        meta.row_group(i).column(col_idx).statistics
        for i in range(meta.num_row_groups)
    ]
    return min(s.min for s in stats), max(s.max for s in stats)


def test_compact_reduces_file_count(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "many"))
    t.append(spark.range(10_000).repartition(20))
    assert len(t.snapshot().files) == 20
    before = t.read(spark).agg(F.sum("id")).first()[0]
    t.compact(spark)
    assert len(t.snapshot().files) == 1
    assert t.read(spark).agg(F.sum("id")).first()[0] == before


def test_compact_zorder_one_key_sorts_by_key(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "clustered"))
    df = spark.range(10_000).select(
        (F.col("id") * 2654435761 % 10_000).alias("key"), F.col("id").alias("v")
    )
    t.append(df.repartition(8))
    t.compact(spark, target_file_bytes=_bytes_per_file(t, 4), zorder_by=["key"])
    out = t.read(spark)
    assert out.count() == 10_000
    assert out.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]
    # range clustering: per-file key ranges must be disjoint
    spans = sorted(_col_span(f, 0) for f in _live_files(t))
    assert len(spans) > 1
    overlaps = sum(
        1 for (a, b) in zip(spans, spans[1:]) if a[1] > b[0]
    )
    assert overlaps == 0, f"file key ranges overlap: {spans}"


def test_zorder_compact_narrows_both_dims(spark, tmp_path):
    # two independent uniform dims: x = hashed order, y = reversed digits
    df = spark.range(20_000).select(
        (F.col("id") * 2654435761 % 20_000).cast("double").alias("x"),
        (F.col("id") % 97).cast("double").alias("y"),
        F.col("id").alias("v"),
    )
    t = TxLogTable(str(tmp_path / "z"))
    t.append(df.repartition(8))

    def mean_span_frac(col_idx, lo_g, hi_g):
        fracs = []
        for f in _live_files(t):
            lo, hi = _col_span(f, col_idx)
            fracs.append((hi - lo) / (hi_g - lo_g))
        return sum(fracs) / len(fracs)

    # unsorted baseline: every file spans ~the full range on both dims
    assert mean_span_frac(0, 0, 19999) > 0.9
    assert mean_span_frac(1, 0, 96) > 0.9

    t.compact(
        spark, target_file_bytes=_bytes_per_file(t, 16), zorder_by=["x", "y"]
    )
    out = t.read(spark)
    assert out.count() == 20_000
    assert out.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]
    # z-ordered: BOTH dims' per-file spans shrink well below the global span
    zx = mean_span_frac(0, 0, 19999)
    zy = mean_span_frac(1, 0, 96)
    assert zx < 0.5, zx
    assert zy < 0.5, zy


def test_zorder_skewed_column_stays_balanced(spark, tmp_path):
    """90% of x mass on one value: rank-based (approxQuantile) boundaries
    collapse x's hot buckets, but the interleaved y bits still spread rows
    so no output file becomes a hot blob."""
    df = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, 0.0)
        .otherwise((F.col("id") % 1000).cast("double"))
        .alias("x"),
        (F.col("id") % 251).cast("double").alias("y"),
        F.col("id").alias("v"),
    )
    t = TxLogTable(str(tmp_path / "zskew"))
    t.append(df.repartition(4))
    t.compact(
        spark, target_file_bytes=_bytes_per_file(t, 8), zorder_by=["x", "y"]
    )
    out = t.read(spark)
    assert out.count() == 10_000
    assert out.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]
    rows_per_file = [
        pq.ParquetFile(f).metadata.num_rows for f in _live_files(t)
    ]
    assert max(rows_per_file) < 10_000 * 0.5, rows_per_file


def test_auto_compact_triggers_on_small_file_threshold(spark, tmp_path):
    """auto.compact.min.files: after a write leaves >= N small files, an
    incremental compact runs post-commit; unset, nothing happens."""
    t = TxLogTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(0, "x")], ["id", "v"]).coalesce(1))
    t.alter_properties({"auto.compact.min.files": "5"})
    for i in range(1, 4):
        t.append(
            spark.createDataFrame([(i, "x")], ["id", "v"]).coalesce(1)
        )
    assert len(t.snapshot().files) == 4  # below threshold: untouched
    assert not any(e["op"] == "compact" for e in t.history())
    t.append(spark.createDataFrame([(9, "x")], ["id", "v"]).coalesce(1))
    # the 5th small file crossed the threshold: ONE compacted file now
    assert t.history()[-1]["op"] == "compact"
    assert len(t.snapshot().files) == 1
    assert t.read(spark).count() == 5

    # opt-out: unset the property, fragmentation accumulates again
    t.alter_properties({"auto.compact.min.files": None})
    for i in range(10, 16):
        t.append(
            spark.createDataFrame([(i, "x")], ["id", "v"]).coalesce(1)
        )
    assert len(t.snapshot().files) == 7
