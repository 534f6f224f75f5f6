"""IdempotentParquetSink keeps `_bid` only in the directory name. Sink
directories written before that also carry `_bid` inside the files; a
directory mixing both layouts must read back as if every batch had the
old layout."""

from __future__ import annotations

import json
import os

import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bento_spark.streaming.sink import IdempotentParquetSink
from perfbench import checks

COLS = ["k", "v", "s"]


def _batches(spark):
    # epoch 1 rewrites keys 2-3 and adds key 4: the merged read keeps its values
    return [
        spark.createDataFrame([(1, 10, "a"), (2, 20, "b"), (3, 30, "c")], COLS),
        spark.createDataFrame([(2, 21, "b2"), (3, 31, None), (4, 41, "d")], COLS),
    ]


def _write_with_bid_column(sink: IdempotentParquetSink, df, epoch: int) -> None:
    """A batch as the sink wrote it while `_bid` was also a column in the files."""
    df.withColumn("_bid", F.lit(epoch)).write.mode("overwrite").parquet(f"{sink.data_dir}/_bid={epoch}")
    with open(f"{sink.commit_dir}/{epoch}", "w") as f:
        f.write(json.dumps({"epoch": epoch, "rows": sink.spark_count(epoch), "qid": None}))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("old_epochs", [{0}, {1}])
def test_mixed_layout_reads_like_old_layout(spark, tmp_path, old_epochs):
    old = IdempotentParquetSink(str(tmp_path / "old"), key_cols=["k"])
    mixed = IdempotentParquetSink(str(tmp_path / "mixed"), key_cols=["k"])
    for epoch, df in enumerate(_batches(spark)):
        _write_with_bid_column(old, df, epoch)
        if epoch in old_epochs:
            _write_with_bid_column(mixed, df, epoch)
        else:
            mixed.write_batch(df, epoch)
    assert mixed.output_sent() == old.output_sent() == 6

    for merged in (False, True):
        want, got = old.read(spark, merged=merged), mixed.read(spark, merged=merged)
        assert got.columns == want.columns == COLS
        assert _rows(got) == _rows(want)
    assert _rows(mixed.read(spark)) == [(1, 10, "a"), (2, 21, "b2"), (3, 31, None), (4, 41, "d")]

    # the per-file pyarrow read the benchmark's output checks use
    for columns in (COLS, None):
        want, got = checks.committed(old.path, columns), checks.committed(mixed.path, columns)
        assert set(COLS) <= set(got.columns)
        assert sorted(got[COLS].itertuples(index=False)) == sorted(want[COLS].itertuples(index=False))


def test_new_layout_files_carry_no_bid(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    sink.write_batch(_batches(spark)[0], 5)
    d = f"{sink.data_dir}/_bid=5"
    files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
    assert files
    assert all(pq.read_schema(f).names == COLS for f in files)
    # Hive-partitioned readers get it back from the directory name (pyarrow
    # skips `_`-prefixed directories unless told not to)
    assert set(ds.dataset(sink.data_dir, partitioning="hive", ignore_prefixes=[".", "_SUCCESS"]).to_table().column("_bid").to_pylist()) == {5}
    assert spark.read.parquet(sink.data_dir).select("_bid").distinct().collect()[0][0] == 5
