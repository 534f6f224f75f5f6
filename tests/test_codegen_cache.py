"""Each distinct generated class compiles once per session: the codegen
cache holds more than one pass of many small plans, and the exactly-once
sink's generated code does not change with the epoch id."""

from __future__ import annotations

from bento_spark.session import codegen_compiles
from bento_spark.streaming.sink import IdempotentParquetSink

# more distinct plans than Spark's default cache (100 entries) holds
N_QUERIES = 120


def test_second_pass_over_many_plans_compiles_nothing(spark):
    def one_pass():
        c0 = codegen_compiles(spark)
        # int literals are inlined into the generated code: every i is a
        # distinct class
        for i in range(N_QUERIES):
            assert spark.range(10).selectExpr(f"id * {i} AS x").collect()[3].x == 3 * i
        return codegen_compiles(spark) - c0

    assert one_pass() >= N_QUERIES
    assert one_pass() == 0


def test_sink_epochs_share_generated_code(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    df = spark.range(6).selectExpr("id AS k", "id * 7 AS v")
    sink.write_batch(df, 0)
    c0 = codegen_compiles(spark)
    sink.write_batch(df, 1)
    assert codegen_compiles(spark) - c0 == 0
    assert sink.committed_ids() == [0, 1]
    assert sorted(sink.read(spark).collect()) == sorted(df.collect() * 2)
