"""Compiler wave-2: scanner inputs (csv/json/lines/broker), switch/fan_out
outputs, new processors (compress/grok/json_map/branch/workflow in YAML)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bento_spark.plans.compiler import Pipeline, compile_yaml
from bento_spark.streaming.sink import IdempotentParquetSink


def test_csv_json_lines_inputs(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "s"])
    df.coalesce(1).write.option("header", True).csv(str(tmp_path / "c"))
    df.coalesce(1).write.json(str(tmp_path / "j"))
    spark.createDataFrame([("x y",), ("z w",)], ["value"]).coalesce(1).write.text(str(tmp_path / "t"))

    got_csv = compile_yaml(
        f'input: {{csv: {{path: {tmp_path}/c, schema: "id int, s string", header: true}}}}'
    ).build_batch(spark)
    assert {r.id for r in got_csv.collect()} == {1, 2}

    got_json = compile_yaml(f"input: {{json: {{path: {tmp_path}/j}}}}").build_batch(spark)
    assert {r.s for r in got_json.collect()} == {"a", "b"}

    got_lines = compile_yaml(f"input: {{lines: {{path: {tmp_path}/t}}}}").build_batch(spark)
    assert set(got_lines.columns) == {"line"}
    assert {r.line for r in got_lines.collect()} == {"x y", "z w"}


def test_broker_fan_in_input(spark, tmp_path):
    spark.createDataFrame([(1,)], ["id"]).write.json(str(tmp_path / "a"))
    spark.createDataFrame([(2,)], ["id"]).write.json(str(tmp_path / "b"))
    got = compile_yaml(
        f"""
input:
  broker:
    inputs:
      - {{json: {{path: {tmp_path}/a}}}}
      - {{json: {{path: {tmp_path}/b}}}}
"""
    ).build_batch(spark)
    assert sorted(r.id for r in got.collect()) == [1, 2]


def test_output_switch_routing(spark, tmp_path):
    src = str(tmp_path / "src")
    Pipeline.stage_clips(spark, src, 60)
    p = compile_yaml(
        f"""
input:
  parquet: {{path: {src}}}
output:
  switch:
    - {{check: "this.sr_hz == 8000", path: {tmp_path}/low}}
    - {{check: "this.dur_ms > 5000", path: {tmp_path}/long}}
  default: {tmp_path}/rest
"""
    )
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(90)
    low = IdempotentParquetSink(str(tmp_path / "low")).read(spark)
    rest = IdempotentParquetSink(str(tmp_path / "rest")).read(spark)
    assert low.count() == 15  # sr cycle: every 4th clip is 8000
    assert low.filter(F.col("sr_hz") != 8000).count() == 0
    # first-match-wins: no 8000-sr rows in later sinks
    assert rest.filter(F.col("sr_hz") == 8000).count() == 0
    long_s = IdempotentParquetSink(str(tmp_path / "long")).read(spark)
    assert long_s.filter(F.col("sr_hz") == 8000).count() == 0
    assert low.count() + rest.count() + long_s.count() == 60


def test_output_fan_out(spark, tmp_path):
    src = str(tmp_path / "src")
    Pipeline.stage_clips(spark, src, 20)
    p = compile_yaml(
        f"""
input:
  parquet: {{path: {src}}}
output:
  fan_out: [{tmp_path}/s1, {tmp_path}/s2]
"""
    )
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(90)
    for s in ("s1", "s2"):
        assert IdempotentParquetSink(str(tmp_path / s)).read(spark).count() == 20


def test_yaml_processors_wave2(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, '{"a": {"b": 7}}', "level=ERROR msg=boom")], ["id", "body", "logline"]
    )
    df.write.json(str(tmp_path / "in"))
    p = compile_yaml(
        f"""
input:
  json: {{path: {tmp_path}/in, schema: "id int, body string, logline string"}}
pipeline:
  processors:
    - json_map:
        column: body
        fields:
          ab: {{path: a.b, type: int}}
    - grok: {{column: logline, pattern: "level=%{{LOGLEVEL:lvl}} msg=%{{WORD:msg}}"}}
    - branch:
        request_map: {{doubled: "this.ab * 2"}}
        result_map: {{ab2: "this.doubled + 1"}}
    - workflow:
        branches:
          - {{name: s2, result_map: {{f: "this.e * 10"}}, depends_on: [s1]}}
          - {{name: s1, result_map: {{e: "this.ab2 + this.ab"}}}}
"""
    )
    row = p.build_batch(spark).collect()[0]
    assert (row.ab, row.lvl, row.msg, row.ab2, row.e, row.f) == (7, "ERROR", "boom", 15, 22, 220)


def test_yaml_compress_decompress(spark, tmp_path):
    src = str(tmp_path / "src")
    Pipeline.stage_clips(spark, src, 8)
    p = compile_yaml(
        f"""
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - compress: {{column: bytes, out: gz, algorithm: zlib}}
    - decompress: {{column: gz, out: back, algorithm: zlib}}
"""
    )
    out = p.build_batch(spark).withColumn("ok", F.col("back") == F.col("bytes"))
    assert all(r.ok for r in out.collect())


def test_yaml_stream_stream_join(spark, tmp_path):
    """Full north-rule pipeline from YAML: clip stream ⋈ transcript stream
    with watermark + event-time bound, windowed agg, exactly-once sink."""
    from bento_spark.audio.generate import clips_df

    base = clips_df(spark, 120, partitions=2)
    cdir, tdir = str(tmp_path / "c"), str(tmp_path / "t")
    base.select("clip_id", "sr_hz", "dur_ms", "codec", "event_ts").write.parquet(cdir)
    base.select(
        "clip_id",
        "transcript",
        (F.col("event_ts") + F.expr("INTERVAL 2 SECONDS")).alias("t_event_ts"),
    ).write.parquet(tdir)

    p = compile_yaml(
        f"""
input:
  parquet:
    path: {cdir}
    schema: "clip_id string, sr_hz int, dur_ms int, codec string, event_ts timestamp"
join:
  right:
    parquet:
      path: {tdir}
      schema: "clip_id string, transcript string, t_event_ts timestamp"
  key: clip_id
  watermark: 5 seconds
  max_lag: 10 seconds
output:
  path: {tmp_path}/out
  keys: [clip_id]
"""
    )
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = p.sink.read(spark)
    assert got.count() == 120  # every clip matched its transcript
    assert "transcript" in got.columns
    # transcripts exactly equal to source (north-rule invariant)
    src_txt = {r.clip_id: r.transcript for r in base.select("clip_id", "transcript").collect()}
    for r in got.select("clip_id", "transcript").collect():
        assert r.transcript == src_txt[r.clip_id]


def test_output_round_robin(spark, tmp_path):
    src = str(tmp_path / "rr_src")
    Pipeline.stage_clips(spark, src, 40)
    p = compile_yaml(
        f"""
input:
  parquet: {{path: {src}}}
output:
  round_robin:
    - {tmp_path}/lane0
    - {tmp_path}/lane1
"""
    )
    q = p.run_stream(spark, checkpoint=str(tmp_path / "rr_ckpt"))
    q.awaitTermination(90)
    a = IdempotentParquetSink(str(tmp_path / "lane0")).read(spark).count()
    b = IdempotentParquetSink(str(tmp_path / "lane1")).read(spark).count()
    assert a + b == 40 and a > 0 and b > 0


def test_window_dlq_takes_any_output(spark, tmp_path):
    """window + output.dlq on a switch output runs as one query: errored
    rows reach the DLQ before the window, and each closed window of the
    clean rows reaches the first case that matches it."""
    import pandas as pd

    src = str(tmp_path / "wd_src")
    Pipeline.stage_clips(spark, src, 300)  # 100 ms apart: two windows close
    p = compile_yaml(
        f"""
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - set_error: {{when: "this.sr_hz == 8000", message: "low sr"}}
window:
  type: tumbling
  size: 10 seconds
  keys: [codec]
  lateness: 2 seconds
  aggs: {{n: "count()"}}
output:
  switch:
    - {{check: 'this.codec == "wav"', path: {tmp_path}/w_wav}}
  default: {tmp_path}/w_rest
  dlq: {tmp_path}/w_dlq
"""
    )
    n_active = len(spark.streams.active)
    q = p.run_stream(spark, checkpoint=str(tmp_path / "wd_ck"))
    assert len(spark.streams.active) == n_active + 1
    assert q.awaitTermination(120) and q.exception() is None

    pdf = spark.read.parquet(src).toPandas()
    dlq = IdempotentParquetSink(str(tmp_path / "w_dlq")).read(spark).toPandas()
    assert sorted(dlq["clip_id"]) == sorted(pdf.loc[pdf["sr_hz"] == 8000, "clip_id"])
    assert (dlq["error"] == "low sr").all()

    watermark = pd.Timestamp(q.lastProgress["eventTime"]["watermark"]).tz_localize(None)
    clean = pdf[pdf["sr_hz"] != 8000].assign(
        window_start=pd.to_datetime(pdf["event_ts"]).dt.floor("10s"))
    want = clean.groupby(["window_start", "codec"]).size().reset_index(name="n")
    want = want[want["window_start"] + pd.Timedelta(seconds=10) <= watermark]
    assert len(want) == 6
    wav, rest = (IdempotentParquetSink(str(tmp_path / d)).read(spark).toPandas()
                 for d in ("w_wav", "w_rest"))
    assert set(wav["codec"]) == {"wav"} and "wav" not in set(rest["codec"])
    got = pd.concat([wav, rest])[["window_start", "codec", "n"]]
    got["window_start"] = pd.to_datetime(got["window_start"])
    key = ["window_start", "codec"]
    pd.testing.assert_frame_equal(got.sort_values(key).reset_index(drop=True),
                                  want.sort_values(key).reset_index(drop=True), check_dtype=False)


@pytest.mark.parametrize("output", [
    "fallback: [OUT/a, OUT/b]",
    'switch:\n    - {check: "this.dur_ms > 5000", path: OUT/a}\n  default: OUT/b',
], ids=["fallback", "switch"])
def test_output_dlq_wraps_any_output(spark, tmp_path, output):
    """output.dlq is the reference's reject_errored around whatever output
    the map names: errored rows land only in the DLQ, clean rows only in
    the output's sinks."""
    src = str(tmp_path / "src")
    Pipeline.stage_clips(spark, src, 40)
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - set_error: {{when: "this.sr_hz == 8000", message: "low sr"}}
output:
  {output.replace("OUT", str(tmp_path))}
  dlq: {tmp_path}/dlq
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
    assert q.awaitTermination(90) and q.exception() is None
    dlq = IdempotentParquetSink(str(tmp_path / "dlq")).read(spark)
    assert dlq.count() == 10  # sr cycle: every 4th clip is 8000
    assert dlq.filter((F.col("sr_hz") != 8000) | F.col("error").isNull()).count() == 0
    clean = [r for s in p._case_sinks if s.committed_ids() for r in s.read(spark).collect()]
    assert len(clean) == 30
    assert all(r.sr_hz != 8000 and r.error is None for r in clean)


def test_generate_input_batch_and_stream(spark):
    p = compile_yaml(
        """
input:
  generate:
    count: 10
    mapping: |
        root.k = this.id % 3
        root.msg = "n-%d".format(this.id)
"""
    )
    rows = p.build_batch(spark).orderBy("id").collect()
    assert len(rows) == 10 and rows[4].k == 1 and rows[4].msg == "n-4"
    s = compile_yaml(
        "input:\n  generate: {interval: 100ms, mapping: 'root.k = this.id % 2'}\n"
    ).build_stream(spark)
    assert s.isStreaming and "k" in s.columns


def test_generate_stream_schema_parity_and_pacing(spark):
    """Streaming generate: schema matches batch (id only + mapped cols, no
    rate timestamp), count bounds rows, long intervals pace by Nth-row."""
    s = compile_yaml(
        "input:\n  generate: {interval: 2s, count: 5, mapping: 'root.k = this.id % 2'}\n"
    ).build_stream(spark)
    assert s.isStreaming and sorted(s.columns) == ["id", "k"]
    plan = s._sc._jvm.PythonSQLUtils.explainString(s._jdf.queryExecution(), "formatted")
    assert "% 2" in plan  # the mapping reached the streaming plan
