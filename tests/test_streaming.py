"""Structured Streaming tests: windows, watermark late-drop, stream-stream
join, exactly-once sink idempotence, checkpoint resume, metrics/lineage.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from bento_spark.audio.generate import CLIP_SCHEMA, clips_df
from bento_spark.streaming.checkpoint import on_local_fs
from bento_spark.streaming.joins import stream_stream_join
from bento_spark.streaming.metrics import BentoMetricsListener
from bento_spark.streaming.sink import IdempotentParquetSink, dlq_split_writer
from bento_spark.streaming.windows import session_windowed, sliding_windowed, tumbling_windowed

N_CLIPS = 240  # 100ms apart -> 24s of event time


@pytest.fixture(scope="module")
def clip_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("clips_src"))
    clips_df(spark, N_CLIPS, partitions=4).write.mode("overwrite").parquet(d)
    return d


def _read_stream(spark, path, max_files=None):
    r = spark.readStream.schema(CLIP_SCHEMA)
    if max_files:
        r = r.option("maxFilesPerTrigger", max_files)
    return r.parquet(path)


def _key_col(df):
    # window-agg key per north rule: keyed by clip_id (prefix groups ~32 keys)
    return df.withColumn("key", F.substring("clip_id", 11, 2))


def test_tumbling_window_stream_matches_batch(spark, clip_dir, tmp_path):
    stream = _key_col(_read_stream(spark, clip_dir))
    agg = tumbling_windowed(
        stream,
        "event_ts",
        "5 seconds",
        ["key"],
        {"n_clips": F.count(F.lit(1)), "total_ms": F.sum("dur_ms")},
        allowed_lateness="2 seconds",
    )
    sink = IdempotentParquetSink(str(tmp_path / "out"), key_cols=["window_start", "key"])
    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink.foreach_batch())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = _key_col(spark.read.parquet(clip_dir))
    golden = tumbling_windowed(
        batch, "event_ts", "5 seconds", ["key"], {"n_clips": F.count(F.lit(1)), "total_ms": F.sum("dur_ms")}
    )
    got = sink.read(spark).select("window_start", "key", "n_clips", "total_ms")
    # append-mode streams only emit watermark-closed windows; every emitted
    # row must match the batch golden exactly
    g = {(r.window_start, r.key): (r.n_clips, r.total_ms) for r in golden.collect()}
    emitted = got.collect()
    assert len(emitted) > 0
    for r in emitted:
        assert g[(r.window_start, r.key)] == (r.n_clips, r.total_ms)


def test_sliding_and_session_batch_semantics(spark, clip_dir):
    df = _key_col(spark.read.parquet(clip_dir))
    slid = sliding_windowed(df, "event_ts", "10 seconds", "5 seconds", ["key"], {"n": F.count(F.lit(1))})
    rows = slid.collect()
    # every event lands in exactly 2 sliding windows
    assert sum(r.n for r in rows) == 2 * N_CLIPS
    sess = session_windowed(df, "event_ts", "1 second", [], {"n": F.count(F.lit(1))})
    srows = sess.collect()
    # events are 100ms apart -> one merged session covering everything
    assert len(srows) == 1 and srows[0].n == N_CLIPS


def test_stream_stream_join_matches_batch(spark, tmp_path):
    base = clips_df(spark, 120, partitions=2)
    clipside = base.select("clip_id", "sr_hz", "dur_ms", "event_ts")
    # transcript arrives with deterministic per-row lag; every 13th row is
    # beyond the join bound (late-data fixture, FIXTURES.md F2)
    tsside = base.select(
        "clip_id",
        "transcript",
        F.when(
            (F.substring("clip_id", -2, 2).cast("int") % 13) == 0,
            F.col("event_ts") + F.expr("INTERVAL 120 SECONDS"),
        )
        .otherwise(F.col("event_ts") + F.expr("INTERVAL 3 SECONDS"))
        .alias("t_event_ts"),
    )
    cdir, tdir = str(tmp_path / "c"), str(tmp_path / "t")
    clipside.write.parquet(cdir)
    tsside.write.parquet(tdir)

    cs = spark.readStream.schema("clip_id string, sr_hz int, dur_ms int, event_ts timestamp").parquet(cdir)
    ts = spark.readStream.schema("clip_id string, transcript string, t_event_ts timestamp").parquet(tdir)
    joined = stream_stream_join(cs, ts, watermark="5 seconds", max_lag="30 seconds")
    sink = IdempotentParquetSink(str(tmp_path / "out"), key_cols=["clip_id"])
    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink.foreach_batch())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r.clip_id: r.transcript for r in sink.read(spark).collect()}
    golden = {
        r.clip_id: r.transcript
        for r in clipside.join(tsside, "clip_id")
        .filter(
            (F.col("t_event_ts") >= F.col("event_ts"))
            & (F.col("t_event_ts") <= F.col("event_ts") + F.expr("INTERVAL 30 SECONDS"))
        )
        .collect()
    }
    assert got == golden
    assert len(got) > 0
    # transcripts match exactly (north-rule invariant)
    base_txt = {r.clip_id: r.transcript for r in base.select("clip_id", "transcript").collect()}
    for cid, txt in got.items():
        assert txt == base_txt[cid]


def test_sink_idempotent_replay(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "s"), key_cols=["clip_id"])
    df = clips_df(spark, 10, partitions=1).select("clip_id", "dur_ms")
    sink.write_batch(df, 0)
    sink.write_batch(df, 0)  # replay of the same epoch: must be a no-op
    assert sink.read(spark).count() == 10
    sink.write_batch(df.withColumn("dur_ms", F.lit(-1)), 1)  # upsert epoch
    merged = sink.read(spark)
    assert merged.count() == 10
    assert all(r.dur_ms == -1 for r in merged.collect())


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Kill/resume: run on half the input, stop, add the rest, restart with
    the same checkpoint — output rows identical to a single run (no dups,
    no loss)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    all_clips = clips_df(spark, 100, partitions=1).select("clip_id", "dur_ms", "event_ts")
    all_clips.filter(F.col("clip_id") < "clip-000000000050").coalesce(1).write.parquet(src + "/p1")
    ckpt = str(tmp_path / "ckpt")
    sink = IdempotentParquetSink(str(tmp_path / "out"), key_cols=["clip_id"])

    def run():
        s = (
            spark.readStream.schema("clip_id string, dur_ms int, event_ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = (
            s.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink.foreach_batch())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    n1 = sink.read(spark).count()
    assert n1 == 50
    all_clips.filter(F.col("clip_id") >= "clip-000000000050").coalesce(1).write.parquet(src + "/p2")
    run()  # resume from checkpoint
    out = sink.read(spark)
    assert out.count() == 100
    assert out.select("clip_id").distinct().count() == 100


def test_checkpoint_on_local_fs_resolves_like_hadoop():
    # a path with no scheme takes fs.defaultFS's
    for path in ("/x", "file:/x", "file:///x", "ck/relative", "FILE:///x"):
        assert on_local_fs(path, "file:///"), path
    for path in ("hdfs://nn/x", "s3a://b/x", "gs://b/x", "abfss://c@a.dfs.core.windows.net/x"):
        assert not on_local_fs(path, "file:///"), path
    assert not on_local_fs("/x", "hdfs://nn")
    assert not on_local_fs("ck/relative", "hdfs://nn:8020")
    assert on_local_fs("file:///x", "hdfs://nn")


def test_dlq_routing(spark, tmp_path):
    df = clips_df(spark, 30, partitions=1).withColumn(
        "error",
        F.when(F.substring("clip_id", -1, 1).isin("3", "7"), F.lit("decode failed")),
    )
    main = IdempotentParquetSink(str(tmp_path / "main"))
    dlq = IdempotentParquetSink(str(tmp_path / "dlq"))
    writer = dlq_split_writer(main, dlq)
    writer(df, 0)
    n_err = df.filter(F.col("error").isNotNull()).count()
    assert dlq.read(spark).count() == n_err
    assert main.read(spark).count() == 30 - n_err
    assert main.read(spark).filter(F.col("error").isNotNull()).count() == 0


def test_metrics_listener_and_lineage(spark, clip_dir, tmp_path):
    listener = BentoMetricsListener()
    spark.streams.addListener(listener)
    try:
        s = _key_col(_read_stream(spark, clip_dir, max_files=2))
        agg = tumbling_windowed(
            s, "event_ts", "5 seconds", ["key"], {"n": F.count(F.lit(1))}, allowed_lateness="1 second"
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        import time

        time.sleep(2)  # listener delivery is async
        t = listener.totals()
        assert t["input_received"] == N_CLIPS
        assert t["batch_created"] >= 1
        lin = listener.lineage_rows()
        assert len(lin) >= 1
        assert all("start_offset" in r and "end_offset" in r for r in lin)
        listener.dump_json(str(tmp_path / "metrics.json"))
        assert os.path.getsize(str(tmp_path / "metrics.json")) > 0
    finally:
        spark.streams.removeListener(listener)


def test_round_robin_routing(spark, tmp_path):
    """round_robin spreads rows across sinks disjointly/completely, and the
    hash assignment is replay-stable (exactly-once on micro-batch retry)."""
    from bento_spark.streaming.sink import IdempotentParquetSink, route_outputs

    df = clips_df(spark, 60, partitions=2)
    sinks = [IdempotentParquetSink(str(tmp_path / f"rr{i}")) for i in range(3)]
    writer = route_outputs([(None, s) for s in sinks], mode="round_robin")
    writer(df, 0)
    parts = [set(r.clip_id for r in s.read(spark).select("clip_id").collect()) for s in sinks]
    assert sum(len(p) for p in parts) == 60
    assert set.union(*parts) == set(r.clip_id for r in df.select("clip_id").collect())
    assert all(p for p in parts)  # hash spread hits every lane at n=60
    # replay the same epoch: idempotent (commit marker), same assignment
    writer(df, 0)
    parts2 = [set(r.clip_id for r in s.read(spark).select("clip_id").collect()) for s in sinks]
    assert parts2 == parts


def test_prometheus_text_format():
    from bento_spark.streaming.metrics import prometheus_text

    text = prometheus_text(
        {
            "input_received": 100,
            "output_sent": 90,
            "batch_created": 3,
            "state_rows_last": 7,
            "max_watermark_lag_ms": None,
        }
    )
    assert "# TYPE bento_input_received counter\nbento_input_received 100" in text
    assert "# TYPE bento_state_rows_last gauge\nbento_state_rows_last 7" in text
    assert "watermark" not in text  # None metrics are omitted, not rendered as 'None'
    assert text.endswith("\n")


def test_stream_stream_join_same_ts_name(spark, tmp_path):
    """Both streams carrying the same timestamp column name must analyze
    (side-qualified refs) — bare F.col was ambiguous."""
    src = str(tmp_path / "ss_src")
    clips_df(spark, 10, partitions=1).write.parquet(src)
    schema = CLIP_SCHEMA
    l = spark.readStream.schema(schema).parquet(src)
    r = spark.readStream.schema(schema).parquet(src)
    out = stream_stream_join(
        l, r.select("clip_id", F.col("event_ts"), F.col("transcript")),
        key="clip_id", left_ts="event_ts", right_ts="event_ts",
    )
    assert out.isStreaming  # analysis succeeded without AMBIGUOUS_REFERENCE


def test_metric_processor_observe(spark, tmp_path):
    """metric: sections ride Spark's Observation API — values appear in
    query progress and aggregate via observed_totals()."""
    from bento_spark.plans.compiler import Pipeline, compile_yaml
    from bento_spark.streaming.metrics import BentoMetricsListener, collect_progress

    src = str(tmp_path / "m_src")
    Pipeline.stage_clips(spark, src, 40)
    p = compile_yaml(
        f"""
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - metric: {{type: counter, name: all_clips}}
    - metric: {{type: counter, name: wav_clips, check: 'this.codec == "wav"'}}
    - metric: {{type: counter_by, name: total_ms, value: this.dur_ms}}
output:
  path: {tmp_path}/m_out
"""
    )
    q = p.run_stream(spark, checkpoint=str(tmp_path / "m_ck"))
    q.awaitTermination(90)
    listener = collect_progress(BentoMetricsListener(), q)
    obs = listener.observed_totals()
    assert obs["all_clips"]["counter"] == 40
    assert 0 < obs["wav_clips"]["counter"] < 40
    batch = spark.read.parquet(src)
    assert obs["total_ms"]["counter_by"] == batch.agg(F.sum("dur_ms")).first()[0]


def test_statsd_export_wire_format():
    """statsd exporter: counter/gauge lines land as UDP datagrams in the
    public wire format (metrics_statsd.go parity)."""
    import socket

    from bento_spark.streaming.metrics import statsd_export, statsd_lines

    totals = {"input_received": 42, "output_sent": 40, "state_rows_last": 7}
    assert statsd_lines(totals) == [
        "bento.input_received:42|c",
        "bento.output_sent:40|c",
        "bento.state_rows_last:7|g",
    ]
    rx = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    rx.bind(("127.0.0.1", 0))
    rx.settimeout(5)
    port = rx.getsockname()[1]
    n = statsd_export(totals, port=port)
    got = sorted(rx.recv(1024).decode() for _ in range(n))
    rx.close()
    assert got == sorted(statsd_lines(totals))


def test_logger_metrics_export():
    """metrics: logger (impl/pure/metrics_logger.go) — aggregated metrics
    as structured log lines with the counter/gauge split."""
    import json

    from bento_spark.streaming.metrics import logger_export

    lines = []
    n = logger_export(
        {"input_received": 10, "output_sent": 8, "state_rows_last": 3},
        log=lines.append)
    assert n == 3
    parsed = {m["name"]: m for m in map(json.loads, lines)}
    assert parsed["bento.input_received"] == {
        "name": "bento.input_received", "value": 10, "type": "counter"}
    assert parsed["bento.state_rows_last"]["type"] == "gauge"


def test_cloudwatch_metrics_export():
    """metrics: aws_cloudwatch (aws/metrics_cloudwatch.go) — PutMetricData
    on the Query protocol; the capture server RECOMPUTES the SigV4
    signature with the shared secret and rejects mismatches."""
    import http.server
    import threading
    import urllib.parse

    import pytest

    from bento_spark.streaming.metrics import cloudwatch_export
    from bento_spark.streaming.sqs import sigv4_headers

    seen = []

    class Handler(http.server.BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_POST(self):  # noqa: N802
            payload = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            expect = sigv4_headers(
                "POST", self.headers.get("Host", ""), "/", payload,
                "AKIATEST", "testsecret", "us-east-1", "monitoring", "",
                amz_date=self.headers.get("X-Amz-Date", ""),
                content_type="application/x-www-form-urlencoded; charset=utf-8",
            )["Authorization"]
            if self.headers.get("Authorization") != expect:
                body = b"<ErrorResponse>InvalidSignature</ErrorResponse>"
                self.send_response(403)
            else:
                seen.append(dict(urllib.parse.parse_qsl(payload.decode())))
                body = b"<PutMetricDataResponse/>"
                self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    ep = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        n = cloudwatch_export(
            {"input_received": 12, "state_rows_last": 4}, ep, "bento/prod",
            "AKIATEST", "testsecret")
        assert n == 2
        req = seen[0]
        assert req["Action"] == "PutMetricData" and req["Version"] == "2010-08-01"
        assert req["Namespace"] == "bento/prod"
        assert req["MetricData.member.1.MetricName"] == "input_received"
        assert req["MetricData.member.1.Value"] == "12.0"
        assert req["MetricData.member.1.Unit"] == "Count"
        assert req["MetricData.member.2.Unit"] == "None"
        # wrong credentials are rejected by the server's recompute
        with pytest.raises(ConnectionError, match="403"):
            cloudwatch_export({"input_received": 1}, ep, "x",
                              "AKIATEST", "WRONGsecret")
    finally:
        srv.shutdown()
