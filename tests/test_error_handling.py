"""Engine-level `error_handling:` strategy (errorhandling/docs.go:7,
applied cli/common/manager.go:114-121): one top-level knob — none | reject
| retry — composing the in-band error-column machinery pipeline-wide.
Oracle twins in __spark_entry__ (error_strategy_reject / _retry) verify
values; these tests cover the semantics the oracles can't: DLQ capture,
bounded-retry convergence, and a genuinely TRANSIENT failure healing on a
retry re-evaluation (batch and streaming)."""

from __future__ import annotations

import http.server
import json
import threading
import urllib.parse

import pytest
from pyspark.sql import functions as F

from bento_spark.plans.compiler import compile_yaml


def _stage(spark, tmp_path, name="in"):
    src = tmp_path / name
    spark.createDataFrame(
        [(1, 10), (2, 95), (3, 40), (4, 99)], "id int, v int"
    ).write.parquet(str(src))
    return src


BASE = """
input:
  parquet: {{path: {src}}}
{eh}
pipeline:
  processors:
    - set_error: {{when: this.v > 80, message: v out of range}}
"""


def test_strategy_none_keeps_flagged_rows(spark, tmp_path):
    src = _stage(spark, tmp_path)
    out = compile_yaml(BASE.format(src=src, eh="")).build_batch(spark)
    rows = {r.id: r.error for r in out.collect()}
    assert len(rows) == 4 and rows[2] is not None and rows[1] is None


def test_strategy_reject_drops_and_dlqs(spark, tmp_path):
    src = _stage(spark, tmp_path)
    dlq = tmp_path / "dlq"
    p = compile_yaml(
        BASE.format(src=src, eh=f"error_handling: {{strategy: reject, dlq: {dlq}}}")
    )
    out = p.run_batch(spark)
    assert sorted(r.id for r in out.collect()) == [1, 3]
    dlq_rows = spark.read.parquet(str(dlq))
    assert sorted(r.id for r in dlq_rows.collect()) == [2, 4]
    assert all(r.error is not None for r in dlq_rows.collect())


def test_strategy_reject_build_is_side_effect_free(spark, tmp_path):
    """The DLQ write is deferred to run/flush time: repeated build_batch
    calls must not append duplicate DLQ rows (ADVICE r03 — plan-building
    was an eager Spark action)."""
    import os

    src = _stage(spark, tmp_path)
    dlq = tmp_path / "dlq2"
    p = compile_yaml(
        BASE.format(src=src, eh=f"error_handling: {{strategy: reject, dlq: {dlq}}}")
    )
    p.build_batch(spark)
    p.build_batch(spark)
    assert not os.path.exists(str(dlq))  # no action ran yet
    p.run_batch(spark).collect()
    assert sorted(r.id for r in spark.read.parquet(str(dlq)).collect()) == [2, 4]


def test_stream_strategy_reject_dlqs(spark, tmp_path):
    """Streaming twin of test_strategy_reject_drops_and_dlqs (ADVICE r03
    medium): error_handling reject + dlq on a streaming pipeline must
    capture errored rows inside its one query, not silently drop them."""
    from bento_spark.streaming.sink import IdempotentParquetSink

    src = _stage(spark, tmp_path, "sin_rej")
    dlq = tmp_path / "sdlq"
    conf = f"""
input:
  parquet: {{path: {src}, schema: "id int, v int"}}
error_handling: {{strategy: reject, dlq: {dlq}}}
pipeline:
  processors:
    - set_error: {{when: this.v > 80, message: v out of range}}
output:
  path: {tmp_path}/sout_rej
"""
    p = compile_yaml(conf)
    n_active = len(spark.streams.active)
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ck_rej"))
    assert len(spark.streams.active) == n_active + 1
    assert q.awaitTermination(120) and q.exception() is None
    main = IdempotentParquetSink(str(tmp_path / "sout_rej")).read(spark)
    assert sorted(r.id for r in main.collect()) == [1, 3]
    dlq_rows = IdempotentParquetSink(str(dlq)).read(spark)
    assert sorted(r.id for r in dlq_rows.collect()) == [2, 4]
    assert all(r.error is not None for r in dlq_rows.collect())


def test_strategy_retry_exhausts_to_reject_on_permanent_errors(spark, tmp_path):
    src = _stage(spark, tmp_path)
    out = compile_yaml(
        BASE.format(
            src=src,
            eh="error_handling: {strategy: retry, max_attempts: 2, on_exhausted: reject}",
        )
    ).build_batch(spark)
    assert sorted(r.id for r in out.collect()) == [1, 3]


def test_strategy_validation(spark, tmp_path):
    src = _stage(spark, tmp_path)
    with pytest.raises(ValueError, match="strategy"):
        compile_yaml(
            BASE.format(src=src, eh="error_handling: {strategy: explode}")
        ).build_batch(spark)


# ---------------------------------------------------------------- transient


class _FlakyHandler(http.server.BaseHTTPRequestHandler):
    """Fails the first N requests per key, then succeeds — a deterministic
    transient fault (the thing retry exists for)."""

    protocol_version = "HTTP/1.1"
    fail_first = 1
    counts: dict[str, int] = {}
    lock = threading.Lock()

    def do_GET(self):  # noqa: N802
        q = urllib.parse.parse_qs(urllib.parse.urlsplit(self.path).query)
        key = q["n"][0]
        with self.lock:
            seen = self.counts.get(key, 0)
            self.counts[key] = seen + 1
        if seen < self.fail_first:
            self.send_response(503)
            self.send_header("Content-Length", "0")
            self.end_headers()
            return
        body = json.dumps({"sq": int(key) ** 2}).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


@pytest.fixture()
def flaky_port():
    _FlakyHandler.counts = {}
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _FlakyHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield srv.server_address[1]
    srv.shutdown()


FLAKY = """
input:
  parquet: {{path: {src}, schema: "id int, v int"}}
error_handling: {{strategy: retry, max_attempts: 3}}
pipeline:
  processors:
    - http:
        url: "http://127.0.0.1:{port}/sq?n=${{! this.id }}"
        out: resp
        retries: 0
"""


def test_batch_retry_heals_transient_errors(spark, tmp_path, flaky_port):
    """Attempt 1 sees every request 503; the engine-level retry re-runs the
    chain and attempt 2 succeeds — output must be clean."""
    src = _stage(spark, tmp_path)
    out = compile_yaml(FLAKY.format(src=src, port=flaky_port)).build_batch(spark)
    rows = {r.id: (r.resp, r.error) for r in out.collect()}
    assert len(rows) == 4
    for i, (resp, err) in rows.items():
        assert err is None, f"row {i} still errored: {err}"
        assert json.loads(resp) == {"sq": i * i}


def test_stream_retry_heals_transient_errors(spark, tmp_path, flaky_port):
    """Streaming twin: the retry writer re-evaluates the micro-batch plan
    (localCheckpoint per attempt) until clean, then writes exactly once."""
    from bento_spark.streaming.sink import IdempotentParquetSink

    src = _stage(spark, tmp_path, "sin")
    conf = FLAKY.format(src=src, port=flaky_port) + f"""
output:
  path: {tmp_path}/sout
"""
    p = compile_yaml(conf)
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ck"))
    q.awaitTermination(120)
    got = IdempotentParquetSink(str(tmp_path / "sout")).read(spark)
    rows = {r.id: (r.resp, r.error) for r in got.collect()}
    assert len(rows) == 4
    for i, (resp, err) in rows.items():
        assert err is None
        assert json.loads(resp) == {"sq": i * i}
