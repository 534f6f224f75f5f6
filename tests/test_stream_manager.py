"""Streams mode: N named pipelines in one session with CRUD + /ready +
/stats (stream/manager/api.go:31-57, api/api.go:150-203)."""

from __future__ import annotations

import json
import socket
import sys
import time
import urllib.request

from bento_spark.streaming.manager import StreamManager
from bento_spark.streaming.sink import IdempotentParquetSink


def _conf(src, out, trigger="500 ms"):
    return f"""
input:
  parquet: {{path: {src}, schema: "id int, v int"}}
pipeline:
  processors:
    - mapping: 'root.doubled = this.v * 2'
output:
  path: {out}
  trigger: {trigger}
"""


def _stage(spark, tmp_path, name, rows):
    src = tmp_path / name
    spark.createDataFrame(rows, "id int, v int").write.parquet(str(src))
    return src


def _wait(cond, timeout_s=60.0):
    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout_s:
        if cond():
            return True
        time.sleep(0.5)
    return False


def test_two_streams_crud_ready_stats(spark, tmp_path):
    s1 = _stage(spark, tmp_path, "in1", [(1, 10), (2, 20)])
    s2 = _stage(spark, tmp_path, "in2", [(3, 30), (4, 40), (5, 50)])
    mgr = StreamManager(spark, str(tmp_path / "cks"))
    try:
        mgr.create("alpha", _conf(s1, tmp_path / "out1"))
        mgr.create("beta", _conf(s2, tmp_path / "out2"))
        assert mgr.ids() == ["alpha", "beta"]
        assert mgr.ready()

        # duplicate id rejected (manager returns 400 on existing)
        try:
            mgr.create("alpha", _conf(s1, tmp_path / "dup"))
            raise AssertionError("duplicate create must fail")
        except ValueError:
            pass

        # per-stream stats reflect each stream's OWN rows
        assert _wait(lambda: mgr.stats("alpha")["input_rows_total"] >= 2)
        assert _wait(lambda: mgr.stats("beta")["input_rows_total"] >= 3)
        st_a, st_b = mgr.stats("alpha"), mgr.stats("beta")
        assert st_a["input_rows_total"] == 2 and st_b["input_rows_total"] == 3
        assert st_a["active"] and st_a["uptime_s"] > 0

        # the sinks actually wrote (independent exactly-once pipelines)
        assert _wait(
            lambda: IdempotentParquetSink(str(tmp_path / "out1")).read(spark).count() == 2
        )
        out2 = IdempotentParquetSink(str(tmp_path / "out2")).read(spark)
        assert _wait(lambda: out2.count() == 3)
        assert {r.doubled for r in out2.collect()} == {60, 80, 100}

        # HTTP surface
        port = mgr.serve()
        base = f"http://127.0.0.1:{port}"

        def get(path, expect=200):
            try:
                with urllib.request.urlopen(base + path) as r:
                    return r.status, json.loads(r.read())
            except urllib.error.HTTPError as e:
                return e.code, json.loads(e.read())

        assert get("/ping") == (200, {"pong": True})
        code, ready = get("/ready")
        assert code == 200 and ready["ready"] is True
        code, listing = get("/streams")
        assert code == 200 and set(listing) == {"alpha", "beta"}
        assert all(v["active"] for v in listing.values())
        code, st = get("/streams/alpha/stats")
        assert code == 200 and st["input_rows_total"] == 2
        code, _ = get("/streams/nope/stats")
        assert code == 404
        # whole-registry JSON metrics (io/metrics_json_api.go: /stats
        # and /metrics serve the same flat object)
        for ep in ("/stats", "/metrics"):
            code, m = get(ep)
            assert code == 200 and m["alpha.input_rows_total"] == 2
            assert m["beta.input_rows_total"] == 3 and m["alpha.active"]

        # DELETE stops and deregisters; the other stream is untouched
        req = urllib.request.Request(base + "/streams/alpha", method="DELETE")
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
        assert mgr.ids() == ["beta"]
        assert mgr.ready()
        assert mgr.stats("beta")["active"]
    finally:
        mgr.stop_all()


def test_update_resumes_from_checkpoint(spark, tmp_path):
    """PUT /streams/{id}: restart with new config, SAME checkpoint —
    already-consumed files are not reprocessed (no duplicates), new files
    flow through the NEW processor chain."""
    import shutil

    src = tmp_path / "up_in"
    src.mkdir()
    stage = tmp_path / "up_stage0"
    spark.createDataFrame([(1, 10), (2, 20)], "id int, v int").coalesce(1).write.parquet(str(stage))
    shutil.move(str(next(stage.glob("part-*.parquet"))), str(src / "f0.parquet"))

    out = tmp_path / "up_out"
    mgr = StreamManager(spark, str(tmp_path / "up_cks"))

    def conf(mult):
        return f"""
input:
  parquet: {{path: {src}, schema: "id int, v int"}}
pipeline:
  processors:
    - mapping: 'root.doubled = this.v * {mult}'
output:
  path: {out}
  trigger: 500 ms
"""

    def n_rows(sink):
        try:
            return sink.read(spark).count()
        except FileNotFoundError:  # no batch committed yet
            return 0

    try:
        mgr.create("gamma", conf(2))
        sink = IdempotentParquetSink(str(out))
        assert _wait(lambda: n_rows(sink) == 2)

        mgr.update("gamma", conf(3))  # new chain, kept checkpoint
        stage1 = tmp_path / "up_stage1"
        spark.createDataFrame([(3, 30)], "id int, v int").coalesce(1).write.parquet(str(stage1))
        shutil.move(str(next(stage1.glob("part-*.parquet"))), str(src / "f1.parquet"))
        assert _wait(lambda: n_rows(sink) == 3)

        rows = {r.id: r.doubled for r in sink.read(spark).collect()}
        # f0 rows keep the OLD chain's output (not reprocessed); f1 gets the new
        assert rows == {1: 20, 2: 40, 3: 90}
    finally:
        mgr.stop_all()


def test_concurrent_create_update_stats_races(spark, tmp_path):
    """ADVICE r03: create() had a check-then-act race (two concurrent
    creates on one id both passed the duplicate check; the loser's query
    leaked), update() released the lock between delete and create (a
    concurrent create could steal the id mid-update), and _accumulate
    mutated totals unlocked (concurrent /stats double-counted). Race all
    three against one id and assert: exactly one winner per conflict, no
    leaked queries, stats monotonic and never double-counted."""
    import threading

    src = _stage(spark, tmp_path, "race_in", [(i, i * 10) for i in range(1, 6)])
    out = tmp_path / "race_out"
    mgr = StreamManager(spark, str(tmp_path / "race_cks"))
    conf = _conf(src, out)
    try:
        n_active_before = len(spark.streams.active)
        results: list[str] = []
        lock = threading.Lock()

        def try_create(tag):
            try:
                mgr.create("delta", conf)
                with lock:
                    results.append(f"{tag}:ok")
            except ValueError:
                with lock:
                    results.append(f"{tag}:dup")

        threads = [threading.Thread(target=try_create, args=(f"c{i}",)) for i in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        oks = [r for r in results if r.endswith(":ok")]
        assert len(oks) == 1, f"exactly one create must win: {results}"
        # no leaked queries: exactly ONE new StreamingQuery exists
        assert len(spark.streams.active) == n_active_before + 1

        assert _wait(lambda: mgr.stats("delta")["input_rows_total"] >= 5)

        # concurrent /stats must not double-count the same batches
        stats_out: list[dict] = []

        def poll_stats():
            for _ in range(20):
                try:
                    s = mgr.stats("delta")
                except (KeyError, ValueError):
                    continue
                with lock:
                    stats_out.append(s)

        pollers = [threading.Thread(target=poll_stats) for _ in range(3)]
        for t in pollers:
            t.start()
        for t in pollers:
            t.join(60)
        totals = [s["input_rows_total"] for s in stats_out if not s.get("starting")]
        assert max(totals) == 5.0, f"double-counted rows: max={max(totals)}"

        # update vs create race: while update is mid-restart, a concurrent
        # create on the same id must fail (the reservation holds the slot)
        errs: list[str] = []

        def do_update():
            try:
                mgr.update("delta", conf)
            except (KeyError, ValueError) as e:
                with lock:
                    errs.append(f"update:{e}")

        def do_create():
            try:
                mgr.create("delta", conf)
                with lock:
                    errs.append("create:ok")
            except ValueError:
                with lock:
                    errs.append("create:dup")

        tu = threading.Thread(target=do_update)
        tc = threading.Thread(target=do_create)
        tu.start()
        tc.start()
        tu.join(120)
        tc.join(120)
        assert "create:ok" not in errs, f"create stole the id mid-update: {errs}"
        assert not any(e.startswith("update:") for e in errs), errs
        # after the dust settles: one live registered stream, one query
        assert mgr.ids() == ["delta"]
        assert mgr.stats("delta")["active"]
        assert len(spark.streams.active) == n_active_before + 1
    finally:
        mgr.stop_all()


def test_manager_starts_and_stops_the_input_bridge(spark, tmp_path):
    """A manager stream on a spool-bridge input gets the bridge for its
    life: the subprocess input's child runs and its lines reach the
    output, and delete stops the child."""
    lines = ["alpha", "beta", "gamma"]
    conf = f"""
input:
  subprocess:
    name: {sys.executable}
    args: ["-c", "import time\\nfor w in {lines!r}: print(w, flush=True)\\ntime.sleep(120)"]
    spool_dir: {tmp_path}/spool
output:
  path: {tmp_path}/out
  trigger: 500 ms
"""
    mgr = StreamManager(spark, str(tmp_path / "cks"))
    try:
        mgr.create("sub", conf)
        out = IdempotentParquetSink(str(tmp_path / "out"))
        assert _wait(lambda: out.committed_ids() and out.read(spark).count() >= 3)
        assert sorted(r.value for r in out.read(spark).collect()) == lines
        child = mgr._streams["sub"].bridge.client
        assert child.poll() is None
        mgr.delete("sub")
        assert child.poll() is not None
    finally:
        mgr.stop_all()


def test_stats_show_a_failed_bridge_and_ready_turns_false(spark, tmp_path):
    """A broker that sends a packet whose length does not decode fails the
    stream's mqtt bridge: stats name the state and the cause, and /ready
    is false until the stream is deleted."""
    import threading

    from bento_spark.streaming.mqtt import CONNACK, SUBACK, encode_packet, read_packet

    srv = socket.create_server(("127.0.0.1", 0))

    def broker() -> None:
        conn, _ = srv.accept()
        with conn:
            read_packet(conn)  # CONNECT
            conn.sendall(encode_packet(CONNACK, 0, b"\x00\x00"))
            _, _, sub = read_packet(conn)  # SUBSCRIBE
            conn.sendall(encode_packet(SUBACK, 0, sub[:2] + b"\x01"))
            conn.sendall(b"\x30\xff\xff\xff\xff\x01")  # a 5-byte remaining length
            conn.settimeout(30)
            try:
                conn.recv(1)
            except OSError:
                pass

    threading.Thread(target=broker, daemon=True).start()
    conf = f"""
input:
  mqtt:
    urls: [tcp://127.0.0.1:{srv.getsockname()[1]}]
    topics: [t]
    spool_dir: {tmp_path}/spool
output:
  path: {tmp_path}/out
  trigger: 500 ms
"""
    mgr = StreamManager(spark, str(tmp_path / "cks"))
    try:
        mgr.create("m", conf)
        assert _wait(lambda: mgr.stats("m")["bridge"]["state"] == "failed")
        bridge = mgr.stats("m")["bridge"]
        assert bridge["cause"] == "mqtt: malformed remaining length"
        assert bridge["since"] <= time.time()
        assert not mgr.ready()
        mgr.delete("m")
        assert mgr.ready()
    finally:
        mgr.stop_all()
        srv.close()


def test_delete_releases_the_http_server_output_port(spark, tmp_path):
    """The http_server output's server lives as long as its stream: after
    delete its port binds again."""
    src = _stage(spark, tmp_path, "in", [(1, 10)])
    conf = f"""
input:
  parquet: {{path: {src}, schema: "id int, v int"}}
output:
  http_server: {{address: "127.0.0.1:0"}}
  trigger: 500 ms
"""
    mgr = StreamManager(spark, str(tmp_path / "cks"))
    try:
        mgr.create("srv", conf)
        port = mgr._streams["srv"].pipeline._http_serve.port
        time.sleep(0.1)  # the accept thread is blocked in accept()
        mgr.delete("srv")
        with socket.socket() as s:
            s.bind(("127.0.0.1", port))
    finally:
        mgr.stop_all()


def test_delete_stops_a_window_dlq_stream(spark, tmp_path):
    """A stream with window + output.dlq and error_handling reject + dlq
    runs as one query, which delete stops."""
    from bento_spark.plans.compiler import Pipeline

    src = tmp_path / "clips"
    Pipeline.stage_clips(spark, str(src), 8)
    conf = f"""
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - mapping: 'root.key = this.codec'
    - set_error: {{when: "this.sr_hz <= 8000", message: "sample rate too low"}}
error_handling: {{strategy: reject, dlq: {tmp_path}/ehdlq}}
window: {{type: tumbling, size: 10 seconds, keys: [key], lateness: 2 seconds}}
output:
  path: {tmp_path}/out
  keys: [window_start, key]
  dlq: {tmp_path}/dlq
  trigger: 500 ms
"""
    n_active_before = len(spark.streams.active)
    mgr = StreamManager(spark, str(tmp_path / "cks"))
    try:
        mgr.create("clips", conf)
        assert len(spark.streams.active) == n_active_before + 1
        mgr.delete("clips")
        assert len(spark.streams.active) == n_active_before
    finally:
        mgr.stop_all()
