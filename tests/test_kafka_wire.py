"""Kafka wire-protocol connector: CRC32C/murmur2/varint vectors, record
batch v2 round-trips, client<->MiniKafkaBroker e2e, spooler at-least-once
restart, and the murmur2-partitioned sink."""

from __future__ import annotations

import json
import time
from pathlib import Path

import pytest

from bento_spark.plans.inputs import read_input
from bento_spark.streaming.kafka_wire import (
    KafkaWireClient,
    MiniKafkaBroker,
    _enc_varint,
    _Reader,
    crc32c,
    decode_record_batches,
    encode_record_batch,
    kafka_bridge,
    kafka_wire_sink,
    murmur2,
    partition_for_key,
)
from bento_spark.streaming.spool import entries


# --------------------------------------------------------------------------
# primitives
# --------------------------------------------------------------------------


def test_crc32c_vectors():
    # RFC 3720 §B.4 published test vectors
    assert crc32c(b"") == 0
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(bytes(32)) == 0x8A9136AA
    assert crc32c(bytes([0xFF] * 32)) == 0x62A8AB43
    assert crc32c(bytes(range(32))) == 0x46DD794E


def test_murmur2_kafka_vectors():
    # org.apache.kafka.common.utils.UtilsTest#testMurmur2 published cases
    assert murmur2(b"21") == -973932308
    assert murmur2(b"foobar") == -790332482
    assert murmur2(b"a-little-bit-long-string") == -985981536
    assert murmur2(b"a-little-bit-longer-string") == -1486304829
    assert murmur2(b"lkjh234lh9fiuh90y23oiuhsafujhadof229phr9h19h89h8") == -58897971
    assert murmur2(bytes([ord("a"), ord("b"), ord("c")])) == 479470107


def test_partition_for_key_stable():
    assert partition_for_key(b"user-42", 8) == (murmur2(b"user-42") & 0x7FFFFFFF) % 8
    # spread sanity: 100 keys over 4 partitions hit every partition
    seen = {partition_for_key(f"k{i}".encode(), 4) for i in range(100)}
    assert seen == {0, 1, 2, 3}


def test_varint_zigzag_roundtrip():
    for n in [0, 1, -1, 63, 64, -64, -65, 300, -300, 2**31 - 1, -(2**31), 2**40]:
        r = _Reader(_enc_varint(n))
        assert r.varint() == n, n
    assert _enc_varint(-1) == b"\x01"
    assert _enc_varint(1) == b"\x02"


def test_record_batch_roundtrip():
    recs = [
        (1_700_000_000_000, b"k1", b"v1", []),
        (1_700_000_000_250, None, b"v2", [("h", b"x"), ("h2", b"")]),
        (1_700_000_000_500, b"", b"", []),
        # tombstone (null value) stays None — distinct from empty b""
        (1_700_000_000_750, b"k1", None, []),
    ]
    batch = encode_record_batch(42, recs)
    out = decode_record_batches(batch)
    assert [(o, ts, k, v, h) for o, ts, k, v, h in out] == [
        (42, 1_700_000_000_000, b"k1", b"v1", []),
        (43, 1_700_000_000_250, None, b"v2", [("h", b"x"), ("h2", b"")]),
        (44, 1_700_000_000_500, b"", b"", []),
        (45, 1_700_000_000_750, b"k1", None, []),
    ]


def test_record_batch_crc_and_truncation():
    batch = bytearray(encode_record_batch(0, [(0, None, b"payload", [])]))
    batch[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32C"):
        decode_record_batches(bytes(batch))
    # a truncated trailing batch is skipped, not an error (brokers cut at
    # max_bytes mid-batch)
    good = encode_record_batch(0, [(0, None, b"a", [])])
    assert len(decode_record_batches(good + good[: len(good) // 2])) == 1


def test_compressed_batch_rejected():
    batch = bytearray(encode_record_batch(0, [(0, None, b"a", [])]))
    # set gzip bit in attributes (offset 21) and re-CRC
    batch[22] |= 0x01
    import struct

    struct.pack_into(">I", batch, 17, crc32c(bytes(batch[21:])))
    with pytest.raises(ValueError, match="compressed"):
        decode_record_batches(bytes(batch))


# --------------------------------------------------------------------------
# client <-> broker e2e
# --------------------------------------------------------------------------


@pytest.fixture()
def broker():
    b = MiniKafkaBroker(num_partitions=2).start()
    yield b
    b.stop()


def test_produce_fetch_roundtrip(broker):
    c = KafkaWireClient("127.0.0.1", broker.port)
    try:
        assert 0 in c.api_versions  # produce advertised
        meta = c.metadata(["events"])
        assert set(meta["events"]) == {0, 1}
        base = c.produce(
            "events", 0,
            encode_record_batch(0, [(100, b"k", b"hello", []), (101, None, b"world", [])]),
        )
        assert base == 0
        base2 = c.produce("events", 0, encode_record_batch(0, [(102, b"k2", b"!", [])]))
        assert base2 == 2
        hw, recs = c.fetch("events", 0, 0)
        assert hw == 3
        assert [(o, v) for o, _ts, _k, v, _h in recs] == [(0, b"hello"), (1, b"world"), (2, b"!")]
        # offset-filtered fetch: batch containing offset 1 starts at 0 —
        # the client must skip past records below the requested offset
        _hw, recs = c.fetch("events", 0, 1)
        assert [o for o, *_ in recs] == [1, 2]
        assert c.list_offsets("events", 0, -2) == 0
        assert c.list_offsets("events", 0, -1) == 3
        # untouched partition
        hw, recs = c.fetch("events", 1, 0, max_wait_ms=50)
        assert hw == 0 and recs == []
    finally:
        c.close()


def test_fetch_long_poll_wakes_on_produce(broker):
    import threading

    c = KafkaWireClient("127.0.0.1", broker.port)
    p = KafkaWireClient("127.0.0.1", broker.port)
    try:
        c.metadata(["lp"])

        def produce_later():
            time.sleep(0.15)
            p.produce("lp", 0, encode_record_batch(0, [(0, None, b"wake", [])]))

        t = threading.Thread(target=produce_later)
        t0 = time.monotonic()
        t.start()
        _hw, recs = c.fetch("lp", 0, 0, max_wait_ms=5000)
        waited = time.monotonic() - t0
        t.join()
        assert [v for _o, _ts, _k, v, _h in recs] == [b"wake"]
        assert waited < 3.0  # woke on notify, not the full max_wait
    finally:
        c.close()
        p.close()


# --------------------------------------------------------------------------
# spooler input (spool bridge + Spark stream)
# --------------------------------------------------------------------------


def test_spooler_end_to_end(broker, spark, tmp_path):
    p = KafkaWireClient("127.0.0.1", broker.port)
    p.produce("logs", 0, encode_record_batch(
        0, [(1000, b"a", json.dumps({"n": i}).encode(), []) for i in range(3)]))
    p.produce("logs", 1, encode_record_batch(
        0, [(2000, None, json.dumps({"n": 10}).encode(), []),
            # tombstone (null value) vs genuinely-empty message — the
            # spool bridge must keep them distinct (NULL vs "")
            (2500, b"gone", None, []),
            (2600, b"blank", b"", [])]))
    spool = str(tmp_path / "spool")
    sp = kafka_bridge("127.0.0.1", broker.port, ["logs"], spool).start()
    try:
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if len(entries(spool)) >= 6:
                break
            time.sleep(0.05)
        df = read_input(spark, {"kafka_franz": {"spool_dir": spool}}, True)
        q = (
            df.writeStream.format("memory").queryName("kafka_wire_e2e")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        rows = spark.sql(
            "select kafka_topic, kafka_partition, kafka_offset, kafka_key, value "
            "from kafka_wire_e2e order by kafka_partition, kafka_offset"
        ).collect()
        assert len(rows) == 6
        assert all(r.kafka_topic == "logs" for r in rows)
        assert [(r.kafka_partition, r.kafka_offset) for r in rows] == [
            (0, 0), (0, 1), (0, 2), (1, 0), (1, 1), (1, 2)]
        assert rows[0].kafka_key == "a" and rows[3].kafka_key is None
        assert json.loads(rows[3].value) == {"n": 10}
        # tombstone surfaces as NULL; empty message stays ""
        assert rows[4].kafka_key == "gone" and rows[4].value is None
        assert rows[5].kafka_key == "blank" and rows[5].value == ""
        # kafka_ts decoded from the record timestamp
        ts = spark.sql("select min(kafka_ts) t from kafka_wire_e2e").collect()[0].t
        assert ts is not None and ts.year == 1970  # 1000ms epoch
    finally:
        sp.stop()
        p.close()


def test_spooler_restart_resumes_from_committed_offset(broker, tmp_path):
    p = KafkaWireClient("127.0.0.1", broker.port)
    spool = str(tmp_path / "spool")
    p.produce("r", 0, encode_record_batch(0, [(0, None, b"one", [])]))
    sp = kafka_bridge("127.0.0.1", broker.port, ["r"], spool).start()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and len(entries(spool)) < 1:
        time.sleep(0.05)
    sp.stop()
    offsets = json.loads((Path(spool) / ".offsets.json").read_text())
    assert offsets["r/0"] == 1
    # produce while the spooler is down; restart must resume, not re-spool
    p.produce("r", 0, encode_record_batch(0, [(0, None, b"two", [])]))
    sp2 = kafka_bridge("127.0.0.1", broker.port, ["r"], spool).start()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and len(entries(spool)) < 2:
        time.sleep(0.05)
    sp2.stop()
    # each spooler run numbers its files from 1: order by offset
    got = sorted(entries(spool), key=lambda e: e[0]["kafka_offset"])
    assert len(got) == 2
    assert [body for _, body in got] == [b"one", b"two"]
    p.close()


# --------------------------------------------------------------------------
# sink
# --------------------------------------------------------------------------


def test_sink_partitions_by_murmur2(broker, spark):
    df = spark.createDataFrame(
        [(f"key{i}", i) for i in range(20)], "k string, n int"
    ).repartition(4)
    writer = kafka_wire_sink("127.0.0.1", broker.port, "out", key_col="k")
    writer(df, 0)
    c = KafkaWireClient("127.0.0.1", broker.port)
    try:
        got = {}
        for pid in (0, 1):
            _hw, recs = c.fetch("out", pid, 0, max_wait_ms=50, max_bytes=1 << 22)
            for _o, _ts, key, value, _h in recs:
                body = json.loads(value)
                got[key.decode()] = (pid, body["n"])
        assert len(got) == 20  # exactly once, no loss across executor partitions
        for i in range(20):
            key = f"key{i}"
            assert got[key] == (partition_for_key(key.encode(), 2), i)
    finally:
        c.close()


def test_sink_keyless_rows_spread(broker, spark):
    df = spark.createDataFrame([(i,) for i in range(40)], "n int").repartition(2)
    writer = kafka_wire_sink("127.0.0.1", broker.port, "nokey")
    writer(df, 0)
    c = KafkaWireClient("127.0.0.1", broker.port)
    try:
        seen = []
        for pid in (0, 1):
            _hw, recs = c.fetch("nokey", pid, 0, max_wait_ms=50, max_bytes=1 << 22)
            assert all(k is None for _o, _ts, k, _v, _h in recs)
            seen.extend(json.loads(v)["n"] for _o, _ts, _k, v, _h in recs)
        assert sorted(seen) == list(range(40))
        # round-robin within partitions: both kafka partitions got traffic
        for pid in (0, 1):
            hw, _ = c.fetch("nokey", pid, 0, max_wait_ms=10, max_bytes=64)
            assert hw > 0
    finally:
        c.close()


# --------------------------------------------------------------------------
# YAML compiler e2e
# --------------------------------------------------------------------------


def test_yaml_kafka_franz_input_end_to_end(broker, spark, tmp_path):
    from bento_spark.plans.compiler import compile_yaml
    from bento_spark.streaming.sink import IdempotentParquetSink

    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  kafka_franz:
    seed_brokers: ["127.0.0.1:{broker.port}"]
    topics: [metrics]
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.body = this.value.uppercase()
        root.part = this.kafka_partition
        root.off = this.kafka_offset
output:
  path: {tmp_path}/out
""")
    sp = p.start_bridge()
    try:
        prod = KafkaWireClient("127.0.0.1", broker.port)
        prod.produce("metrics", 0, encode_record_batch(
            0, [(0, b"a", b"warm", []), (0, b"b", b"cold", [])]))
        prod.produce("metrics", 1, encode_record_batch(0, [(0, None, b"mild", [])]))
        prod.close()
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 3:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_in"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    rows = sorted(
        (r.part, r.off, r.body)
        for r in IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    )
    assert rows == [(0, 0, "WARM"), (0, 1, "COLD"), (1, 0, "MILD")]


def test_yaml_kafka_franz_output_interpolated_key(broker, spark, tmp_path):
    from bento_spark.plans.compiler import compile_yaml

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("r1\nr2\nr3")
    p = compile_yaml(f"""
input:
  lines:
    path: {src}
output:
  kafka_franz:
    seed_brokers: ["127.0.0.1:{broker.port}"]
    topic: sunk
    key: ${{! this.line }}
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_out"))
    q.awaitTermination(90)
    c = KafkaWireClient("127.0.0.1", broker.port)
    try:
        got = {}
        for pid in (0, 1):
            _hw, recs = c.fetch("sunk", pid, 0, max_wait_ms=50, max_bytes=1 << 22)
            for _o, _ts, key, value, _h in recs:
                got[key.decode()] = (pid, json.loads(value)["line"])
        assert sorted(got) == ["r1", "r2", "r3"]
        # keys route by murmur2, payload excludes the key column
        for k, (pid, line) in got.items():
            assert k == line and pid == partition_for_key(k.encode(), 2)
    finally:
        c.close()


def test_lint_knows_kafka_franz():
    from bento_spark.plans.lint import known_inputs

    assert "kafka_franz" in known_inputs()


# --------------------------------------------------------------------------
# review fixes
# --------------------------------------------------------------------------


def test_spooler_clamps_no_timestamp_sentinel(broker, tmp_path):
    """The spec's 'no timestamp' (-1) clamps to 0 in the spool header."""
    p = KafkaWireClient("127.0.0.1", broker.port)
    p.produce("nots", 0, encode_record_batch(0, [(-1, b"k", b"v", [])]))
    p.close()
    spool = tmp_path / "spool"
    sp = kafka_bridge("127.0.0.1", broker.port, ["nots"], str(spool)).start()
    try:
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and not entries(spool):
            time.sleep(0.05)
        got = entries(spool)
        assert got and got[0][0]["kafka_ts"] == 0  # ts clamped to 0
    finally:
        sp.stop()


def test_spooler_surfaces_undecodable_batch(broker, tmp_path):
    """A compressed/corrupt batch must surface on spooler.error, not
    silently kill the consumer thread."""
    import struct as _struct

    from bento_spark.streaming.kafka_wire import crc32c

    batch = bytearray(encode_record_batch(0, [(0, None, b"x", [])]))
    batch[22] |= 0x01  # gzip bit
    _struct.pack_into(">I", batch, 17, crc32c(bytes(batch[21:])))
    p = KafkaWireClient("127.0.0.1", broker.port)
    p.produce("badbatch", 0, bytes(batch))
    p.close()
    spool = tmp_path / "spool"
    sp = kafka_bridge("127.0.0.1", broker.port, ["badbatch"], str(spool)).start()
    try:
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and sp.error is None:
            time.sleep(0.05)
        assert sp.error and "compressed" in sp.error and "badbatch" in sp.error
        assert not entries(spool)  # nothing half-spooled
    finally:
        sp.stop()


def test_sink_timestamps_are_current(broker, spark):
    df = spark.createDataFrame([("k1", 1)], "k string, n int")
    kafka_wire_sink("127.0.0.1", broker.port, "tsed", key_col="k")(df, 0)
    c = KafkaWireClient("127.0.0.1", broker.port)
    try:
        found = []
        for pid in (0, 1):
            _hw, recs = c.fetch("tsed", pid, 0, max_wait_ms=50)
            found.extend(ts for _o, ts, *_ in recs)
        assert found and all(ts > 1_600_000_000_000 for ts in found)  # not 1970
    finally:
        c.close()


# --------------------------------------------------------------------------
# SASL (kafka/sasl.go; KIP-152 SaslHandshake v1 + SaslAuthenticate)
# --------------------------------------------------------------------------


@pytest.fixture()
def sasl_broker():
    b = MiniKafkaBroker(num_partitions=2,
                        sasl_credentials={"ada": "s3cret"}).start()
    yield b
    b.stop()


def _roundtrip(broker, sasl):
    c = KafkaWireClient(broker.host, broker.port, sasl=sasl)
    batch = encode_record_batch(0, [(0, b"k", b"v", [])])
    c.produce("t", 0, batch)
    _hw, recs = c.fetch("t", 0, 0)
    c.close()
    return recs


def test_sasl_plain_authenticates(sasl_broker):
    recs = _roundtrip(sasl_broker, {"mechanism": "PLAIN",
                                    "username": "ada", "password": "s3cret"})
    assert [(r[2], r[3]) for r in recs] == [(b"k", b"v")]


def test_sasl_plain_bad_password_rejected(sasl_broker):
    with pytest.raises(ConnectionError, match="invalid credentials"):
        KafkaWireClient(sasl_broker.host, sasl_broker.port,
                        sasl={"mechanism": "PLAIN", "username": "ada",
                              "password": "wrong"})


@pytest.mark.parametrize("mech", ["SCRAM-SHA-256", "SCRAM-SHA-512"])
def test_sasl_scram_authenticates(sasl_broker, mech):
    recs = _roundtrip(sasl_broker, {"mechanism": mech, "username": "ada",
                                    "password": "s3cret"})
    assert [(r[2], r[3]) for r in recs] == [(b"k", b"v")]


def test_sasl_scram_bad_password_rejected(sasl_broker):
    with pytest.raises(ConnectionError, match="scram"):
        KafkaWireClient(sasl_broker.host, sasl_broker.port,
                        sasl={"mechanism": "SCRAM-SHA-256",
                              "username": "ada", "password": "wrong"})


def test_sasl_unknown_mechanism_names_offers(sasl_broker):
    with pytest.raises(ConnectionError, match="SCRAM-SHA-256"):
        KafkaWireClient(sasl_broker.host, sasl_broker.port,
                        sasl={"mechanism": "GSSAPI", "username": "a",
                              "password": "b"})


def test_unauthenticated_data_api_is_killed(sasl_broker):
    c = KafkaWireClient(sasl_broker.host, sasl_broker.port)  # no sasl
    with pytest.raises(ConnectionError):
        c.metadata(["t"])
    c.close()


def test_yaml_kafka_franz_sasl_sink(spark, sasl_broker, tmp_path):
    from bento_spark.plans.compiler import Pipeline, compile_yaml

    src = str(tmp_path / "src")
    Pipeline.stage_clips(spark, src, 3)
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
pipeline:
  processors:
    - mapping: 'root = {{"clip_id": this.clip_id}}'
output:
  kafka_franz:
    seed_brokers: ["{sasl_broker.host}:{sasl_broker.port}"]
    topic: words
    sasl:
      - mechanism: SCRAM-SHA-512
        username: ada
        password: s3cret
""")
    q = p.run_stream(spark, checkpoint=str(tmp_path / "ck"))
    q.awaitTermination(90)
    reader = KafkaWireClient(sasl_broker.host, sasl_broker.port,
                             sasl={"mechanism": "PLAIN", "username": "ada",
                                   "password": "s3cret"})
    got = []
    for pid in range(2):
        _hw, recs = reader.fetch("words", pid, 0, max_wait_ms=50)
        got.extend(json.loads(v)["clip_id"] for _o, _t, _k, v, _h in recs)
    reader.close()
    assert sorted(got) == [f"clip-{i:012d}" for i in range(3)]


def test_yaml_kafka_franz_sasl_input_end_to_end(spark, sasl_broker, tmp_path):
    """input.kafka_franz with SASL against a SASL-enforcing broker: the
    spooler's INITIAL connection must authenticate too (ADVICE r05: only
    _reconnect passed sasl, so startup failed before the first fetch)."""
    from bento_spark.plans.compiler import compile_yaml
    from bento_spark.streaming.sink import IdempotentParquetSink

    spool = tmp_path / "spool_sasl_in"
    p = compile_yaml(f"""
input:
  kafka_franz:
    seed_brokers: ["{sasl_broker.host}:{sasl_broker.port}"]
    topics: [metrics]
    spool_dir: {spool}
    sasl:
      - mechanism: SCRAM-SHA-256
        username: ada
        password: s3cret
pipeline:
  processors:
    - mapping: 'root.body = this.value.uppercase()'
output:
  path: {tmp_path}/out_sasl
""")
    sp = p.start_bridge()
    try:
        prod = KafkaWireClient(sasl_broker.host, sasl_broker.port,
                               sasl={"mechanism": "PLAIN", "username": "ada",
                                     "password": "s3cret"})
        prod.produce("metrics", 0, encode_record_batch(
            0, [(0, b"a", b"warm", []), (0, b"b", b"cold", [])]))
        prod.close()
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 2:
            assert time.monotonic() < deadline, "spooler never fetched (SASL startup failed?)"
            time.sleep(0.05)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt_sasl_in"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    rows = sorted(r.body for r in IdempotentParquetSink(str(tmp_path / "out_sasl")).read(spark).collect())
    assert rows == ["COLD", "WARM"]


def test_sasl_aws_msk_iam_roundtrip():
    from bento_spark.streaming.kafka_wire import msk_iam_payload, msk_iam_verify

    b = MiniKafkaBroker(num_partitions=1,
                        sasl_credentials={"AKIATEST": "topsecret"}).start()
    try:
        recs = _roundtrip(b, {"mechanism": "AWS_MSK_IAM",
                              "access_key": "AKIATEST",
                              "secret_key": "topsecret",
                              "region": "us-east-1",
                              "host": "127.0.0.1"})
        assert [(r[2], r[3]) for r in recs] == [(b"k", b"v")]
        # wrong secret is rejected by the broker's recompute
        with pytest.raises(ConnectionError, match="msk iam"):
            KafkaWireClient(b.host, b.port,
                            sasl={"mechanism": "AWS_MSK_IAM",
                                  "access_key": "AKIATEST",
                                  "secret_key": "wrong",
                                  "region": "us-east-1",
                                  "host": "127.0.0.1"})
    finally:
        b.stop()
    # any field tampering breaks the signature
    doc = msk_iam_payload("broker.example", "AK", "SK", "eu-west-1",
                          amz_date="20240101T000000Z")
    assert msk_iam_verify(doc, "SK")
    assert not msk_iam_verify({**doc, "host": "evil.example"}, "SK")
    assert not msk_iam_verify({**doc, "x-amz-expires": "9000"}, "SK")
    assert not msk_iam_verify(doc, "SK2")
    # opt-in presigned-URL expiry (deterministic: time injected)
    import datetime as dt

    utc = dt.timezone.utc
    assert msk_iam_verify(doc, "SK", now=dt.datetime(2024, 1, 1, 0, 1, tzinfo=utc))
    assert not msk_iam_verify(doc, "SK", now=dt.datetime(2024, 1, 1, 1, 0, tzinfo=utc))
    assert not msk_iam_verify({k: v for k, v in doc.items() if k != "x-amz-date"},
                              "SK", now=dt.datetime(2024, 1, 1, tzinfo=utc))
