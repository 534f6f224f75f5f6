"""The one spool format (streaming/spool.py): the file every spool-bridge
input writes and the one reader that streams it."""

from __future__ import annotations

import http.client
import sys
import threading

import pytest

from bento_spark.plans.inputs import read_input
from bento_spark.streaming.spool import Spool, decode, entries, read_spool


def _drain(spark, df, name: str) -> list:
    q = df.writeStream.format("memory").queryName(name).trigger(availableNow=True).start()
    q.awaitTermination(60)
    return spark.sql(f"select * from {name}").collect()


# ------------------------------------------------------------ Spark-free


def test_put_round_trips_in_seq_order(tmp_path):
    spool = Spool(tmp_path)
    assert spool.put(b"one", k="a", n=1) is None
    spool.put("two")
    spool.put(b"", k=None)
    assert entries(tmp_path) == [({"k": "a", "n": 1}, b"one"), ({}, b"two"),
                                 ({"k": None}, b"")]
    names = sorted(p.name for p in tmp_path.iterdir())
    # no temp file is left behind
    assert len(names) == 3 and all(n.endswith(".msg") for n in names)
    assert decode((tmp_path / names[0]).read_bytes()) == ({"k": "a", "n": 1}, b"one")


def test_a_restarted_spool_keeps_the_files_before_it(tmp_path):
    Spool(tmp_path).put(b"first")
    Spool(tmp_path).put(b"second")
    assert sorted(body for _, body in entries(tmp_path)) == [b"first", b"second"]


def test_concurrent_puts_give_distinct_complete_files(tmp_path):
    spool = Spool(tmp_path)

    def writer(t: int) -> None:
        for i in range(200):
            spool.put(f"{t}-{i}".encode(), t=t, i=i)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the writers' sequence updates
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    got = entries(tmp_path)
    assert len(got) == 1600
    assert {(m["t"], m["i"]) for m, _ in got} == {(t, i) for t in range(8) for i in range(200)}
    assert all(body == f"{m['t']}-{m['i']}".encode() for m, body in got)
    # one file per put, seq numbers distinct
    assert len({p.name[:12] for p in tmp_path.glob("*.msg")}) == 1600


def test_newline_and_non_ascii_metadata_survive(tmp_path):
    Spool(tmp_path).put(b"body\nline two", topic="a\nb", name="café ✓")
    assert entries(tmp_path) == [({"topic": "a\nb", "name": "café ✓"}, b"body\nline two")]


def test_a_file_without_a_header_is_an_error(tmp_path):
    with pytest.raises(ValueError, match="header"):
        decode(b"no header")


# ---------------------------------------------------------------- Spark


def test_empty_body_reads_as_one_row(spark, tmp_path):
    Spool(tmp_path).put(b"", mqtt_topic="t")
    rows = _drain(spark, read_input(spark, {"mqtt": {"spool_dir": str(tmp_path)}}, True),
                  "spool_empty_body")
    assert [(r.value, r.mqtt_topic) for r in rows] == [("", "t")]


def test_a_metadata_value_too_long_for_a_file_name_reads_back(spark, tmp_path):
    key = "raw/events/year=2026/month=10/day=18/" + "k" * 263
    assert len(key) == 300
    Spool(tmp_path).put(b"x", s3_bucket="bkt", s3_key=key, s3_last_modified_unix=7)
    rows = _drain(spark, read_input(spark, {"aws_s3": {"spool_dir": str(tmp_path)}}, True),
                  "spool_long_key")
    assert [(r.value, r.s3_bucket, r.s3_key, r.s3_last_modified_unix) for r in rows] == [
        ("x", "bkt", key, 7)]


# rows the per-connector line mode (text source, wholetext off) gave for
# one spooled body, captured before the one spool format
@pytest.mark.parametrize("body, rows", [
    (b"a\nb\n", ["a", "b"]),
    (b"a\n\nb", ["a", "", "b"]),
    (b"a\r\nb", ["a", "b"]),
    (b"", []),
])
def test_line_mode_splits_like_the_text_source(spark, tmp_path, body, rows):
    Spool(tmp_path).put(body)
    name = f"spool_lines_{body.hex()}"
    assert [r.value for r in _drain(spark, read_spool(spark, str(tmp_path), lines=True), name)] \
        == rows


def test_a_file_without_a_header_fails_the_query(spark, tmp_path):
    (tmp_path / f"{1:012d}-{'0' * 32}.msg").write_bytes(b"old format body")
    with pytest.raises(Exception, match="header"):
        _drain(spark, read_spool(spark, str(tmp_path), "mqtt_topic string"), "spool_no_header")


# ----------------------------------------------------------- end to end


def test_empty_http_post_arrives_as_a_row(spark, tmp_path):
    from bento_spark.plans.compiler import compile_yaml

    spool = tmp_path / "spool"
    p = compile_yaml(f"input:\n  http_server: {{spool_dir: {spool}}}\n")
    srv = p.start_bridge()
    try:
        for body in (b"", b"x"):
            conn = http.client.HTTPConnection(srv.host, srv.port, timeout=5)
            conn.request("POST", "/post", body=body)
            assert conn.getresponse().status == 200
            conn.close()
    finally:
        srv.stop()
    df = read_input(spark, {"http_server": {"spool_dir": str(spool)}}, True)
    assert sorted(r.value for r in _drain(spark, df, "spool_empty_post")) == ["", "x"]
