"""Discord connector (streaming/discord.py) against the token-verifying
MiniDiscordServer — auth, after-cursor paging, 429 retry_after handling,
the poller, the ristretto cache alias, and the YAML input/output."""

from __future__ import annotations

import json
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.discord import (
    DiscordClient,
    MiniDiscordServer,
    discord_bridge,
)
from bento_spark.streaming.spool import entries


@pytest.fixture()
def server():
    s = MiniDiscordServer().start()
    yield s
    s.stop()


def test_auth_and_paging(server):
    for i in range(7):
        server.seed("c1", f"m{i}")
    c = DiscordClient(server.endpoint, server.bot_token)
    got = c.channel_messages("c1", limit=3)
    # newest-first within the page, oldest window first (backfill shape)
    assert [m["content"] for m in got] == ["m2", "m1", "m0"]
    after = max(int(m["id"]) for m in got)
    got2 = c.channel_messages("c1", limit=10, after=str(after))
    assert [m["content"] for m in got2] == ["m6", "m5", "m4", "m3"]
    with pytest.raises(ConnectionError, match="401"):
        DiscordClient(server.endpoint, "wrong").channel_messages("c1")


def test_429_retry_after(server):
    c = DiscordClient(server.endpoint, server.bot_token)
    server.throttle_next = True
    got = c.create_message("c2", {"content": "squeezed"})
    assert got["content"] == "squeezed"  # healed in-call
    assert [m["content"] for m in server.channels["c2"]] == ["squeezed"]


def test_spooler_cursor(server, tmp_path):
    server.seed("c3", "first")
    spool = tmp_path / "spool"
    sp = discord_bridge(endpoint=server.endpoint, channel_id="c3",
                        bot_token=server.bot_token, spool_dir=str(spool),
                        poll_period_s=0.1, limit=2).start()
    try:
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 1:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        for i in range(5):
            server.seed("c3", f"late{i}")
        while len(entries(spool)) < 6:
            assert time.monotonic() < deadline, "poller missed the backlog"
            time.sleep(0.05)
        time.sleep(0.3)  # would duplicate if the cursor were broken
    finally:
        sp.stop()
    msgs = [json.loads(body)["content"] for _, body in entries(spool)]
    assert msgs == ["first", "late0", "late1", "late2", "late3", "late4"]


def test_yaml_discord_roundtrip(spark, server, tmp_path):
    server.seed("inbox", "hello", author="ada")
    server.seed("inbox", "world", author="bob")
    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  discord:
    endpoint: {server.endpoint}
    channel_id: inbox
    bot_token: {server.bot_token}
    poll_period: 200ms
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.content = this.value.parse_json("content string").content.uppercase()
output:
  discord:
    endpoint: {server.endpoint}
    channel_id: outbox
    bot_token: {server.bot_token}
""")
    sp = p.start_bridge()
    try:
        deadline = time.monotonic() + 10
        while len(entries(spool)) < 2:
            assert time.monotonic() < deadline
            time.sleep(0.05)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    deadline = time.monotonic() + 10
    while len(server.channels.get("outbox", [])) < 2:
        assert time.monotonic() < deadline
        time.sleep(0.05)
    # JSON rows carrying `content` post as API message objects verbatim
    assert sorted(m["content"] for m in server.channels["outbox"]) == \
        ["HELLO", "WORLD"]


def test_ristretto_cache_alias(spark, tmp_path):
    # dgraph/cache_ristretto.go: an in-process TTL cache — the label maps
    # onto the shared MemoryCache engine semantics
    src = tmp_path / "src"
    spark.createDataFrame([("k1", "v1")], "k string, name string") \
        .write.parquet(str(src))
    p = compile_yaml(f"""
input:
  parquet: {{path: {src}}}
cache_resources:
  - label: fastcache
    ristretto:
      default_ttl: 60s
pipeline:
  processors:
    - cache: {{resource: fastcache, operator: set, key: k, columns: [name]}}
    - cache: {{resource: fastcache, operator: get, key: k}}
""")
    rows = p.build_batch(spark).collect()
    assert rows[0].value == "v1"


def test_lint_knows_discord():
    from bento_spark.plans.lint import known_inputs

    assert "discord" in known_inputs()
