"""Discord input/output — dependency-free client over the public Discord
REST API (v10 channel-message endpoints with `Authorization: Bot <token>`),
plus an in-process API server that VERIFIES the token.

Reference: internal/impl/discord/input.go (channel_id, bot_token,
poll_period, limit; backlog paging via the `after` snowflake cursor —
input.go:146-162) and output.go (POST to the channel; a message that is
already a Discord API message object posts as-is, otherwise it wraps as
{"content": "..."} — output.go:20). The reference uses discordgo; here
the documented REST endpoints are implemented directly.

Spark-first mapping:
- input  -> DiscordSpooler polls `GET /channels/{id}/messages?after=`
  on poll_period, spooling each message's API JSON object (ascending id
  order, the reference's backfill direction); the cursor is the last
  spooled snowflake, so a crash re-polls from the durable position
  (at-least-once).
- output -> one POST per row; JSON rows that already look like API
  message objects (have `content`) post verbatim, others wrap —
  rendered JVM-side, the wrap decided per row executor-side on the
  rendered string (a startswith check, not a parse, keeps it cheap).
"""

from __future__ import annotations

import json
import threading
import urllib.parse
from dataclasses import dataclass, field

from bento_spark.streaming import rest
from bento_spark.streaming.spool import Spool

_API_BASE = "/api/v10"


def _retry_after(status: int, data: bytes, wait: float) -> float | None:
    """rest.call's hook: a 429 waits the `retry_after` of the documented
    rate-limit envelope, capped at 5 s."""
    if status != 429:
        return None
    try:
        return min(float(json.loads(data).get("retry_after", 0.25)), 5.0)
    except ValueError:
        return 0.25


class DiscordClient:
    """Minimal channel-message client: list (after/limit paging) and
    create, bot-token auth; a 429 waits its retry_after."""

    def __init__(self, endpoint: str, bot_token: str, timeout: float = 30.0):
        self._ep = rest.Endpoint(endpoint, timeout)
        self.bot_token = bot_token

    def _call(self, method: str, path: str, body: bytes = b"") -> bytes:
        headers = {
            "Authorization": f"Bot {self.bot_token}",
            "Content-Type": "application/json",
            "Content-Length": str(len(body)),
        }
        _, data, _ = rest.call(self._ep, method, path, body, lambda: headers,
                               name="discord", throttled=_retry_after)
        return data

    def channel_messages(self, channel_id: str, limit: int = 100,
                         after: str | None = None) -> list[dict]:
        q = [("limit", str(limit))]
        if after:
            q.append(("after", after))
        data = self._call(
            "GET",
            f"{_API_BASE}/channels/{urllib.parse.quote(channel_id)}/messages?"
            + urllib.parse.urlencode(q))
        return json.loads(data or b"[]")

    def create_message(self, channel_id: str, payload: dict) -> dict:
        data = self._call(
            "POST",
            f"{_API_BASE}/channels/{urllib.parse.quote(channel_id)}/messages",
            body=json.dumps(payload).encode())
        return json.loads(data or b"{}")


# ---------------------------------------------------------------------------
# input bridge
# ---------------------------------------------------------------------------


@dataclass
class DiscordSpooler:
    """`discord` input: poll the channel's backlog ascending from the
    last spooled snowflake (input.go's `after` cursor), one spool file
    per message (the API JSON object)."""

    endpoint: str
    channel_id: str
    bot_token: str
    spool_dir: str
    poll_period_s: float = 1.0
    limit: int = 100
    _thread: threading.Thread | None = field(default=None, repr=False)
    _stop: threading.Event = field(default_factory=threading.Event, repr=False)
    error: Exception | None = None

    def start(self) -> "DiscordSpooler":
        spool = Spool(self.spool_dir)
        client = DiscordClient(self.endpoint, self.bot_token)
        state = {"after": None}

        def one_poll() -> None:
            while True:
                msgs = client.channel_messages(
                    self.channel_id, limit=self.limit, after=state["after"])
                # the API returns newest-first; ascending spool order
                msgs.sort(key=lambda m: int(m.get("id", 0)))
                if not msgs:
                    return
                for m in msgs:
                    spool.put(json.dumps(m))
                    state["after"] = str(m.get("id"))
                if len(msgs) < self.limit:
                    return

        def run() -> None:
            try:
                while not self._stop.is_set():
                    one_poll()
                    if self._stop.wait(self.poll_period_s):
                        return
            except Exception as e:
                self.error = e

        self._thread = threading.Thread(target=run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None
        if self.error is not None:
            raise self.error


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------


def discord_sink(endpoint: str, channel_id: str, bot_token: str,
                 value_col: str | None = None):
    """`discord` output (output.go:20): a row whose rendered JSON already
    is a Discord message object (carries `content`) posts verbatim;
    anything else wraps as {"content": <rendered>}. One client per
    partition."""

    def write_batch(batch_df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        if value_col:
            body = F.col(value_col).cast("string")
        else:
            body = F.to_json(F.struct(*[F.col(c) for c in batch_df.columns]))
        payloads = batch_df.select(body.alias("v"))

        def send(rows) -> None:
            # imported here: worker closures must re-resolve submodules
            from bento_spark.streaming.discord import DiscordClient

            client = None
            for row in rows:
                if client is None:
                    client = DiscordClient(endpoint, bot_token)
                text = row.v or ""
                payload = None
                if text.startswith("{"):
                    try:
                        obj = json.loads(text)
                        if isinstance(obj, dict) and "content" in obj:
                            payload = obj
                    except json.JSONDecodeError:
                        pass
                if payload is None:
                    payload = {"content": text}
                client.create_message(channel_id, payload)

        payloads.foreachPartition(send)

    return write_batch


# ---------------------------------------------------------------------------
# in-process service (test-grade)
# ---------------------------------------------------------------------------


class MiniDiscordServer:
    """Channel-message API subset for e2e tests: VERIFIES the bot token,
    serves GET messages with after/limit (newest-first like the real
    API), accepts POSTs assigning ascending snowflake ids, and can
    simulate one 429 with retry_after to exercise the client's
    rate-limit path."""

    def __init__(self, bot_token: str = "test-bot-token",
                 host: str = "127.0.0.1", port: int = 0):
        self.host, self.port = host, port
        self.bot_token = bot_token
        # channel_id -> list[dict] ascending by id
        self.channels: dict[str, list[dict]] = {}
        self.throttle_next = False
        self._next_id = 1000
        self._lock = threading.Lock()
        self._httpd = None
        self._thread = None

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    def seed(self, channel_id: str, content: str, author: str = "seed") -> str:
        with self._lock:
            self._next_id += 1
            mid = str(self._next_id)
            self.channels.setdefault(channel_id, []).append({
                "id": mid, "channel_id": channel_id, "content": content,
                "author": {"username": author}})
        return mid

    def start(self) -> "MiniDiscordServer":
        import http.server

        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):
                pass

            def _reply(self, status: int, obj) -> None:
                body = json.dumps(obj).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _authed(self) -> bool:
                if self.headers.get("Authorization") == \
                        f"Bot {outer.bot_token}":
                    return True
                self._reply(401, {"message": "401: Unauthorized"})
                return False

            def _channel(self) -> str | None:
                u = urllib.parse.urlsplit(self.path)
                parts = u.path.split("/")
                # /api/v10/channels/{id}/messages
                if (len(parts) == 6 and parts[1] == "api"
                        and parts[3] == "channels" and parts[5] == "messages"):
                    return urllib.parse.unquote(parts[4])
                return None

            def do_GET(self) -> None:
                if not self._authed():
                    return
                cid = self._channel()
                if cid is None:
                    self._reply(404, {"message": "unknown route"})
                    return
                q = dict(urllib.parse.parse_qsl(
                    urllib.parse.urlsplit(self.path).query))
                after = int(q.get("after") or 0)
                limit = int(q.get("limit") or 50)
                with outer._lock:
                    msgs = [m for m in outer.channels.get(cid, [])
                            if int(m["id"]) > after]
                # oldest `limit` of the after-window, newest-first (API)
                page = sorted(msgs, key=lambda m: int(m["id"]))[:limit]
                self._reply(200, sorted(page, key=lambda m: -int(m["id"])))

            def do_POST(self) -> None:
                if not self._authed():
                    return
                cid = self._channel()
                if cid is None:
                    self._reply(404, {"message": "unknown route"})
                    return
                if outer.throttle_next:
                    outer.throttle_next = False
                    self._reply(429, {"message": "You are being rate limited.",
                                      "retry_after": 0.05})
                    return
                n = int(self.headers.get("Content-Length") or 0)
                obj = json.loads(self.rfile.read(n) or b"{}")
                with outer._lock:
                    outer._next_id += 1
                    obj = dict(obj)
                    obj["id"] = str(outer._next_id)
                    obj["channel_id"] = cid
                    outer.channels.setdefault(cid, []).append(obj)
                self._reply(200, obj)

        class Server(http.server.ThreadingHTTPServer):
            daemon_threads = True

        self._httpd = Server((self.host, self.port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
