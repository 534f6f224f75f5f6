"""GCP Pub/Sub input/output — dependency-free client for the public
Pub/Sub REST API (cloud.google.com/pubsub/docs/reference/rest:
`POST /v1/projects/{p}/topics/{t}:publish` with base64 message data,
`:pull` + `:acknowledge` on subscriptions) with real service-account
auth: the OAuth2 JWT-bearer grant (developers.google.com/identity —
an RS256 self-signed assertion exchanged at the token endpoint), signed
by this repo's own RSA implementation (functions/crypto_prims.py).

Reference: internal/impl/gcp/input_pubsub.go (project, subscription,
endpoint override — the PUBSUB_EMULATOR_HOST contract) and
output_pubsub.go (project, interpolated topic). The reference uses
cloud.google.com/go/pubsub (gRPC); the REST surface is the same public
API, so the connector is REAL and e2e-testable in-process — the mini
service VERIFIES the RS256 assertion with the service account's public
key before minting a token, so the whole auth chain is exercised, not
mocked away.

Spark-first mapping (same spool-bridge rationale as every pull source):
- input  -> pubsub_bridge pulls and spools each message BEFORE
  acknowledge (ack-after-durability = at-least-once: an un-acked message
  re-delivers after the ack deadline, the Pub/Sub contract). messageId
  rides the spool file's header as `pubsub_message_id`.
- output -> foreachBatch publish; the interpolated topic arrives as a
  COLUMN, data is base64 of the JVM-serialized JSON row.
"""

from __future__ import annotations

import base64
import functools
import json
import threading
import time
import urllib.parse

from bento_spark.streaming import rest
from bento_spark.streaming.bridge import EMPTY_POLL_S, Bridge, batch


# --------------------------------------------------------------------------
# service-account OAuth (JWT-bearer grant)
# --------------------------------------------------------------------------

_GRANT = "urn:ietf:params:oauth:grant-type:jwt-bearer"
_SCOPE = "https://www.googleapis.com/auth/pubsub"


def build_assertion(client_email: str, private_key_pem: str, token_uri: str,
                    issued_at: int, lifetime_s: int = 3600) -> str:
    """RS256 self-signed JWT assertion for the token exchange."""
    from bento_spark.functions.crypto_prims import parse_rsa_private, rsa_sign

    def b64url(b: bytes) -> str:
        return base64.urlsafe_b64encode(b).rstrip(b"=").decode("ascii")

    header = b64url(json.dumps({"alg": "RS256", "typ": "JWT"},
                               separators=(",", ":")).encode())
    claims = b64url(json.dumps({
        "iss": client_email, "scope": _SCOPE, "aud": token_uri,
        "iat": issued_at, "exp": issued_at + lifetime_s,
    }, separators=(",", ":")).encode())
    signing_input = f"{header}.{claims}"
    key = parse_rsa_private(private_key_pem)
    sig = rsa_sign(key, signing_input.encode("ascii"), 256)
    return f"{signing_input}.{b64url(sig)}"


class ServiceAccountToken:
    """A service account's bearer token: the JWT-bearer grant, an RS256
    assertion exchanged at the credentials' `token_uri`, cached until 60 s
    before it expires. `scope`, when given, is also sent in the exchange
    form. `credentials` = dict with client_email / private_key / token_uri
    (the service-account JSON's fields)."""

    def __init__(self, credentials: dict, name: str, timeout: float,
                 scope: str | None = None):
        self._creds, self._name, self._scope = credentials, name, scope
        self._ep = rest.Endpoint(credentials["token_uri"], timeout)
        self._value: str | None = None
        self._exp = 0.0

    def get(self) -> str:
        if self._value is not None and time.time() < self._exp - 60:
            return self._value
        c = self._creds
        form = {"grant_type": _GRANT, "assertion": build_assertion(
            c["client_email"], c["private_key"], c["token_uri"], int(time.time()))}
        if self._scope:
            form["scope"] = self._scope
        _, data, _ = rest.call(
            self._ep, "POST", urllib.parse.urlsplit(c["token_uri"]).path,
            urllib.parse.urlencode(form).encode("ascii"),
            lambda: {"Content-Type": "application/x-www-form-urlencoded"},
            name=f"{self._name} token")
        tok = json.loads(data)
        self._value = tok["access_token"]
        self._exp = time.time() + float(tok.get("expires_in", 3600))
        return self._value


def bearer_headers(token: ServiceAccountToken | None,
                   headers: dict[str, str]) -> dict[str, str]:
    """`headers` plus the token's Authorization header; unchanged without
    a token (the emulator contract)."""
    if token is None:
        return headers
    return {**headers, "Authorization": f"Bearer {token.get()}"}


class PubSubClient:
    """Minimal synchronous REST client: publish / pull / acknowledge /
    createSubscription. `credentials` (see ServiceAccountToken) enables
    the JWT-bearer token flow; None = unauthenticated (the emulator
    contract)."""

    def __init__(self, endpoint: str, credentials: dict | None = None,
                 timeout: float = 35.0):
        self._ep = rest.Endpoint(endpoint, timeout)
        self._token = (None if credentials is None
                       else ServiceAccountToken(credentials, "pubsub", timeout))

    def _call(self, method: str, path: str, body: dict | None = None) -> dict:
        payload = None if body is None else json.dumps(body).encode("utf-8")
        _, data, _ = rest.call(
            self._ep, method, path, payload,
            lambda: bearer_headers(self._token, {"Content-Type": "application/json"}),
            name="pubsub")
        return json.loads(data) if data else {}

    def publish(self, project: str, topic: str,
                messages: list[tuple[bytes, dict]]) -> list[str]:
        """messages: [(data, attributes)] -> messageIds."""
        out = self._call("POST", f"/v1/projects/{project}/topics/{topic}:publish", {
            "messages": [
                {"data": base64.b64encode(d).decode("ascii"), "attributes": a}
                for d, a in messages
            ],
        })
        return out.get("messageIds", [])

    def pull(self, project: str, subscription: str,
             max_messages: int = 10) -> list[dict]:
        out = self._call(
            "POST",
            f"/v1/projects/{project}/subscriptions/{subscription}:pull",
            {"maxMessages": max_messages})
        return out.get("receivedMessages") or []

    def acknowledge(self, project: str, subscription: str,
                    ack_ids: list[str]) -> None:
        if ack_ids:
            self._call(
                "POST",
                f"/v1/projects/{project}/subscriptions/{subscription}:acknowledge",
                {"ackIds": ack_ids})

    def create_subscription(self, project: str, subscription: str,
                            topic: str) -> None:
        """Idempotent: the real API's 409 ALREADY_EXISTS on a restart is
        success, not failure (the reference input ignores AlreadyExists)."""
        try:
            self._call("PUT",
                       f"/v1/projects/{project}/subscriptions/{subscription}",
                       {"topic": f"projects/{project}/topics/{topic}"})
        except ConnectionError as e:
            if "409" not in str(e) and "ALREADY_EXISTS" not in str(e):
                raise

    def close(self) -> None:  # connections are per-request
        pass


# --------------------------------------------------------------------------
# input bridge
# --------------------------------------------------------------------------


def pubsub_bridge(endpoint: str, project: str, subscription: str, spool_dir: str,
                  credentials: dict | None = None, max_messages: int = 10,
                  create_topic: str | None = None) -> Bridge:
    """`gcp_pubsub` input (input_pubsub.go): pull-loop the subscription
    and spool each message as one durable file; the pull's acknowledge
    rides its last message, so it fires only AFTER every atomic rename:
    at-least-once via the ack deadline. `create_topic` mirrors the
    reference's create_subscription object (enabled + topic)."""

    def connect() -> PubSubClient:
        client = PubSubClient(endpoint, credentials=credentials)
        if create_topic:
            client.create_subscription(project, subscription, create_topic)
        return client

    def acknowledge(client: PubSubClient, acks: list[str]) -> None:
        try:
            client.acknowledge(project, subscription, acks)
        except (ConnectionError, OSError):
            pass  # the ack deadline re-delivers; dedupe downstream

    def messages(client: PubSubClient, stop):
        while not stop.is_set():
            got = client.pull(project, subscription, max_messages=max_messages)
            if not got:
                stop.wait(EMPTY_POLL_S)
            msgs = [rm.get("message") or {} for rm in got]
            yield from batch([(base64.b64decode(m.get("data", "")),
                               {"pubsub_message_id": m.get("messageId") or None}) for m in msgs],
                             functools.partial(acknowledge, client, [r["ackId"] for r in got]))

    return Bridge("gcp_pubsub", spool_dir, connect, messages)


# --------------------------------------------------------------------------
# output
# --------------------------------------------------------------------------


def pubsub_sink(endpoint: str, project: str, topic_col: str,
                credentials: dict | None = None, batch_size: int = 100):
    """`gcp_pubsub` output (output_pubsub.go: interpolated topic): rows
    serialize JVM-side; the executor groups by topic and publishes
    size-bounded batches."""
    from pyspark.sql import functions as F

    from bento_spark.streaming.sink import json_body, write_partitions

    def send(client, rows) -> None:
        pending: dict[str, list] = {}
        for row in rows:
            pending.setdefault(row.t, []).append((row.v.encode("utf-8"), {}))
            if len(pending[row.t]) >= batch_size:
                client.publish(project, row.t, pending.pop(row.t))
        for t, msgs in pending.items():
            client.publish(project, t, msgs)

    def write_batch(batch_df, epoch_id: int) -> None:
        payloads = batch_df.select(F.col(topic_col).alias("t"),
                                   json_body(batch_df, topic_col).alias("v"))
        write_partitions(payloads, functools.partial(
            PubSubClient, endpoint, credentials=credentials), send)

    return write_batch


# --------------------------------------------------------------------------
# in-process service (test-grade, assertion-VERIFYING token endpoint)
# --------------------------------------------------------------------------


class MiniPubSubServer:
    """Pub/Sub REST subset for e2e tests: publish / pull (ack-deadline
    redelivery) / acknowledge / createSubscription, plus an OAuth token
    endpoint that VERIFIES the RS256 service-account assertion with the
    account's PUBLIC key before minting a bearer token (rejected
    otherwise) — the full auth chain is exercised. Unauthenticated mode
    (no `service_accounts`) mirrors the emulator contract."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 service_accounts: dict[str, str] | None = None,
                 ack_deadline_s: float = 2.0):
        self.host, self.port = host, port
        # client_email -> public key PEM
        self.service_accounts = dict(service_accounts or {})
        self.ack_deadline_s = ack_deadline_s
        # topic -> [(data_b64, attributes)]
        self._topics: dict[str, list] = {}
        # subscription -> {"topic": t, "queue": [[mid, data_b64, attrs, visible_after]]}
        self._subs: dict[str, dict] = {}
        self._tokens: set[str] = set()
        self._seq = 0
        self._lock = threading.Lock()
        self._srv = None
        self._thread = None

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    @property
    def token_uri(self) -> str:
        return f"http://{self.host}:{self.port}/token"

    def create_topic(self, name: str) -> None:
        with self._lock:
            self._topics.setdefault(name, [])

    def subscription_size(self, name: str) -> int:
        with self._lock:
            return len(self._subs.get(name, {}).get("queue", []))

    def start(self) -> "MiniPubSubServer":
        import http.server
        import re

        svc = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def _reply(self, code: int, obj: dict) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _authed(self) -> bool:
                if not svc.service_accounts:
                    return True  # emulator mode
                auth = self.headers.get("Authorization", "")
                return auth.removeprefix("Bearer ") in svc._tokens

            def _handle_token(self, payload: bytes) -> None:
                import urllib.parse as up

                from bento_spark.functions.crypto_prims import (
                    parse_rsa_public,
                    rsa_verify,
                )

                form = up.parse_qs(payload.decode("ascii"))
                assertion = (form.get("assertion") or [""])[0]
                try:
                    h, c, s = assertion.split(".")
                    pad = lambda x: x + "=" * (-len(x) % 4)  # noqa: E731
                    claims = json.loads(base64.urlsafe_b64decode(pad(c)))
                    pub_pem = svc.service_accounts.get(claims.get("iss", ""))
                    if pub_pem is None:
                        return self._reply(401, {"error": "unknown client_email"})
                    ok = rsa_verify(parse_rsa_public(pub_pem),
                                    f"{h}.{c}".encode("ascii"),
                                    base64.urlsafe_b64decode(pad(s)), 256)
                    if not ok:
                        return self._reply(401, {"error": "invalid_grant"})
                except (ValueError, KeyError):
                    return self._reply(400, {"error": "malformed assertion"})
                with svc._lock:
                    svc._seq += 1
                    tok = f"ya29.mini-{svc._seq}"
                    svc._tokens.add(tok)
                return self._reply(200, {"access_token": tok,
                                         "token_type": "Bearer",
                                         "expires_in": 3600})

            def do_PUT(self):  # noqa: N802
                n = int(self.headers.get("Content-Length", 0))
                body = json.loads(self.rfile.read(n) or b"{}")
                if not self._authed():
                    return self._reply(401, {"error": "unauthorized"})
                m = re.match(r"/v1/projects/[^/]+/subscriptions/([^/:]+)$", self.path)
                if m:
                    topic = body.get("topic", "").split("/")[-1]
                    with svc._lock:
                        if m.group(1) in svc._subs:
                            # the real API's restart behavior — clients
                            # must treat this as success
                            return self._reply(409, {"error": {
                                "code": 409, "status": "ALREADY_EXISTS"}})
                        svc._topics.setdefault(topic, [])
                        svc._subs[m.group(1)] = {"topic": topic, "queue": []}
                    return self._reply(200, {"name": self.path[4:]})
                return self._reply(404, {"error": "unknown path"})

            def do_POST(self):  # noqa: N802
                n = int(self.headers.get("Content-Length", 0))
                payload = self.rfile.read(n)
                if self.path == "/token":
                    return self._handle_token(payload)
                if not self._authed():
                    return self._reply(401, {"error": "unauthorized"})
                body = json.loads(payload or b"{}")
                m = re.match(r"/v1/projects/[^/]+/topics/([^/:]+):publish$",
                             self.path)
                if m:
                    topic = m.group(1)
                    mids = []
                    with svc._lock:
                        svc._topics.setdefault(topic, [])
                        for msg in body.get("messages", []):
                            svc._seq += 1
                            mid = str(svc._seq)
                            mids.append(mid)
                            for sub in svc._subs.values():
                                if sub["topic"] == topic:
                                    sub["queue"].append(
                                        [mid, msg.get("data", ""),
                                         msg.get("attributes") or {}, 0.0])
                    return self._reply(200, {"messageIds": mids})
                m = re.match(r"/v1/projects/[^/]+/subscriptions/([^/:]+):pull$",
                             self.path)
                if m:
                    now = time.monotonic()
                    with svc._lock:
                        sub = svc._subs.get(m.group(1))
                        if sub is None:
                            return self._reply(404, {"error": "no such subscription"})
                        visible = [e for e in sub["queue"] if e[3] <= now]
                        picked = visible[: int(body.get("maxMessages", 1))]
                        for e in picked:
                            e[3] = now + svc.ack_deadline_s
                    return self._reply(200, {"receivedMessages": [
                        {"ackId": f"{e[0]}|{e[3]}",
                         "message": {"messageId": e[0], "data": e[1],
                                     "attributes": e[2]}}
                        for e in picked
                    ] or None})
                m = re.match(
                    r"/v1/projects/[^/]+/subscriptions/([^/:]+):acknowledge$",
                    self.path)
                if m:
                    ids = {a.split("|")[0] for a in body.get("ackIds", [])}
                    with svc._lock:
                        sub = svc._subs.get(m.group(1))
                        if sub is not None:
                            sub["queue"] = [e for e in sub["queue"]
                                            if e[0] not in ids]
                    return self._reply(200, {})
                return self._reply(404, {"error": "unknown path"})

            def log_message(self, *a):
                pass

        self._srv = http.server.ThreadingHTTPServer((self.host, self.port), Handler)
        self.port = self._srv.server_address[1]
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._srv is not None:
            self._srv.shutdown()
            self._srv = None
