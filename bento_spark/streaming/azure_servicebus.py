"""Azure Service Bus queue input — layered on the repo's dependency-free
AMQP 1.0 stack (streaming/amqp1.py): Service Bus IS AMQP 1.0 on the wire,
with auth via the CBS (claims-based security) node — a `put-token`
message to `$cbs` carrying a SAS token (the published recipe:
HMAC-SHA256 over url-encoded-resource + "\\n" + expiry with the shared
access key, rendered as `SharedAccessSignature sr=..&sig=..&se=..&skn=..`).

Reference: internal/impl/azure/input_service_bus_queue.go
(connection_string Endpoint=sb://..;SharedAccessKeyName=..;
SharedAccessKey=..;[EntityPath=..], queue, auto_ack, nack_reject_patterns,
renew_lock; per-message service_bus_* metadata at the spec block
input_service_bus_queue.go:112-120). The reference uses
azservicebus; here the AMQP 1.0 performatives, CBS handshake, and SAS
signing are all implemented from their public specifications, and the
in-process broker RECOMPUTES every SAS signature.

Spark-first mapping (same spool bridge as input.amqp_1):
- service_bus_bridge: CBS put-token, then a receiver link on the queue;
  each delivery spools as one file BEFORE its accepted
  disposition (at-least-once — unsettled deliveries redeliver).
  `nack_reject_patterns` matching bodies get a REJECTED disposition and
  never spool (the reference nacks them to the dead-letter queue).
  `renew_lock` is accepted-and-documented: the spool bridge settles
  immediately after the durable spool put, so there is no long-held lock
  to renew.
- Metadata (service_bus_message_id / sequence_number / enqueued_time /
  delivery_count / content_type / correlation_id) parses JVM-side from
  the spool file's header.
"""

from __future__ import annotations

import base64
import functools
import hashlib
import hmac
import re
import time
import urllib.parse
import uuid

from bento_spark.streaming.amqp1 import (
    Amqp1Client,
    Described,
    MiniAmqp1Broker,
    Symbol,
    _dec_value,
    _Reader,
    enc_value,
    performative,
    write_frame,
)
from bento_spark.streaming.bridge import Bridge

# message-section descriptors (OASIS AMQP 1.0 §3.2)
S_HEADER, S_DELIVERY_ANN, S_MESSAGE_ANN = 0x70, 0x71, 0x72
S_PROPERTIES, S_APP_PROPERTIES = 0x73, 0x74
S_DATA, S_SEQUENCE, S_AMQP_VALUE = 0x75, 0x76, 0x77
D_REJECTED = 0x25
D_DISPOSITION = 0x15

# Service Bus broker annotations (public AMQP protocol guide)
ANN_SEQUENCE = Symbol("x-opt-sequence-number")
ANN_ENQUEUED = Symbol("x-opt-enqueued-time")
ANN_LOCK = Symbol("x-opt-lock-token")


def parse_sb_connection_string(cs: str) -> tuple[str, str, str, str | None]:
    """Endpoint=sb://host/;SharedAccessKeyName=..;SharedAccessKey=..
    [;EntityPath=..] -> (host, key_name, key, entity_path)."""
    parts = dict(p.split("=", 1) for p in cs.strip().strip(";").split(";"))
    ep = parts.get("Endpoint", "")
    host = urllib.parse.urlsplit(ep if "//" in ep else f"sb://{ep}").hostname
    if not host:
        raise ValueError("service_bus: connection string missing Endpoint")
    try:
        return (host, parts["SharedAccessKeyName"], parts["SharedAccessKey"],
                parts.get("EntityPath"))
    except KeyError as e:
        raise ValueError(f"service_bus: connection string missing {e}") from e


def generate_sas_token(resource_uri: str, key_name: str, key: str,
                       expiry_epoch_s: int) -> str:
    """The published SAS recipe: sign urlencode(resource) + '\\n' + expiry
    with the RAW (not base64-decoded) shared access key."""
    sr = urllib.parse.quote_plus(resource_uri)
    to_sign = f"{sr}\n{expiry_epoch_s}"
    sig = base64.b64encode(
        hmac.new(key.encode("utf-8"), to_sign.encode("utf-8"),
                 hashlib.sha256).digest()).decode("ascii")
    return (f"SharedAccessSignature sr={sr}"
            f"&sig={urllib.parse.quote_plus(sig)}"
            f"&se={expiry_epoch_s}&skn={key_name}")


def verify_sas_token(token: str, resource_uri: str,
                     keys: dict[str, str]) -> bool:
    """Recompute-side check (the mini broker's job): parse sr/sig/se/skn,
    reject unknown key names, expired tokens, wrong audience, bad sigs."""
    if not token.startswith("SharedAccessSignature "):
        return False
    fields = dict(urllib.parse.parse_qsl(
        token.removeprefix("SharedAccessSignature ")))
    skn, se, sr = fields.get("skn"), fields.get("se"), fields.get("sr", "")
    key = keys.get(skn or "")
    if key is None or se is None or not se.isdigit():
        return False
    if int(se) < time.time():
        return False
    if urllib.parse.unquote_plus(sr) != resource_uri:
        return False
    want = generate_sas_token(resource_uri, skn, key, int(se))
    return hmac.compare_digest(
        dict(urllib.parse.parse_qsl(
            want.removeprefix("SharedAccessSignature ")))["sig"],
        fields.get("sig", ""))


def decode_sections(payload: bytes) -> dict:
    """All message sections -> {header: list, message_annotations: dict,
    properties: list, application_properties: dict, body}."""
    r = _Reader(payload)
    out: dict = {"header": [], "message_annotations": {},
                 "properties": [], "application_properties": {},
                 "body": None}
    while r.remaining():
        section = _dec_value(r)
        if not isinstance(section, Described):
            continue
        d = section.descriptor
        if d == S_HEADER:
            out["header"] = list(section.value or [])
        elif d == S_MESSAGE_ANN:
            out["message_annotations"] = dict(section.value or {})
        elif d == S_PROPERTIES:
            out["properties"] = list(section.value or [])
        elif d == S_APP_PROPERTIES:
            out["application_properties"] = dict(section.value or {})
        elif d in (S_DATA, S_AMQP_VALUE):
            out["body"] = section.value
    return out


def encode_message(body, *, properties: list | None = None,
                   application_properties: dict | None = None,
                   message_annotations: dict | None = None,
                   header: list | None = None) -> bytes:
    """Compose message sections (properties/app-properties/annotations/
    header + an amqp-value or data body)."""
    out = b""
    if header is not None:
        out += enc_value(Described(S_HEADER, header))
    if message_annotations:
        out += enc_value(Described(S_MESSAGE_ANN, message_annotations))
    if properties is not None:
        out += enc_value(Described(S_PROPERTIES, properties))
    if application_properties is not None:
        out += enc_value(Described(S_APP_PROPERTIES, application_properties))
    body_desc = S_DATA if isinstance(body, (bytes, bytearray)) else S_AMQP_VALUE
    out += enc_value(Described(body_desc, body))
    return out


def cbs_put_token(client: Amqp1Client, audience: str, token: str,
                  timeout_s: float = 10.0) -> None:
    """The CBS handshake: sender + receiver on `$cbs`, a `put-token`
    message (operation/type/name application-properties, token body),
    then the status-code reply. Raises ConnectionError on non-2xx."""
    reply_to = f"$cbs-reply-{uuid.uuid4().hex[:12]}"
    snd = client.attach_sender("$cbs")
    client.attach_receiver(reply_to, credit=4)
    msg = encode_message(
        token,
        properties=[str(uuid.uuid4()), None, "$cbs", None, reply_to],
        application_properties={
            "operation": "put-token",
            "type": "servicebus.windows.net:sastoken",
            "name": audience,
        })
    client.send_batch(snd, [msg])
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        got = client.receive(max_messages=1, wait_s=0.2)
        if not got:
            continue
        _did, payload = got[0]
        sections = decode_sections(payload)
        status = sections["application_properties"].get("status-code")
        if status is None:
            continue
        if int(status) // 100 != 2:
            desc = sections["application_properties"].get(
                "status-description", "")
            raise ConnectionError(
                f"service_bus: CBS put-token -> {status} {desc}")
        client.settle([_did])
        return
    raise TimeoutError("service_bus: no CBS response")


# ---------------------------------------------------------------------------
# input bridge
# ---------------------------------------------------------------------------


def service_bus_bridge(host: str, port: int, queue: str, spool_dir: str, key_name: str,
                       key: str, nack_reject_patterns: list[str] = (),
                       token_ttl_s: int = 3600) -> Bridge:
    """`azure_service_bus_queue` input: CBS-authenticated receiver link,
    spool-then-settle (at-least-once), reject-disposition for
    nack_reject_patterns matches."""
    rejects = [re.compile(p) for p in nack_reject_patterns]

    def connect() -> Amqp1Client:
        client = Amqp1Client(host, port)
        audience = f"sb://{host}/{queue}"
        token = generate_sas_token(audience, key_name, key, int(time.time()) + token_ttl_s)
        cbs_put_token(client, audience, token)
        client.attach_receiver(queue, credit=256)
        return client

    def messages(client: Amqp1Client, stop):
        while not stop.is_set():
            for did, payload in client.receive(max_messages=64, wait_s=0.5):
                sections = decode_sections(payload)
                body = sections["body"]
                text = (body.decode("utf-8", "replace")
                        if isinstance(body, (bytes, bytearray))
                        else "" if body is None else str(body))
                if any(rx.search(text) for rx in rejects):
                    # dead-letter path: rejected disposition, no spool
                    write_frame(client.sock, performative(
                        D_DISPOSITION, [True, did, did, True, Described(D_REJECTED, [])]))
                    continue
                props = sections["properties"] + [None] * 8
                ann = sections["message_annotations"]
                hdr = sections["header"] + [None] * 5
                enqueued_ms = ann.get(ANN_ENQUEUED)
                # the reference's metadata (input_service_bus_queue.go:112-120);
                # durable BEFORE the accepted disposition
                yield text, {
                    "service_bus_message_id": str(props[0]) if props[0] is not None else None,
                    "service_bus_sequence_number": ann.get(ANN_SEQUENCE),
                    "service_bus_enqueued_time": (int(enqueued_ms) // 1000
                                                  if enqueued_ms is not None else None),
                    "service_bus_delivery_count": hdr[4] if hdr[4] is not None else 0,
                    "service_bus_content_type": str(props[6]) if props[6] is not None else None,
                    "service_bus_correlation_id": str(props[5]) if props[5] is not None else None,
                }, functools.partial(client.settle, [did])

    return Bridge("azure_service_bus_queue", spool_dir, connect, messages)


# ---------------------------------------------------------------------------
# in-process broker (test-grade)
# ---------------------------------------------------------------------------


class MiniServiceBusBroker(MiniAmqp1Broker):
    """MiniAmqp1Broker + the Service Bus layers: a `$cbs` node that
    VERIFIES every SAS token (recomputing the signature, checking key
    name, audience, and expiry) and replies on the message's reply-to
    address; entity-queue messages gain broker annotations
    (x-opt-sequence-number, x-opt-enqueued-time) and a header with
    delivery-count on enqueue — the surface the input bridge's metadata
    extraction runs against."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 key_name: str = "RootManageSharedAccessKey",
                 key: str = "mini-service-bus-test-key"):
        super().__init__(host, port)
        self.keys = {key_name: key}
        self.granted: list[str] = []  # audiences with a valid token
        self._seq = 0

    def connection_string(self, entity: str | None = None) -> str:
        (name, key), = self.keys.items()
        cs = (f"Endpoint=sb://{self.host}:{self.port}/;"
              f"SharedAccessKeyName={name};SharedAccessKey={key}")
        if entity:
            cs += f";EntityPath={entity}"
        return cs

    def push(self, address: str, payload: bytes) -> None:
        if address == "$cbs":
            self._handle_cbs(payload)
            return
        # annotate like the service: sequence number + enqueued time +
        # header(delivery-count=0); existing sections are preserved
        sections = decode_sections(payload)
        with self._lock:
            self._seq += 1
            seq = self._seq
        ann = dict(sections["message_annotations"])
        ann[ANN_SEQUENCE] = seq
        ann[ANN_ENQUEUED] = int(time.time() * 1000)
        annotated = encode_message(
            sections["body"],
            header=[None, None, None, None, 0],
            message_annotations=ann,
            properties=sections["properties"] or None,
            application_properties=sections["application_properties"] or None)
        super().push(address, annotated)

    def _handle_cbs(self, payload: bytes) -> None:
        sections = decode_sections(payload)
        app = sections["application_properties"]
        props = sections["properties"] + [None] * 5
        reply_to = str(props[4] or "")
        token = sections["body"]
        audience = str(app.get("name", ""))
        ok = (app.get("operation") == "put-token"
              and str(app.get("type", "")).endswith("sastoken")
              and isinstance(token, str)
              and verify_sas_token(token, audience, self.keys))
        if ok:
            self.granted.append(audience)
        status, desc = (202, "Accepted") if ok else (401, "InvalidSignature")
        reply = encode_message(
            None,
            properties=[str(uuid.uuid4()), None, reply_to, None, None,
                        props[0]],  # correlation-id = request message-id
            application_properties={"status-code": status,
                                    "status-description": desc})
        super().push(reply_to, reply)
