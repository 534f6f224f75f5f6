"""NATS input/output — dependency-free client for the core NATS text
protocol (public spec: docs.nats.io "Client Protocol": INFO/CONNECT/PUB/
SUB/UNSUB/MSG/PING/PONG/+OK/-ERR), plus an in-process test server.

Reference: internal/impl/nats/input.go (subject with `*`/`>` wildcards,
optional queue group; per-message `nats_subject`/`nats_reply_subject`
metadata) and output.go (interpolated subject). The reference uses
nats.go; no NATS wheel ships in this sandbox, so — like the MQTT and
RFC 6455 connectors — the wire protocol is implemented from the published
spec, which makes the connector REAL and e2e-testable in-process instead
of availability-gated.

Spark-first mapping (same spool-bridge rationale as every push source):
- input  -> nats_bridge subscribes and persists each MSG payload as a
  durable spool file; the stream is the replayable file source, so offset
  log + exactly-once downstream hold. Core NATS is fire-and-forget
  (at-most-once — no acks in the protocol; JetStream adds them but is a
  different protocol layer), matching the reference core-`nats` input's
  delivery guarantee. The subject and reply subject ride the spool
  file's header and surface as `nats_subject` /
  `nats_reply_subject` columns, parsed JVM-side.
- output -> rows publish as JSON executor-side. The subject supports `${! expr }`
  interpolation (output.go's InterpolatedStringField) — computed as a
  COLUMN next to the payload, so per-row subjects never touch Python
  row-at-a-time.

Queue groups (§"Queue Groups"): subscribers sharing a queue name split
the subject's traffic — the mini server round-robins within each group,
the production behavior a horizontally-scaled consumer fleet relies on.
"""

from __future__ import annotations

import functools
import json
import socket
import threading
import uuid
from dataclasses import dataclass

from bento_spark.operators.cache import RemoteCache
from bento_spark.streaming.bridge import EMPTY_POLL_S, Bridge
from bento_spark.streaming.reader import SocketReader

_CRLF = b"\r\n"


# --------------------------------------------------------------------------
# wire helpers
# --------------------------------------------------------------------------


def subject_matches(filt: str, subject: str) -> bool:
    """Core NATS subject matching: dot-separated tokens, `*` = exactly one
    token, `>` = one-or-more trailing tokens (last token only)."""
    fparts, sparts = filt.split("."), subject.split(".")
    for i, fp in enumerate(fparts):
        if fp == ">":
            return len(sparts) > i
        if i >= len(sparts):
            return False
        if fp != "*" and fp != sparts[i]:
            return False
    return len(fparts) == len(sparts)


class NatsClient:
    """Minimal synchronous core-NATS client: connect (INFO/CONNECT
    handshake), publish, subscribe (with optional queue group), blocking
    receive. One socket, no background thread — PING is answered inline
    by `recv_msg()`."""

    def __init__(self, host: str, port: int, name: str | None = None,
                 timeout: float = 10.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self._io = SocketReader(self.sock, "nats")
        self._sid = 0
        info = self._io.line(_CRLF)
        if not info.startswith(b"INFO "):
            raise ConnectionError(f"nats: expected INFO, got {info[:40]!r}")
        self.server_info = json.loads(info[5:])
        opts = {"verbose": False, "pedantic": False, "tls_required": False,
                "name": name or f"bento-spark-{uuid.uuid4().hex[:12]}",
                "lang": "python", "version": "0", "protocol": 1}
        self.sock.sendall(b"CONNECT " + json.dumps(opts).encode() + _CRLF)
        # flush barrier so CONNECT errors surface deterministically
        self.sock.sendall(b"PING" + _CRLF)
        line = self._io.line(_CRLF)
        if line.startswith(b"-ERR"):
            raise ConnectionError(f"nats: {line.decode(errors='replace')}")
        if line != b"PONG":
            raise ConnectionError(f"nats: expected PONG, got {line[:40]!r}")

    def publish(self, subject: str, payload: bytes, reply: str | None = None) -> None:
        head = f"PUB {subject} {reply + ' ' if reply else ''}{len(payload)}"
        self.sock.sendall(head.encode() + _CRLF + payload + _CRLF)

    def subscribe(self, subject: str, queue: str | None = None) -> int:
        self._sid += 1
        q = f"{queue} " if queue else ""
        self.sock.sendall(f"SUB {subject} {q}{self._sid}".encode() + _CRLF)
        return self._sid

    def unsubscribe(self, sid: int) -> None:
        self.sock.sendall(f"UNSUB {sid}".encode() + _CRLF)

    def recv_msg(self) -> tuple[str, int, str | None, bytes]:
        """Block for the next MSG -> (subject, sid, reply_subject, payload);
        answers PING inline; skips +OK."""
        while True:
            line = self._io.line(_CRLF)
            if line.startswith(b"MSG "):
                parts = line.decode().split(" ")
                # MSG <subject> <sid> [reply-to] <#bytes>
                subject, sid = parts[1], int(parts[2])
                reply = parts[3] if len(parts) == 5 else None
                nbytes = int(parts[-1])
                payload = self._io.exact(nbytes)
                self._io.exact(2)  # trailing CRLF
                return subject, sid, reply, payload
            if line == b"PING":
                self.sock.sendall(b"PONG" + _CRLF)
                continue
            if line in (b"PONG", b"+OK"):
                continue
            if line.startswith(b"-ERR"):
                raise ConnectionError(f"nats: {line.decode(errors='replace')}")

    def flush(self) -> None:
        """PING/PONG round-trip — everything written before it has been
        processed by the server when this returns."""
        self.sock.sendall(b"PING" + _CRLF)
        while self._io.line(_CRLF) != b"PONG":
            pass

    def request(self, subject: str, payload: bytes, timeout: float = 5.0,
                inbox_prefix: str = "_INBOX") -> bytes:
        """Core-NATS request-reply: publish with a unique inbox reply
        subject, block for the responder's reply (nats.go's Request;
        inbox_prefix per processor_request_reply.go). Raises TimeoutError
        when no responder answers in time."""
        inbox = f"{inbox_prefix}.{uuid.uuid4().hex}"
        sid = self.subscribe(inbox)
        old = self.sock.gettimeout()
        try:
            self.publish(subject, payload, reply=inbox)
            self.sock.settimeout(timeout)
            while True:
                _subj, msid, _r, data = self.recv_msg()
                if msid == sid:
                    return data
        finally:
            self.sock.settimeout(old)
            try:
                self.unsubscribe(sid)
            except OSError:
                pass

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass


# --------------------------------------------------------------------------
# input bridge
# --------------------------------------------------------------------------


def nats_bridge(host: str, port: int, subject: str, spool_dir: str,
                queue: str | None = None) -> Bridge:
    """`nats` input (input.go): subscribe (optionally as a queue-group
    member) and spool each message as one durable file. Core NATS is
    at-most-once: a message sent while the bridge was not subscribed was
    never delivered; everything it did see is durable before the next
    recv."""

    def connect() -> NatsClient:
        client = NatsClient(host, port)
        # subscribe + flush BEFORE start() returns, so no publish races it
        client.subscribe(subject, queue=queue)
        client.flush()
        # block forever on push traffic: the connect-time timeout would
        # otherwise kill an IDLE subscriber after 10s
        client.sock.settimeout(None)
        return client

    def messages(client: NatsClient, stop):
        while True:
            subj, _sid, reply, payload = client.recv_msg()
            # input.go:200-201 metadata
            yield payload, {"nats_subject": subj, "nats_reply_subject": reply or None}, None

    return Bridge("nats", spool_dir, connect, messages)


# --------------------------------------------------------------------------
# output
# --------------------------------------------------------------------------


def nats_sink(host: str, port: int, subject_col: str):
    """`nats` output (output.go: interpolated subject): rows publish as
    JSON, serialized JVM-side (to_json); the per-row subject arrives as a
    pre-computed COLUMN (interpolation compiled by the caller).
    Fire-and-forget like core NATS itself; a flush per partition bounds
    loss to the final batch of a crashed executor — the same at-most-once
    contract as the reference's core-nats output."""
    from pyspark.sql import functions as F

    from bento_spark.streaming.sink import json_body, write_partitions

    def send(client, rows) -> None:
        for row in rows:
            client.publish(row.s, row.v.encode("utf-8"))
        client.flush()

    def write_batch(batch_df, epoch_id: int) -> None:
        payloads = batch_df.select(F.col(subject_col).alias("s"),
                                   json_body(batch_df, subject_col).alias("v"))
        write_partitions(payloads, functools.partial(NatsClient, host, port), send)

    return write_batch


def nats_request_reply_enrich(df, host: str, port: int, subject,
                              out_col: str = "nats_reply",
                              timeout: float = 5.0,
                              inbox_prefix: str = "_INBOX"):
    """`nats_request_reply` processor (nats/processor_request_reply.go):
    each row publishes to the interpolated subject with a unique inbox
    reply-to and the responder's reply lands in `out_col` — the http
    enrichment shape (payload rendered JVM-side, one client per
    partition, timeouts follow the error-column protocol)."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    from bento_spark.operators.errors import ERROR_COL, ensure_error_col

    df = ensure_error_col(df)
    df = df.withColumn("_nats_subject",
                       subject if isinstance(subject, Column) else F.lit(str(subject)))
    in_cols = [c for c in df.columns if c != "_nats_subject"]
    if out_col in in_cols:
        raise ValueError(
            f"nats_request_reply: out_col {out_col!r} collides with an input column")
    payload = F.to_json(F.struct(*[F.col(c) for c in in_cols if c != ERROR_COL]))
    df = df.withColumn("_nats_payload", payload)
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join([f"{c} {fields[c]}" for c in in_cols]
                           + [f"{out_col} string"])

    def ask(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # imported here: worker closures must re-resolve submodules
        from bento_spark.streaming.nats import NatsClient

        client = None
        try:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                outs, errs = [], []
                for i in range(len(pdf)):
                    prior = pdf[ERROR_COL].iloc[i]
                    if isinstance(prior, str):  # errored rows short-circuit
                        outs.append(None)
                        errs.append(prior)
                        continue
                    try:
                        if client is None:
                            client = NatsClient(host, port)
                        reply = client.request(
                            pdf["_nats_subject"].iloc[i],
                            pdf["_nats_payload"].iloc[i].encode("utf-8"),
                            timeout=timeout, inbox_prefix=inbox_prefix)
                        outs.append(reply.decode("utf-8", "replace"))
                        errs.append(None)
                    except (TimeoutError, ConnectionError, OSError) as e:
                        outs.append(None)
                        errs.append(f"nats request failed: "
                                    f"{type(e).__name__}: {e}")
                        if client is not None:
                            client.close()
                            client = None
                out = pdf[in_cols].copy()
                out[out_col] = outs
                out[ERROR_COL] = errs
                yield out
        finally:
            if client is not None:
                client.close()

    return df.mapInPandas(ask, schema=out_schema)


# --------------------------------------------------------------------------
# in-process server (test-grade)
# --------------------------------------------------------------------------


class MiniNatsServer:
    """Single-host core-NATS server subset for e2e tests: INFO/CONNECT,
    PUB routing to SUB filters with `*`/`>` wildcards, queue-group
    round-robin (one member per group per message), PING/PONG, UNSUB.
    Not a production server — the deliverable is the CLIENT; this exists
    so the connector can be driven end-to-end without external services."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self.host, self.port = host, port
        self._server: socket.socket | None = None
        # (sock, filter, sid, queue)
        self._subs: list[tuple[socket.socket, str, int, str | None]] = []
        self._rr: dict[str, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []
        # JetStream state (see the JetStream layer above): stream name ->
        # {subjects, msgs, seq}; consumer (stream, durable) -> state
        self._js_streams: dict[str, dict] = {}
        self._js_consumers: dict[tuple[str, str], dict] = {}
        self._js_lock = threading.Lock()

    def add_stream(self, name: str, subjects: list[str]) -> None:
        """Register a JetStream stream (tests; STREAM.CREATE does the same)."""
        with self._js_lock:
            self._js_streams[name] = {"subjects": list(subjects),
                                      "msgs": [], "seq": 0}

    def start(self) -> "MiniNatsServer":
        srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind((self.host, self.port))
        srv.listen(16)
        self.port = srv.getsockname()[1]
        self._server = srv
        t = threading.Thread(target=self._accept_loop, daemon=True)
        t.start()
        self._threads.append(t)
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._server is not None:
            try:
                self._server.close()
            except OSError:
                pass
        with self._lock:
            for s, *_ in self._subs:
                try:
                    s.close()
                except OSError:
                    pass
            self._subs.clear()
        for t in self._threads:
            t.join(timeout=2)

    def _accept_loop(self) -> None:
        assert self._server is not None
        while not self._stop.is_set():
            try:
                conn, _ = self._server.accept()
            except OSError:
                return
            t = threading.Thread(target=self._serve, args=(conn,), daemon=True)
            t.start()
            self._threads.append(t)

    def _serve(self, conn: socket.socket) -> None:
        io = SocketReader(conn, "nats")
        info = {"server_id": "mini", "version": "0.0-test", "proto": 1,
                "max_payload": 1 << 20}
        try:
            conn.sendall(b"INFO " + json.dumps(info).encode() + _CRLF)
            while not self._stop.is_set():
                line = io.line(_CRLF)
                if not line:
                    continue
                verb = line.split(b" ", 1)[0].upper()
                if verb == b"CONNECT":
                    continue
                if verb == b"PING":
                    conn.sendall(b"PONG" + _CRLF)
                elif verb == b"SUB":
                    parts = line.decode().split(" ")
                    # SUB <subject> [queue] <sid>
                    subject = parts[1]
                    queue = parts[2] if len(parts) == 4 else None
                    sid = int(parts[-1])
                    with self._lock:
                        self._subs.append((conn, subject, sid, queue))
                elif verb == b"UNSUB":
                    sid = int(line.decode().split(" ")[1])
                    with self._lock:
                        self._subs = [s for s in self._subs
                                      if not (s[0] is conn and s[2] == sid)]
                elif verb == b"PUB":
                    parts = line.decode().split(" ")
                    # PUB <subject> [reply-to] <#bytes>
                    subject = parts[1]
                    reply = parts[2] if len(parts) == 4 else None
                    nbytes = int(parts[-1])
                    payload = io.exact(nbytes)
                    io.exact(2)
                    if not self._js_intercept(subject, reply, {}, payload):
                        self._route(subject, reply, payload)
                elif verb == b"HPUB":
                    parts = line.decode().split(" ")
                    # HPUB <subject> [reply-to] <hdr_len> <total_len>
                    subject = parts[1]
                    reply = parts[2] if len(parts) == 5 else None
                    hdr_len, total = int(parts[-2]), int(parts[-1])
                    blob = io.exact(total)
                    io.exact(2)
                    _st, hdrs = _parse_headers(blob[:hdr_len])
                    payload = blob[hdr_len:]
                    if not self._js_intercept(subject, reply, hdrs, payload):
                        self._route(subject, reply, payload)
        except (ConnectionError, OSError, ValueError):
            pass
        finally:
            with self._lock:
                self._subs = [s for s in self._subs if s[0] is not conn]
            try:
                conn.close()
            except OSError:
                pass

    # -- JetStream (wire-faithful subset for the e2e tests) -------------------
    def _js_intercept(self, subject: str, reply: str | None,
                      hdrs: dict, payload: bytes) -> bool:
        """Handle $JS.API.* / $JS.ACK.* / stream-subject publishes.
        Returns True when fully handled (no core routing)."""
        import time as _time

        if subject.startswith("$JS.API."):
            self._js_api(subject[len("$JS.API."):], reply, payload)
            return True
        if subject.startswith("$JS.ACK."):
            toks = subject.split(".")
            key = (toks[2], toks[3])
            with self._js_lock:
                c = self._js_consumers.get(key)
                if c is not None and len(toks) > 5:
                    sseq = int(toks[5])
                    c["pending"].pop(sseq, None)
                    c["acked"].add(sseq)
            return True
        # stream ingestion: first stream whose subject set matches
        ack: dict | None = None
        with self._js_lock:
            for name, st in self._js_streams.items():
                if any(subject_matches(f, subject) for f in st["subjects"]):
                    want = hdrs.get("Nats-Expected-Last-Subject-Sequence")
                    if want is not None:
                        last = 0
                        for m in st["msgs"]:
                            if m["subject"] == subject:
                                last = m["seq"]
                        if int(want) != last:
                            ack = {"error": {
                                "code": 400, "err_code": 10071,
                                "description": f"wrong last sequence: {last}"}}
                            break
                    st["seq"] += 1
                    st["msgs"].append({"seq": st["seq"], "subject": subject,
                                       "hdrs": dict(hdrs), "payload": payload,
                                       "t": _time.monotonic()})
                    ack = {"stream": name, "seq": st["seq"]}
                    break
        if ack is not None and reply:
            self._route(reply, None, json.dumps(ack).encode())
        return False  # core subscribers still receive stream subjects

    def _js_api(self, verb: str, reply: str | None, payload: bytes) -> None:
        import time as _time

        def answer(doc: dict) -> None:
            if reply:
                self._route(reply, None, json.dumps(doc).encode())

        try:
            req = json.loads(payload) if payload else {}
        except ValueError:
            req = {}
        if verb.startswith("STREAM.CREATE."):
            name = verb[len("STREAM.CREATE."):]
            self.add_stream(name, req.get("subjects") or [name])
            return answer({"did_create": True,
                           "config": {"name": name,
                                      "subjects": req.get("subjects")}})
        if verb.startswith("CONSUMER.DURABLE.CREATE."):
            stream, durable = verb[len("CONSUMER.DURABLE.CREATE."):].split(".", 1)
            cfg = req.get("config") or {}
            with self._js_lock:
                if stream not in self._js_streams:
                    return answer({"error": {"code": 404,
                                             "description": "stream not found"}})
                st = self._js_streams[stream]
                pol = cfg.get("deliver_policy", "all")
                if pol == "last":
                    start_seq = max(st["seq"], 1)
                elif pol == "new":
                    start_seq = st["seq"] + 1
                else:  # all
                    start_seq = 1
                self._js_consumers.setdefault((stream, durable), {
                    "filter": cfg.get("filter_subject", ""),
                    "ack_wait_s": (cfg.get("ack_wait") or 30_000_000_000) / 1e9,
                    "next_seq": start_seq,
                    "pending": {}, "acked": set(),
                })
            return answer({"name": durable, "stream_name": stream})
        if verb.startswith("CONSUMER.MSG.NEXT."):
            stream, durable = verb[len("CONSUMER.MSG.NEXT."):].split(".", 1)
            now = _time.monotonic()
            deliver = None
            with self._js_lock:
                c = self._js_consumers.get((stream, durable))
                st = self._js_streams.get(stream)
                if c is None or st is None:
                    return answer({"error": {"code": 404,
                                             "description": "consumer not found"}})
                # redelivery first: pending past ack_wait
                for sseq in sorted(c["pending"]):
                    if c["pending"][sseq] + c["ack_wait_s"] < now:
                        deliver = next(m for m in st["msgs"] if m["seq"] == sseq)
                        break
                if deliver is None:
                    for m in st["msgs"]:
                        if m["seq"] < c["next_seq"] or m["seq"] in c["acked"]:
                            continue
                        if c["filter"] and not subject_matches(
                                c["filter"], m["subject"]):
                            c["next_seq"] = m["seq"] + 1
                            continue
                        deliver = m
                        c["next_seq"] = m["seq"] + 1
                        break
                if deliver is not None:
                    c["pending"][deliver["seq"]] = now
            if deliver is None:
                if reply:
                    self._route_h(reply, None, "404 No Messages", {}, b"")
                return
            ack_subj = (f"$JS.ACK.{stream}.{durable}.1.{deliver['seq']}"
                        f".{deliver['seq']}.0.0")
            if reply:
                if deliver["hdrs"]:
                    self._route_h(reply, ack_subj, "", deliver["hdrs"],
                                  deliver["payload"],
                                  subject_override=deliver["subject"])
                else:
                    self._route(reply, ack_subj, deliver["payload"],
                                subject_override=deliver["subject"])
            return
        if verb.startswith("DIRECT.GET."):
            stream = verb[len("DIRECT.GET."):]
            subj = req.get("last_by_subj", "")
            hit = None
            with self._js_lock:
                st = self._js_streams.get(stream)
                if st is not None:
                    for m in st["msgs"]:
                        if m["subject"] == subj:
                            hit = m
            if reply:
                if hit is None:
                    self._route_h(reply, None, "404 Message Not Found", {}, b"")
                else:
                    hdrs = {"Nats-Subject": hit["subject"],
                            "Nats-Sequence": str(hit["seq"]), **hit["hdrs"]}
                    self._route_h(reply, None, "", hdrs, hit["payload"])
            return
        return answer({"error": {"code": 400,
                                 "description": f"unknown api {verb}"}})

    def _route_h(self, subject: str, reply: str | None, status: str,
                 headers: dict[str, str], payload: bytes,
                 subject_override: str | None = None) -> None:
        """HMSG delivery to matching subscribers (status + headers)."""
        first = f"NATS/1.0 {status}".rstrip() + "\r\n"
        hdr = (first + "".join(f"{k}: {v}\r\n" for k, v in headers.items())
               + "\r\n").encode()
        total = len(hdr) + len(payload)
        wire_subject = subject_override or subject
        with self._lock:
            targets = [(s, sid) for s, filt, sid, _q in self._subs
                       if subject_matches(filt, subject)]
        for sock, sid in targets:
            head = (f"HMSG {wire_subject} {sid} "
                    f"{reply + ' ' if reply else ''}{len(hdr)} {total}")
            try:
                sock.sendall(head.encode() + _CRLF + hdr + payload + _CRLF)
            except OSError:
                pass

    def _route(self, subject: str, reply: str | None, payload: bytes,
               subject_override: str | None = None) -> None:
        with self._lock:
            matches = [s for s in self._subs if subject_matches(s[1], subject)]
            # queue groups: exactly one member per (filter, queue) group,
            # round-robin; plain subscribers all receive
            targets: list[tuple[socket.socket, int]] = []
            grouped: dict[tuple[str, str], list[tuple[socket.socket, int]]] = {}
            for sock, filt, sid, queue in matches:
                if queue is None:
                    targets.append((sock, sid))
                else:
                    grouped.setdefault((filt, queue), []).append((sock, sid))
            for key, members in grouped.items():
                k = f"{key[0]}|{key[1]}"
                i = self._rr.get(k, 0) % len(members)
                self._rr[k] = i + 1
                targets.append(members[i])
            wire_subject = subject_override or subject
            for sock, sid in targets:
                head = (f"MSG {wire_subject} {sid} "
                        f"{reply + ' ' if reply else ''}{len(payload)}")
                try:
                    sock.sendall(head.encode() + _CRLF + payload + _CRLF)
                except OSError:
                    pass


# --------------------------------------------------------------------------
# JetStream layer (input_jetstream.go / output_jetstream.go / cache_kv.go)
# --------------------------------------------------------------------------
# JetStream rides ON core NATS: every API call is request-reply on
# `$JS.API.*`, publishes acknowledge via the reply inbox, and status
# signals (404 no-messages) arrive as NATS/1.0 header messages — so the
# layer below is HPUB/HMSG (the public headers extension) plus JSON docs.


class JsError(ConnectionError):
    """A JetStream API or pub-ack error ({"error":{...}} reply)."""


def _fmt_headers(headers: dict[str, str] | None) -> bytes:
    lines = "".join(f"{k}: {v}\r\n" for k, v in (headers or {}).items())
    return f"NATS/1.0\r\n{lines}\r\n".encode()


def _parse_headers(blob: bytes) -> tuple[str, dict[str, str]]:
    """-> (status line remainder e.g. '404 No Messages' or '', headers)."""
    text = blob.decode("utf-8", "replace")
    lines = text.split("\r\n")
    status = lines[0][len("NATS/1.0"):].strip()
    hdrs = {}
    for ln in lines[1:]:
        if not ln:
            continue
        k, _, v = ln.partition(":")
        hdrs[k.strip()] = v.strip()
    return status, hdrs


class NatsJsClient(NatsClient):
    """NatsClient + the headers extension (HPUB/HMSG) and JetStream
    request helpers. CONNECT advertises headers support."""

    def __init__(self, host: str, port: int, name: str | None = None,
                 timeout: float = 10.0):
        super().__init__(host, port, name=name, timeout=timeout)
        # re-CONNECT with headers:true (idempotent; servers accept
        # repeated CONNECT) so status/KV header messages flow
        opts = {"verbose": False, "pedantic": False, "tls_required": False,
                "name": name or "bento-spark-js", "lang": "python",
                "version": "0", "protocol": 1, "headers": True}
        self.sock.sendall(b"CONNECT " + json.dumps(opts).encode() + _CRLF)
        self.flush()

    def publish_h(self, subject: str, payload: bytes,
                  headers: dict[str, str] | None = None,
                  reply: str | None = None) -> None:
        hdr = _fmt_headers(headers)
        total = len(hdr) + len(payload)
        head = (f"HPUB {subject} {reply + ' ' if reply else ''}"
                f"{len(hdr)} {total}")
        self.sock.sendall(head.encode() + _CRLF + hdr + payload + _CRLF)

    def recv_any(self) -> tuple[str, int, str | None, str, dict[str, str], bytes]:
        """Next MSG or HMSG -> (subject, sid, reply, status, headers,
        payload); status/headers are '' / {} for plain MSG."""
        while True:
            line = self._io.line(_CRLF)
            if line.startswith(b"MSG "):
                parts = line.decode().split(" ")
                subject, sid = parts[1], int(parts[2])
                reply = parts[3] if len(parts) == 5 else None
                payload = self._io.exact(int(parts[-1]))
                self._io.exact(2)
                return subject, sid, reply, "", {}, payload
            if line.startswith(b"HMSG "):
                parts = line.decode().split(" ")
                # HMSG <subject> <sid> [reply] <hdr_len> <total_len>
                subject, sid = parts[1], int(parts[2])
                reply = parts[3] if len(parts) == 6 else None
                hdr_len, total = int(parts[-2]), int(parts[-1])
                blob = self._io.exact(total)
                self._io.exact(2)
                status, hdrs = _parse_headers(blob[:hdr_len])
                return subject, sid, reply, status, hdrs, blob[hdr_len:]
            if line == b"PING":
                self.sock.sendall(b"PONG" + _CRLF)
                continue
            if line in (b"PONG", b"+OK"):
                continue
            if line.startswith(b"-ERR"):
                raise ConnectionError(f"nats: {line.decode(errors='replace')}")

    def request2(self, subject: str, payload: bytes,
                 headers: dict[str, str] | None = None, timeout: float = 5.0
                 ) -> tuple[str, dict[str, str], bytes]:
        """Request-reply that survives header replies -> (status, headers,
        payload)."""
        inbox = f"_INBOX.{uuid.uuid4().hex}"
        sid = self.subscribe(inbox)
        old = self.sock.gettimeout()
        try:
            if headers:
                self.publish_h(subject, payload, headers=headers, reply=inbox)
            else:
                self.publish(subject, payload, reply=inbox)
            self.sock.settimeout(timeout)
            while True:
                _s, msid, _r, status, hdrs, data = self.recv_any()
                if msid == sid:
                    return status, hdrs, data
        finally:
            self.sock.settimeout(old)
            try:
                self.unsubscribe(sid)
            except OSError:
                pass

    def js_api(self, verb: str, doc: dict | None = None,
               timeout: float = 5.0) -> dict:
        """$JS.API request -> parsed JSON reply; {"error":...} raises."""
        _status, _h, data = self.request2(
            f"$JS.API.{verb}", json.dumps(doc or {}).encode(), timeout=timeout)
        out = json.loads(data) if data else {}
        if isinstance(out, dict) and out.get("error"):
            e = out["error"]
            raise JsError(f"$JS.API.{verb}: {e.get('description', e)}")
        return out

    def js_publish(self, subject: str, payload: bytes,
                   headers: dict[str, str] | None = None,
                   timeout: float = 5.0) -> dict:
        """Publish expecting a pub-ack ({"stream","seq"}); ack errors
        raise (output_jetstream.go PublishMsg)."""
        _status, _h, data = self.request2(subject, payload, headers=headers,
                                          timeout=timeout)
        ack = json.loads(data) if data else {}
        if isinstance(ack, dict) and ack.get("error"):
            e = ack["error"]
            raise JsError(f"pub-ack {subject}: {e.get('description', e)}")
        return ack


def nats_jetstream_sink(host: str, port: int, subject_col: str = "_js_subject",
                        value_col: str | None = None):
    """`nats_jetstream` output (output_jetstream.go): one acknowledged
    publish per row (interpolated subject COLUMN; body = value_col raw or
    the row as JSON). The pub-ack is awaited per message — an error ack
    raises and fails/replays the task (at-least-once, the reference's
    level)."""
    from pyspark.sql import functions as F

    from bento_spark.streaming.sink import json_body, write_partitions

    def send(client, rows) -> None:
        for row in rows:
            client.js_publish(row.s, (row.v or "").encode("utf-8"))

    def write_batch(batch_df, epoch_id: int) -> None:
        body = (F.col(value_col).cast("string") if value_col
                else json_body(batch_df, subject_col))
        payloads = batch_df.select(F.col(subject_col).alias("s"), body.alias("v"))
        write_partitions(payloads, functools.partial(NatsJsClient, host, port), send)

    return write_batch


def jetstream_bridge(host: str, port: int, stream: str, durable: str, spool_dir: str,
                     subject: str = "", deliver: str = "all",
                     ack_wait_s: float = 30.0) -> Bridge:
    """`nats_jetstream` input (input_jetstream.go) as a durable PULL
    consumer: CONSUMER.DURABLE.CREATE, then MSG.NEXT one message at a
    time; +ACK goes to the delivery's `$JS.ACK...` reply subject only
    AFTER the spool rename (at-least-once: an unacked delivery
    redelivers after ack_wait, which the server tracks)."""

    def connect() -> NatsJsClient:
        client = NatsJsClient(host, port)
        client.js_api(f"CONSUMER.DURABLE.CREATE.{stream}.{durable}", {
            "stream_name": stream,
            "config": {
                "durable_name": durable,
                "ack_policy": "explicit",
                "deliver_policy": deliver,
                "ack_wait": int(ack_wait_s * 1e9),
                **({"filter_subject": subject} if subject else {}),
            },
        })
        return client

    def messages(client: NatsJsClient, stop):
        next_subj = f"CONSUMER.MSG.NEXT.{stream}.{durable}"
        while not stop.is_set():
            status, _h, payload, reply, subj = js_next(client, next_subj)
            if status.startswith(("404", "408")):  # empty / expired
                stop.wait(EMPTY_POLL_S)
                continue
            # stream sequence rides token 6 of the ack subject
            # ($JS.ACK.<stream>.<consumer>.<delivered>.<sseq>...)
            toks = (reply or "").split(".")
            sseq = toks[5] if len(toks) > 5 else "0"
            yield payload, {"nats_subject": subj, "nats_sequence": int(sseq)}, (
                functools.partial(client.publish, reply, b"+ACK") if reply else None)

    return Bridge("nats_jetstream", spool_dir, connect, messages)


def js_next(client: NatsJsClient, next_subj: str):
    """One MSG.NEXT round trip -> (status, headers, payload, ack_reply,
    subject)."""
    inbox = f"_INBOX.{uuid.uuid4().hex}"
    sid = client.subscribe(inbox)
    try:
        client.publish(f"$JS.API.{next_subj}",
                       json.dumps({"batch": 1, "no_wait": True}).encode(), reply=inbox)
        while True:
            subject, msid, reply, status, hdrs, payload = client.recv_any()
            if msid == sid:
                return status, hdrs, payload, reply, subject
    finally:
        try:
            client.unsubscribe(sid)
        except OSError:
            pass


@dataclass(frozen=True)
class NatsKvStore:
    """A KV bucket is the stream `KV_<bucket>` keyed on `$KV.<bucket>.<key>`
    subjects (nats/cache_kv.go): put = acknowledged publish; insert =
    publish with Nats-Expected-Last-Subject-Sequence: 0 (the KV Create
    contract — the ack errors when the key has history); fetch =
    DIRECT.GET last_by_subj (a DEL marker reads as absent); remove =
    publish with KV-Operation: DEL. TTL is the bucket's max_age in real
    NATS, not per key, so a per-entry ttl is rejected."""

    host: str
    port: int
    bucket: str

    def open(self) -> NatsJsClient:
        return NatsJsClient(self.host, self.port)

    def expiring(self, ttl) -> NatsKvStore:
        if ttl is not None:
            raise ValueError(
                "nats_kv cache: per-entry TTL is not part of the KV "
                "contract (bucket max_age governs expiry) — cache_kv.go")
        return self

    def fetch(self, client, keys) -> dict:
        found = {}
        for k in keys:
            status, hdrs, data = client.request2(
                f"$JS.API.DIRECT.GET.KV_{self.bucket}",
                json.dumps({"last_by_subj": f"$KV.{self.bucket}.{k}"}).encode())
            if status.startswith("404") or hdrs.get("KV-Operation") == "DEL":
                continue
            if status:
                raise ConnectionError(f"nats_kv get {k}: status {status}")
            found[k] = data
        return found

    def insert(self, client, pairs) -> list[bool]:
        accepted = []
        for k, v in pairs:
            try:
                client.js_publish(f"$KV.{self.bucket}.{k}", (v or "").encode(),
                                  headers={"Nats-Expected-Last-Subject-Sequence": "0"})
                accepted.append(True)
            except JsError:
                accepted.append(False)
        return accepted

    def put(self, client, pairs) -> None:
        for k, v in pairs:
            client.js_publish(f"$KV.{self.bucket}.{k}", (v or "").encode())

    def remove(self, client, keys) -> None:
        for k in keys:
            client.js_publish(f"$KV.{self.bucket}.{k}", b"",
                              headers={"KV-Operation": "DEL"})


class NatsKvCache(RemoteCache):
    """`nats_kv` cache backend (nats/cache_kv.go) over JetStream subjects."""

    def __init__(self, spark, address: str, bucket: str,
                 key_col: str = "key", value_col: str = "value"):
        host, _, port = address.rpartition("://")[2].partition(":")
        super().__init__(spark, NatsKvStore(host or "127.0.0.1", int(port or 4222), bucket),
                         key_col, value_col)


# --------------------------------------------------------------------------
# object store (input_os.go / output_os.go / processor_os.go)
# --------------------------------------------------------------------------
# The public object-store contract is a thin layer over JetStream: bucket
# = stream `OBJ_<bucket>` on subjects `$O.<bucket>.C.>` (chunks) and
# `$O.<bucket>.M.>` (metadata); an object is `chunks` messages on
# `$O.<bucket>.C.<nuid>` plus one JSON meta message on
# `$O.<bucket>.M.<base64url(name)>` carrying size/chunks/digest
# (SHA-256=<base64url>) with the Nats-Rollup: sub header.


def _os_name_b64(name: str) -> str:
    import base64

    return base64.urlsafe_b64encode(name.encode()).decode().rstrip("=")


class NatsObjectStore:
    """put/get against an object-store bucket over a NatsJsClient."""

    def __init__(self, client: NatsJsClient, bucket: str,
                 chunk_size: int = 128 * 1024):
        self.client = client
        self.bucket = bucket
        self.chunk_size = chunk_size

    def put(self, name: str, data: bytes, ack_window: int = 64) -> dict:
        """Chunked write: chunk publishes PIPELINE onto one reply inbox
        and acks drain every `ack_window` sends (a large object is
        size/chunk_size messages — one synchronous round trip each would
        serialize the upload; nats.go streams chunks the same way). The
        meta message publishes LAST, so a reader never sees metadata
        whose chunks aren't durable."""
        import base64
        import hashlib

        nuid = uuid.uuid4().hex
        subj = f"$O.{self.bucket}.C.{nuid}"
        offs = list(range(0, len(data), self.chunk_size)) or [0]
        inbox = f"_INBOX.{uuid.uuid4().hex}"
        sid = self.client.subscribe(inbox)
        try:
            pending = 0
            for off in offs:
                self.client.publish(subj, data[off:off + self.chunk_size],
                                    reply=inbox)
                pending += 1
                if pending >= ack_window:
                    self._drain_acks(sid, pending, name)
                    pending = 0
            self._drain_acks(sid, pending, name)
        finally:
            try:
                self.client.unsubscribe(sid)
            except OSError:
                pass
        n_chunks = len(offs)
        digest = base64.urlsafe_b64encode(
            hashlib.sha256(data).digest()).decode().rstrip("=")
        meta = {"name": name, "bucket": self.bucket, "nuid": nuid,
                "size": len(data), "chunks": n_chunks,
                "digest": f"SHA-256={digest}"}
        self.client.js_publish(
            f"$O.{self.bucket}.M.{_os_name_b64(name)}",
            json.dumps(meta).encode(),
            headers={"Nats-Rollup": "sub"})
        return meta

    def _drain_acks(self, sid: int, n: int, name: str) -> None:
        for _ in range(n):
            while True:
                _s, msid, _r, _status, _h, payload = self.client.recv_any()
                if msid == sid:
                    break
            ack = json.loads(payload) if payload else {}
            if isinstance(ack, dict) and ack.get("error"):
                e = ack["error"]
                raise JsError(
                    f"object {name!r} chunk ack: {e.get('description', e)}")

    def get_meta(self, name: str) -> dict:
        status, _h, data = self.client.request2(
            f"$JS.API.DIRECT.GET.OBJ_{self.bucket}",
            json.dumps({"last_by_subj":
                        f"$O.{self.bucket}.M.{_os_name_b64(name)}"}).encode())
        if status.startswith("404"):
            raise KeyError(f"object {name!r} not found in {self.bucket!r}")
        meta = json.loads(data)
        if meta.get("deleted"):
            raise KeyError(f"object {name!r} is deleted")
        return meta

    def get(self, name: str) -> bytes:
        import base64
        import hashlib

        meta = self.get_meta(name)
        return self._assemble(meta)

    def _assemble(self, meta: dict) -> bytes:
        import base64
        import hashlib

        nuid, want_chunks = meta["nuid"], int(meta["chunks"])
        durable = f"osget_{uuid.uuid4().hex[:12]}"
        self.client.js_api(
            f"CONSUMER.DURABLE.CREATE.OBJ_{self.bucket}.{durable}",
            {"stream_name": f"OBJ_{self.bucket}",
             "config": {"durable_name": durable, "ack_policy": "explicit",
                        "deliver_policy": "all",
                        "filter_subject": f"$O.{self.bucket}.C.{nuid}"}})
        parts = []
        for _ in range(want_chunks):
            status, _h, payload, reply, _s = js_next(
                self.client, f"CONSUMER.MSG.NEXT.OBJ_{self.bucket}.{durable}")
            if status.startswith(("404", "408")):
                raise ConnectionError(
                    f"object {meta['name']!r}: missing chunk "
                    f"({len(parts)}/{want_chunks})")
            parts.append(payload)
            if reply:
                self.client.publish(reply, b"+ACK")
        data = b"".join(parts)
        digest = base64.urlsafe_b64encode(
            hashlib.sha256(data).digest()).decode().rstrip("=")
        want = meta.get("digest", "")
        if want and want != f"SHA-256={digest}":
            raise ConnectionError(
                f"object {meta['name']!r}: digest mismatch "
                f"(meta {want}, got SHA-256={digest})")
        return data


def nats_os_sink(host: str, port: int, bucket: str,
                 name_col: str = "_os_name", value_col: str | None = None,
                 chunk_size: int = 128 * 1024):
    """`nats_object_store` output (output_os.go): one chunked put per row
    at the interpolated object name; body = value_col raw or row JSON."""
    from pyspark.sql import functions as F

    from bento_spark.streaming.sink import json_body, write_partitions

    def send(client, rows) -> None:
        store = NatsObjectStore(client, bucket, chunk_size=chunk_size)
        for row in rows:
            store.put(row.n, (row.v or "").encode("utf-8"))

    def write_batch(batch_df, epoch_id: int) -> None:
        body = (F.col(value_col).cast("string") if value_col
                else json_body(batch_df, name_col))
        payloads = batch_df.select(F.col(name_col).alias("n"), body.alias("v"))
        write_partitions(payloads, functools.partial(NatsJsClient, host, port), send)

    return write_batch


def nats_os_map(df, host: str, port: int, bucket: str, operation: str,
                name_col: str = "_os_name", value_col: str | None = None,
                out_col: str = "nats_os", chunk_size: int = 128 * 1024):
    """`nats_object_store` processor (processor_os.go): `get` fetches the
    named object into `out_col` (binary); `put` stores the row's
    value_col under the name and passes the row through (the reference's
    behavior). Missing objects / digest mismatches follow the
    error-column protocol."""
    from bento_spark.operators.errors import ERROR_COL, ensure_error_col

    if operation not in ("get", "put"):
        raise ValueError("nats_object_store processor: operation must be get|put")
    df = ensure_error_col(df)
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    cols = list(df.columns)
    extra = [f"{out_col} binary"] if operation == "get" else []
    if operation == "get" and out_col in cols:
        raise ValueError(f"nats_object_store: {out_col!r} collides with an input column")
    out_schema = ", ".join([f"{c} {fields[c]}" for c in cols] + extra)

    def run(batches):
        import pandas as _pd

        from bento_spark.streaming.nats import NatsJsClient, NatsObjectStore

        client = store = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if store is None:
                client = NatsJsClient(host, port)
                store = NatsObjectStore(client, bucket, chunk_size=chunk_size)
            errs = list(pdf[ERROR_COL])
            bodies = []
            for i, name in enumerate(pdf[name_col]):
                try:
                    if operation == "get":
                        bodies.append(store.get(str(name)))
                    else:
                        v = pdf[value_col].iloc[i] if value_col else None
                        raw = (v.encode("utf-8") if isinstance(v, str)
                               else bytes(v) if v is not None else b"")
                        store.put(str(name), raw)
                except (KeyError, ConnectionError) as e:
                    if operation == "get":
                        bodies.append(None)
                    errs[i] = errs[i] or f"nats_object_store: {e}"
            pdf = pdf[cols].copy()
            pdf[ERROR_COL] = errs
            if operation == "get":
                pdf[out_col] = bodies
            yield _pd.DataFrame(pdf)

    return df.mapInPandas(run, schema=out_schema)


def nats_os_bridge(host: str, port: int, bucket: str, durable: str,
                   spool_dir: str) -> Bridge:
    """`nats_object_store` input (input_os.go): watch the bucket's
    metadata subjects through a durable consumer; each update fetches the
    OBJECT and spools it as one message (name and size ride the spool
    header; deleted markers are skipped). Ack after the rename."""
    stream = f"OBJ_{bucket}"

    def connect() -> NatsJsClient:
        client = NatsJsClient(host, port)
        client.js_api(f"CONSUMER.DURABLE.CREATE.{stream}.{durable}", {
            "stream_name": stream,
            "config": {"durable_name": durable, "ack_policy": "explicit",
                       "deliver_policy": "all", "filter_subject": f"$O.{bucket}.M.>"}})
        return client

    def messages(client: NatsJsClient, stop):
        store = NatsObjectStore(client, bucket)
        next_subj = f"CONSUMER.MSG.NEXT.{stream}.{durable}"
        while not stop.is_set():
            status, _h, payload, reply, _s = js_next(client, next_subj)
            if status.startswith(("404", "408")):
                stop.wait(EMPTY_POLL_S)
                continue
            meta = json.loads(payload)
            ack = functools.partial(client.publish, reply, b"+ACK") if reply else None
            if meta.get("deleted"):
                if ack is not None:
                    ack()
                continue
            yield store._assemble(meta), {"nats_object_name": meta["name"],
                                          "nats_object_size": int(meta["size"])}, ack

    return Bridge("nats_object_store", spool_dir, connect, messages)
