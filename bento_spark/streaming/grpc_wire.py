"""Dependency-free gRPC-over-HTTP/2 wire layer — client channel and a
test-grade server — implemented from the published specs:

- RFC 7540 (HTTP/2): connection preface, frame format, SETTINGS /
  HEADERS / CONTINUATION / DATA / WINDOW_UPDATE / PING / RST_STREAM /
  GOAWAY, and both directions of flow control.
- RFC 7541 (HPACK): integer and string literals, the full 61-entry
  static table, a dynamic table with size updates and eviction, and
  canonical Huffman coding for the printable-ASCII range (the codes
  gRPC header values can contain — the spec requires ASCII there;
  gRPC percent-encodes non-ASCII in grpc-message). Decoding is pinned
  to the RFC 7541 Appendix C examples in tests; a code outside the
  supported range fails loudly rather than desyncing the stream.
- gRPC HTTP/2 transport mapping (the published PROTOCOL-HTTP2 doc):
  POST + content-type application/grpc + te:trailers, length-prefixed
  messages (1-byte compressed flag + uint32 length), grpc-status /
  grpc-message trailers.

No generated stubs and no grpc/h2 wheels are involved; protobuf bodies
come from the repo's own codec (operators/protobuf_codec.py). Used by
the etcd connector (streaming/etcd.py); the reference rides grpc-go via
clientv3 — structurally nothing to transliterate.
"""

from __future__ import annotations

import queue
import socket
import struct
import threading

from bento_spark.streaming.reader import SocketReader

# ---------------------------------------------------------------------------
# HPACK — RFC 7541
# ---------------------------------------------------------------------------

STATIC_TABLE: list[tuple[str, str]] = [
    (":authority", ""),
    (":method", "GET"),
    (":method", "POST"),
    (":path", "/"),
    (":path", "/index.html"),
    (":scheme", "http"),
    (":scheme", "https"),
    (":status", "200"),
    (":status", "204"),
    (":status", "206"),
    (":status", "304"),
    (":status", "400"),
    (":status", "404"),
    (":status", "500"),
    ("accept-charset", ""),
    ("accept-encoding", "gzip, deflate"),
    ("accept-language", ""),
    ("accept-ranges", ""),
    ("accept", ""),
    ("access-control-allow-origin", ""),
    ("age", ""),
    ("allow", ""),
    ("authorization", ""),
    ("cache-control", ""),
    ("content-disposition", ""),
    ("content-encoding", ""),
    ("content-language", ""),
    ("content-length", ""),
    ("content-location", ""),
    ("content-range", ""),
    ("content-type", ""),
    ("cookie", ""),
    ("date", ""),
    ("etag", ""),
    ("expect", ""),
    ("expires", ""),
    ("from", ""),
    ("host", ""),
    ("if-match", ""),
    ("if-modified-since", ""),
    ("if-none-match", ""),
    ("if-range", ""),
    ("if-unmodified-since", ""),
    ("last-modified", ""),
    ("link", ""),
    ("location", ""),
    ("max-forwards", ""),
    ("proxy-authenticate", ""),
    ("proxy-authorization", ""),
    ("range", ""),
    ("referer", ""),
    ("refresh", ""),
    ("retry-after", ""),
    ("server", ""),
    ("set-cookie", ""),
    ("strict-transport-security", ""),
    ("transfer-encoding", ""),
    ("user-agent", ""),
    ("vary", ""),
    ("via", ""),
    ("www-authenticate", ""),
]

_STATIC_PAIR_INDEX = {pair: i + 1 for i, pair in enumerate(STATIC_TABLE)
                      if pair[1] or pair[0].startswith(":")}
_STATIC_NAME_INDEX: dict[str, int] = {}
for _i, (_n, _v) in enumerate(STATIC_TABLE):
    _STATIC_NAME_INDEX.setdefault(_n, _i + 1)

# RFC 7541 Appendix B, printable-ASCII range (0x20-0x7E): (code, bits).
# gRPC header values are ASCII by spec; anything else fails loudly.
_HUFF_CODES: dict[int, tuple[int, int]] = {
    0x20: (0x14, 6), 0x21: (0x3F8, 10), 0x22: (0x3F9, 10),
    0x23: (0xFFA, 12), 0x24: (0x1FF9, 13), 0x25: (0x15, 6),
    0x26: (0xF8, 8), 0x27: (0x7FA, 11), 0x28: (0x3FA, 10),
    0x29: (0x3FB, 10), 0x2A: (0xF9, 8), 0x2B: (0x7FB, 11),
    0x2C: (0xFA, 8), 0x2D: (0x16, 6), 0x2E: (0x17, 6), 0x2F: (0x18, 6),
    0x30: (0x0, 5), 0x31: (0x1, 5), 0x32: (0x2, 5), 0x33: (0x19, 6),
    0x34: (0x1A, 6), 0x35: (0x1B, 6), 0x36: (0x1C, 6), 0x37: (0x1D, 6),
    0x38: (0x1E, 6), 0x39: (0x1F, 6), 0x3A: (0x5C, 7), 0x3B: (0xFB, 8),
    0x3C: (0x7FFC, 15), 0x3D: (0x20, 6), 0x3E: (0xFFB, 12),
    0x3F: (0x3FC, 10), 0x40: (0x1FFA, 13), 0x41: (0x21, 6),
    0x42: (0x5D, 7), 0x43: (0x5E, 7), 0x44: (0x5F, 7), 0x45: (0x60, 7),
    0x46: (0x61, 7), 0x47: (0x62, 7), 0x48: (0x63, 7), 0x49: (0x64, 7),
    0x4A: (0x65, 7), 0x4B: (0x66, 7), 0x4C: (0x67, 7), 0x4D: (0x68, 7),
    0x4E: (0x69, 7), 0x4F: (0x6A, 7), 0x50: (0x6B, 7), 0x51: (0x6C, 7),
    0x52: (0x6D, 7), 0x53: (0x6E, 7), 0x54: (0x6F, 7), 0x55: (0x70, 7),
    0x56: (0x71, 7), 0x57: (0x72, 7), 0x58: (0xFC, 8), 0x59: (0x73, 7),
    0x5A: (0xFD, 8), 0x5B: (0x1FFB, 13), 0x5C: (0x7FFF0, 19),
    0x5D: (0x1FFC, 13), 0x5E: (0x3FFC, 14), 0x5F: (0x22, 6),
    0x60: (0x7FFD, 15), 0x61: (0x3, 5), 0x62: (0x23, 6), 0x63: (0x4, 5),
    0x64: (0x24, 6), 0x65: (0x5, 5), 0x66: (0x25, 6), 0x67: (0x26, 6),
    0x68: (0x27, 6), 0x69: (0x6, 5), 0x6A: (0x74, 7), 0x6B: (0x75, 7),
    0x6C: (0x28, 6), 0x6D: (0x29, 6), 0x6E: (0x2A, 6), 0x6F: (0x7, 5),
    0x70: (0x2B, 6), 0x71: (0x76, 7), 0x72: (0x2C, 6), 0x73: (0x8, 5),
    0x74: (0x9, 5), 0x75: (0x2D, 6), 0x76: (0x77, 7), 0x77: (0x78, 7),
    0x78: (0x79, 7), 0x79: (0x7A, 7), 0x7A: (0x7B, 7),
    0x7B: (0x7FFE, 15), 0x7C: (0x7FC, 11), 0x7D: (0x3FFD, 14),
    0x7E: (0x1FFD, 13),
}

_HUFF_DECODE = {(code, bits): sym for sym, (code, bits) in _HUFF_CODES.items()}


def huffman_encode(data: bytes) -> bytes:
    acc = n = 0
    out = bytearray()
    for b in data:
        if b not in _HUFF_CODES:
            raise ValueError(f"hpack: no huffman code for byte 0x{b:02x} "
                             "(non-ASCII header value)")
        code, bits = _HUFF_CODES[b]
        acc = (acc << bits) | code
        n += bits
        while n >= 8:
            n -= 8
            out.append((acc >> n) & 0xFF)
    if n:
        out.append(((acc << (8 - n)) | ((1 << (8 - n)) - 1)) & 0xFF)  # EOS pad
    return bytes(out)


def huffman_decode(data: bytes) -> bytes:
    out = bytearray()
    code = bits = 0
    for byte in data:
        for shift in range(7, -1, -1):
            code = (code << 1) | ((byte >> shift) & 1)
            bits += 1
            sym = _HUFF_DECODE.get((code, bits))
            if sym is not None:
                out.append(sym)
                code = bits = 0
            elif bits > 19:
                raise ValueError("hpack: unsupported huffman code "
                                 "(outside printable ASCII)")
    # trailing bits must be a prefix of EOS (all ones), <8 bits
    if bits >= 8 or code != (1 << bits) - 1:
        raise ValueError("hpack: invalid huffman padding")
    return bytes(out)


def _int_enc(value: int, prefix_bits: int, top: int) -> bytearray:
    limit = (1 << prefix_bits) - 1
    if value < limit:
        return bytearray([top | value])
    out = bytearray([top | limit])
    value -= limit
    while value >= 128:
        out.append((value & 0x7F) | 0x80)
        value >>= 7
    out.append(value)
    return out


def _int_dec(buf: bytes, pos: int, prefix_bits: int) -> tuple[int, int]:
    limit = (1 << prefix_bits) - 1
    value = buf[pos] & limit
    pos += 1
    if value < limit:
        return value, pos
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        value += (b & 0x7F) << shift
        shift += 7
        if not (b & 0x80):
            return value, pos


def _str_enc(s: str, huffman: bool = False) -> bytes:
    raw = s.encode("utf-8")
    if huffman:
        enc = huffman_encode(raw)
        if len(enc) < len(raw):
            return bytes(_int_enc(len(enc), 7, 0x80)) + enc
    return bytes(_int_enc(len(raw), 7, 0x00)) + raw


def _str_dec(buf: bytes, pos: int) -> tuple[str, int]:
    huff = bool(buf[pos] & 0x80)
    ln, pos = _int_dec(buf, pos, 7)
    raw = bytes(buf[pos: pos + ln])
    if len(raw) != ln:
        raise ValueError("hpack: truncated string literal")
    pos += ln
    if huff:
        raw = huffman_decode(raw)
    return raw.decode("utf-8"), pos


class HpackEncoder:
    """Emits indexed fields for exact static-table matches and literal
    without-indexing otherwise (no dynamic-table state on the wire we
    produce — always decodable, nothing for the peer to evict)."""

    def __init__(self, huffman: bool = False):
        self.huffman = huffman

    def encode(self, headers: list[tuple[str, str]]) -> bytes:
        out = bytearray()
        for name, value in headers:
            idx = _STATIC_PAIR_INDEX.get((name, value))
            if idx and STATIC_TABLE[idx - 1][1] == value:
                out += _int_enc(idx, 7, 0x80)
                continue
            nidx = _STATIC_NAME_INDEX.get(name)
            if nidx:
                out += _int_enc(nidx, 4, 0x00)
            else:
                out += _int_enc(0, 4, 0x00)
                out += _str_enc(name, self.huffman)
            out += _str_enc(value, self.huffman)
        return bytes(out)


class HpackDecoder:
    """Full decode side: static + dynamic tables, all literal forms,
    dynamic-table size updates with eviction (RFC 7541 §4)."""

    def __init__(self, max_size: int = 4096):
        self.max_size = max_size
        self.dynamic: list[tuple[str, str]] = []  # newest first

    def _size(self) -> int:
        return sum(len(n) + len(v) + 32 for n, v in self.dynamic)

    def _evict(self) -> None:
        while self.dynamic and self._size() > self.max_size:
            self.dynamic.pop()

    def _lookup(self, idx: int) -> tuple[str, str]:
        if idx == 0:
            raise ValueError("hpack: index 0")
        if idx <= len(STATIC_TABLE):
            return STATIC_TABLE[idx - 1]
        didx = idx - len(STATIC_TABLE) - 1
        if didx >= len(self.dynamic):
            raise ValueError(f"hpack: index {idx} beyond tables")
        return self.dynamic[didx]

    def decode(self, block: bytes) -> list[tuple[str, str]]:
        out: list[tuple[str, str]] = []
        pos = 0
        while pos < len(block):
            b = block[pos]
            if b & 0x80:  # indexed
                idx, pos = _int_dec(block, pos, 7)
                out.append(self._lookup(idx))
            elif b & 0x40:  # literal, incremental indexing
                idx, pos = _int_dec(block, pos, 6)
                name = self._lookup(idx)[0] if idx else None
                if name is None:
                    name, pos = _str_dec(block, pos)
                value, pos = _str_dec(block, pos)
                self.dynamic.insert(0, (name, value))
                self._evict()
                out.append((name, value))
            elif b & 0x20:  # dynamic table size update
                size, pos = _int_dec(block, pos, 5)
                self.max_size = size
                self._evict()
            else:  # literal without indexing / never indexed (0x00 / 0x10)
                idx, pos = _int_dec(block, pos, 4)
                name = self._lookup(idx)[0] if idx else None
                if name is None:
                    name, pos = _str_dec(block, pos)
                value, pos = _str_dec(block, pos)
                out.append((name, value))
        return out


# ---------------------------------------------------------------------------
# HTTP/2 framing — RFC 7540
# ---------------------------------------------------------------------------

PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"

F_DATA, F_HEADERS, F_PRIORITY, F_RST = 0x0, 0x1, 0x2, 0x3
F_SETTINGS, F_PUSH, F_PING, F_GOAWAY = 0x4, 0x5, 0x6, 0x7
F_WINDOW_UPDATE, F_CONTINUATION = 0x8, 0x9

FLAG_END_STREAM = 0x1
FLAG_ACK = 0x1
FLAG_END_HEADERS = 0x4
FLAG_PADDED = 0x8
FLAG_PRIORITY = 0x20

MAX_FRAME = 16384
INITIAL_WINDOW = 65535


def read_frame(reader: SocketReader) -> tuple[int, int, int, bytes]:
    head = reader.exact(9)
    length = int.from_bytes(head[:3], "big")
    ftype, flags = head[3], head[4]
    stream_id = int.from_bytes(head[5:9], "big") & 0x7FFFFFFF
    return ftype, flags, stream_id, reader.exact(length)


def frame(ftype: int, flags: int, stream_id: int, payload: bytes) -> bytes:
    return (len(payload).to_bytes(3, "big") + bytes([ftype, flags])
            + stream_id.to_bytes(4, "big") + payload)


class _H2Conn:
    """Shared connection machinery: framed writes under a lock, send-side
    flow-control windows (blocks when the peer's window is exhausted),
    and WINDOW_UPDATE replenishment for everything we consume."""

    def __init__(self, sock: socket.socket):
        self.sock = sock
        self.reader = SocketReader(sock, "h2")
        self.wlock = threading.Lock()
        self.flow = threading.Condition()
        self.conn_window = INITIAL_WINDOW
        self.stream_windows: dict[int, int] = {}
        self.closed = False

    def write_frame(self, ftype: int, flags: int, stream_id: int,
                    payload: bytes) -> None:
        with self.wlock:
            self.sock.sendall(frame(ftype, flags, stream_id, payload))

    def send_data(self, stream_id: int, data: bytes,
                  end_stream: bool = False) -> None:
        pos = 0
        while True:
            remaining = len(data) - pos
            with self.flow:
                while not self.closed and (
                        self.conn_window <= 0
                        or self.stream_windows.get(stream_id, 0) <= 0):
                    if not self.flow.wait(timeout=30):
                        raise ConnectionError("h2: flow-control stall")
                if self.closed:
                    raise ConnectionError("h2: connection closed")
                n = min(remaining, MAX_FRAME, self.conn_window,
                        self.stream_windows.get(stream_id, 0))
                self.conn_window -= n
                self.stream_windows[stream_id] -= n
            last = pos + n >= len(data)
            self.write_frame(F_DATA, FLAG_END_STREAM if (end_stream and last)
                             else 0, stream_id, data[pos: pos + n])
            pos += n
            if last:
                return

    def grant(self, stream_id: int, n: int) -> None:
        if n <= 0:
            return
        inc = struct.pack(">I", n)
        try:
            self.write_frame(F_WINDOW_UPDATE, 0, 0, inc)
            self.write_frame(F_WINDOW_UPDATE, 0, stream_id, inc)
        except (ConnectionError, OSError):
            pass

    def on_window_update(self, stream_id: int, inc: int) -> None:
        with self.flow:
            if stream_id == 0:
                self.conn_window += inc
            else:
                self.stream_windows[stream_id] = (
                    self.stream_windows.get(stream_id, 0) + inc)
            self.flow.notify_all()

    def mark_closed(self) -> None:
        with self.flow:
            self.closed = True
            self.flow.notify_all()


def grpc_frame(message: bytes) -> bytes:
    return b"\x00" + struct.pack(">I", len(message)) + message


class _MsgBuffer:
    """Reassembles length-prefixed gRPC messages from DATA bytes."""

    def __init__(self):
        self.buf = bytearray()

    def feed(self, data: bytes) -> list[bytes]:
        self.buf += data
        out = []
        while len(self.buf) >= 5:
            if self.buf[0] != 0:
                raise ConnectionError("grpc: compressed messages unsupported")
            ln = struct.unpack(">I", self.buf[1:5])[0]
            if len(self.buf) < 5 + ln:
                break
            out.append(bytes(self.buf[5: 5 + ln]))
            del self.buf[: 5 + ln]
        return out


# ---------------------------------------------------------------------------
# client
# ---------------------------------------------------------------------------


class GrpcStream:
    """One client-initiated gRPC stream: send / recv / half-close."""

    def __init__(self, channel: "GrpcChannel", stream_id: int):
        self.channel = channel
        self.stream_id = stream_id
        self.inbox: queue.Queue = queue.Queue()
        self.msgbuf = _MsgBuffer()
        self.headers: dict[str, str] = {}
        self.trailers: dict[str, str] = {}
        self.ended = False

    def send(self, message: bytes, end: bool = False) -> None:
        self.channel.conn.send_data(self.stream_id, grpc_frame(message), end)

    def half_close(self) -> None:
        self.channel.conn.send_data(self.stream_id, b"", end_stream=True)

    def recv(self, timeout: float | None = None) -> bytes | None:
        """Next message, or None when the server finished the stream
        (grpc-status verified); raises on non-zero status."""
        while True:
            kind, payload = self.inbox.get(timeout=timeout)
            if kind == "msg":
                return payload
            if kind == "end":
                status = self.trailers.get("grpc-status", "2")
                if status != "0":
                    raise ConnectionError(
                        f"grpc: status {status}: "
                        f"{self.trailers.get('grpc-message', '')}")
                return None
            if kind == "err":
                raise ConnectionError(payload)


class GrpcChannel:
    """Plaintext (h2c) gRPC client channel: preface + SETTINGS exchange,
    one reader thread demultiplexing frames to streams."""

    def __init__(self, host: str, port: int, *, timeout: float = 15.0,
                 authority: str | None = None):
        self.authority = authority or f"{host}:{port}"
        sock = socket.create_connection((host, port), timeout=timeout)
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.conn = _H2Conn(sock)
        self.encoder = HpackEncoder()
        self.decoder = HpackDecoder()
        self.streams: dict[int, GrpcStream] = {}
        self._next_id = 1
        self._lock = threading.Lock()
        self._settings_acked = threading.Event()
        sock.sendall(PREFACE + frame(F_SETTINGS, 0, 0, b""))
        self._reader = threading.Thread(target=self._read_loop, daemon=True)
        self._reader.start()
        if not self._settings_acked.wait(timeout):
            raise ConnectionError("h2: no SETTINGS from server")

    def _read_loop(self) -> None:
        hdr_frag: dict[int, bytearray] = {}
        hdr_kind: dict[int, int] = {}
        try:
            while True:
                ftype, flags, sid, payload = read_frame(self.conn.reader)
                if ftype == F_SETTINGS:
                    if not (flags & FLAG_ACK):
                        for i in range(0, len(payload) - 5, 6):
                            ident = struct.unpack_from(">H", payload, i)[0]
                            val = struct.unpack_from(">I", payload, i + 2)[0]
                            if ident == 0x4:  # INITIAL_WINDOW_SIZE
                                with self.conn.flow:
                                    delta = val - INITIAL_WINDOW
                                    for k in self.conn.stream_windows:
                                        self.conn.stream_windows[k] += delta
                                    self.conn.flow.notify_all()
                        self.conn.write_frame(F_SETTINGS, FLAG_ACK, 0, b"")
                        self._settings_acked.set()
                elif ftype == F_PING:
                    if not (flags & FLAG_ACK):
                        self.conn.write_frame(F_PING, FLAG_ACK, 0, payload)
                elif ftype == F_WINDOW_UPDATE:
                    self.conn.on_window_update(
                        sid, struct.unpack(">I", payload)[0])
                elif ftype in (F_HEADERS, F_CONTINUATION):
                    block = payload
                    if ftype == F_HEADERS:
                        if flags & FLAG_PADDED:
                            pad = block[0]
                            block = block[1: len(block) - pad]
                        if flags & FLAG_PRIORITY:
                            block = block[5:]
                        hdr_kind[sid] = flags
                    hdr_frag.setdefault(sid, bytearray()).extend(block)
                    if flags & FLAG_END_HEADERS:
                        headers = dict(self.decoder.decode(
                            bytes(hdr_frag.pop(sid))))
                        end = bool(hdr_kind.pop(sid, 0) & FLAG_END_STREAM)
                        st = self.streams.get(sid)
                        if st is None:
                            continue
                        if not st.headers and "grpc-status" not in headers:
                            st.headers = headers  # initial response headers
                            if end:
                                st.inbox.put(("end", b""))
                        else:  # trailers (or a trailers-only response)
                            st.trailers.update(headers)
                            st.inbox.put(("end", b""))
                elif ftype == F_DATA:
                    data = payload
                    if flags & FLAG_PADDED:
                        pad = data[0]
                        data = data[1: len(data) - pad]
                    st = self.streams.get(sid)
                    if st is not None:
                        for msg in st.msgbuf.feed(data):
                            st.inbox.put(("msg", msg))
                        if flags & FLAG_END_STREAM:
                            st.inbox.put(("end", b""))
                    self.conn.grant(sid, len(payload))
                elif ftype == F_RST:
                    st = self.streams.get(sid)
                    if st is not None:
                        code = struct.unpack(">I", payload)[0]
                        st.inbox.put(("err", f"h2: stream reset (code {code})"))
                elif ftype == F_GOAWAY:
                    code = struct.unpack_from(">I", payload, 4)[0]
                    raise ConnectionError(f"h2: GOAWAY (code {code})")
        except (ConnectionError, OSError, ValueError) as e:
            self.conn.mark_closed()
            for st in list(self.streams.values()):
                st.inbox.put(("err", f"h2: {e}"))

    def open_stream(self, path: str,
                    metadata: dict[str, str] | None = None) -> GrpcStream:
        with self._lock:
            sid = self._next_id
            self._next_id += 2
            st = GrpcStream(self, sid)
            self.streams[sid] = st
            with self.conn.flow:
                self.conn.stream_windows[sid] = INITIAL_WINDOW
        headers = [(":method", "POST"), (":scheme", "http"),
                   (":path", path), (":authority", self.authority),
                   ("content-type", "application/grpc"),
                   ("te", "trailers")]
        headers += list((metadata or {}).items())
        with self.conn.wlock:  # HEADERS + HPACK state must not interleave
            block = self.encoder.encode(headers)
            self.conn.sock.sendall(
                frame(F_HEADERS, FLAG_END_HEADERS, sid, block))
        return st

    def unary(self, path: str, request: bytes,
              metadata: dict[str, str] | None = None,
              timeout: float = 15.0) -> bytes:
        st = self.open_stream(path, metadata)
        st.send(request, end=True)
        resp = st.recv(timeout=timeout)
        if resp is None:
            raise ConnectionError(f"grpc: {path}: empty response stream")
        while st.recv(timeout=timeout) is not None:
            pass  # drain to the trailers (verifies grpc-status)
        self.streams.pop(st.stream_id, None)
        return resp

    def close(self) -> None:
        self.conn.mark_closed()
        try:
            # shutdown() wakes a thread blocked in recv(); close() alone
            # leaves it blocked until the peer transmits
            self.conn.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        try:
            self.conn.sock.close()
        except OSError:
            pass


# ---------------------------------------------------------------------------
# server (test-grade)
# ---------------------------------------------------------------------------


class ServerStream:
    """Handler-facing stream: request headers, blocking recv of request
    messages (None = client half-closed), send of response messages,
    and close with gRPC trailers."""

    def __init__(self, conn: _H2Conn, stream_id: int,
                 headers: dict[str, str]):
        self.conn = conn
        self.stream_id = stream_id
        self.headers = headers
        self.inbox: queue.Queue = queue.Queue()
        self.msgbuf = _MsgBuffer()
        self._hdr_sent = False
        self._closed = False
        self._lock = threading.Lock()
        self._encoder = HpackEncoder()

    def recv(self, timeout: float | None = None) -> bytes | None:
        kind, payload = self.inbox.get(timeout=timeout)
        if kind == "msg":
            return payload
        if kind == "err":
            raise ConnectionError(payload)
        return None  # end

    def _send_headers_once(self) -> None:
        if not self._hdr_sent:
            self._hdr_sent = True
            block = self._encoder.encode(
                [(":status", "200"), ("content-type", "application/grpc")])
            self.conn.write_frame(F_HEADERS, FLAG_END_HEADERS,
                                  self.stream_id, block)

    def send(self, message: bytes) -> None:
        with self._lock:
            if self._closed:
                raise ConnectionError("grpc: stream already closed")
            self._send_headers_once()
        self.conn.send_data(self.stream_id, grpc_frame(message))

    def close(self, status: int = 0, message: str = "") -> None:
        with self._lock:
            if self._closed:
                return
            self._closed = True
            self._send_headers_once()
            trailers = [("grpc-status", str(status))]
            if message:
                trailers.append(("grpc-message", message))
            block = self._encoder.encode(trailers)
            self.conn.write_frame(
                F_HEADERS, FLAG_END_HEADERS | FLAG_END_STREAM,
                self.stream_id, block)


class MiniGrpcServer:
    """h2c gRPC server subset for e2e tests: handlers registered per
    :path get a ServerStream each (own thread); unknown paths get
    grpc-status 12 (UNIMPLEMENTED). Not a production server."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self.host, self.port = host, port
        self.handlers: dict[str, object] = {}
        self._stop = threading.Event()
        self._server: socket.socket | None = None
        self._threads: list[threading.Thread] = []
        self._conns: list[socket.socket] = []

    def handle(self, path: str, fn) -> None:
        self.handlers[path] = fn

    def start(self) -> "MiniGrpcServer":
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
            try:  # shutdown wakes the blocked accept(); close alone doesn't
                self._server.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
            try:
                self._server.close()
            except OSError:
                pass
        for s in self._conns:  # wake connection threads blocked in recv()
            try:
                s.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
        for t in self._threads:
            t.join(timeout=2)

    def _accept_loop(self) -> None:
        assert self._server is not None
        while not self._stop.is_set():
            try:
                sock, _ = self._server.accept()
            except OSError:
                return
            self._conns.append(sock)
            t = threading.Thread(target=self._serve, args=(sock,),
                                 daemon=True)
            t.start()
            self._threads.append(t)

    def _serve(self, sock: socket.socket) -> None:
        conn = _H2Conn(sock)
        decoder = HpackDecoder()
        streams: dict[int, ServerStream] = {}
        hdr_frag: dict[int, bytearray] = {}
        hdr_flags: dict[int, int] = {}
        try:
            sock.settimeout(30)
            if conn.reader.exact(len(PREFACE)) != PREFACE:
                return
            conn.write_frame(F_SETTINGS, 0, 0, b"")
            while not self._stop.is_set():
                ftype, flags, sid, payload = read_frame(conn.reader)
                if ftype == F_SETTINGS:
                    if not (flags & FLAG_ACK):
                        conn.write_frame(F_SETTINGS, FLAG_ACK, 0, b"")
                elif ftype == F_PING:
                    if not (flags & FLAG_ACK):
                        conn.write_frame(F_PING, FLAG_ACK, 0, payload)
                elif ftype == F_WINDOW_UPDATE:
                    conn.on_window_update(sid,
                                          struct.unpack(">I", payload)[0])
                elif ftype in (F_HEADERS, F_CONTINUATION):
                    block = payload
                    if ftype == F_HEADERS:
                        if flags & FLAG_PADDED:
                            pad = block[0]
                            block = block[1: len(block) - pad]
                        if flags & FLAG_PRIORITY:
                            block = block[5:]
                        hdr_flags[sid] = flags
                    hdr_frag.setdefault(sid, bytearray()).extend(block)
                    if flags & FLAG_END_HEADERS:
                        headers = dict(decoder.decode(bytes(hdr_frag.pop(sid))))
                        first_flags = hdr_flags.pop(sid, 0)
                        st = ServerStream(conn, sid, headers)
                        with conn.flow:
                            conn.stream_windows[sid] = INITIAL_WINDOW
                        streams[sid] = st
                        if (first_flags | flags) & FLAG_END_STREAM:
                            st.inbox.put(("end", b""))
                        fn = self.handlers.get(headers.get(":path", ""))
                        if fn is None:
                            st.close(status=12, message="unimplemented")
                            continue
                        ht = threading.Thread(target=self._run_handler,
                                              args=(fn, st), daemon=True)
                        ht.start()
                        self._threads.append(ht)
                elif ftype == F_DATA:
                    data = payload
                    if flags & FLAG_PADDED:
                        pad = data[0]
                        data = data[1: len(data) - pad]
                    st = streams.get(sid)
                    if st is not None:
                        for msg in st.msgbuf.feed(data):
                            st.inbox.put(("msg", msg))
                        if flags & FLAG_END_STREAM:
                            st.inbox.put(("end", b""))
                    conn.grant(sid, len(payload))
                elif ftype == F_RST:
                    st = streams.pop(sid, None)
                    if st is not None:
                        st.inbox.put(("err", "h2: client reset"))
                elif ftype == F_GOAWAY:
                    return
        except (ConnectionError, OSError, ValueError, struct.error):
            pass
        finally:
            conn.mark_closed()
            for st in streams.values():
                st.inbox.put(("err", "h2: connection closed"))
            try:
                sock.close()
            except OSError:
                pass

    @staticmethod
    def _run_handler(fn, st: ServerStream) -> None:
        try:
            fn(st)
        except (ConnectionError, OSError):
            pass
        except Exception as e:  # surface handler bugs as INTERNAL
            try:
                st.close(status=13, message=f"handler error: {e}")
            except (ConnectionError, OSError):
                pass
