"""SFTP input/output — SFTP version 3 (the draft-ietf-secsh-filexfer-02
wire protocol every major server speaks) over the repo's from-scratch
SSH transport (streaming/ssh_transport.py), plus an in-process sshd+sftp
server for e2e tests.

Reference: internal/impl/sftp/input.go (address, credentials
username/password, `paths` globs, delete_on_finish, watcher mode with
poll_interval/minimum_age/cache) and output.go (interpolated `path`,
codec all|lines|append over github.com/pkg/sftp). No paramiko wheel
ships in this sandbox, so the SSH 2.0 transport (group14 kex, aes128-ctr,
hmac-sha2-256, rsa-sha2-256 host keys) and the SFTP packet protocol are
implemented from the RFCs / the filexfer draft — the client and the
test server share the transport, so the cipher/MAC/signature paths are
validated end-to-end.

Spark-first mapping (identical topology to the blob/S3 listing inputs):
- input  -> sftp_bridge resolves the path globs against directory
  listings and downloads each file into the spool BEFORE optionally
  deleting it (delete_on_finish ordering = at-least-once); watcher mode
  re-polls on an interval, skipping files younger than minimum_age and
  already-seen (name, mtime, size) triples — the reference's
  watcher.cache contract, held in-process.
- output -> per-row upload to the interpolated path COLUMN; codec
  `all` truncates per message, `lines` appends message + newline,
  `append` appends raw bytes (output.go's codec enum).

Credential scope: password auth (shared.go's first method). Key auth
requires client-side signatures over the session id — the transport
could carry it, but the reference's password path covers the sandbox-
testable contract; private_key_file configs raise a clear error."""

from __future__ import annotations

import fnmatch
import functools
import posixpath
import socket
import stat as stat_mod
import struct
import threading
import time
from pathlib import Path

from bento_spark.streaming.bridge import Bridge
from bento_spark.streaming.ssh_transport import (
    Reader,
    SshClient,
    SshServerConn,
    sp,
)

SSH_FXP_INIT, SSH_FXP_VERSION = 1, 2
SSH_FXP_OPEN, SSH_FXP_CLOSE, SSH_FXP_READ, SSH_FXP_WRITE = 3, 4, 5, 6
SSH_FXP_LSTAT, SSH_FXP_FSTAT, SSH_FXP_SETSTAT = 7, 8, 9
SSH_FXP_OPENDIR, SSH_FXP_READDIR, SSH_FXP_REMOVE = 11, 12, 13
SSH_FXP_MKDIR, SSH_FXP_RMDIR, SSH_FXP_REALPATH, SSH_FXP_STAT = 14, 15, 16, 17
SSH_FXP_RENAME = 18
SSH_FXP_STATUS, SSH_FXP_HANDLE, SSH_FXP_DATA = 101, 102, 103
SSH_FXP_NAME, SSH_FXP_ATTRS = 104, 105

SSH_FX_OK, SSH_FX_EOF, SSH_FX_NO_SUCH_FILE = 0, 1, 2
SSH_FX_PERMISSION_DENIED, SSH_FX_FAILURE = 3, 4

FXF_READ, FXF_WRITE, FXF_APPEND, FXF_CREAT, FXF_TRUNC, FXF_EXCL = (
    0x01, 0x02, 0x04, 0x08, 0x10, 0x20)

ATTR_SIZE, ATTR_UIDGID, ATTR_PERMISSIONS, ATTR_ACMODTIME = 1, 2, 4, 8

CODECS = ("all", "lines", "append")


class SftpStatusError(OSError):
    def __init__(self, code: int, message: str):
        super().__init__(f"sftp: status {code}: {message}")
        self.code = code


def _attrs_bytes(size: int | None = None, perms: int | None = None,
                 mtime: int | None = None) -> bytes:
    flags = 0
    body = b""
    if size is not None:
        flags |= ATTR_SIZE
        body += struct.pack(">Q", size)
    if perms is not None:
        flags |= ATTR_PERMISSIONS
        body += struct.pack(">I", perms)
    if mtime is not None:
        flags |= ATTR_ACMODTIME
        body += struct.pack(">II", mtime, mtime)
    return struct.pack(">I", flags) + body


def _parse_attrs(r: Reader) -> dict:
    flags = r.u32()
    out: dict = {}
    if flags & ATTR_SIZE:
        out["size"] = r.u64()
    if flags & ATTR_UIDGID:
        out["uid"], out["gid"] = r.u32(), r.u32()
    if flags & ATTR_PERMISSIONS:
        out["permissions"] = r.u32()
    if flags & ATTR_ACMODTIME:
        out["atime"], out["mtime"] = r.u32(), r.u32()
    return out


class SftpClient:
    """SFTP v3 client over one SshClient channel: open/read/write/close,
    opendir/readdir, stat, remove, mkdir, rename, realpath. Packets are
    reassembled across channel-data boundaries."""

    def __init__(self, host: str, port: int, username: str, password: str,
                 timeout: float = 15.0, private_key_pem: str | None = None):
        self.ssh = SshClient(host, port, username, password,
                             subsystem="sftp", timeout=timeout,
                             private_key_pem=private_key_pem)
        self._buf = b""
        self._id = 0
        self._send_raw(struct.pack(">B", SSH_FXP_INIT)
                       + struct.pack(">I", 3))
        kind, body = self._recv_packet()
        if kind != SSH_FXP_VERSION:
            raise ConnectionError("sftp: expected VERSION")
        self.version = Reader(body).u32()

    # -- framing ------------------------------------------------------------

    def _send_raw(self, payload: bytes) -> None:
        self.ssh.send_data(struct.pack(">I", len(payload)) + payload)

    def _recv_packet(self) -> tuple[int, bytes]:
        while True:
            if len(self._buf) >= 4:
                n = struct.unpack(">I", self._buf[:4])[0]
                if len(self._buf) >= 4 + n:
                    pkt = self._buf[4 : 4 + n]
                    self._buf = self._buf[4 + n:]
                    return pkt[0], pkt[1:]
            self._buf += self.ssh.recv_data()

    def _call(self, kind: int, body: bytes) -> tuple[int, bytes]:
        self._id += 1
        rid = self._id
        self._send_raw(struct.pack(">B", kind) + struct.pack(">I", rid) + body)
        rkind, rbody = self._recv_packet()
        r = Reader(rbody)
        got = r.u32()
        if got != rid:
            raise ConnectionError(f"sftp: response id {got} != {rid}")
        return rkind, rbody[4:]

    @staticmethod
    def _status(body: bytes) -> tuple[int, str]:
        r = Reader(body)
        code = r.u32()
        msg = r.string().decode("utf-8", "replace") if r.remaining() else ""
        return code, msg

    def _expect_ok(self, kind: int, body: bytes) -> None:
        if kind != SSH_FXP_STATUS:
            raise ConnectionError(f"sftp: expected STATUS, got {kind}")
        code, msg = self._status(body)
        if code != SSH_FX_OK:
            raise SftpStatusError(code, msg)

    # -- operations ----------------------------------------------------------

    def open(self, path: str, pflags: int, *, mode: int = 0o644) -> bytes:
        kind, body = self._call(
            SSH_FXP_OPEN,
            sp(path) + struct.pack(">I", pflags)
            + _attrs_bytes(perms=mode))
        if kind == SSH_FXP_HANDLE:
            return Reader(body).string()
        code, msg = self._status(body)
        raise SftpStatusError(code, msg or path)

    def close_handle(self, handle: bytes) -> None:
        kind, body = self._call(SSH_FXP_CLOSE, sp(handle))
        self._expect_ok(kind, body)

    def read(self, handle: bytes, offset: int, length: int) -> bytes | None:
        """One READ; None at EOF."""
        kind, body = self._call(
            SSH_FXP_READ, sp(handle) + struct.pack(">QI", offset, length))
        if kind == SSH_FXP_DATA:
            return Reader(body).string()
        code, msg = self._status(body)
        if code == SSH_FX_EOF:
            return None
        raise SftpStatusError(code, msg)

    def write(self, handle: bytes, offset: int, data: bytes) -> None:
        kind, body = self._call(
            SSH_FXP_WRITE, sp(handle) + struct.pack(">Q", offset) + sp(data))
        self._expect_ok(kind, body)

    def read_file(self, path: str, chunk: int = 32768) -> bytes:
        h = self.open(path, FXF_READ)
        try:
            out, offset = b"", 0
            while True:
                got = self.read(h, offset, chunk)
                if got is None:
                    return out
                out += got
                offset += len(got)
        finally:
            self.close_handle(h)

    def write_file(self, path: str, data: bytes, *, append: bool = False,
                   chunk: int = 32768) -> None:
        if append:
            flags = FXF_WRITE | FXF_CREAT | FXF_APPEND
            try:
                offset = self.stat(path).get("size", 0)
            except SftpStatusError:
                offset = 0
        else:
            flags = FXF_WRITE | FXF_CREAT | FXF_TRUNC
            offset = 0
        h = self.open(path, flags)
        try:
            for i in range(0, len(data), chunk):
                self.write(h, offset + i, data[i : i + chunk])
            if not data:
                self.write(h, offset, b"")
        finally:
            self.close_handle(h)

    def listdir(self, path: str) -> list[tuple[str, dict]]:
        kind, body = self._call(SSH_FXP_OPENDIR, sp(path))
        if kind != SSH_FXP_HANDLE:
            code, msg = self._status(body)
            raise SftpStatusError(code, msg or path)
        h = Reader(body).string()
        names: list[tuple[str, dict]] = []
        try:
            while True:
                kind, body = self._call(SSH_FXP_READDIR, sp(h))
                if kind == SSH_FXP_STATUS:
                    code, msg = self._status(body)
                    if code == SSH_FX_EOF:
                        return names
                    raise SftpStatusError(code, msg)
                r = Reader(body)
                for _ in range(r.u32()):
                    fname = r.string().decode("utf-8", "replace")
                    r.string()  # longname
                    names.append((fname, _parse_attrs(r)))
        finally:
            self.close_handle(h)

    def stat(self, path: str) -> dict:
        kind, body = self._call(SSH_FXP_STAT, sp(path))
        if kind == SSH_FXP_ATTRS:
            return _parse_attrs(Reader(body))
        code, msg = self._status(body)
        raise SftpStatusError(code, msg or path)

    def remove(self, path: str) -> None:
        kind, body = self._call(SSH_FXP_REMOVE, sp(path))
        self._expect_ok(kind, body)

    def mkdir(self, path: str) -> None:
        kind, body = self._call(SSH_FXP_MKDIR, sp(path) + _attrs_bytes())
        self._expect_ok(kind, body)

    def rename(self, old: str, new: str) -> None:
        kind, body = self._call(SSH_FXP_RENAME, sp(old) + sp(new))
        self._expect_ok(kind, body)

    def realpath(self, path: str) -> str:
        kind, body = self._call(SSH_FXP_REALPATH, sp(path))
        if kind != SSH_FXP_NAME:
            code, msg = self._status(body)
            raise SftpStatusError(code, msg)
        r = Reader(body)
        r.u32()
        return r.string().decode("utf-8", "replace")

    def mkdirs(self, path: str) -> None:
        parts = [p for p in path.split("/") if p]
        cur = ""
        for p in parts:
            cur += "/" + p
            try:
                self.mkdir(cur)
            except SftpStatusError:
                pass  # exists

    def glob(self, pattern: str) -> list[str]:
        """The reference resolves `paths` globs server-side via
        sftp.Glob; here: list the pattern's directory and fnmatch the
        base names (one level, the common `dir/*.ext` shape)."""
        d, base = posixpath.split(pattern)
        if not any(ch in d for ch in "*?["):
            try:
                entries = self.listdir(d or "/")
            except SftpStatusError:
                return []
            return sorted(
                posixpath.join(d, name) for name, attrs in entries
                if name not in (".", "..")
                and not stat_mod.S_ISDIR(attrs.get("permissions", 0))
                and fnmatch.fnmatch(name, base))
        raise ValueError("sftp: glob wildcards are supported in the final "
                         "path segment only")

    def close(self) -> None:
        self.ssh.close()


# ---------------------------------------------------------------------------
# input bridge
# ---------------------------------------------------------------------------


def parse_sftp_address(address: str) -> tuple[str, int]:
    hp = str(address).removeprefix("sftp://").removeprefix("ssh://")
    host, _, port = hp.partition(":")
    return host or "127.0.0.1", int(port or 22)


def sftp_bridge(host: str, port: int, username: str, password: str, paths: list[str],
                spool_dir: str, delete_on_finish: bool = False, watcher: bool = False,
                poll_interval_s: float = 1.0, minimum_age_s: float = 0.0,
                private_key_pem: str | None = None) -> Bridge:
    """`sftp` input (input.go): resolve the path globs, download each
    file into the spool, optionally delete it AFTER the durable spool put
    (at-least-once). Without the watcher the bridge finishes after one
    pass; watcher mode re-polls, skipping young files (minimum_age) and
    (name, mtime, size) triples already consumed."""
    seen: set[tuple[str, int, int]] = set()

    def consumed(client: SftpClient, path: str, key: tuple) -> None:
        seen.add(key)
        if delete_on_finish:
            client.remove(path)

    def messages(client: SftpClient, stop):
        while True:
            for pattern in paths:
                for path in client.glob(pattern):
                    attrs = client.stat(path)
                    key = (path, int(attrs.get("mtime", 0)), int(attrs.get("size", 0)))
                    if key in seen:
                        continue
                    if (watcher and minimum_age_s > 0
                            and time.time() - attrs.get("mtime", 0) < minimum_age_s):
                        continue  # young file: retry next poll
                    yield client.read_file(path), {"sftp_path": path}, functools.partial(
                        consumed, client, path, key)
            if not watcher or stop.wait(poll_interval_s):
                return

    return Bridge("sftp", spool_dir, functools.partial(
        SftpClient, host, port, username, password, private_key_pem=private_key_pem),
        messages)


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------


def sftp_sink(host: str, port: int, username: str, password: str,
              path_col: str, codec: str = "all",
              private_key_pem: str | None = None):
    """`sftp` output (output.go): per-row upload to the interpolated
    path COLUMN; codec `all` truncates per message, `lines` appends
    message + newline, `append` appends raw. Parent directories
    auto-create."""
    if codec not in CODECS:
        raise ValueError(f"sftp: codec {codec!r} not one of {CODECS}")

    def send(client, rows) -> None:
        made_dirs: set[str] = set()
        for row in rows:
            d = posixpath.dirname(row.p)
            if d and d not in made_dirs:
                client.mkdirs(d)
                made_dirs.add(d)
            body = row.v.encode("utf-8")
            if codec == "all":
                client.write_file(row.p, body)
            elif codec == "lines":
                client.write_file(row.p, body + b"\n", append=True)
            else:
                client.write_file(row.p, body, append=True)

    def write_batch(batch_df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        from bento_spark.streaming.sink import json_body, write_partitions

        payloads = batch_df.select(F.col(path_col).alias("p"),
                                   json_body(batch_df, path_col).alias("v"))
        write_partitions(payloads, functools.partial(
            SftpClient, host, port, username, password,
            private_key_pem=private_key_pem), send)

    return write_batch


# ---------------------------------------------------------------------------
# in-process sshd + sftp subsystem (test-grade)
# ---------------------------------------------------------------------------


class SftpSubsystem:
    """Server-side SFTP v3 packet handler rooted at a local directory
    (paths sandboxed under the root). Instantiated per channel; called
    with raw channel data, yields response frames."""

    def __init__(self, root: str):
        self.root = Path(root)
        self._buf = b""
        self._handles: dict[bytes, object] = {}
        self._dirs: dict[bytes, list] = {}
        self._next = 0

    def _resolve(self, p: str) -> Path:
        rel = posixpath.normpath("/" + p.replace("\\", "/")).lstrip("/")
        out = (self.root / rel).resolve()
        if not str(out).startswith(str(self.root.resolve())):
            raise PermissionError(p)
        return out

    def _handle(self, obj) -> bytes:
        self._next += 1
        h = f"h{self._next}".encode()
        self._handles[h] = obj
        return h

    def __call__(self, data: bytes):
        self._buf += data
        out = []
        while len(self._buf) >= 4:
            n = struct.unpack(">I", self._buf[:4])[0]
            if len(self._buf) < 4 + n:
                break
            pkt = self._buf[4 : 4 + n]
            self._buf = self._buf[4 + n:]
            resp = self._dispatch(pkt[0], pkt[1:])
            if resp is not None:
                out.append(struct.pack(">I", len(resp)) + resp)
        return out

    def _status(self, rid: int, code: int, msg: str = "") -> bytes:
        return (struct.pack(">BI", SSH_FXP_STATUS, rid)
                + struct.pack(">I", code) + sp(msg) + sp(""))

    def _dispatch(self, kind: int, body: bytes) -> bytes | None:  # noqa: C901
        if kind == SSH_FXP_INIT:
            return struct.pack(">BI", SSH_FXP_VERSION, 3)
        r = Reader(body)
        rid = r.u32()
        try:
            if kind == SSH_FXP_OPEN:
                path = self._resolve(r.string().decode())
                pflags = r.u32()
                mode = "rb"
                if pflags & FXF_WRITE:
                    if pflags & FXF_APPEND:
                        mode = "ab"
                    elif pflags & FXF_TRUNC or not path.exists():
                        mode = "wb"
                    else:
                        mode = "r+b"
                    if pflags & FXF_EXCL and path.exists():
                        return self._status(rid, SSH_FX_FAILURE, "exists")
                f = open(path, mode)
                h = self._handle(f)
                return struct.pack(">BI", SSH_FXP_HANDLE, rid) + sp(h)
            if kind == SSH_FXP_CLOSE:
                h = r.string()
                obj = self._handles.pop(h, None)
                self._dirs.pop(h, None)
                if hasattr(obj, "close"):
                    obj.close()
                return self._status(rid, SSH_FX_OK)
            if kind == SSH_FXP_READ:
                h, off, ln = r.string(), r.u64(), r.u32()
                f = self._handles[h]
                f.seek(off)
                data = f.read(min(ln, 1 << 20))
                if not data:
                    return self._status(rid, SSH_FX_EOF)
                return struct.pack(">BI", SSH_FXP_DATA, rid) + sp(data)
            if kind == SSH_FXP_WRITE:
                h, off = r.string(), r.u64()
                data = r.string()
                f = self._handles[h]
                if "a" not in getattr(f, "mode", ""):
                    f.seek(off)
                f.write(data)
                return self._status(rid, SSH_FX_OK)
            if kind == SSH_FXP_OPENDIR:
                path = self._resolve(r.string().decode())
                if not path.is_dir():
                    return self._status(rid, SSH_FX_NO_SUCH_FILE)
                h = self._handle(None)
                self._dirs[h] = sorted(path.iterdir())
                return struct.pack(">BI", SSH_FXP_HANDLE, rid) + sp(h)
            if kind == SSH_FXP_READDIR:
                h = r.string()
                entries = self._dirs.get(h)
                if not entries:
                    return self._status(rid, SSH_FX_EOF)
                batch, self._dirs[h] = entries[:64], entries[64:]
                out = struct.pack(">BII", SSH_FXP_NAME, rid, len(batch))
                for p in batch:
                    st = p.stat()
                    out += sp(p.name) + sp(p.name) + _attrs_bytes(
                        size=st.st_size, perms=st.st_mode,
                        mtime=int(st.st_mtime))
                return out
            if kind in (SSH_FXP_STAT, SSH_FXP_LSTAT):
                path = self._resolve(r.string().decode())
                if not path.exists():
                    return self._status(rid, SSH_FX_NO_SUCH_FILE)
                st = path.stat()
                return (struct.pack(">BI", SSH_FXP_ATTRS, rid)
                        + _attrs_bytes(size=st.st_size, perms=st.st_mode,
                                       mtime=int(st.st_mtime)))
            if kind == SSH_FXP_REMOVE:
                path = self._resolve(r.string().decode())
                if not path.exists():
                    return self._status(rid, SSH_FX_NO_SUCH_FILE)
                path.unlink()
                return self._status(rid, SSH_FX_OK)
            if kind == SSH_FXP_MKDIR:
                path = self._resolve(r.string().decode())
                if path.exists():
                    return self._status(rid, SSH_FX_FAILURE, "exists")
                path.mkdir()
                return self._status(rid, SSH_FX_OK)
            if kind == SSH_FXP_RMDIR:
                self._resolve(r.string().decode()).rmdir()
                return self._status(rid, SSH_FX_OK)
            if kind == SSH_FXP_RENAME:
                old = self._resolve(r.string().decode())
                new = self._resolve(r.string().decode())
                old.rename(new)
                return self._status(rid, SSH_FX_OK)
            if kind == SSH_FXP_REALPATH:
                p = posixpath.normpath("/" + r.string().decode())
                return (struct.pack(">BII", SSH_FXP_NAME, rid, 1)
                        + sp(p) + sp(p) + _attrs_bytes())
            return self._status(rid, SSH_FX_FAILURE, f"unsupported {kind}")
        except PermissionError:
            return self._status(rid, SSH_FX_PERMISSION_DENIED, "outside root")
        except FileNotFoundError:
            return self._status(rid, SSH_FX_NO_SUCH_FILE)
        except OSError as e:
            return self._status(rid, SSH_FX_FAILURE, str(e))


class MiniSftpServer:
    """In-process sshd (group14 + aes128-ctr + hmac-sha2-256 +
    rsa-sha2-256 host signatures via SshServerConn) serving the SFTP
    subsystem over a sandboxed root directory, with password users.
    Not a production server — the deliverable is the CLIENT; this exists
    so the full crypto stack and the SFTP protocol are exercised
    end-to-end without external services."""

    def __init__(self, root: str, host_key_pem: str,
                 users: dict[str, str], host: str = "127.0.0.1",
                 port: int = 0,
                 authorized_keys: dict[str, bytes] | None = None):
        from bento_spark.functions.crypto_prims import parse_rsa_private

        self.root = root
        self.host, self.port = host, port
        self.users = users
        self.authorized_keys = dict(authorized_keys or {})
        self.host_key = parse_rsa_private(host_key_pem)
        self._server: socket.socket | None = None
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []

    def start(self) -> "MiniSftpServer":
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
        try:
            conn.settimeout(30)
            s = SshServerConn(
                conn, self.host_key, self.users,
                {"sftp": lambda _user: SftpSubsystem(self.root)},
                authorized_keys=self.authorized_keys)
            s.handshake()
            s.serve_channel()
        except (ConnectionError, OSError, ValueError):
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass
